"""Local mimic of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() twin on DuckDB at sf0.01; compare row count,
column names, and an order-insensitive value multiset.

Usage: python tools/check_oracles.py [sf_dir] [query_name ...]

Query names are positional and space-separated; an unknown name exits 2
before Spark starts.
"""

from __future__ import annotations

import sys
import time
from collections import Counter
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from ddataframeoperation_spark.queries import ORACLES, QUERIES  # noqa: E402
from ddataframeoperation_spark.session import get_spark  # noqa: E402
from ddataframeoperation_spark.catalog import FIXTURE_TABLES  # noqa: E402


def norm_cell(v) -> str:
    import datetime
    import decimal
    import math

    if v is None:
        return "NULL"
    if isinstance(v, decimal.Decimal):
        # Normalize fixed-scale decimals through the float path: the
        # driver's hash renders `Decimal('1.5000')` and float 1.5
        # differently depending on which engine produced the cell, so a
        # symmetric str() here would report green where the driver fails.
        # (Decimal OUTPUT columns are additionally hard-flagged below —
        # queries must cast final money columns to DOUBLE on both engines.)
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            # int(v) below would raise OverflowError and abort the whole
            # sweep instead of reporting a per-query diff.
            return repr(v)
        # Integral floats render as exact ints — BOTH to unify int-typed vs
        # float-typed columns across engines AND at full precision: the
        # previous f"{v:.6g}" collapsed distinct sums >= 1e7 (37730341.0
        # and 37730348.0 both -> '3.77303e+07'), so a real cross-engine
        # drift could print ALL GREEN while the driver's exact hash fails.
        # No magnitude cutoff: an integral double >= 1e15 would fall
        # through to repr() and render '1e+15' while an int-typed cell
        # renders full digits — the same asymmetric-rendering class this
        # function exists to kill. Doubles that large are exact integers
        # anyway (> 2^53 spacing >= 2), so int(v) is lossless.
        if v == int(v):
            return str(int(v))
        return repr(round(v, 6))
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        # DATE cells arrive as datetime.date from fetchall()/Spark
        # collect() but as midnight Timestamps from the pandas path —
        # driver-certified DATE-output queries (b24_date_funcs r01-r04,
        # b35_retention_cohorts r07, ...) prove the driver unifies the
        # two, so render dates as midnight isoformat to match.
        return datetime.datetime(v.year, v.month, v.day).isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


#: DuckDB output types whose pandas materialization diverges from
#: fetchall() (HUGEINT → float64; DECIMAL → trailing-zero render) — the
#: driver fetches through pandas, so these are driver-hash-unsafe even
#: when the local fetchall() compare is green (round-10 b31 class).
HASH_UNSAFE_DUCK_TYPES = frozenset({"HUGEINT", "UHUGEINT", "DECIMAL"})


def hash_unsafe_types(type_names: "list[str]") -> list[str]:
    """Return the driver-hash-unsafe members of a DuckDB output type list
    (base names, e.g. ``DECIMAL(38,0)`` → ``DECIMAL``). Unit-tested so the
    flag path can't silently rot."""
    return [
        t
        for t in (str(n).split("(")[0].upper() for n in type_names)
        if t in HASH_UNSAFE_DUCK_TYPES
    ]


def nan_to_none(v):
    """NaN/NaT → None for SCALAR cells; non-scalar cells (numpy arrays
    from LIST columns) pass through untouched — ``v != v`` on an ndarray
    is elementwise and its truth test raises, which would miscategorize
    a list-typed oracle as a DuckDB error instead of a parity diff."""
    import pandas as _pd

    try:
        return None if _pd.isna(v) else v
    except (TypeError, ValueError):
        return v


def decimal_output_columns(sdf) -> list[str]:
    """Driver-hash-unsafe output columns: fixed-scale DECIMAL cells render
    with trailing zeros (`22586.5300`) on one engine and trimmed
    (`22586.53`) on the other under the driver's canonicalization — any
    value with a trailing zero at its scale hash-fails even when exactly
    equal (round-3 regression: b08/q7/q22/b11). Decimal arithmetic is fine
    INTERNALLY; the final output column must be cast to DOUBLE on both
    engines."""
    from pyspark.sql.types import DecimalType

    return [f.name for f in sdf.schema.fields if isinstance(f.dataType, DecimalType)]


def temporal_kind(type_name) -> "str | None":
    """'date' / 'timestamp' / None for a Spark simpleString or DuckDB type
    name — norm_cell unifies DATE and midnight-TIMESTAMP cells (the driver
    does too), so a genuine date-vs-timestamp type divergence between the
    engines would otherwise be invisible; the sweep surfaces it as a SOFT
    warning so type drift stays visible without failing certified queries."""
    s = str(type_name).upper()
    if s.startswith("DATE"):
        return "date"
    if s.startswith("TIMESTAMP"):
        return "timestamp"
    return None


def row_multiset(cols: list[str], rows: list[tuple]) -> Counter:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows
    )


def main() -> int:
    args = sys.argv[1:]
    # --vanilla: run the sweep on a PLAIN SparkSession (no engine confs) —
    # the driver calls queries() with ITS OWN session, so this is the
    # session-dependence check the verify recipe used to monkeypatch by
    # hand. Queries must be green under both sessions.
    vanilla = "--vanilla" in args
    if vanilla:
        args = [a for a in args if a != "--vanilla"]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    unknown = sorted(only - QUERIES.keys())
    if unknown:
        # A misspelled name would otherwise match nothing and the sweep
        # would print a vacuous ALL GREEN.
        print(f"ERROR unknown query name(s): {' '.join(unknown)}")
        return 2
    if vanilla:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[16]")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
    else:
        spark = get_spark("check_oracles")
    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    failures = []
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        dec_cols = decimal_output_columns(sdf)
        if dec_cols:
            failures.append(name)
            print(
                f"FAIL  {name}: decimal output columns {dec_cols} are "
                "driver-hash-unsafe; cast final column to DOUBLE on both engines"
            )
            continue
        if name not in ORACLES:
            print(f"rows  {name}: {len(srows)} rows ({time.time()-t0:.1f}s, rows-only)")
            continue
        try:
            # Driver-hash-unsafe DuckDB output types, checked BEFORE the
            # value compare: this checker fetches via fetchall() (HUGEINT
            # → Python int, hash-identical to Spark's long) but the
            # driver materializes through pandas, where HUGEINT becomes
            # float64 and renders 250.0 against Spark's 250 — local-green,
            # driver-red (round-10 b31_dedup_token_savings). Un-cast
            # sum(BIGINT) and HUGEINT division are the usual sources;
            # CAST every aggregate output to BIGINT in the oracle.
            # Execute the oracle ONCE into a temp table (CTAS preserves
            # output types — HUGEINT/DECIMAL stay flaggable) and derive
            # types + fetchall + pandas from cheap scans of the
            # materialized result, instead of re-planning and re-running
            # the full query three times (ADVICE r11: the double
            # execution roughly doubled DuckDB-side sweep time).
            con.execute(
                f"CREATE OR REPLACE TEMP TABLE _oracle_out AS {ORACLES[name]}"
            )
            otypes = con.sql("SELECT * FROM _oracle_out").types
            bad = hash_unsafe_types(otypes)
            if bad:
                failures.append(name)
                print(
                    f"FAIL  {name}: duckdb output types {bad} are "
                    "driver-hash-unsafe (pandas float64 / trailing-zero "
                    "render); CAST to BIGINT/DOUBLE in the oracle"
                )
                continue
            rel = con.execute("SELECT * FROM _oracle_out")
            ocols = [d[0] for d in rel.description]
            orows = rel.fetchall()
            # Materialization-path parity: the DRIVER fetches oracle rows
            # through pandas (.df()), this checker through fetchall() —
            # the two can disagree (NULL double → NaN, int downcasts,
            # dtype-changing conversions) even when fetchall() matches
            # Spark. Hash BOTH paths and fail on any divergence, so a
            # pandas-only drift can't be local-green/driver-red (the
            # round-10 b31 class, generalized).
            pdf = con.execute("SELECT * FROM _oracle_out").df()
            prows = [
                tuple(nan_to_none(v) for v in row)
                for row in pdf.itertuples(index=False, name=None)
            ]
            om_fetch = row_multiset(ocols, orows)
            om_pandas = row_multiset(list(pdf.columns), prows)
            if om_fetch != om_pandas:
                failures.append(name)
                d1 = list((om_fetch - om_pandas).items())[:2]
                d2 = list((om_pandas - om_fetch).items())[:2]
                print(
                    f"FAIL  {name}: oracle materialization-path divergence "
                    f"(fetchall vs pandas); fetchall-only={d1} pandas-only={d2}"
                )
                continue
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        ok = True
        if sorted(scols) != sorted(ocols):
            ok = False
            print(f"FAIL  {name}: columns spark={scols} duck={ocols}")
        elif len(srows) != len(orows):
            ok = False
            print(f"FAIL  {name}: rowcount spark={len(srows)} duck={len(orows)}")
        else:
            sm = row_multiset(scols, srows)
            om = row_multiset(ocols, orows)
            if sm != om:
                ok = False
                diff_s = list((sm - om).items())[:3]
                diff_o = list((om - sm).items())[:3]
                print(f"FAIL  {name}: value mismatch; spark-only={diff_s} duck-only={diff_o}")
        if ok:
            # Soft type-drift signal (ADVICE r11): norm_cell renders DATE
            # cells as midnight isoformat to mirror the driver's pandas
            # unification, which would otherwise hide a genuine
            # DATE-vs-TIMESTAMP(midnight) divergence between the engines.
            skinds = {
                f.name: temporal_kind(f.dataType.simpleString())
                for f in sdf.schema.fields
            }
            for cn, dt in zip(ocols, otypes):
                dk, sk = temporal_kind(dt), skinds.get(cn)
                if sk and dk and sk != dk:
                    print(
                        f"warn  {name}: column {cn!r} is {sk} on spark but "
                        f"{dk} on duckdb (norm_cell unifies — type drift, "
                        "not a failure)"
                    )
            print(f"ok    {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
        else:
            failures.append(name)
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL GREEN")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
