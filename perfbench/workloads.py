"""The benchmark's workloads: what one job is, how it runs, how its output is
checked.

A workload generates its inputs (untimed), registers them with a fresh
session (part of set-up), then runs jobs of its ``kinds`` in rotation. Only
``run`` is timed; ``check`` runs outside the timed window.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import xml.etree.ElementTree as ET

import duckdb
import numpy as np
import pandas as pd

import gen


def _oracle_tools(root: str):
    """``tools/check_oracles`` of the checkout: the row normalization the
    engine's correctness gate uses."""
    tools = os.path.join(root, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import check_oracles

    return check_oracles


class AnalyticsCorpus:
    """Declared queries run to their collected result, each checked against
    its DuckDB oracle over the same generated files."""

    tables = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings")
    #: TPC-H-style joins, windows, as-of and time-series queries interleaved
    #: with the corpus dedup, similarity, text and retrieval queries.
    queries = [
        "b05_join_inner",
        "b31_dedup_fingerprint",
        "b17_window_rank",
        "b33_cosine_topk",
        "b09_asof_join",
        "b34_word_stats",
        "b11_time_rollup",
        "b33_mmr_rerank",
    ]
    kinds = queries

    def __init__(self, seed: int, work: str, root: str):
        self.seed, self.work, self.root = seed, work, root
        self.data_dir = os.path.join(work, "data")
        self._expected: dict[str, tuple] = {}
        self._duck = None

    def generate(self) -> None:
        gen.write_query_tables(self.seed, self.data_dir, self.tables)

    def register(self, spark) -> None:
        from ddataframeoperation_spark.catalog import load_fixture_tables

        load_fixture_tables(spark, self.data_dir, self.tables)

    def run(self, spark, kind: str, i: int):
        from ddataframeoperation_spark.queries import QUERIES

        df = QUERIES[kind](spark, self.data_dir)
        return df.columns, [tuple(r) for r in df.collect()]

    def _oracle(self, kind: str):
        co = _oracle_tools(self.root)
        if self._duck is None:
            self._duck = duckdb.connect()
            for t in self.tables:
                self._duck.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.data_dir}/{t}.parquet/*.parquet')"
                )
        if kind not in self._expected:
            from ddataframeoperation_spark.queries import ORACLES

            rel = self._duck.execute(ORACLES[kind])
            cols = [d[0] for d in rel.description]
            self._expected[kind] = (sorted(cols), co.row_multiset(cols, rel.fetchall()))
        return co, self._expected[kind]

    def check(self, kind: str, out) -> bool:
        cols, rows = out
        co, (want_cols, want) = self._oracle(kind)
        return sorted(cols) == want_cols and co.row_multiset(cols, rows) == want

    def layer_metrics(self) -> dict[str, float]:
        return {}

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()


def _zscore(cat):
    from ddataframeoperation_spark.operators.script import zscore_per_group

    joined = cat["lineitem"].join(
        cat["orders"], cat["lineitem"].l_orderkey == cat["orders"].o_orderkey
    )
    return zscore_per_group(joined, ["o_orderpriority"], "l_extendedprice")


def _net_price(batches):
    for pdf in batches:
        yield pd.DataFrame(
            {
                "l_orderkey": pdf.l_orderkey,
                "l_partkey": pdf.l_partkey,
                "net": pdf.l_extendedprice * (1.0 - pdf.l_discount),
                "big": pdf.l_quantity > 25,
            }
        )


def _batch_map(cat):
    from ddataframeoperation_spark.operators.script import apply_script_batches

    return apply_script_batches(
        cat["lineitem"], _net_price,
        "l_orderkey long, l_partkey long, net double, big boolean",
    )


def _price_band(s: pd.Series) -> pd.Series:
    return np.floor(np.log10(s)).astype("int64")


def _scalar_udf(cat):
    from ddataframeoperation_spark.operators.script import scalar_pandas_udf

    band = scalar_pandas_udf(_price_band, "long")
    o = cat["orders"]
    return o.select("o_orderkey", "o_orderpriority", "o_totalprice",
                    band("o_totalprice").alias("price_band"))


def _agg_join(cat):
    from pyspark.sql import functions as F

    li, o = cat["lineitem"], cat["orders"]
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority", "l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        )
    )


_LI = "SELECT * FROM read_csv('{d}/lineitem/*.csv', header=false, columns={c})"
_OR = "SELECT * FROM read_csv('{d}/orders/*.csv', header=false, columns={c})"

#: kind -> (user script, the SQL that gives its expected result, sort keys).
NODE_SCRIPTS = {
    "agg_join": (
        _agg_join,
        "SELECT o_orderpriority, l_returnflag, count(*) AS n_lines,"
        " sum(l_extendedprice * (1 - l_discount)) AS revenue"
        " FROM li JOIN o ON l_orderkey = o_orderkey GROUP BY ALL",
        ["o_orderpriority", "l_returnflag"],
    ),
    "zscore": (
        _zscore,
        "SELECT o_orderpriority, l_extendedprice, (l_extendedprice - avg(l_extendedprice) OVER w)"
        " / stddev_samp(l_extendedprice) OVER w AS zscore FROM li JOIN o ON l_orderkey = o_orderkey"
        " WINDOW w AS (PARTITION BY o_orderpriority)",
        ["o_orderpriority", "l_extendedprice", "zscore"],
    ),
    "batch_map": (
        _batch_map,
        "SELECT l_orderkey, l_partkey, l_extendedprice * (1 - l_discount) AS net,"
        " l_quantity > 25 AS big FROM li",
        ["l_orderkey", "l_partkey", "net", "big"],
    ),
    "scalar_udf": (
        _scalar_udf,
        "SELECT o_orderkey, o_orderpriority, o_totalprice,"
        " CAST(floor(log10(o_totalprice)) AS BIGINT) AS price_band FROM o",
        ["o_orderkey"],
    ),
}

#: Platform type names (gen.NODE_COLUMNS) as DuckDB types, and Spark's
#: manifest type names as the pandas dtypes the written CSV is read back with.
_DUCK_TYPES = {"long": "BIGINT", "double": "DOUBLE", "character": "VARCHAR", "date": "DATE"}
_PANDAS_TYPES = {"bigint": "int64", "int": "int64", "double": "float64",
                 "string": "object", "boolean": "object"}


def _same_frame(got: pd.DataFrame, want: pd.DataFrame, keys: list[str]) -> bool:
    """Equal up to row order; doubles within 1e-9 relative."""
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    got = got.sort_values(keys, kind="stable").reset_index(drop=True)
    want = want.sort_values(keys, kind="stable").reset_index(drop=True)
    for c in got.columns:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if got[c].dtype.kind == "f":
            if not np.allclose(a, b.astype(float), rtol=1e-9, atol=1e-9):
                return False
        elif not (a.astype(str) == b.astype(str)).all():
            return False
    return True


class PlatformNode:
    """The paper's job: one script-node run. ``PerformLoadData`` over
    headerless-CSV directories described by ``MetaData``/``MetaDataType``,
    a user script, ``FinalOutput`` (CSV, manifest and PMML) and
    ``UpdateJob`` against a stub orchestrator."""

    kinds = list(NODE_SCRIPTS)

    def __init__(self, seed: int, work: str, root: str):
        self.seed, self.work, self.root = seed, work, root
        self.in_dir = os.path.join(work, "node_in")
        self.out_root = os.path.join(work, "node_out")
        self.specs: list[dict] = []
        self.input_bytes = 0
        self.posts: list[tuple[str, dict]] = []
        self.outputs = {"files": 0, "bytes": 0, "nodes": 0}
        self._expected: dict[str, pd.DataFrame] = {}

    def generate(self) -> None:
        self.specs, self.input_bytes = gen.write_node_inputs(self.seed, self.in_dir)

    def register(self, spark) -> None:
        pass

    def _post(self, url: str, payload: dict) -> dict:
        self.posts.append((url, payload))
        return {"Status": "OK"}

    def run(self, spark, kind: str, i: int):
        from ddataframeoperation_spark.compat import DataframeOpr

        cat = DataframeOpr.PerformLoadData(spark, self.specs)
        df = NODE_SCRIPTS[kind][0](cat)
        manifest = DataframeOpr.FinalOutput(
            df, self.out_root, write_pmml=True, script=f"{kind}.py"
        )
        DataframeOpr.UpdateJob(
            self._post, "http://orchestrator.invalid", f"node-{i}", "exp-1",
            kind, manifest["DataLocation"], 2,
        )
        return manifest

    def _want(self, kind: str) -> pd.DataFrame:
        if kind not in self._expected:
            con = duckdb.connect()
            for view, tmpl, table in (("li", _LI, "lineitem"), ("o", _OR, "orders")):
                cols = "{" + ", ".join(
                    f"'{c}': '{_DUCK_TYPES[k]}'" for c, k in gen.NODE_COLUMNS[table]
                ) + "}"
                con.execute(f"CREATE VIEW {view} AS " + tmpl.format(d=self.in_dir, c=cols))
            self._expected[kind] = con.execute(NODE_SCRIPTS[kind][1]).df()
            con.close()
        return self._expected[kind]

    def check(self, kind: str, manifest: dict) -> bool:
        """Re-read the written CSV with the manifest's schema, compare it to
        the DuckDB result over the same inputs, and parse the PMML."""
        names = [n.strip() for n in manifest["MetaData"].split(",")]
        types = [t.strip() for t in manifest["MetaDataType"].split(",")]
        parts = sorted(glob.glob(os.path.join(manifest["DataLocation"], "part-*")))
        frames = [
            pd.read_csv(p, header=None, names=names, dtype=str, keep_default_na=False)
            for p in parts if os.path.getsize(p) > 0
        ]
        got = pd.concat(frames, ignore_index=True) if frames else pd.DataFrame(columns=names)
        for n, t in zip(names, types):
            if t == "boolean":
                got[n] = got[n].map({"true": "True", "false": "False"})
            else:
                got[n] = got[n].astype(_PANDAS_TYPES[t])
        want = self._want(kind)
        ok = _same_frame(got, want, NODE_SCRIPTS[kind][2])
        pmml = ET.parse(os.path.join(manifest["PMMLLocation"], "part-00000"))
        refs = [e for e in pmml.iter() if e.tag.endswith("FieldRef")]
        ok = ok and [e.get("field") for e in refs] == names
        ok = ok and self.posts and self.posts[-1][1]["ParameterValue"]["Status"] == 2
        run_dir = os.path.dirname(manifest["DataLocation"])
        for d, _, files in os.walk(run_dir):
            self.outputs["files"] += len(files)
            self.outputs["bytes"] += sum(os.path.getsize(os.path.join(d, f)) for f in files)
        self.outputs["nodes"] += 1
        shutil.rmtree(run_dir)
        return bool(ok)

    def layer_metrics(self) -> dict[str, float]:
        n = max(self.outputs["nodes"], 1)
        return {
            "compat.output_files": self.outputs["files"] / n,
            "compat.output_bytes": self.outputs["bytes"] / n,
            "compat.bytes_written_per_input_byte": self.outputs["bytes"] / n / self.input_bytes,
        }

    def close(self) -> None:
        pass


WORKLOADS = {
    "platform_node": PlatformNode,
    "analytics_corpus": AnalyticsCorpus,
}
