"""Seeded input generator for the benchmark.

The table values are the same for every seed, so that every run does the
same work; ``--seed`` sets the row order of each table and which rows land
in which part file, and the same seed gives byte-equal files. Tables follow the
schemas and value distributions of the engine's fixture tables (FIXTURES.md)
so that the declared queries and their DuckDB oracles run unchanged, but no
fixture file is read: the benchmark only touches its own checkout.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

#: Row counts of the star-schema tables: the fixture's sf0.01 shape.
STAR_ROWS = {"customer": 1_500, "supplier": 100, "part": 2_000, "orders": 15_000}
EVENT_ROWS = 10_000
DOC_ROWS = 1_000
EMBED_ROWS = 500
EMBED_DIM = 64

ORDER_DAY0 = datetime(1995, 1, 1)
ORDER_DAYS = 2_400
EVENT_T0 = datetime(2024, 1, 1)


#: Seed of the table values.
VALUES_SEED = 0


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """An independent generator per (seed, stream...) so adding one input
    never shifts the values of another."""
    return np.random.default_rng([seed, *stream])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables() -> dict[str, pa.Table]:
    """region / nation / customer / supplier / part / orders / lineitem."""
    rng = rng_for(VALUES_SEED, 1)
    n_cust, n_supp = STAR_ROWS["customer"], STAR_ROWS["supplier"]
    n_part, n_ord = STAR_ROWS["part"], STAR_ROWS["orders"]
    t = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": retail,
        }
    )
    order_day = rng.integers(0, ORDER_DAYS, n_ord)
    order_date = np.datetime64(ORDER_DAY0, "us") + order_day.astype(
        "timedelta64[D]"
    ).astype("timedelta64[us]")
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": pa.array(order_date, pa.timestamp("us")),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
        }
    )
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord), lines)
    lineno = np.concatenate([np.arange(1, k + 1) for k in lines])
    pkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(float)
    ship = order_date[okey] + rng.integers(1, 122, n_li).astype(
        "timedelta64[D]"
    ).astype("timedelta64[us]")
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(pkey, pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(lineno, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * retail[pkey] + rng.uniform(0, 5, n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
            "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n_li)],
            "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, n_li)],
            "l_shipdate": pa.array(ship, pa.timestamp("us")),
        }
    )
    return t


def event_table(
    rng: np.random.Generator,
    n: int,
    id0: int,
    t0: datetime,
    span: timedelta,
) -> pa.Table:
    """``n`` events with event time in ``[t0, t0 + span)``, in time order."""
    offs = np.sort(rng.integers(0, int(span.total_seconds() * 1e6), n))
    ts = np.datetime64(t0, "us") + offs.astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": pa.array(np.arange(id0, id0 + n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def random_texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(WORDS), int(lens.sum()))
    out, i = [], 0
    for k in lens:
        out.append(" ".join(WORDS[w] for w in words[i : i + k]))
        i += k
    return out


def document_table() -> pa.Table:
    """Corpus with the fixture's duplicate structure: ~5% near-duplicates
    (an earlier text plus one word) and a few exact duplicates."""
    rng = rng_for(VALUES_SEED, 2)
    texts = random_texts(rng, DOC_ROWS)
    for i in range(DOC_ROWS // 10, DOC_ROWS):
        u = rng.random()
        if u < 0.05:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
        elif u < 0.052:
            texts[i] = texts[int(rng.integers(0, i))]
    return pa.table(
        {
            "doc_id": pa.array(range(DOC_ROWS), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.choice(5, DOC_ROWS, p=LANG_P)],
            "source": [f"src{i}" for i in rng.integers(0, 20, DOC_ROWS)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )


def embedding_table() -> pa.Table:
    rng = rng_for(VALUES_SEED, 3)
    m = rng.normal(size=(EMBED_ROWS, EMBED_DIM)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(range(EMBED_ROWS), pa.int64()),
            "embedding": pa.array(list(m), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, EMBED_ROWS), pa.int32()),
        }
    )


#: Part files per table directory. Fixed, so that every seed gives the same
#: scan parallelism; the seed decides which rows land in which part.
N_PARTS = 4


def _permuted_parts(rng: np.random.Generator, table: pa.Table) -> list[pa.Table]:
    """Seeded row order, split into ``N_PARTS`` near-equal part files (fewer
    for tables with fewer rows)."""
    table = table.take(pa.array(rng.permutation(table.num_rows)))
    bounds = np.linspace(0, table.num_rows, min(N_PARTS, table.num_rows) + 1).astype(int)
    return [table.slice(a, b - a) for a, b in zip(bounds, bounds[1:])]


def write_parquet_dir(rng: np.random.Generator, table: pa.Table, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    for i, part in enumerate(_permuted_parts(rng, table)):
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def write_csv_dir(rng: np.random.Generator, table: pa.Table, path: str) -> int:
    """Headerless CSV part files plus a ``_SUCCESS`` marker, the layout of an
    upstream platform node's output. Returns the bytes written."""
    os.makedirs(path, exist_ok=True)
    total = 0
    for i, part in enumerate(_permuted_parts(rng, table)):
        f = os.path.join(path, f"part-{i:05d}.csv")
        part.to_pandas().to_csv(f, header=False, index=False, date_format="%Y-%m-%d")
        total += os.path.getsize(f)
    open(os.path.join(path, "_SUCCESS"), "w").close()
    return total


def write_query_tables(seed: int, out_dir: str, names) -> None:
    """Each table as ``{out_dir}/{name}.parquet/part-*.parquet`` — the
    directory form ``spark.read.parquet`` reads like the single-file one."""
    star = star_tables()
    makers = {
        "events": lambda: event_table(
            rng_for(VALUES_SEED, 4), EVENT_ROWS, 0, EVENT_T0, timedelta(days=30)
        ),
        "documents": document_table,
        "embeddings": embedding_table,
    }
    for i, name in enumerate(names):
        table = star[name] if name in star else makers[name]()
        write_parquet_dir(rng_for(seed, 100, i), table, f"{out_dir}/{name}.parquet")


#: Columns of the platform node's CSV inputs, with the R-typeof-style type
#: names the platform ships in ``MetaDataType``.
NODE_COLUMNS = {
    "lineitem": [
        ("l_orderkey", "long"),
        ("l_partkey", "long"),
        ("l_quantity", "double"),
        ("l_extendedprice", "double"),
        ("l_discount", "double"),
        ("l_returnflag", "character"),
        ("l_shipdate", "date"),
    ],
    "orders": [
        ("o_orderkey", "long"),
        ("o_custkey", "long"),
        ("o_orderstatus", "character"),
        ("o_totalprice", "double"),
        ("o_orderdate", "date"),
        ("o_orderpriority", "character"),
    ],
}


def write_node_inputs(seed: int, out_dir: str) -> tuple[list[dict], int]:
    """The platform node's upstream tables as headerless-CSV directories and
    the ``MetaData``/``MetaDataType`` specs ``PerformLoadData`` receives.
    Returns (specs, input bytes)."""
    star = star_tables()
    specs, total = [], 0
    for i, (name, cols) in enumerate(NODE_COLUMNS.items()):
        table = star[name].select([c for c, _ in cols])
        for c, kind in cols:
            if kind == "date":
                idx = table.schema.get_field_index(c)
                table = table.set_column(idx, c, table[c].cast(pa.date32()))
        path = f"{out_dir}/{name}"
        total += write_csv_dir(rng_for(seed, 200, i), table, path)
        specs.append(
            {
                "TABLE_NAME": name,
                "DataLocation": path,
                "Format": "csv",
                "MetaData": ", ".join(c for c, _ in cols),
                "MetaDataType": ", ".join(k for _, k in cols),
            }
        )
    return specs, total
