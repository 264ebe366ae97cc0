"""Round-12 contract tests: the r11 VERDICT/ADVICE fixes.

1. b33_binary_hamming_topk engine/oracle parity on a RAGGED + NULL-element
   fixture (VERDICT r11 "what's wrong" #1 done-check): short vectors are
   dropped and NULL elements 0-bit-quantize IDENTICALLY on both engines,
   so the pair hash-matches beyond the uniformly-64-dim NULL-free driver
   fixtures.
2. semantic_join NULL-score candidates can never win top-1 (ADVICE r11:
   min(struct(-cos, rid)) would sort a NULL score FIRST).
3. rolling_origin_folds rejects fold_col == split_col (ADVICE r11).
4. check_oracles temporal_kind surfaces date-vs-timestamp drift as a soft
   signal (ADVICE r11) and the single-execution temp-table path preserves
   the HUGEINT flag + fetchall/pandas parity semantics.
5. sweep_checkpoint_rounds bounds pagerank/connected-components checkpoint
   dirs across repeated runs (VERDICT r11 #6).
"""

from __future__ import annotations

import pyspark.sql.functions as F


# ------------------- b33_binary_hamming_topk ragged/NULL oracle parity


def test_binary_hamming_topk_ragged_null_fixture_matches_oracle(
    spark, tmp_path
):
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ddataframeoperation_spark.queries import ORACLES, QUERIES
    from tools.check_oracles import row_multiset

    # Query vector (vec_id 0): mixed signs with a NULL element at a
    # would-be-positive position (6) and an exact 0.0 at another (12) —
    # both must pack to 0-bits on BOTH engines.
    q: list = [1.0 if i % 3 == 0 else -1.0 for i in range(64)]
    q[6] = None
    q[12] = 0.0
    rows = [
        (0, q),                                      # the query itself
        (1, list(q)),                                # exact copy -> hamming 0
        (2, [(-x if x is not None else 1.0) for x in q]),  # mostly flipped
        (3, q[:63]),                                 # ragged 63-dim -> DROPPED
        (4, []),                                     # empty -> DROPPED
        (5, [None] * 64),                            # all-NULL -> code 0
        (6, q + [99.0]),                             # 65-dim -> first 64 used
        (7, None),                                   # NULL cell -> DROPPED
    ]
    tbl = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array(
                [r[1] for r in rows], pa.list_(pa.float64())
            ),
        }
    )
    pq.write_table(tbl, tmp_path / "embeddings.parquet")
    sf = str(tmp_path)

    sdf = QUERIES["b33_binary_hamming_topk"](spark, sf)
    srows = [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS "
        f"SELECT * FROM read_parquet('{sf}/embeddings.parquet')"
    )
    rel = con.execute(ORACLES["b33_binary_hamming_topk"])
    ocols = [d[0] for d in rel.description]
    orows = rel.fetchall()

    assert sorted(sdf.columns) == sorted(ocols)
    assert row_multiset(sdf.columns, srows) == row_multiset(ocols, orows)

    got = {r[0]: r[1] for r in srows}
    # ragged/empty/NULL-cell rows dropped on both sides
    assert set(got) == {0, 1, 2, 5, 6}
    assert got[0] == 0 and got[1] == 0          # NULL elements match as 0-bits
    assert got[6] == 0                          # extra tail element ignored
    # all-NULL vector = code 0: hamming == popcount of the query code
    qbits = sum(
        1 for i, x in enumerate(q) if x is not None and float(x) > 0
    )
    assert got[5] == qbits and qbits > 0


# --------------------------------- semantic_join NULL-score guard


def test_semantic_join_null_score_never_wins(spark):
    from ddataframeoperation_spark.operators.similarity import semantic_join

    # 2-dim toy corpus, one centroid (every row in cell 0 so the join
    # pairs everything); right id 9 carries a NULL ELEMENT — it survives
    # the Arrow assign kernel (NaN in the matmul) but the JVM zip_with/
    # aggregate dot folds it to a NULL cosine, the exact case the guard
    # pins: under min(struct(-cos, rid)) a NULL would sort FIRST and win.
    left = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    right = spark.createDataFrame(
        [(8, [1.0, 0.1]), (9, [1.0, None]), (10, [0.9, 0.1])],
        "vec_id long, embedding array<double>",
    )
    out = semantic_join(
        left, right, centroids=[[1.0, 0.0]], nprobe=1
    ).collect()
    assert len(out) == 1
    row = out[0].asDict()
    # NULL-cosine candidate 9 must lose to a real match, not sort first.
    assert row["r_vec_id"] == 8
    assert row["cos_sim"] is not None


def test_semantic_join_arrow_kernel_matches_fold(spark):
    # The BLAS cogroup kernel must pick the winners and 4dp scores of
    # the pairwise numpy reference — summation-order noise is ~1e-16,
    # far below the rounding contract; ties break to the lower right id.
    import random

    from cosine_reference import assert_rounded, semantic_join_reference

    from ddataframeoperation_spark.operators.similarity import (
        kmeans_centroids,
        semantic_join,
    )

    rng = random.Random(12)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(120)
    ]
    # exact-duplicate vectors across the right side exercise the rid
    # tiebreak
    rows[60] = (60, list(rows[61][1]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    left = emb.filter(F.col("vec_id") < 20)
    right = emb.filter(F.col("vec_id") >= 20)
    cents = kmeans_centroids(emb, k=4, iters=3)

    got = {
        r["l_vec_id"]: (r["r_vec_id"], r["cos_sim"])
        for r in semantic_join(left, right, cents, nprobe=None).collect()
    }
    want = semantic_join_reference(rows[:20], rows[20:])
    assert got.keys() == want.keys() and len(got) == 20
    for lid, (rid, cos) in got.items():
        assert rid == want[lid][0], lid
        assert_rounded(cos, want[lid][1])
    # the duplicate pair never lets 61 beat 60
    assert all(rid != 61 for rid, _ in got.values())


# --------------------------------- rolling_origin_folds column clash


def test_rolling_origin_folds_rejects_equal_fold_and_split_col(spark):
    import pytest

    from ddataframeoperation_spark.operators.sampling import (
        rolling_origin_folds,
    )

    df = spark.createDataFrame(
        [("2024-01-01 00:00:00",)], "ts string"
    ).select(F.to_timestamp("ts").alias("ts"))
    with pytest.raises(ValueError, match="must differ"):
        rolling_origin_folds(
            df, "ts", ["2024-01-02"], fold_col="f", split_col="f"
        )


# --------------------------------- checker: temporal drift + single-exec


def test_checker_temporal_kind_classification():
    from tools.check_oracles import temporal_kind

    assert temporal_kind("date") == "date"
    assert temporal_kind("DATE") == "date"
    assert temporal_kind("timestamp") == "timestamp"
    assert temporal_kind("timestamp_ntz") == "timestamp"
    assert temporal_kind("TIMESTAMP_NS") == "timestamp"
    assert temporal_kind("bigint") is None
    assert temporal_kind("string") is None


# --------------------------------- streaming state-partition pinning


def test_bounded_state_partitions_lowers_and_restores(spark):
    from ddataframeoperation_spark.streaming import bounded_state_partitions

    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    try:
        # vanilla-session shape: 200 -> capped at 32 for the run, restored
        spark.conf.set(key, "200")
        with bounded_state_partitions(spark):
            assert spark.conf.get(key) == "32"
        assert spark.conf.get(key) == "200"
        # a session tuned BELOW the cap is never raised
        spark.conf.set(key, "8")
        with bounded_state_partitions(spark):
            assert spark.conf.get(key) == "8"
        # restore happens even when the body raises
        spark.conf.set(key, "200")
        try:
            with bounded_state_partitions(spark):
                raise RuntimeError("boom")
        except RuntimeError:
            pass
        assert spark.conf.get(key) == "200"
    finally:
        spark.conf.set(key, old)


# --------------------------------- checkpoint round sweeping


def test_sweep_checkpoint_rounds_scoped_and_safe(spark, tmp_path):
    from ddataframeoperation_spark.operators.dedup import (
        connected_components,
        pagerank,
        sweep_checkpoint_rounds,
    )

    ckpt = tmp_path / "ckpt"
    ckpt.mkdir()
    # caller data co-located in the directory must survive any sweep
    (ckpt / "user_data.parquet").mkdir()
    (ckpt / "notes.txt").write_text("keep me")

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a int, id_b int"
    )
    cc = connected_components(
        edges, checkpoint_dir=str(ckpt), run_id="aaaaaaaaaaaa"
    )
    assert cc.count() > 0  # consume before sweeping

    nodes = spark.createDataFrame([(1,), (2,), (3,)], "id int")
    pr_edges = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1)], "src int, dst int, w int"
    )
    pr = pagerank(
        nodes, pr_edges, n_iter=2, checkpoint_dir=str(ckpt),
        run_id="bbbbbbbbbbbb",
    )
    assert pr.count() == 3

    names = {p.name for p in ckpt.iterdir()}
    assert any(n.startswith("cc_aaaaaaaaaaaa_round_") for n in names)
    assert any(n.startswith("pr_bbbbbbbbbbbb_round_") for n in names)

    # scoped sweep: only the cc run goes
    n_cc = sum(1 for n in names if n.startswith("cc_"))
    assert sweep_checkpoint_rounds(spark, str(ckpt), "aaaaaaaaaaaa") == n_cc
    names = {p.name for p in ckpt.iterdir()}
    assert not any(n.startswith("cc_") for n in names)
    assert any(n.startswith("pr_bbbbbbbbbbbb_round_") for n in names)

    # unscoped sweep: every remaining round dir goes, caller files stay
    assert sweep_checkpoint_rounds(spark, str(ckpt)) > 0
    assert {p.name for p in ckpt.iterdir()} == {
        "user_data.parquet", "notes.txt"
    }
    # idempotent / missing dir
    assert sweep_checkpoint_rounds(spark, str(ckpt)) == 0
    assert sweep_checkpoint_rounds(spark, str(tmp_path / "absent")) == 0


def test_keyword_pagerank_repeated_runs_do_not_accumulate(spark, tmp_path):
    from ddataframeoperation_spark.operators.text import keyword_pagerank

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma alpha beta"),
            (2, "beta gamma delta beta gamma"),
            (3, "gamma delta alpha gamma delta"),
        ],
        "doc_id int, text string",
    )
    ckpt = tmp_path / "kw"
    first = None
    for _ in range(3):
        out = keyword_pagerank(
            docs, min_count=2, n_iter=2, k=5, checkpoint_dir=str(ckpt)
        )
        got = {(r["token"], r["rank_units"]) for r in out.collect()}
        first = got if first is None else first
        assert got == first  # deterministic across runs
        # the operator swept its own run: nothing accumulates
        assert not any(ckpt.iterdir())


def test_checker_ctas_preserves_hash_unsafe_types():
    # The single-execution rewrite materializes oracles through a CTAS;
    # the HUGEINT/DECIMAL flag must still see the original output types.
    import duckdb

    from tools.check_oracles import hash_unsafe_types

    con = duckdb.connect()
    con.execute(
        "CREATE TEMP TABLE _oracle_out AS "
        "SELECT sum(x) AS s, CAST(1.5 AS DECIMAL(38,4)) AS d "
        "FROM (SELECT CAST(1 AS BIGINT) x)"
    )
    types = con.sql("SELECT * FROM _oracle_out").types
    assert hash_unsafe_types(types) == ["HUGEINT", "DECIMAL"]


# --------------------------------- r12 widening: four new operators


def test_adamic_adar_matches_naive(spark):
    import itertools
    import math

    from ddataframeoperation_spark.operators.dedup import adamic_adar_pairs

    edges = [(0, i) for i in range(1, 6)] + [(9, 10), (10, 11), (9, 12),
                                             (12, 11), (1, 2)]
    e = spark.createDataFrame(edges, "id_a int, id_b int")
    got = {
        (r["id_a"], r["id_b"]): (r["n_common"], r["aa_score"])
        for r in adamic_adar_pairs(e, min_common=1).collect()
    }

    adj: dict[int, set[int]] = {}
    eset = set()
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
        eset.add((min(s, d), max(s, d)))
    want = {}
    for a, b in itertools.combinations(sorted(adj), 2):
        if (a, b) in eset:
            continue
        common = adj[a] & adj[b]
        if common:
            aa = sum(1.0 / math.log(len(adj[x])) for x in common)
            want[(a, b)] = (len(common), round(aa, 4))
    assert got == want
    # hub-damping sanity: evidence through degree-2 node 10 outweighs
    # evidence through the degree-5 hub 0 per wedge
    assert got[(9, 11)][1] > got[(3, 4)][1] / got[(3, 4)][0]

    # max_degree excludes the hub as a CENTER
    guarded = {
        (r["id_a"], r["id_b"])
        for r in adamic_adar_pairs(e, min_common=1, max_degree=3).collect()
    }
    assert (3, 4) not in guarded  # only evidence was hub 0
    assert (9, 11) in guarded


def test_brier_decomposition_matches_python(spark):
    import random

    from ddataframeoperation_spark.operators.relational import (
        brier_decomposition,
    )

    rng = random.Random(4)
    rows = [
        (round(rng.random(), 4), rng.random() < 0.4) for _ in range(400)
    ] + [(None, True), (0.5, None), (1.0, True), (0.0, False)]
    df = spark.createDataFrame(rows, "score double, label boolean")
    out = brier_decomposition(df, "score", "label", n_bins=10).collect()[0]

    data = [(s, 1.0 if y else 0.0) for s, y in rows
            if s is not None and y is not None]
    n = len(data)
    brier = sum((s - y) ** 2 for s, y in data) / n
    obar = sum(y for _, y in data) / n
    bins: dict[int, list] = {}
    for s, y in data:
        bins.setdefault(max(0, min(9, int(s * 10 // 1))), []).append((s, y))
    rel = sum(
        len(v) * (sum(s for s, _ in v) / len(v)
                  - sum(y for _, y in v) / len(v)) ** 2
        for v in bins.values()
    ) / n
    res = sum(
        len(v) * (sum(y for _, y in v) / len(v) - obar) ** 2
        for v in bins.values()
    ) / n
    unc = obar * (1 - obar)
    assert out["n"] == n
    assert abs(out["brier"] - round(brier, 4)) <= 1e-9
    assert abs(out["reliability"] - round(rel, 4)) <= 1e-4
    assert abs(out["resolution"] - round(res, 4)) <= 1e-4
    assert abs(out["uncertainty"] - round(unc, 4)) <= 1e-9
    # Murphy identity holds up to the within-bin variance residual
    assert abs(
        out["brier"]
        - (out["reliability"] - out["resolution"] + out["uncertainty"])
        - out["binning_residual"]
    ) <= 5e-4


def test_parse_fixed_width_contract(spark):
    import pytest

    from ddataframeoperation_spark.functions.schema import parse_fixed_width

    lines = spark.createDataFrame(
        [
            ("  42X            1.50hello          ",),
            (" badY             xyzworld          ",),  # malformed numbers
        ],
        "value string",
    )
    layout = [
        ("k", 1, 4, "long"),
        ("flag", 5, 1, "string"),
        ("amount", 6, 16, "double"),
        ("name", 22, 15, "string"),
    ]
    rows = [r.asDict() for r in parse_fixed_width(lines, layout).collect()]
    rows.sort(key=lambda r: (r["k"] is None, r["k"]))
    assert rows[0] == {"k": 42, "flag": "X", "amount": 1.5, "name": "hello"}
    # malformed numeric fields -> NULL (try_cast), strings still parse
    assert rows[1]["k"] is None and rows[1]["amount"] is None
    assert rows[1]["flag"] == "Y" and rows[1]["name"] == "world"

    with pytest.raises(ValueError, match="at least one field"):
        parse_fixed_width(lines, [])
    with pytest.raises(ValueError, match="1-based"):
        parse_fixed_width(lines, [("k", 0, 4, "long")])


def test_preference_pairs_contract(spark):
    from ddataframeoperation_spark.operators.text import preference_pairs

    rows = [
        # group a: clear winner/loser + a NULL-score candidate
        ("a", 1, 10), ("a", 2, 30), ("a", 3, 20), ("a", 4, None),
        # group b: tie at the top -> lowest id chosen; tie at bottom
        ("b", 5, 50), ("b", 6, 50), ("b", 7, 1), ("b", 8, 1),
        # group c: all equal -> no signal -> dropped
        ("c", 9, 7), ("c", 10, 7),
        # group d: single candidate -> dropped
        ("d", 11, 99),
    ]
    df = spark.createDataFrame(rows, "g string, doc_id int, score int")
    got = {
        r["g"]: r.asDict()
        for r in preference_pairs(
            df, group_col="g", id_col="doc_id", score_col="score"
        ).collect()
    }
    assert set(got) == {"a", "b"}
    a = got["a"]
    assert (a["chosen_id"], a["rejected_id"], a["margin"]) == (2, 1, 20)
    assert a["n_candidates"] == 3  # NULL score not a candidate
    b = got["b"]
    assert (b["chosen_id"], b["rejected_id"]) == (5, 7)  # lowest-id ties
    assert b["margin"] == 49 and b["n_candidates"] == 4


def test_hits_matches_pure_python_integer_replay(spark):
    from ddataframeoperation_spark.operators.dedup import hits

    UNIT = 10**6
    nodes = spark.createDataFrame([(i,) for i in range(5)], "id long")
    E = [(0, 1, 2), (0, 2, 1), (3, 1, 5), (3, 2, 1), (4, 0, 1), (1, 2, 3)]
    edges = spark.createDataFrame(E, "src long, dst long, w long")
    got = {
        r["id"]: (r["hub_units"], r["auth_units"])
        for r in hits(nodes, edges, n_iter=3, unit=UNIT).collect()
    }

    h = {i: UNIT for i in range(5)}
    a: dict = {}
    for _ in range(3):
        raw: dict = {}
        for s, d, w in E:
            raw[d] = raw.get(d, 0) + h[s] * w
        tot = sum(raw.values())
        a = {i: (raw.get(i, 0) * UNIT) // tot if tot else 0 for i in h}
        raw = {}
        for s, d, w in E:
            raw[s] = raw.get(s, 0) + a[d] * w
        tot = sum(raw.values())
        h = {i: (raw.get(i, 0) * UNIT) // tot if tot else 0 for i in h}
    assert got == {i: (h[i], a[i]) for i in range(5)}
    # role asymmetry: pure source 3 is a hub, pure sink 2 an authority
    assert got[3][0] > 0 and got[3][1] == 0
    assert got[2][0] == 0 and got[2][1] > 0


def test_hits_checkpoint_rounds_sweepable(spark, tmp_path):
    from ddataframeoperation_spark.operators.dedup import (
        hits,
        sweep_checkpoint_rounds,
    )

    nodes = spark.createDataFrame([(0,), (1,)], "id long")
    edges = spark.createDataFrame([(0, 1, 1)], "src long, dst long, w long")
    out = hits(
        nodes, edges, n_iter=2, checkpoint_dir=str(tmp_path),
        run_id="cccccccccccc",
    )
    assert out.count() == 2  # consume
    names = {p.name for p in tmp_path.iterdir()}
    assert any(n.startswith("hits_cccccccccccc_round_") for n in names)
    assert sweep_checkpoint_rounds(spark, str(tmp_path), "cccccccccccc") > 0
    assert not any(tmp_path.iterdir())


def test_rfm_segments_contract(spark):
    import datetime

    from ddataframeoperation_spark.operators.relational import rfm_segments

    base = datetime.date(2024, 1, 1)
    rows = []
    # 10 customers: customer k orders k+1 times, each order 100.00;
    # higher k = later last order (better recency), more orders, more
    # spend — so k=9 is best on all three axes.
    for k in range(10):
        for j in range(k + 1):
            rows.append(
                (k, base + datetime.timedelta(days=3 * k + j), 100.00)
            )
    df = spark.createDataFrame(
        rows, "o_custkey int, o_orderdate date, o_totalprice double"
    )
    out = rfm_segments(df).collect()
    # population preserved and money exact
    assert sum(r["n_customers"] for r in out) == 10
    assert sum(r["total_cents"] for r in out) == len(rows) * 10000
    # bucket 1 is best on every axis: the most-frequent/most-recent/
    # highest-spend customer (k=9) must land in (1,1,1)
    best = [r for r in out if (r["r_bucket"], r["f_bucket"],
                               r["m_bucket"]) == (1, 1, 1)]
    assert best and best[0]["n_customers"] >= 1
    for r in out:
        for c in ("r_bucket", "f_bucket", "m_bucket"):
            assert 1 <= r[c] <= 5


# --------------------------------- r12 self-review fixes


def test_run_id_validated_against_sweep_pattern(spark):
    import pytest

    from ddataframeoperation_spark.operators.dedup import (
        connected_components,
        hits,
        pagerank,
    )

    edges = spark.createDataFrame([(1, 2)], "id_a int, id_b int")
    nodes = spark.createDataFrame([(1,), (2,)], "id long")
    w_edges = spark.createDataFrame([(1, 2, 1)], "src long, dst long, w long")
    # an arbitrary run_id would write round dirs the sweep regex can
    # never match — silently unbounded checkpoint growth; must raise
    for bad in ("nightly-1", "ABCDEF012345", "0123456789abc", ""):
        with pytest.raises(ValueError, match="12 lowercase hex"):
            connected_components(edges, run_id=bad)
        with pytest.raises(ValueError, match="12 lowercase hex"):
            pagerank(nodes, w_edges, run_id=bad)
        with pytest.raises(ValueError, match="12 lowercase hex"):
            hits(nodes, w_edges, run_id=bad)


def test_semantic_join_unscorable_group_nan_on_both_paths(spark):
    import math

    from cosine_reference import semantic_join_reference

    from ddataframeoperation_spark.operators.similarity import semantic_join

    # Every candidate of the left row has a NULL element -> no scorable
    # match. The kernel (NaN in the matmul) must emit the row with
    # cos_sim NaN and the lowest-rid winner, as the reference does.
    left_rows = [(1, [1.0, 0.0])]
    right_rows = [(8, [1.0, None]), (9, [None, 2.0])]
    left = spark.createDataFrame(
        left_rows, "vec_id long, embedding array<double>"
    )
    right = spark.createDataFrame(
        right_rows, "vec_id long, embedding array<double>"
    )
    out = semantic_join(
        left, right, centroids=[[1.0, 0.0]], nprobe=1
    ).collect()
    assert len(out) == 1
    row = out[0].asDict()
    rid, cos = semantic_join_reference(left_rows, right_rows)[1]
    assert row["r_vec_id"] == rid == 8      # lowest-rid NaN tiebreak
    assert math.isnan(row["cos_sim"]) and math.isnan(cos)


def test_brier_decomposition_empty_input_yields_zero_rows(spark):
    from ddataframeoperation_spark.operators.relational import (
        brier_decomposition,
    )

    df = spark.createDataFrame(
        [(None, True), (0.5, None)], "score double, label boolean"
    )
    assert brier_decomposition(df, "score", "label").count() == 0
