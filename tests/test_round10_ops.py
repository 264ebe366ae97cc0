"""Round-10 contract tests: the r9 VERDICT/ADVICE fixes.

1. gain_chart's gain/lift arithmetic survives 2^63-adjacent counts
   (numerators lifted to DECIMAL(38,0), like auc_exact).
2. join_fanout_estimate's per-key product survives >3.1e9-row keys
   (the fanout bomb must be REPORTED, not die in ANSI overflow).
3. join_strategy_advice on an EMPTY fact emits zero rows.
4. join_strategy_advice count ties resolve NULLS-LAST (non-null key
   wins a tie; NULL wins only when strictly heaviest).
"""

from __future__ import annotations

import pyspark.sql.functions as F


# ------------------------------------------- gain_chart overflow arithmetic


def test_gain_lift_exact_at_2e63_adjacent_counts(spark):
    # A 10^12-row corpus (the 100 TB scale): the lift numerator
    # cum_pos * tn * 10000 ~ 4e27 >> 2^63 — long arithmetic would raise
    # under ANSI; the DECIMAL(38,0) lift must return the exact
    # floor-division value. (The documented exactness bound is ~10^16
    # rows, where the numerator reaches DECIMAL(38,0)'s 10^38 cap.)
    from ddataframeoperation_spark.operators.relational import (
        _gain_lift_columns,
    )

    cum_pos, cum_n = 400_000_000_000, 500_000_000_000
    tn, tp = 1_000_000_000_000, 450_000_000_000
    df = spark.createDataFrame(
        [(cum_pos, cum_n, tn, tp)],
        "cum_pos long, cum_n long, _tn long, _tp long",
    )
    gain, lift = _gain_lift_columns()
    row = df.select(gain.alias("g"), lift.alias("l")).collect()[0]
    assert row["g"] == (cum_pos * 10000) // tp
    assert row["l"] == (cum_pos * tn * 10000) // (cum_n * tp)
    # And the zero-guard branches still emit 0, typed long.
    z = spark.createDataFrame(
        [(1, 0, 1, 0)], "cum_pos long, cum_n long, _tn long, _tp long"
    )
    rz = z.select(gain.alias("g"), lift.alias("l")).collect()[0]
    assert rz["g"] == 0 and rz["l"] == 0


def test_gain_chart_small_data_unchanged(spark):
    # The lift to DECIMAL must not change small-count results.
    from ddataframeoperation_spark.operators.relational import gain_chart

    rows = [(i / 10.0, i >= 5) for i in range(10)]
    out = gain_chart(
        spark.createDataFrame(rows, "score double, label boolean"),
        "score",
        "label",
        n_bins=5,
    ).orderBy("bucket").collect()
    # Perfect separation: top bucket(s) hold only positives.
    assert out[0]["gain_bp"] > 0
    assert out[-1]["gain_bp"] == 10000  # full depth captures everything
    assert out[-1]["lift_bp"] == 10000  # full depth = random = 10000
    for r in out:
        assert isinstance(r["gain_bp"], int) and isinstance(r["lift_bp"], int)


# --------------------------------------------- join_fanout per-key overflow


def test_join_fanout_survives_fanout_bomb_counts(spark):
    # One key with 4e9 rows on both sides: product 1.6e19 > 2^63. The
    # detector's whole purpose is to REPORT this key; feed synthetic
    # censuses (no data materialization) through the factored core.
    from ddataframeoperation_spark.operators.skew import (
        _fanout_from_censuses,
    )

    bomb = 4_000_000_000
    lc = spark.createDataFrame(
        [("bomb", bomb), ("ok", 10)], "key_value string, left_rows long"
    )
    rc = spark.createDataFrame(
        [("bomb", bomb), ("ok", 7)], "key_value string, right_rows long"
    )
    rows = _fanout_from_censuses(lc, rc, top_n=5).collect()
    got = {r["key_value"]: r for r in rows}
    assert got["bomb"]["out_rows"] == str(bomb * bomb)  # 1.6e19, exact
    assert got["ok"]["out_rows"] == "70"
    assert rows[0]["total_out_rows"] == str(bomb * bomb + 70)
    assert all(r["matched_keys"] == 2 for r in rows)
    # Ordering is by the NUMERIC product, not the shipped string.
    assert rows[0]["key_value"] == "bomb"


# ---------------------------------------------- join_strategy_advice guards


def test_join_advisor_empty_fact_emits_no_row(spark):
    from ddataframeoperation_spark.operators.skew import join_strategy_advice

    fact = spark.createDataFrame([], "k long, v long")
    dim = spark.createDataFrame([(1, 1)], "k long, v long")
    assert join_strategy_advice(fact, "k", dim, "k").count() == 0


def test_join_advisor_null_key_tiebreak_nulls_last(spark):
    from ddataframeoperation_spark.operators.skew import join_strategy_advice

    dim = spark.createDataFrame([(1, 1)], "k long, v long")
    # Tie between a NULL key and a real key: the real key must win
    # (DuckDB ORDER BY k ASC defaults NULLS LAST; the contract makes
    # Spark match instead of struct-compare's nulls-first).
    tied = spark.createDataFrame([(None, 0), ("a", 0)], "k string, v long")
    r = join_strategy_advice(tied, "k", dim, "k").collect()[0]
    assert r["fact_top_key"] == "a"
    # NULL strictly heaviest: NULL is the honest answer (the classic
    # accidental hot key) and must still surface.
    nullheavy = spark.createDataFrame(
        [(None, 0), (None, 1), ("a", 0)], "k string, v long"
    )
    r2 = join_strategy_advice(nullheavy, "k", dim, "k").collect()[0]
    assert r2["fact_top_key"] is None
    assert r2["fact_rows"] == 3 and r2["fact_keys"] == 2


# ------------------------------------------------ degree census integer div


def test_degree_census_edge_total_is_integer_exact(spark):
    # n_edges_total now comes from `sum(degree) div 2` (integer), not a
    # double division — values must stay exact and typed long.
    from ddataframeoperation_spark.operators.dedup import pair_degree_census

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 5)], "id_a long, id_b long"
    )
    rows = pair_degree_census(pairs).collect()
    assert all(r["n_edges_total"] == 4 for r in rows)
    assert dict(pair_degree_census(pairs).dtypes)["n_edges_total"] == "bigint"


# ----------------------------------------------------- pr_auc_exact (PR-AUC)


def _ap_reference(pairs):
    """The exact integer fold pr_auc_exact publishes, in pure Python ints
    (distinct-score thresholds, descending), plus sklearn-style float AP
    for the sanity bound."""
    from collections import defaultdict

    per = defaultdict(lambda: [0, 0])
    for s, y in pairs:
        per[s][0] += 1
        per[s][1] += int(y)
    n_pos = sum(ca for _, ca in per.values())
    cum_n = cum_pos = 0
    ap_num = 0
    ap_float = 0.0
    for s in sorted(per, reverse=True):
        c, ca = per[s]
        cum_n += c
        cum_pos += ca
        ap_num += (ca * cum_pos * 10**8) // cum_n
        if n_pos:
            ap_float += (ca / n_pos) * (cum_pos / cum_n)
    ap_bp = ap_num // (n_pos * 10**4) if n_pos else None
    return ap_bp, ap_float


def test_pr_auc_matches_brute_force_across_seeds(spark):
    import random

    from ddataframeoperation_spark.operators.relational import pr_auc_exact

    for seed in (1, 7, 42):
        rng = random.Random(seed)
        pairs = [
            (round(rng.random(), 2), rng.random() < 0.3) for _ in range(400)
        ]
        want_bp, want_float = _ap_reference(pairs)
        df = spark.createDataFrame(pairs, "score double, label boolean")
        r = pr_auc_exact(df, "score", "label").collect()[0]
        assert r["ap_bp"] == want_bp, f"seed {seed}"
        # The integer fold must sit within its documented floor bound of
        # the true float AP: under-counts by < m/(n_pos*1e4) bp + 1.
        assert 0 <= want_float * 10000 - r["ap_bp"] < len(set(pairs)) + 1
        assert r["n_pos"] == sum(y for _, y in pairs)
        assert r["base_bp"] == (r["n_pos"] * 10000) // (
            r["n_pos"] + r["n_neg"]
        )


def test_pr_auc_perfect_and_empty_cohort(spark):
    from ddataframeoperation_spark.operators.relational import pr_auc_exact

    # Perfect separation: every positive above every negative -> 10000.
    rows = [(1.0 - i / 100.0, i < 10) for i in range(100)]
    r = pr_auc_exact(
        spark.createDataFrame(rows, "score double, label boolean"),
        "score",
        "label",
    ).collect()[0]
    assert r["ap_bp"] == 10000 and r["base_bp"] == 1000
    # No positives: NULL (undefined, loudly), base_bp 0.
    neg = spark.createDataFrame(
        [(0.5, False), (0.2, False)], "score double, label boolean"
    )
    r2 = pr_auc_exact(neg, "score", "label").collect()[0]
    assert r2["ap_bp"] is None and r2["base_bp"] == 0


def test_pr_auc_bucketing_invariance(spark):
    # The bucketed two-level prefix machinery is an implementation
    # detail: at the production bucket count, with more than 2 × 512
    # distinct scores (several per bucket, so both descending prefix
    # levels carry counts) and a heavy tie block, the result equals the
    # unbucketed reference fold.
    import random

    from ddataframeoperation_spark.operators.relational import (
        _RANK_BUCKETS,
        pr_auc_exact,
    )

    rng = random.Random(43)
    pairs = []
    for _ in range(5000):
        s = 0.25 if rng.random() < 0.2 else round(rng.random(), 3)
        pairs.append((s, rng.random() < 0.1 + 0.6 * s))
    assert len({s for s, _ in pairs}) > _RANK_BUCKETS
    want_bp, _ = _ap_reference(pairs)
    df = spark.createDataFrame(pairs, "score double, label boolean")
    r = pr_auc_exact(df, "score", "label").collect()[0]
    assert r["ap_bp"] == want_bp
    assert (r["n_pos"], r["n_neg"]) == (
        sum(y for _, y in pairs),
        sum(not y for _, y in pairs),
    )


# -------------------------------------------- late-data drop replay harness


def test_late_replay_drops_stragglers_and_sentinel(spark, sf_dir, tmp_path):
    import datetime

    import ddataframeoperation_spark.streaming as STR
    from ddataframeoperation_spark.catalog import read_fixture_table

    e = read_fixture_table(spark, sf_dir, "events")
    mx = e.agg(F.max("ts")).head()[0]
    cutoff = mx - datetime.timedelta(days=15)
    flush = (
        e.limit(1)
        .withColumn("ts", F.lit(mx + datetime.timedelta(hours=4)))
        .withColumn("user_id", F.lit(-999999).cast("long"))
    )
    out = STR.run_with_late_replay(
        e, str(tmp_path / "replay"), cutoff, STR.session_window_agg,
        flush_df=flush, ts_col="ts",
    )
    n_late = e.filter(F.col("ts") < F.lit(cutoff)).count()
    assert n_late > 0  # the fixture really does carry stragglers
    # Every straggler dropped: no session can start before the cutoff.
    assert out.filter(F.col("session_start") < F.lit(cutoff)).count() == 0
    # The watermark-flush sentinel never emits its own session.
    assert out.filter(F.col("user_id") == -999999).count() == 0
    # And the sink equals batch sessionization of the on-time subset.
    from ddataframeoperation_spark.operators.windows import sessionize

    ontime = e.filter(F.col("ts") >= F.lit(cutoff))
    batch = (
        sessionize(
            ontime,
            user_col="user_id",
            ts_col="ts",
            gap_minutes=30,
            tiebreak=("event_id",),
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .drop("session_id")
    )
    assert out.count() == batch.count()
    assert (
        out.select("user_id", "session_start", "n_events", "sum_value")
        .exceptAll(batch.select("user_id", "session_start", "n_events", "sum_value"))
        .count()
        == 0
    )


# ------------------------------------------------------- matryoshka_recall


def test_matryoshka_recall_matches_numpy_brute_force(spark):
    import math
    import random

    from ddataframeoperation_spark.operators.similarity import (
        matryoshka_recall,
    )

    rng = random.Random(11)
    dim, n, k = 12, 60, 5
    vecs = {i: [rng.uniform(-1, 1) for _ in range(dim)] for i in range(n)}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    def topk(q, prefix):
        scored = sorted(
            vecs,
            key=lambda i: (-cos(vecs[i][:prefix], vecs[q][:prefix]), i),
        )
        return set(scored[:k])

    qids = [0, 1, 2]
    dims = [3, 6, 9]
    want = {}
    for d in dims:
        hits = sum(len(topk(q, d) & topk(q, dim)) for q in qids)
        want[d] = (hits, (hits * 10000) // (len(qids) * k))

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<float>",
    )
    # float32 storage quantizes the values — rebuild the reference from
    # the ROUND-TRIPPED floats so both sides rank the same numbers.
    stored = {r["vec_id"]: list(r["embedding"]) for r in df.collect()}
    vecs.update(stored)
    for d in dims:
        hits = sum(len(topk(q, d) & topk(q, dim)) for q in qids)
        want[d] = (hits, (hits * 10000) // (len(qids) * k))
    queries = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    got = {
        r["dim"]: r
        for r in matryoshka_recall(df, queries, dims=dims, k=k).collect()
    }
    assert set(got) == set(dims)
    for d in dims:
        assert (got[d]["hits"], got[d]["recall_bp"]) == want[d], f"dim {d}"
        assert got[d]["n_queries"] == 3 and got[d]["k"] == k
    # Full-length prefix is a perfect proxy of itself.
    full = matryoshka_recall(df, queries, dims=[dim], k=k).collect()[0]
    assert full["recall_bp"] == 10000


def test_matryoshka_recall_validates(spark):
    import pytest as _pytest

    from ddataframeoperation_spark.operators.similarity import (
        matryoshka_recall,
    )

    df = spark.createDataFrame(
        [(0, [1.0, 2.0])], "vec_id long, embedding array<float>"
    )
    q = df.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    with _pytest.raises(ValueError, match="k must"):
        matryoshka_recall(df, q, dims=[1], k=0)
    with _pytest.raises(ValueError, match="dims"):
        matryoshka_recall(df, q, dims=[], k=1)
    with _pytest.raises(ValueError, match="distinct"):
        matryoshka_recall(df, q, dims=[1, 2, 1], k=1)


# ---------------------------------------------------- dedup_token_savings


def test_dedup_token_savings_exact_numbers(spark):
    from ddataframeoperation_spark.operators.dedup import dedup_token_savings

    rows = [
        # src a: doc 1 (3 tokens) original; doc 2 copies it (charged to a).
        (1, "a", "alpha beta gamma"),
        (2, "a", "alpha beta gamma"),
        # src b: doc 3 copies doc 1's text too — cross-source duplicate,
        # charged to b (survivor is min id = 1, in a).
        (3, "b", "alpha beta gamma"),
        # src b: doc 4 unique, 2 tokens.
        (4, "b", "delta epsilon"),
        # src c: NULL text — fingerprints as the empty document; sole
        # member, so it survives with 1 token... NULL coalesces to 0.
        (5, "c", None),
    ]
    got = {
        r["source"]: r
        for r in dedup_token_savings(
            spark.createDataFrame(rows, "doc_id long, source string, text string")
        ).collect()
    }
    a, b, c = got["a"], got["b"], got["c"]
    assert (a["n_docs"], a["n_docs_kept"]) == (2, 1)
    assert (a["n_tokens"], a["n_tokens_kept"]) == (6, 3)
    assert a["savings_bp"] == 5000
    assert (b["n_docs"], b["n_docs_kept"]) == (2, 1)
    assert (b["n_tokens"], b["n_tokens_kept"]) == (5, 2)
    assert b["savings_bp"] == (3 * 10000) // 5
    assert (c["n_docs"], c["n_docs_kept"]) == (1, 1)
    assert (c["n_tokens"], c["n_tokens_kept"], c["savings_bp"]) == (0, 0, 0)


# ----------------------------------------------------- linear_attribution


def test_linear_attribution_exact_split_and_none(spark):
    import datetime as dt

    from ddataframeoperation_spark.operators.windows import linear_attribution

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(uid, minutes, ty):
        return (uid, t0 + dt.timedelta(minutes=minutes), ty)

    rows = [
        # user 1: 2 clicks + 1 view in-window, then purchase ->
        # click 2/3, view 1/3 of 1e6 (floors).
        ev(1, 0, "click"), ev(1, 5, "click"), ev(1, 10, "view"),
        ev(1, 20, "purchase"),
        # user 2: purchase is the FIRST event (empty frame) -> 'none'.
        ev(2, 0, "purchase"),
        # user 3: only an out-of-window click (2h before; window 1h).
        ev(3, 0, "click"), ev(3, 120, "purchase"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = {
        r["touch_type"]: r
        for r in linear_attribution(df, max_gap_seconds=3600.0).collect()
    }
    assert got["click"]["n_conversions"] == 1
    assert got["click"]["credit_ppm"] == (2 * 1_000_000) // 3
    assert got["view"]["n_conversions"] == 1
    assert got["view"]["credit_ppm"] == (1 * 1_000_000) // 3
    assert got["none"]["n_conversions"] == 2
    assert got["none"]["credit_ppm"] == 2_000_000
    # Conservation: total credit <= conversions * 1e6, deficit < n_types
    # per touched conversion (the documented floor bound).
    total = sum(r["credit_ppm"] for r in got.values())
    assert 3 * 1_000_000 - 2 < total <= 3 * 1_000_000


def test_linear_attribution_validates(spark):
    import pytest as _pytest

    from ddataframeoperation_spark.operators.windows import linear_attribution

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "click")],
        "user_id long, ts string, event_type string",
    )
    with _pytest.raises(ValueError, match="max_gap_seconds"):
        linear_attribution(df, max_gap_seconds=0)
    with _pytest.raises(ValueError, match="touch_types"):
        linear_attribution(df, touch_types=())


# ---------------------------------------------------- index_memory_planner


def test_index_planner_formulas_and_budget(spark):
    from ddataframeoperation_spark.operators.similarity import (
        index_memory_planner,
    )

    n, d = 100, 16
    df = spark.createDataFrame(
        [(i, [0.5] * d) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    budget = n * (d + 8) + 100  # int8 fits, fp32 (6400) does not... n*d*4=6400 > budget=2500
    got = {
        r["variant"]: r
        for r in index_memory_planner(
            df, budget_bytes=budget, ivf_cells=4, pq_m=8, pq_codebook=256
        ).collect()
    }
    fp32 = n * d * 4
    want = {
        "fp32_exact": fp32,
        "int8_scalar": n * (d + 8),
        "pq8x8": n * 8 + 256 * d * 4,
        "ivf_fp32": n * d * 4 + 4 * d * 4 + n * 4,
        "ivf_int8": n * (d + 8) + 4 * d * 4 + n * 4,
    }
    assert {k: v["bytes"] for k, v in got.items()} == want
    for k, v in got.items():
        assert v["ratio_bp"] == (want[k] * 10000) // fp32
        assert v["fits"] == (want[k] <= budget)
        assert (v["n_vectors"], v["dim"]) == (n, d)
    assert got["int8_scalar"]["fits"] and not got["fp32_exact"]["fits"]


# --------------------------------------------------- vocab_overlap_by_source


def test_vocab_overlap_exclusive_counts(spark):
    from ddataframeoperation_spark.operators.text import vocab_overlap_by_source

    rows = [
        (1, "a", "alpha beta shared"),
        (2, "a", "beta gamma"),          # a vocab: alpha beta gamma shared
        (3, "b", "shared delta"),        # b vocab: shared delta
        (4, "c", None),                  # NULL text -> '' token, exclusive to c
    ]
    got = {
        r["source"]: r
        for r in vocab_overlap_by_source(
            spark.createDataFrame(rows, "doc_id long, source string, text string")
        ).collect()
    }
    a, b, c = got["a"], got["b"], got["c"]
    assert (a["vocab_size"], a["exclusive"]) == (4, 3)  # alpha/beta/gamma
    assert a["exclusive_bp"] == (3 * 10000) // 4
    assert (b["vocab_size"], b["exclusive"]) == (2, 1)  # delta
    assert (c["vocab_size"], c["exclusive"]) == (1, 1)  # the '' token


# ------------------------------------------------------- operating_points


def test_operating_points_exact_confusion_and_metrics(spark):
    from ddataframeoperation_spark.operators.relational import operating_points

    # scores: 0.1..0.9 for 9 rows; positives are the top 4 (0.6..0.9)
    # plus one hard negative at 0.8? keep it simple and exact:
    rows = [
        (0.9, True), (0.8, True), (0.7, False), (0.6, True),
        (0.4, False), (0.3, True), (0.2, False), (0.1, False),
    ]
    df = spark.createDataFrame(rows, "score double, label boolean")
    got = {
        r["threshold_bp"]: r
        for r in operating_points(df, "score", "label", [0.5, 0.95]).collect()
    }
    r5 = got[5000]
    # pred>=0.5: {0.9T,0.8T,0.7F,0.6T} -> tp=3 fp=1; fn=1 (0.3T); tn=3.
    assert (r5["tp"], r5["fp"], r5["fn"], r5["tn"]) == (3, 1, 1, 3)
    assert r5["precision_bp"] == (3 * 10000) // 4
    assert r5["recall_bp"] == (3 * 10000) // 4
    assert r5["f1_bp"] == (2 * 3 * 10000) // (2 * 3 + 1 + 1)
    # threshold above every score: nothing predicted -> precision NULL.
    r95 = got[9500]
    assert (r95["tp"], r95["fp"]) == (0, 0)
    assert r95["precision_bp"] is None
    assert r95["recall_bp"] == 0  # positives exist, none recalled
    assert r95["f1_bp"] == 0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="thresholds"):
        operating_points(df, "score", "label", [])


# -------------------------------------------- late-drop tumbling twin


def test_late_replay_tumbling_drops_and_flushes(spark, sf_dir, tmp_path):
    import datetime

    import ddataframeoperation_spark.streaming as STR
    from ddataframeoperation_spark.catalog import read_fixture_table

    e = read_fixture_table(spark, sf_dir, "events")
    mx = e.agg(F.max("ts")).head()[0]
    cutoff = mx - datetime.timedelta(days=15)
    flush = (
        e.limit(1)
        .withColumn("ts", F.lit(mx + datetime.timedelta(hours=4)))
        .withColumn("event_type", F.lit("__wm_flush__"))
    )
    out = STR.run_with_late_replay(
        e, str(tmp_path / "tumble"), cutoff, STR.tumbling_counts,
        flush_df=flush, ts_col="ts",
    )
    assert e.filter(F.col("ts") < F.lit(cutoff)).count() > 0
    # No window older than the cutoff hour survives; sentinel absent.
    assert out.filter(
        F.col("window_start") < F.date_trunc("hour", F.lit(cutoff))
    ).count() == 0
    assert out.filter(F.col("event_type") == "__wm_flush__").count() == 0
    batch = (
        e.filter(F.col("ts") >= F.lit(cutoff))
        .groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        )
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )
    assert out.count() == batch.count()
    assert out.exceptAll(batch.select(*out.columns)).count() == 0


# ---------------------------------------------------- stratified_kfold


def test_stratified_kfold_exact_balance_and_determinism(spark):
    from ddataframeoperation_spark.operators.sampling import (
        stratified_kfold_assign,
    )

    rows = [(i, "rare" if i < 13 else "common") for i in range(200)]
    df = spark.createDataFrame(rows, "id long, cls string")
    out = stratified_kfold_assign(df, 5, ["id"], strata_col="cls", salt="s")
    per = {
        (r["cls"], r["fold"]): r["n"]
        for r in out.groupBy("cls", "fold").agg(F.count("*").alias("n")).collect()
    }
    # Exact ±1 balance per stratum — 13 rare rows over 5 folds = 3/3/3/2/2.
    rare = sorted(per[("rare", f)] for f in range(5))
    assert rare == [2, 2, 3, 3, 3]
    common = sorted(per[("common", f)] for f in range(5))
    assert common == [37, 37, 38, 38, 37] or sum(common) == 187
    assert max(common) - min(common) <= 1
    # Deterministic: a repartitioned rerun yields identical assignments.
    again = stratified_kfold_assign(
        df.repartition(17), 5, ["id"], strata_col="cls", salt="s"
    )
    assert out.exceptAll(again).count() == 0 and again.exceptAll(out).count() == 0
    # NULL key -> NULL fold (module contract).
    nk = spark.createDataFrame([(None, "x"), (1, "x")], "id long, cls string")
    got = {
        r["id"]: r["fold"]
        for r in stratified_kfold_assign(nk, 5, ["id"], "cls").collect()
    }
    assert got[None] is None and got[1] is not None
    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must"):
        stratified_kfold_assign(df, 1, ["id"], "cls")


# -------------------------------------------------- weighted_percentiles


def test_weighted_percentiles_matches_reference_at_production_buckets(spark):
    """More than 2 × 512 distinct values (several per bucket, so both
    prefix levels carry weight) plus one heavy value holding a third of
    the weight, so several requested percentiles land on the tie."""
    import random

    from ddataframeoperation_spark.operators.relational import (
        _RANK_BUCKETS,
        weighted_percentiles,
    )

    rng = random.Random(47)
    rows = [(rng.randint(1, 4000), rng.randint(1, 9)) for _ in range(4000)]
    rows += [(1500, 10_000)]
    assert len({v for v, _ in rows}) > 2 * _RANK_BUCKETS
    probs = [1, 2500, 4000, 5000, 6000, 9000, 9999, 10000]
    df = spark.createDataFrame(rows, "v long, w long")
    got = {
        r["p_bp"]: (r["value"], r["cum_weight"], r["total_weight"])
        for r in weighted_percentiles(df, "v", "w", probs).collect()
    }
    assert got == {p: _weighted_reference(rows, p) for p in probs}



def _weighted_reference(rows, p_bp):
    """(value, cum_weight, total_weight) of the left-continuous weighted
    inverse CDF at ``p_bp``, by one sorted pass in Python ints."""
    agg = {}
    for v, w in rows:
        agg[v] = agg.get(v, 0) + w
    total = sum(agg.values())
    cw = 0
    for v in sorted(agg):
        cw += agg[v]
        if cw * 10000 >= total * p_bp:
            return v, cw, total
    raise AssertionError


def test_weighted_percentiles_matches_brute_force(spark):
    import random

    from ddataframeoperation_spark.operators.relational import (
        weighted_percentiles,
    )

    rng = random.Random(5)
    rows = [(rng.randint(1, 50), rng.randint(1, 9)) for _ in range(300)]
    df = spark.createDataFrame(rows, "v long, w long")

    got = {
        r["p_bp"]: r
        for r in weighted_percentiles(
            df, "v", "w", [2500, 5000, 9000, 10000]
        ).collect()
    }
    for p in (2500, 5000, 9000, 10000):
        v, cw, total = _weighted_reference(rows, p)
        r = got[p]
        assert (r["value"], r["cum_weight"], r["total_weight"]) == (v, cw, total), p
    b = sorted(map(tuple, weighted_percentiles(df, "v", "w", [5000]).collect()))
    # Zero/NULL-weight rows cannot move a quantile.
    df2 = df.unionByName(
        spark.createDataFrame([(1, 0), (50, None)], "v long, w long")
    )
    c = sorted(map(tuple, weighted_percentiles(df2, "v", "w", [5000]).collect()))
    assert c == b
    import pytest as _pytest

    with _pytest.raises(ValueError, match="probs_bp"):
        weighted_percentiles(df, "v", "w", [])
    with _pytest.raises(ValueError, match="probs_bp"):
        weighted_percentiles(df, "v", "w", [0])


# ------------------------------------------------------- asof_join_nearest


def test_asof_nearest_picks_closest_with_tie_ladder(spark):
    import datetime as dt

    from ddataframeoperation_spark.operators.asof import asof_join_nearest

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ts(sec):
        return t0 + dt.timedelta(seconds=sec)

    left = spark.createDataFrame(
        [
            (1, 100, ts(100)),   # clicks at 90 (gap 10) and 105 (gap 5) -> forward
            (1, 200, ts(200)),   # clicks at 195 and 205 equidistant -> BACKWARD
            (1, 300, ts(300)),   # clicks at 205 (gap 95) and 394 (gap 94) -> forward
            (2, 400, ts(400)),   # no clicks for user 2 -> NULLs
            (1, 500, ts(600)),   # nearest click 206s away -> out of tolerance
        ],
        "user_id long, event_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (1, 11, ts(90), 1.0),
            (1, 12, ts(105), 2.0),
            (1, 13, ts(195), 3.0),
            (1, 14, ts(205), 4.0),
            (1, 15, ts(195), 5.0),   # same-ts duplicate: greater id (15) wins
            (1, 16, ts(394), 6.0),
            (1, 17, ts(10000), 7.0),
        ],
        "user_id long, event_id long, ts timestamp, value double",
    )
    out = {
        r["event_id"]: r
        for r in asof_join_nearest(
            left, right, key="user_id", left_ts="ts", right_ts="ts",
            right_cols=["value"], tolerance_seconds=120.0,
            right_tiebreak="event_id",
        ).collect()
    }
    assert out[100]["value_asof"] == 2.0 and out[100]["gap_us"] == -5_000_000
    # Equidistant: backward wins; same-ts duplicate at 195 -> id 15 (5.0).
    assert out[200]["value_asof"] == 5.0 and out[200]["gap_us"] == 5_000_000
    assert out[300]["value_asof"] == 6.0 and out[300]["gap_us"] == -94_000_000
    assert out[400]["value_asof"] is None and out[400]["gap_us"] is None
    assert out[500]["value_asof"] is None and out[500]["gap_us"] is None


# ----------------------------------------------------- write_audit_publish


def test_wap_publishes_only_when_clean(spark, tmp_path):
    import glob
    import os

    from ddataframeoperation_spark.operators.skew import write_audit_publish

    target = str(tmp_path / "tbl")
    good = spark.createDataFrame(
        [(1, 10), (2, 20)], "id long, v long"
    )
    rules = {"v_positive": F.col("v") > 0, "id_not_null": F.col("id").isNotNull()}
    rep = {r["rule"]: r for r in write_audit_publish(good, target, rules).collect()}
    assert rep["_publish"]["published"] and rep["_publish"]["n_violations"] == 0
    assert rep["_publish"]["n_rows"] == 2
    assert rep["v_positive"]["staging_kept"] is None
    assert spark.read.parquet(target).count() == 2
    # Dirty write: audit fails -> target KEEPS the previous contents,
    # nothing publishes, and the staging dir remains for inspection.
    bad = spark.createDataFrame([(3, -5), (4, 40)], "id long, v long")
    rep2 = {r["rule"]: r for r in write_audit_publish(bad, target, rules).collect()}
    assert not rep2["_publish"]["published"]
    assert rep2["v_positive"]["n_violations"] == 1
    assert rep2["_publish"]["n_rows"] is None
    staging = rep2["_publish"]["staging_kept"]
    assert staging and os.path.isdir(staging)
    assert spark.read.parquet(staging).count() == 2  # retained for forensics
    # The published table is untouched — still the GOOD version.
    assert sorted(
        (r["id"], r["v"]) for r in spark.read.parquet(target).collect()
    ) == [(1, 10), (2, 20)]
    # A clean re-publish atomically replaces the table (rename-aside path).
    good2 = spark.createDataFrame([(5, 50)], "id long, v long")
    rep3 = {r["rule"]: r for r in write_audit_publish(good2, target, rules).collect()}
    assert rep3["_publish"]["published"] and rep3["_publish"]["n_rows"] == 1
    assert [tuple(r) for r in spark.read.parquet(target).collect()] == [(5, 50)]
    assert not glob.glob(target + "__old")  # retired copy cleaned up
    import pytest as _pytest

    with _pytest.raises(ValueError, match="rule"):
        write_audit_publish(good, target, {})
