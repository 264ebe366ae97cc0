"""Round-7d operator checks: rolling distinct actives, next-event
training pairs, dedup provenance, and BPE pair-count discovery.

Each operator also has a registered query + DuckDB oracle
(`b24_rolling_actives`, `b35_next_event_examples`, `b31_dedup_provenance`,
`b34_bpe_pair_counts`); these tests pin the edge cases the fixture cannot
reach (NULL keys/timestamps, window-of-one, cap enforcement on big
duplicate groups, tie-breaks, argument validation) and the plan shapes
the docstrings promise.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from ddataframeoperation_spark.operators import dedup
from ddataframeoperation_spark.operators import text as TX
from ddataframeoperation_spark.operators.timeseries import rolling_distinct
from ddataframeoperation_spark.operators.windows import next_event_examples


def _ts(d, h=0):
    return datetime.datetime(2024, 1, d, h)


# ------------------------------------------------------------ rolling_distinct


def _events(spark, rows):
    return spark.createDataFrame(rows, "ts timestamp, user_id long")


def test_rolling_distinct_window_counts(spark):
    # u1 active days 1,2; u2 active day 3; u3 active days 1 and 5.
    df = _events(
        spark,
        [
            (_ts(1), 1), (_ts(1, 5), 1), (_ts(2), 1),
            (_ts(3), 2),
            (_ts(1), 3), (_ts(5), 3),
        ],
    )
    got = {
        (r["day"].isoformat(), r["n_active"])
        for r in rolling_distinct(df, window_days=3).collect()
    }
    # day1: {1,3}; day2: {1,3}(d1-2); day3: {1,2,3}(d1-3); day5: {2,3}(d3-5).
    assert got == {
        ("2024-01-01", 2),
        ("2024-01-02", 2),
        ("2024-01-03", 3),
        ("2024-01-05", 2),
    }


def test_rolling_distinct_window_one_is_daily_distinct(spark):
    df = _events(spark, [(_ts(1), 1), (_ts(1), 2), (_ts(2), 1), (_ts(2), 1)])
    got = {
        (r["day"].isoformat(), r["n_active"])
        for r in rolling_distinct(df, window_days=1).collect()
    }
    assert got == {("2024-01-01", 2), ("2024-01-02", 1)}


def test_rolling_distinct_drops_null_keys_and_timestamps(spark):
    df = _events(spark, [(_ts(1), 1), (None, 2), (_ts(2), None)])
    got = {
        (r["day"].isoformat(), r["n_active"])
        for r in rolling_distinct(df, window_days=7).collect()
    }
    # Only the clean row contributes, and NULL-ts rows create no day.
    assert got == {("2024-01-01", 1)}


def test_rolling_distinct_no_phantom_trailing_days(spark):
    # A single active day must emit exactly one row — not window_days
    # partial windows trailing past the end of the data.
    df = _events(spark, [(_ts(1), 1)])
    assert rolling_distinct(df, window_days=28).count() == 1


def test_rolling_distinct_rejects_bad_window(spark):
    df = _events(spark, [(_ts(1), 1)])
    with pytest.raises(ValueError):
        rolling_distinct(df, window_days=0)


def test_rolling_distinct_plan_reduces_before_exploding(spark):
    # The explode must sit ABOVE the distinct (day,key) aggregate — the
    # bounded expansion runs on the reduced grid, never on raw events —
    # and there is no window operator anywhere in the plan.
    df = _events(spark, [(_ts(1), 1), (_ts(2), 2)])
    p = str(
        rolling_distinct(df, window_days=7)
        ._jdf.queryExecution()
        .executedPlan()
    )
    assert "WindowExec" not in p and "Cartesian" not in p
    assert "Generate explode" in p or "Generate" in p


# -------------------------------------------------------- next_event_examples


def _seq(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )


def test_next_event_examples_contexts(spark):
    df = _seq(
        spark,
        [
            (1, _ts(1), 10, "a"),
            (1, _ts(2), 11, "b"),
            (1, _ts(3), 12, "c"),
            (1, _ts(4), 13, "d"),
            (2, _ts(1), 20, "x"),
        ],
    )
    got = {
        (r["event_id"], r["context"], r["target"])
        for r in next_event_examples(df, context=2).collect()
    }
    # First event per key has no predecessor and is dropped; warm-up
    # examples keep the shorter prefix; user 2's lone event emits nothing.
    assert got == {(11, "a", "b"), (12, "a b", "c"), (13, "b c", "d")}


def test_next_event_examples_tiebreak_orders_equal_timestamps(spark):
    df = _seq(
        spark,
        [(1, _ts(1), 2, "b"), (1, _ts(1), 1, "a"), (1, _ts(1), 3, "c")],
    )
    got = {
        (r["event_id"], r["context"])
        for r in next_event_examples(
            df, context=3, tiebreak=("event_id",)
        ).collect()
    }
    assert got == {(2, "a"), (3, "a b")}


def test_next_event_examples_rejects_bad_context(spark):
    df = _seq(spark, [(1, _ts(1), 1, "a")])
    with pytest.raises(ValueError):
        next_event_examples(df, context=0)


def test_next_event_examples_single_window_plan(spark):
    # One key-partitioned window, bounded ROWS frame — no second
    # exchange, no unbounded frame.
    df = _seq(spark, [(1, _ts(1), 1, "a"), (1, _ts(2), 2, "b")])
    p = str(
        next_event_examples(df, context=3)
        ._jdf.queryExecution()
        .executedPlan()
    )
    assert p.count("Exchange") == 1
    assert "unboundedpreceding" not in p.lower()


# ------------------------------------------------------ dedup_with_provenance


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_provenance_groups_and_normalizes(spark):
    df = _docs(
        spark,
        [
            (3, "Hello, World!"),
            (1, "hello   world"),
            (2, "HELLO WORLD"),
            (9, "something else"),
        ],
    )
    rows = dedup.dedup_with_provenance(df, max_ids=20).collect()
    assert len(rows) == 1
    r = rows[0]
    # Survivor is the lowest id; the dropped ids are sorted ascending.
    assert (r["doc_id"], r["n_copies"], r["dup_ids"]) == (1, 2 + 1, "2,3")


def test_dedup_provenance_caps_id_list_not_count(spark):
    df = _docs(spark, [(i, "same text") for i in range(5)])
    r = dedup.dedup_with_provenance(df, max_ids=2).collect()[0]
    # n_copies reports the TRUE group size; the id list is capped at
    # max_ids of the lowest dropped ids.
    assert (r["doc_id"], r["n_copies"], r["dup_ids"]) == (0, 5, "1,2")


def test_dedup_provenance_full_table_mode(spark):
    df = _docs(spark, [(1, "alpha"), (2, "alpha"), (3, "beta")])
    got = {
        (r["doc_id"], r["n_copies"], r["dup_ids"])
        for r in dedup.dedup_with_provenance(
            df, only_duplicated=False
        ).collect()
    }
    assert got == {(1, 2, "2"), (3, 1, "")}


def test_dedup_provenance_rejects_bad_cap(spark):
    df = _docs(spark, [(1, "x")])
    with pytest.raises(ValueError):
        dedup.dedup_with_provenance(df, max_ids=0)


def test_dedup_provenance_single_fingerprint_exchange(spark):
    # The window and the count+capped-list aggregate share ONE shuffle of
    # (fp, id) pairs — the groupBy reuses the window's partitioning, and
    # there is no join.
    df = _docs(spark, [(1, "x"), (2, "x")])
    p = str(
        dedup.dedup_with_provenance(df)
        ._jdf.queryExecution()
        .executedPlan()
    )
    assert p.count("Exchange hashpartitioning(_fp") == 1
    assert "Join" not in p


# ------------------------------------------------------------ bpe_pair_counts


def test_bpe_pair_counts_weighted_by_word_frequency(spark):
    df = _docs(spark, [(1, "aaab aaab"), (2, "ab a")])
    got = {
        (r["pair"], r["pair_count"])
        for r in TX.bpe_pair_counts(df, top_n=10).collect()
    }
    # "aaab"x2 -> aa,aa,ab each occurrence; "ab"x1 -> ab. "a" is below
    # min_word_len and contributes nothing.
    assert got == {("aa", 4), ("ab", 3)}


def test_bpe_pair_counts_topn_tiebreak(spark):
    # Equal counts break ties on the pair string ascending, so top-1 is
    # deterministic.
    df = _docs(spark, [(1, "zz aa")])
    rows = TX.bpe_pair_counts(df, top_n=1).collect()
    assert [(r["pair"], r["pair_count"]) for r in rows] == [("aa", 1)]


def test_bpe_pair_counts_rejects_bad_topn(spark):
    df = _docs(spark, [(1, "ab")])
    with pytest.raises(ValueError):
        TX.bpe_pair_counts(df, top_n=0)


def test_bpe_pair_counts_plan_aggregates_before_exploding(spark):
    # Vocabulary aggregate below the pair Generate, top-k planned as
    # TakeOrderedAndProject — per-partition heaps, no global sort.
    df = _docs(spark, [(1, "hello world")])
    p = str(
        TX.bpe_pair_counts(df, top_n=5)._jdf.queryExecution().executedPlan()
    )
    assert "TakeOrderedAndProject" in p
    assert "Sort " not in p.replace("TakeOrderedAndProject", "")


# ----------------------------------------------------- rolling_distinct_approx


def test_rolling_distinct_approx_tracks_exact(spark):
    from ddataframeoperation_spark.operators.timeseries import (
        rolling_distinct_approx,
    )

    rows = [(_ts(d % 9 + 1, d % 23), d % 40) for d in range(400)]
    df = _events(spark, rows)
    from ddataframeoperation_spark.operators.timeseries import rolling_distinct

    exact = {
        r["day"]: r["n_active"]
        for r in rolling_distinct(df, window_days=3).collect()
    }
    approx = {
        r["day"]: r["n_active_approx"]
        for r in rolling_distinct_approx(
            df, window_days=3, lg_config_k=14
        ).collect()
    }
    assert set(approx) == set(exact)
    for day, ex in exact.items():
        assert abs(approx[day] - ex) <= max(1, 0.05 * ex)


def test_rolling_distinct_approx_no_key_shuffle(spark):
    # Raw keys are scanned once into per-day sketches; everything past
    # the first aggregate shuffles only (day, sketch) rows. No window
    # operator, no join on the key column.
    from ddataframeoperation_spark.operators.timeseries import (
        rolling_distinct_approx,
    )

    df = _events(spark, [(_ts(1), 1), (_ts(2), 2)])
    p = str(
        rolling_distinct_approx(df, window_days=7)
        ._jdf.queryExecution()
        .executedPlan()
    )
    assert "WindowExec" not in p
    assert "hll_union_agg" in p or "hll_union" in p


def test_rolling_distinct_approx_rejects_bad_window(spark):
    from ddataframeoperation_spark.operators.timeseries import (
        rolling_distinct_approx,
    )

    df = _events(spark, [(_ts(1), 1)])
    with pytest.raises(ValueError):
        rolling_distinct_approx(df, window_days=0)


# ------------------------------------------------------------- skipgram_pairs


def test_skipgram_pairs_window_counts(spark):
    df = _docs(spark, [(1, "a b c a b")])
    got = {
        (r["w1"], r["w2"], r["pair_count"])
        for r in TX.skipgram_pairs(df, window=2).collect()
    }
    # Right-context pairs at distance 1: (a,b)x2 (b,c) (c,a);
    # distance 2: (a,c) (b,a) (c,b).
    assert got == {
        ("a", "b", 2),
        ("b", "c", 1),
        ("c", "a", 1),
        ("a", "c", 1),
        ("b", "a", 1),
        ("c", "b", 1),
    }


def test_skipgram_pairs_short_docs_and_normalization(spark):
    # One-token and empty docs emit nothing; punctuation/case normalize.
    df = _docs(spark, [(1, "Hello, WORLD!"), (2, "x"), (3, ""), (4, None)])
    got = {
        (r["w1"], r["w2"], r["pair_count"])
        for r in TX.skipgram_pairs(df, window=3).collect()
    }
    assert got == {("hello", "world", 1)}


def test_skipgram_pairs_min_count_floor(spark):
    df = _docs(spark, [(1, "a b a b c d")])
    got = {
        (r["w1"], r["w2"])
        for r in TX.skipgram_pairs(df, window=1, min_count=2).collect()
    }
    assert got == {("a", "b")}


def test_skipgram_pairs_rejects_bad_args(spark):
    df = _docs(spark, [(1, "a b")])
    with pytest.raises(ValueError):
        TX.skipgram_pairs(df, window=0)
    with pytest.raises(ValueError):
        TX.skipgram_pairs(df, min_count=0)


# ------------------------------------------------------------------ group_ols


def test_group_ols_exact_fit_and_centered_form(spark):
    from ddataframeoperation_spark.operators.relational import group_ols

    # Group "a": y = 2x + 1 exactly -> slope 2, r2 1.0.
    rows = [("a", float(x), 2.0 * x + 1.0) for x in range(5)]
    # Group "b": constant x -> zero variance -> NULL slope/r2.
    rows += [("b", 3.0, 1.0), ("b", 3.0, 5.0)]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    got = {r["g"]: r for r in group_ols(df, ["g"], "x", "y").collect()}
    a = got["a"]
    assert (a["slope"], a["sum_x"], a["sum_y"], a["r2"], a["n"]) == (
        2.0, 10.0, 25.0, 1.0, 5,
    )
    # Centered-sum form reconstructs mean and intercept:
    # intercept = (sum_y - slope*sum_x) / n.
    assert (a["sum_y"] - a["slope"] * a["sum_x"]) / a["n"] == 1.0
    b = got["b"]
    assert b["slope"] is None and b["r2"] is None and b["n"] == 2


def test_group_ols_zero_variance_guard_is_exact(spark):
    from ddataframeoperation_spark.operators.relational import group_ols

    # ADVICE r7 (high): x = 2.336625 is NOT exactly representable in
    # double, so the float-rounded denx = n*sxx - sx*sx lands near 1e-8
    # instead of 0 and the old guard emitted slope=1.0 / r2=-0.0 for
    # this constant-x group. The exact decimal min!=max guard must NULL
    # both. Also: n=1 groups and constant-y (r2 only) groups.
    rows = [
        ("cx", 2.336625, 1.0), ("cx", 2.336625, 5.0),   # constant x
        ("n1", 7.125, 3.0),                              # single point
        ("cy", 1.0, 4.337775), ("cy", 2.0, 4.337775),    # constant y
    ]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    got = {r["g"]: r for r in group_ols(df, ["g"], "x", "y").collect()}
    assert got["cx"]["slope"] is None and got["cx"]["r2"] is None
    assert got["n1"]["slope"] is None and got["n1"]["r2"] is None
    # Constant y: slope is a legitimate 0.0, but r2 is undefined.
    assert got["cy"]["slope"] == 0.0 and got["cy"]["r2"] is None


def test_group_ols_ignores_null_coordinates(spark):
    from ddataframeoperation_spark.operators.relational import group_ols

    df = spark.createDataFrame(
        [("a", 1.0, 1.0), ("a", 2.0, 2.0), ("a", None, 9.0), ("a", 5.0, None)],
        "g string, x double, y double",
    )
    r = group_ols(df, ["g"], "x", "y").collect()[0]
    # regr_* semantics: only rows with BOTH coordinates count.
    assert r["n"] == 2 and r["slope"] == 1.0


def test_group_ols_plan_is_single_aggregate(spark):
    from ddataframeoperation_spark.operators.relational import group_ols

    df = spark.createDataFrame(
        [("a", 1.0, 1.0), ("a", 2.0, 3.0)], "g string, x double, y double"
    )
    p = str(group_ols(df, ["g"], "x", "y")._jdf.queryExecution().executedPlan())
    assert "WindowExec" not in p and "Join" not in p


# ---------------------------------------------------------------- hll_overlap


def test_hll_overlap_partial_and_disjoint(spark):
    from ddataframeoperation_spark.operators.relational import hll_overlap

    a = spark.range(1000).withColumnRenamed("id", "k")
    b = spark.range(500, 2000).withColumnRenamed("id", "k")
    r = hll_overlap(a, b, "k").collect()[0]
    # True: |A|=1000 |B|=1500 |A∪B|=2000 |A∩B|=500; rsd ~0.8% at lg_k 14.
    assert abs(r["est_a"] - 1000) <= 30
    assert abs(r["est_b"] - 1500) <= 45
    assert abs(r["est_union"] - 2000) <= 60
    assert abs(r["est_intersect"] - 500) <= 80
    # Disjoint sets: inclusion-exclusion may dip negative — floored at 0.
    c = spark.range(5000, 6000).withColumnRenamed("id", "k")
    r2 = hll_overlap(a, c, "k").collect()[0]
    assert 0 <= r2["est_intersect"] <= 60


def test_hll_overlap_no_key_join_in_plan(spark):
    from ddataframeoperation_spark.operators.relational import hll_overlap

    a = spark.range(100).withColumnRenamed("id", "k")
    p = str(hll_overlap(a, a, "k")._jdf.queryExecution().executedPlan())
    # The whole computation is two 1-row sketch aggregates + 1-row cross
    # join algebra: the key sets themselves are never hash-joined.
    assert "SortMergeJoin" not in p and "hashpartitioning(k" not in p


# ----------------------------------------------------------- normalize_unicode


def test_normalize_unicode_nfc_nfkc(spark):
    from ddataframeoperation_spark.operators.text import normalize_unicode

    rows = [
        (1, "Café"),        # decomposed accent -> é under NFC
        (2, "Ｈｉ"),      # full-width Hi — unchanged by NFC, folded by NFKC
        (3, "ﬁle"),          # ﬁ ligature — NFKC expands to "fi"
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    nfc = {
        r["doc_id"]: r["text"]
        for r in normalize_unicode(df, "text", form="NFC").collect()
    }
    assert nfc[1] == "Café"
    assert nfc[2] == "Ｈｉ"
    assert nfc[4] is None
    nfkc = {
        r["doc_id"]: r["text"]
        for r in normalize_unicode(df, "text", form="NFKC").collect()
    }
    assert nfkc[2] == "Hi" and nfkc[3] == "file"


def test_normalize_unicode_rejects_bad_form(spark):
    from ddataframeoperation_spark.operators.text import normalize_unicode

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        normalize_unicode(df, "text", form="NFX")


# -------------------------------------------------------------- shard_manifest


def test_shard_manifest_order_and_partitioning_invariant(spark):
    from ddataframeoperation_spark.operators.sampling import shard_manifest

    df = spark.createDataFrame(
        [(i, float(i % 7)) for i in range(200)], "doc_id long, w double"
    )
    base = {
        r["shard"]: (r["n_docs"], r["total_tokens"], r["id_digest"])
        for r in shard_manifest(df, 8, ["doc_id"], token_col="w").collect()
    }
    # Same rows, reversed order, different partitioning -> identical
    # manifest (the digest is a commutative sum).
    shuffled = df.orderBy(F.desc("doc_id")).repartition(13)
    again = {
        r["shard"]: (r["n_docs"], r["total_tokens"], r["id_digest"])
        for r in shard_manifest(shuffled, 8, ["doc_id"], token_col="w").collect()
    }
    assert base == again
    assert sum(v[0] for v in base.values()) == 200


def test_shard_manifest_detects_membership_change(spark):
    from ddataframeoperation_spark.operators.sampling import shard_manifest

    df = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    a = {r["shard"]: r["id_digest"] for r in shard_manifest(df, 4, ["doc_id"]).collect()}
    # Swap one member for another: counts can collide, the digest cannot
    # (different 48-bit hash enters the sum).
    df2 = df.withColumn(
        "doc_id",
        F.when(F.col("doc_id") == 5, F.lit(100)).otherwise(F.col("doc_id")),
    )
    b = {r["shard"]: r["id_digest"] for r in shard_manifest(df2, 4, ["doc_id"]).collect()}
    assert a != b


def test_shard_manifest_null_keys_dropped_and_salt_reshards(spark):
    from ddataframeoperation_spark.operators.sampling import shard_manifest

    df = spark.createDataFrame([(1,), (2,), (None,)], "doc_id long")
    m = shard_manifest(df, 2, ["doc_id"]).collect()
    assert sum(r["n_docs"] for r in m) == 2
    a = {r["shard"]: r["id_digest"] for r in shard_manifest(df, 2, ["doc_id"], salt="x").collect()}
    b = {r["shard"]: r["id_digest"] for r in shard_manifest(df, 2, ["doc_id"], salt="y").collect()}
    assert a != b


def test_shard_manifest_rejects_bad_n(spark):
    from ddataframeoperation_spark.operators.sampling import shard_manifest

    df = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError):
        shard_manifest(df, 0, ["doc_id"])


# ------------------------------------------------------------- windowed funnel


def test_funnel_windowed_gap_bounds_conversion(spark):
    from ddataframeoperation_spark.operators.windows import funnel_counts

    rows = [
        # u1: view then click 30s later -> converts at gap 60, not 10.
        (1, _ts(1, 0), "view"), (1, datetime.datetime(2024, 1, 1, 0, 0, 30), "click"),
        # u2: view then click 2h later -> never converts at 60s.
        (2, _ts(1, 0), "view"), (2, _ts(1, 2), "click"),
        # u3: click with NO prior view -> not even step 1... has view after.
        (3, _ts(1, 1), "click"), (3, _ts(1, 2), "view"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    tight = {
        (r["step"], r["n_users"])
        for r in funnel_counts(df, ["view", "click"], max_gap_seconds=60.0).collect()
    }
    assert tight == {(1, 3), (2, 1)}
    loose = {
        (r["step"], r["n_users"])
        for r in funnel_counts(df, ["view", "click"], max_gap_seconds=7200.0).collect()
    }
    assert loose == {(1, 3), (2, 2)}


def test_funnel_windowed_within_gap_event_not_hidden_by_earlier(spark):
    from ddataframeoperation_spark.operators.windows import funnel_counts

    # u1 clicks at +2h (outside 1h gap) AND +30min (inside): the outside
    # event must not mask the inside one (gap applies BEFORE the min).
    rows = [
        (1, _ts(1, 0), "view"),
        (1, datetime.datetime(2024, 1, 1, 0, 30), "click"),
        (1, _ts(1, 2), "click"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = {
        (r["step"], r["n_users"])
        for r in funnel_counts(df, ["view", "click"], max_gap_seconds=3600.0).collect()
    }
    assert got == {(1, 1), (2, 1)}


def test_funnel_windowed_rejects_bad_gap(spark):
    from ddataframeoperation_spark.operators.windows import funnel_counts

    df = spark.createDataFrame([(1, _ts(1), "view")], "user_id long, ts timestamp, event_type string")
    with pytest.raises(ValueError):
        funnel_counts(df, ["view"], max_gap_seconds=0.0)


# -------------------------------------------------------------- rolling_zscore


def test_rolling_zscore_flags_spike_and_warmup(spark):
    from ddataframeoperation_spark.operators.timeseries import rolling_zscore

    vals = [10.0, 10.2, 9.8, 10.1, 9.9, 10.0, 50.0]
    rows = [(1, _ts(1, h), h, v) for h, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long, value double")
    got = {r["event_id"]: (r["zscore"], r["is_anomaly"]) for r in rolling_zscore(
        df, window_rows=10, min_periods=5, threshold=3.0, tiebreak_col="event_id"
    ).collect()}
    # First five rows: fewer than min_periods predecessors -> NULL, not flagged.
    for i in range(5):
        assert got[i] == (None, False)
    # Sixth row: baseline of 5, normal value -> small |z|.
    assert got[5][1] is False and abs(got[5][0]) < 1
    # The spike: z far above threshold.
    assert got[6][1] is True and got[6][0] > 3


def test_rolling_zscore_zero_variance_baseline_nulls(spark):
    from ddataframeoperation_spark.operators.timeseries import rolling_zscore

    rows = [(1, _ts(1, h), h, 5.0) for h in range(6)] + [(1, _ts(1, 7), 7, 9.0)]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long, value double")
    got = {r["event_id"]: r["zscore"] for r in rolling_zscore(
        df, window_rows=10, min_periods=3, tiebreak_col="event_id"
    ).collect()}
    # Constant baseline -> sd 0 -> NULL z even for the jump.
    assert got[7] is None


def test_rolling_zscore_single_window_single_exchange(spark):
    from ddataframeoperation_spark.operators.timeseries import rolling_zscore

    df = spark.createDataFrame(
        [(1, _ts(1), 1, 1.0), (1, _ts(2), 2, 2.0)],
        "user_id long, ts timestamp, event_id long, value double",
    )
    p = str(
        rolling_zscore(df, tiebreak_col="event_id")
        ._jdf.queryExecution()
        .executedPlan()
    )
    assert p.count("Exchange") == 1 and p.count("Window") <= 1


def test_rolling_zscore_rejects_bad_args(spark):
    from ddataframeoperation_spark.operators.timeseries import rolling_zscore

    df = spark.createDataFrame([(1, _ts(1), 1, 1.0)], "user_id long, ts timestamp, event_id long, value double")
    with pytest.raises(ValueError):
        rolling_zscore(df, window_rows=1)
    with pytest.raises(ValueError):
        rolling_zscore(df, window_rows=5, min_periods=6)


# ------------------------------------------------------- last-touch attribution


def test_attribution_credits_latest_touch_within_window(spark):
    from ddataframeoperation_spark.operators.windows import last_touch_attribution

    rows = [
        # u1: view@0, click@0:30, purchase@0:45 -> credited to click.
        (1, _ts(1, 0), 1, "view", 1.0),
        (1, datetime.datetime(2024, 1, 1, 0, 30), 2, "click", 1.0),
        (1, datetime.datetime(2024, 1, 1, 0, 45), 3, "purchase", 10.0),
        # u2: view@0, purchase@5h -> outside 1h window -> 'none'.
        (2, _ts(1, 0), 4, "view", 1.0),
        (2, _ts(1, 5), 5, "purchase", 7.5),
        # u3: purchase with no preceding touch at all -> 'none'.
        (3, _ts(1, 0), 6, "purchase", 2.25),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string, value double"
    )
    got = {
        r["touch_type"]: (r["n_conversions"], r["attributed_value"])
        for r in last_touch_attribution(
            df, max_gap_seconds=3600.0, tiebreak=("event_id",)
        ).collect()
    }
    assert got == {"click": (1, 10.0), "none": (2, 9.75)}


def test_attribution_conversion_never_self_credits(spark):
    from ddataframeoperation_spark.operators.windows import last_touch_attribution

    # Two purchases back-to-back: the second must not credit the first
    # (purchases aren't touches), and a touch AT the same ts as the
    # conversion but later in tiebreak order is not visible.
    rows = [
        (1, _ts(1, 0), 1, "purchase", 1.0),
        (1, _ts(1, 0), 2, "click", 1.0),
        (1, _ts(1, 1), 3, "purchase", 5.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string, value double"
    )
    got = {
        r["touch_type"]: r["n_conversions"]
        for r in last_touch_attribution(
            df, max_gap_seconds=7200.0, tiebreak=("event_id",)
        ).collect()
    }
    # First purchase: nothing precedes it. Second: the click precedes.
    assert got == {"none": 1, "click": 1}


def test_attribution_rejects_bad_gap(spark):
    from ddataframeoperation_spark.operators.windows import last_touch_attribution

    df = spark.createDataFrame(
        [(1, _ts(1), 1, "purchase", 1.0)],
        "user_id long, ts timestamp, event_id long, event_type string, value double",
    )
    with pytest.raises(ValueError):
        last_touch_attribution(df, max_gap_seconds=0.0)


# ---------------------------------------------------------------- cohens_kappa


def test_cohens_kappa_perfect_and_chance(spark):
    from ddataframeoperation_spark.operators.relational import cohens_kappa

    perfect = spark.createDataFrame(
        [("x", "x"), ("y", "y"), ("x", "x")], "a string, b string"
    )
    r = cohens_kappa(perfect, "a", "b").collect()[0]
    assert (r["n"], r["po"], r["kappa"]) == (3, 1.0, 1.0)
    # Independent-looking marginals with 50% agreement: kappa ~ 0.
    chance = spark.createDataFrame(
        [("x", "x"), ("x", "y"), ("y", "x"), ("y", "y")], "a string, b string"
    )
    r2 = cohens_kappa(chance, "a", "b").collect()[0]
    assert r2["po"] == 0.5 and r2["pe"] == 0.5 and r2["kappa"] == 0.0


def test_cohens_kappa_degenerate_and_nulls(spark):
    from ddataframeoperation_spark.operators.relational import cohens_kappa

    # Both constant and equal -> pe = 1 -> NULL kappa; NULLs excluded.
    df = spark.createDataFrame(
        [("x", "x"), ("x", "x"), (None, "x"), ("x", None)], "a string, b string"
    )
    r = cohens_kappa(df, "a", "b").collect()[0]
    assert r["n"] == 2 and r["po"] == 1.0 and r["kappa"] is None


# ------------------------------------------------------------ negative_samples


def test_negative_samples_deterministic_and_exclusive(spark):
    from ddataframeoperation_spark.operators.sampling import negative_samples

    # buckets sized to the corpus (the documented contract): 16 buckets
    # over 100 ids leaves no empty bucket, so all k draws land.
    corpus = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    pairs = spark.createDataFrame([(1, 2), (10, 11)], "id_a long, id_b long")
    a = sorted(
        map(tuple, negative_samples(pairs, corpus, k=4, buckets=16).collect())
    )
    b = sorted(
        map(
            tuple,
            negative_samples(
                pairs.repartition(7), corpus.repartition(5), k=4, buckets=16
            ).collect(),
        )
    )
    assert a == b and len(a) == 8
    for id_a, id_b, rank, neg in a:
        assert neg not in (id_a, id_b)
        assert 1 <= rank <= 4


def test_negative_samples_salt_changes_draws(spark):
    from ddataframeoperation_spark.operators.sampling import negative_samples

    corpus = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    pairs = spark.createDataFrame([(1, 2), (3, 4), (5, 6)], "id_a long, id_b long")
    a = {tuple(r) for r in negative_samples(pairs, corpus, k=3, salt="x").collect()}
    b = {tuple(r) for r in negative_samples(pairs, corpus, k=3, salt="y").collect()}
    assert a != b


def test_negative_samples_draws_vary_per_rank(spark):
    from ddataframeoperation_spark.operators.sampling import negative_samples

    corpus = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    pairs = spark.createDataFrame([(7, 8)], "id_a long, id_b long")
    negs = [r["negative"] for r in negative_samples(pairs, corpus, k=5).collect()]
    # Five draws from different buckets: near-certainly not all equal.
    assert len(set(negs)) >= 3


def test_negative_samples_rejects_bad_args(spark):
    from ddataframeoperation_spark.operators.sampling import negative_samples

    corpus = spark.createDataFrame([(1,)], "doc_id long")
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(ValueError):
        negative_samples(pairs, corpus, k=0)
    with pytest.raises(ValueError):
        negative_samples(pairs, corpus, buckets=0)


# ------------------------------------------------------------ activity_streaks


def test_activity_streaks_islands_and_ranking(spark):
    from ddataframeoperation_spark.operators.windows import activity_streaks

    # u1: days 1-3 (streak 3), day 6 (streak 1); u2: days 2,4,6 (three 1s).
    rows = [(1, _ts(d)) for d in (1, 2, 3, 6)] + [
        (1, _ts(2, 5)),  # duplicate day collapses in the grid
        (2, _ts(2)), (2, _ts(4)), (2, _ts(6)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (r["user_id"], r["streak_rank"]): (
            r["streak_start"].isoformat(),
            r["streak_days"],
        )
        for r in activity_streaks(df, top_per_key=2).collect()
    }
    assert got[(1, 1)] == ("2024-01-01", 3)
    assert got[(1, 2)] == ("2024-01-06", 1)
    # u2 ties broken to the earliest start.
    assert got[(2, 1)] == ("2024-01-02", 1)
    assert got[(2, 2)] == ("2024-01-04", 1)


def test_activity_streaks_single_exchange(spark):
    from ddataframeoperation_spark.operators.windows import activity_streaks

    df = spark.createDataFrame([(1, _ts(1)), (1, _ts(2))], "user_id long, ts timestamp")
    p = str(
        activity_streaks(df)._jdf.queryExecution().executedPlan()
    )
    # The grid aggregate, both windows, and the streak aggregate all key
    # on user_id: one real exchange (plus AQE reads), no join.
    assert "Join" not in p


def test_activity_streaks_rejects_bad_top(spark):
    from ddataframeoperation_spark.operators.windows import activity_streaks

    df = spark.createDataFrame([(1, _ts(1))], "user_id long, ts timestamp")
    with pytest.raises(ValueError):
        activity_streaks(df, top_per_key=0)


# --------------------------------------------------------------- rank_sum_test


def test_rank_sum_matches_manual_with_ties(spark):
    from ddataframeoperation_spark.operators.relational import rank_sum_test

    a = [1.0, 2.0, 3.0, 3.0, 5.0]
    b = [2.0, 4.0, 4.0, 6.0]
    df = spark.createDataFrame(
        [("A", x) for x in a] + [("B", x) for x in b], "g string, v double"
    )
    r = rank_sum_test(df, "g", "v", "A").collect()[0]
    # Hand-computed tie-averaged ranks: R_A = 20.5, U_A = 5.5.
    assert (r["n_a"], r["n_b"], r["rank_sum_a"], r["u_a"]) == (5, 4, 20.5, 5.5)
    assert r["z"] is not None and -2 < r["z"] < 0


def test_rank_sum_bucketing_invariant(spark):
    """Ranks equal a brute-force reference at the production bucket
    count: more than 2 × 512 distinct values, so every bucket holds
    several and both prefix levels (cross-bucket offset, within-bucket
    prefix) carry counts, plus a heavy tie block."""
    import math
    import random
    from collections import Counter

    from ddataframeoperation_spark.operators.relational import (
        _RANK_BUCKETS,
        rank_sum_test,
    )

    rng = random.Random(23)
    rows = [
        (rng.choice("AB"), 100.0 if rng.random() < 0.2 else rng.randrange(3000) / 4)
        for _ in range(5000)
    ]
    counts = Counter(v for _, v in rows)
    assert len(counts) > 2 * _RANK_BUCKETS and max(counts.values()) > 500
    rank, pos = {}, 1
    for v in sorted(counts):
        rank[v] = pos + (counts[v] - 1) / 2.0
        pos += counts[v]
    na = sum(1 for g, _ in rows if g == "A")
    nb = len(rows) - na
    ra = sum(rank[v] for g, v in rows if g == "A")
    ua = ra - na * (na + 1) / 2.0
    n = len(rows)
    ties = sum(c**3 - c for c in counts.values())
    z = (ua - na * nb / 2.0) / math.sqrt(
        na * nb / 12.0 * ((n + 1) - ties / (n * (n - 1)))
    )

    df = spark.createDataFrame(rows, "g string, v double")
    r = rank_sum_test(df, "g", "v", "A").collect()[0]
    assert (r["n_a"], r["n_b"]) == (na, nb)
    assert (r["rank_sum_a"], r["u_a"]) == (round(ra, 4), round(ua, 4))
    assert abs(r["z"] - z) <= 1e-4


def test_rank_sum_degenerate_all_ties(spark):
    from ddataframeoperation_spark.operators.relational import rank_sum_test

    df = spark.createDataFrame(
        [("A", 1.0), ("A", 1.0), ("B", 1.0)], "g string, v double"
    )
    r = rank_sum_test(df, "g", "v", "A").collect()[0]
    # All values tie: zero variance -> NULL z; ranks still exact.
    assert r["z"] is None and r["rank_sum_a"] == 4.0


# --------------------------------------------------------------------- ks_test


def test_ks_test_known_distance_and_invariance(spark):
    from ddataframeoperation_spark.operators.relational import ks_test

    a = [1.0, 2.0, 3.0, 4.0, 5.0]
    b = [3.0, 4.0, 5.0, 6.0, 7.0]
    df = spark.createDataFrame(
        [("A", x) for x in a] + [("B", x) for x in b], "g string, v double"
    )
    r = ks_test(df, "g", "v", "A").collect()[0]
    # ECDFs diverge most at v=2: A 0.4, B 0.0.
    assert (r["n_a"], r["n_b"], r["ks_d"]) == (5, 5, 0.4)
    # Input partitioning cannot move the statistic.
    r3 = ks_test(df.repartition(3), "g", "v", "A").collect()[0]
    assert tuple(r3) == tuple(r)


def test_ks_test_identical_distributions_zero(spark):
    from ddataframeoperation_spark.operators.relational import ks_test

    rows = [("A", float(i % 10)) for i in range(100)] + [
        ("B", float(i % 10)) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    assert ks_test(df, "g", "v", "A").collect()[0]["ks_d"] == 0.0


# ------------------------------------------------------------- chi_square_test


def test_chi_square_known_value_and_missing_cells(spark):
    from ddataframeoperation_spark.operators.relational import chi_square_test

    rows = [("x", "p")] * 10 + [("x", "q")] * 20 + [("y", "p")] * 20 + [("y", "q")] * 10
    df = spark.createDataFrame(rows, "a string, b string")
    r = chi_square_test(df, "a", "b").collect()[0]
    assert (r["n"], r["dof"], r["chi2"]) == (60, 1, 6.6667)
    # A structurally-missing cell (y,q absent): its (0-e)^2/e = e term
    # must be counted via the analytic n - sum(e_present) correction.
    rows2 = [("x", "p")] * 5 + [("x", "q")] * 5 + [("y", "p")] * 10
    r2 = chi_square_test(
        spark.createDataFrame(rows2, "a string, b string"), "a", "b"
    ).collect()[0]
    # e(y,q) = 10*5/20 = 2.5; chi2 = (5-7.5)^2/7.5*... compute: cells
    # (x,p): o5 e7.5 ->0.8333; (x,q): o5 e2.5 ->2.5; (y,p): o10 e7.5
    # ->0.8333; missing (y,q): e2.5 ->2.5. total 6.6667 (dof 1).
    assert (r2["dof"], r2["chi2"]) == (1, 6.6667)


def test_chi_square_degenerate_single_category(spark):
    from ddataframeoperation_spark.operators.relational import chi_square_test

    df = spark.createDataFrame([("x", "p"), ("x", "q")], "a string, b string")
    r = chi_square_test(df, "a", "b").collect()[0]
    assert r["dof"] == 0 and r["chi2"] is None


# ------------------------------------------------------------------- top_paths


def test_top_paths_counts_and_tails(spark):
    from ddataframeoperation_spark.operators.windows import top_paths

    rows = [
        (1, _ts(1, h), h, t)
        for h, t in enumerate(["a", "b", "c", "a", "b", "c"])
    ] + [(2, _ts(1, 0), 10, "x"), (2, _ts(1, 1), 11, "y")]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    got = {
        (r["path"], r["n"])
        for r in top_paths(df, path_len=3, top_n=10, tiebreak=("event_id",)).collect()
    }
    # u1's sequence a b c a b c -> windows: abc, bca, cab, abc; u2 too
    # short for length 3 and emits nothing.
    assert got == {("a > b > c", 2), ("b > c > a", 1), ("c > a > b", 1)}


def test_top_paths_drops_null_labels_up_front(spark):
    from ddataframeoperation_spark.operators.windows import top_paths

    # ADVICE r7 (low): a NULL event_type mid-sequence must not shorten
    # a path via concat_ws's NULL-skipping (a b NULL c would have
    # emitted the malformed 2-step "a > b > c" counted as a 3-path).
    # Contract: NULL-labeled events are dropped from the sequence, so
    # the u1 sequence a b NULL c d yields windows over (a b c d).
    rows = [
        (1, _ts(1, h), h, t)
        for h, t in enumerate(["a", "b", None, "c", "d"])
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    got = {
        (r["path"], r["n"])
        for r in top_paths(df, path_len=3, top_n=10, tiebreak=("event_id",)).collect()
    }
    assert got == {("a > b > c", 1), ("b > c > d", 1)}


def test_top_paths_pairs_match_transitions(spark):
    from ddataframeoperation_spark.operators.windows import (
        top_paths,
        transition_counts,
    )

    rows = [(1, _ts(1, h), h, t) for h, t in enumerate(["a", "b", "a", "b"])]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    p2 = {
        tuple(r["path"].split(" > ")): r["n"]
        for r in top_paths(df, path_len=2, top_n=100, tiebreak=("event_id",)).collect()
    }
    tc = {
        (r["from_type"], r["to_type"]): r["n"]
        for r in transition_counts(df, tiebreak=["event_id"]).collect()
        if r["to_type"] is not None
    }
    assert p2 == tc


def test_top_paths_rejects_bad_args(spark):
    from ddataframeoperation_spark.operators.windows import top_paths

    df = spark.createDataFrame(
        [(1, _ts(1), 1, "a")],
        "user_id long, ts timestamp, event_id long, event_type string",
    )
    with pytest.raises(ValueError):
        top_paths(df, path_len=1)
    with pytest.raises(ValueError):
        top_paths(df, top_n=0)


# -------------------------------------------------------------- triangle_count


def test_triangle_count_known_graph(spark):
    from ddataframeoperation_spark.operators.dedup import triangle_count

    # Graph: triangle {1,2,3} + pendant edge 3-4 + duplicate/reversed
    # noise + a self-loop.
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (2, 1), (4, 3), (5, 5)],
        "id_a long, id_b long",
    )
    r = triangle_count(pairs).collect()[0]
    # Edges: {12,13,23,34}. Oriented wedges (low-centered, w1<w2):
    # (1;2,3), (2;3?) 2's higher neighbors {3} -> none, (3;4?) {4} ->
    # none... plus (1;2,3) only. Closed: (2,3) is an edge -> 1 triangle.
    assert (r["n_edges"], r["n_wedges"], r["n_triangles"]) == (4, 1, 1)
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert tuple(triangle_count(empty).collect()[0]) == (0, 0, 0)


def test_triangle_count_clique_counts(spark):
    from ddataframeoperation_spark.operators.dedup import triangle_count

    # K4: 6 edges, C(4,3)=4 triangles.
    import itertools

    pairs = spark.createDataFrame(
        [(a, b) for a, b in itertools.combinations(range(4), 2)],
        "id_a long, id_b long",
    )
    r = triangle_count(pairs).collect()[0]
    assert (r["n_edges"], r["n_triangles"]) == (6, 4)


def test_triangle_count_no_cartesian_plan(spark):
    from ddataframeoperation_spark.operators.dedup import triangle_count

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    p = str(triangle_count(pairs)._jdf.queryExecution().executedPlan())
    assert "Cartesian" not in p


# ----------------------------------------------------------- containment_pairs


def test_containment_detects_subset_jaccard_misses(spark):
    from ddataframeoperation_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs,
    )

    big = " ".join(f"w{i}" for i in range(100))
    small = " ".join(f"w{i}" for i in range(10))  # strict subset
    other = " ".join(f"q{i}" for i in range(50))
    df = _docs(spark, [(1, big), (2, small), (3, other)])
    cont = {
        (r["id_small"], r["id_big"]): r["containment"]
        for r in containment_pairs(df, threshold=0.8).collect()
    }
    # The excerpt is fully contained; the superset direction is NOT.
    assert cont == {(2, 1): 1.0}
    jac = jaccard_pairs(df, threshold=0.5).collect()
    assert jac == []  # symmetric Jaccard (10/100) can't see it


def test_containment_mutual_for_identical_sets(spark):
    from ddataframeoperation_spark.operators.dedup import containment_pairs

    df = _docs(spark, [(1, "a b c"), (2, "c b a a")])
    got = {
        (r["id_small"], r["id_big"]): r["containment"]
        for r in containment_pairs(df, threshold=0.9).collect()
    }
    assert got == {(1, 2): 1.0, (2, 1): 1.0}


def test_containment_rejects_bad_threshold(spark):
    from ddataframeoperation_spark.operators.dedup import containment_pairs

    df = _docs(spark, [(1, "x")])
    with pytest.raises(ValueError):
        containment_pairs(df, threshold=0.0)


# ------------------------------------------------------------ containment_dedup


def test_containment_dedup_drops_excerpts_keeps_supersets(spark):
    from ddataframeoperation_spark.operators.dedup import containment_dedup

    big = " ".join(f"w{i}" for i in range(60))
    excerpt = " ".join(f"w{i}" for i in range(12))
    other = " ".join(f"q{i}" for i in range(40))
    df = _docs(spark, [(1, big), (2, excerpt), (3, other)])
    kept = {
        r["doc_id"]
        for r in containment_dedup(df, threshold=0.9, shingle_n=None).collect()
    }
    assert kept == {1, 3}


def test_containment_dedup_mutual_keeps_exactly_one(spark):
    from ddataframeoperation_spark.operators.dedup import containment_dedup

    # Near-identical token sets in both directions: the lower id wins —
    # the group must not annihilate itself.
    df = _docs(spark, [(5, "a b c d"), (9, "d c b a a")])
    kept = {
        r["doc_id"]
        for r in containment_dedup(df, threshold=0.9, shingle_n=None).collect()
    }
    assert kept == {5}


def test_containment_dedup_mutual_member_still_dropped_by_third_doc(spark):
    from ddataframeoperation_spark.operators.dedup import containment_dedup

    # ADVICE r7 (medium): the mutual exemption is per-PAIR, not per-id.
    # 1 == 2 (mutual; 1 would win the tie), but superset 3 contains 1
    # one-way — so 1 must STILL be dropped by 3. Survivors: 3 only
    # (2 loses the mutual tie AND is contained in 3).
    df = _docs(
        spark,
        [
            (1, "a b c d"),
            (2, "d c b a a"),
            (3, "a b c d e f g h i j k l m n o p q r s t"),
        ],
    )
    kept = {
        r["doc_id"]
        for r in containment_dedup(df, threshold=0.9, shingle_n=None).collect()
    }
    assert kept == {3}


def test_containment_dedup_chain_of_mutuals_and_excerpt(spark):
    from ddataframeoperation_spark.operators.dedup import containment_dedup

    # 1 == 2 (mutual), 3 is an excerpt of both; unrelated 4 survives.
    df = _docs(
        spark,
        [
            (1, "a b c d e f"),
            (2, "f e d c b a"),
            (3, "a b c"),
            (4, "z y x w"),
        ],
    )
    kept = {
        r["doc_id"]
        for r in containment_dedup(df, threshold=0.8, shingle_n=None).collect()
    }
    assert kept == {1, 4}


# ---------------------------------------------------------------- skipgram_pmi


def test_skipgram_pmi_matches_bruteforce(spark):
    import math

    from ddataframeoperation_spark.operators.text import skipgram_pmi

    df = _docs(spark, [(1, "a b a b c"), (2, "a b x y a b")])
    got = {
        (r["w1"], r["w2"]): (r["pair_count"], r["pmi"])
        for r in skipgram_pmi(df, window=1, min_count=1, top_n=100).collect()
    }
    # Window-1 right pairs: doc1: ab, ba, ab, bc; doc2: ab, bx, xy, ya, ab.
    pairs = {"a b": 4, "b a": 1, "b c": 1, "b x": 1, "x y": 1, "y a": 1}
    n = sum(pairs.values())
    c1: dict[str, int] = {}
    c2: dict[str, int] = {}
    for k, v in pairs.items():
        a, b = k.split()
        c1[a] = c1.get(a, 0) + v
        c2[b] = c2.get(b, 0) + v
    for k, v in pairs.items():
        a, b = k.split()
        pmi = round(math.log(v * n / (c1[a] * c2[b])), 4)
        assert got[(a, b)] == (v, pmi)


def test_skipgram_pmi_min_count_guard(spark):
    from ddataframeoperation_spark.operators.text import skipgram_pmi

    df = _docs(spark, [(1, "a b a b c d")])
    got = {
        (r["w1"], r["w2"])
        for r in skipgram_pmi(df, window=1, min_count=2, top_n=10).collect()
    }
    assert got == {("a", "b")}


def test_skipgram_pmi_rejects_bad_topn(spark):
    from ddataframeoperation_spark.operators.text import skipgram_pmi

    df = _docs(spark, [(1, "a b")])
    with pytest.raises(ValueError):
        skipgram_pmi(df, top_n=0)
