"""Round-7 contract pins for the ADVICE r6 fixes.

Three operators gained stricter dirty-input contracts: minmax_scale keeps
NULL-group rows (null-safe stats join), token_budget_mix fails loudly on
negative token counts (a non-monotone cumulative sum would silently void
the hard cap), and streaming token_budget_admission drops NULL-id rows
instead of crashing the query. Each is pinned here on constructed frames
the fixtures can't produce.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ddataframeoperation_spark.operators import relational as R
from ddataframeoperation_spark.operators import sampling


def test_minmax_scale_null_group_is_a_real_group(spark):
    """ADVICE r6: rows whose group key is NULL must be scaled against the
    NULL group's own extremes, not silently dropped by a plain equi-join
    on the group key."""
    rows = [
        ("a", 0.0), ("a", 10.0),
        (None, 2.0), (None, 4.0), (None, 6.0),   # NULL group: min 2, max 6
        (None, None),                            # NULL value stays NULL
    ]
    df = spark.createDataFrame(rows, "g string, value double")
    out = R.minmax_scale(df, "g", "value")
    assert out.count() == len(rows)              # nothing vanished
    nulls = {
        r["value"]: r["scaled"]
        for r in out.filter(F.col("g").isNull()).collect()
    }
    assert nulls[2.0] == 0.0
    assert nulls[4.0] == 0.5
    assert nulls[6.0] == 1.0
    assert nulls[None] is None


def test_token_budget_mix_raises_on_negative_token_count(spark):
    """ADVICE r6: a negative caller-supplied token count breaks the
    monotone-prefix contract — the operator must raise in-plan, not
    silently over-admit rows past the budget crossing."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    rows = [(1, "s", 10), (2, "s", -3), (3, "s", 10)]
    df = spark.createDataFrame(rows, "doc_id long, source string, ntok long")
    bad = sampling.token_budget_mix(
        df, 100, token_col="ntok", tiebreak_col="doc_id", salt="t"
    )
    with pytest.raises(SparkRuntimeException, match="negative token count"):
        bad.collect()
    # Clean input through the same path still works.
    ok = sampling.token_budget_mix(
        df.filter(F.col("ntok") >= 0),
        100,
        token_col="ntok",
        tiebreak_col="doc_id",
        salt="t",
    )
    assert ok.count() == 2


def test_rrf_fusion_matches_hand_computation(spark):
    """RRF on two constructed lists with a score tie and partial overlap
    must equal the hand-computed sum of 1/(60+rank) terms."""
    from ddataframeoperation_spark.operators import retrieval as RT

    a = spark.createDataFrame(
        [(1, 0.9), (2, 0.8), (3, 0.8)], "doc_id long, s double"
    )  # tie at 0.8 -> rank by id: 2 before 3
    b = spark.createDataFrame(
        [(3, 5.0), (4, 4.0)], "doc_id long, s double"
    )
    got = {
        r["doc_id"]: (round(r["rrf_score"], 6), r["n_lists"])
        for r in RT.rrf_fusion([a, b], score_col="s").collect()
    }
    assert got == {
        1: (round(1 / 61, 6), 1),
        2: (round(1 / 62, 6), 1),
        3: (round(1 / 63 + 1 / 61, 6), 2),
        4: (round(1 / 62, 6), 1),
    }


def test_retrieval_metrics_hand_computed(spark):
    """recall@k / MRR / nDCG@k on a tiny graded run vs hand math,
    including a query with NO relevant judgment (zeros, not NULLs) and
    a graded (non-binary) judgment."""
    import math

    from ddataframeoperation_spark.operators import retrieval as RT

    pred = spark.createDataFrame(
        [("q1", 10, 0.9), ("q1", 11, 0.8), ("q1", 12, 0.7),
         ("q2", 10, 0.9), ("q2", 11, 0.8)],
        "query_id string, doc_id long, score double",
    )
    qrels = spark.createDataFrame(
        [("q1", 11, 2), ("q1", 13, 1)],  # doc 13 never retrieved
        "query_id string, doc_id long, grade int",
    )
    out = {
        r["query_id"]: (r["recall_at_k"], r["mrr"], r["ndcg_at_k"])
        for r in RT.retrieval_metrics(pred, qrels, k=2).collect()
    }
    # q1: top-2 = [10, 11]; hits = {11}; recall 1/2; mrr 1/2;
    # dcg = (2^2-1)/log2(3); idcg = (2^2-1)/log2(2) + (2^1-1)/log2(3)
    dcg = 3 / math.log2(3)
    idcg = 3 / math.log2(2) + 1 / math.log2(3)
    assert out["q1"] == (0.5, 0.5, round(dcg / idcg, 4))
    assert out["q2"] == (0.0, 0.0, 0.0)


def test_rrf_fusion_multi_query_partitioned(spark):
    """With query_col the rank windows partition per query: the same doc
    id in two queries' lists must get independent ranks/fusions."""
    from ddataframeoperation_spark.operators import retrieval as RT

    a = spark.createDataFrame(
        [("q1", 1, 0.9), ("q1", 2, 0.5), ("q2", 1, 0.2), ("q2", 3, 0.8)],
        "query_id string, doc_id long, s double",
    )
    b = spark.createDataFrame(
        [("q1", 2, 9.0), ("q2", 1, 9.0)],
        "query_id string, doc_id long, s double",
    )
    got = {
        (r["query_id"], r["doc_id"]): round(r["rrf_score"], 6)
        for r in RT.rrf_fusion(
            [a, b], score_col="s", query_col="query_id"
        ).collect()
    }
    assert got == {
        ("q1", 1): round(1 / 61, 6),
        ("q1", 2): round(1 / 62 + 1 / 61, 6),
        ("q2", 3): round(1 / 61, 6),
        ("q2", 1): round(1 / 62 + 1 / 61, 6),
    }


def test_retrieval_metrics_random_properties(spark):
    """Seeded-random runs/qrels: metrics stay in [0, 1]; a run ranking
    every relevant doc first reaches recall=ndcg=mrr=1 when k covers the
    judgment set; and shuffling scores never changes the METRIC RANGE
    invariants."""
    import random

    from ddataframeoperation_spark.operators import retrieval as RT

    for seed in range(4):
        rng = random.Random(7000 + seed)
        n_docs = rng.randint(5, 30)
        k = rng.randint(1, 10)
        preds, qrels = [], []
        for q in ("a", "b", "c"):
            docs = list(range(n_docs))
            rng.shuffle(docs)
            preds += [(q, d, rng.random()) for d in docs[: rng.randint(1, n_docs)]]
            qrels += [
                (q, d, rng.randint(1, 3))
                for d in rng.sample(range(n_docs), rng.randint(0, 5))
            ]
        pred = spark.createDataFrame(
            preds, "query_id string, doc_id long, score double"
        )
        qr = spark.createDataFrame(
            qrels, "query_id string, doc_id long, grade int"
        )
        for r in RT.retrieval_metrics(pred, qr, k=k).collect():
            for m in ("recall_at_k", "mrr", "ndcg_at_k"):
                assert 0.0 <= r[m] <= 1.0, (seed, k, r)
    # The perfect run: relevant docs ranked first, k covers them all.
    pred = spark.createDataFrame(
        [("q", 1, 0.9), ("q", 2, 0.8), ("q", 3, 0.1)],
        "query_id string, doc_id long, score double",
    )
    qr = spark.createDataFrame(
        [("q", 1, 2), ("q", 2, 1)], "query_id string, doc_id long, grade int"
    )
    row = RT.retrieval_metrics(pred, qr, k=3).collect()[0]
    assert (row["recall_at_k"], row["mrr"], row["ndcg_at_k"]) == (1.0, 1.0, 1.0)


def test_mmr_demotes_redundant_candidate(spark):
    """MMR must demote a near-duplicate of the top pick below a less
    relevant but diverse candidate — the defining property — and the
    selection must equal the hand-run greedy."""
    from ddataframeoperation_spark.operators import retrieval as RT

    # 3 candidates: doc 1 (rel .9), doc 2 = near-copy of 1 (rel .89),
    # doc 3 orthogonal (rel .5). lambda=.5: pick 1, then 3 (2's penalty
    # ~1.0 sinks it), then 2.
    pred = spark.createDataFrame(
        [("q", 1, 0.9), ("q", 2, 0.89), ("q", 3, 0.5)],
        "query_id string, vec_id long, cos_sim double",
    )
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.999, 0.001]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    got = sorted(
        (r["mmr_rank"], r["vec_id"])
        for r in RT.mmr_diversify(pred, vecs, k=3, lamb=0.5).collect()
    )
    assert got == [(1, 1), (2, 3), (3, 2)]


def test_cosine_topk_multi_equals_single_query(spark, sf_dir):
    """The batched two-level top-k must equal per-query cosine_topk
    exactly — across shard counts (incl. shards=1)."""
    from ddataframeoperation_spark.catalog import read_fixture_table
    from ddataframeoperation_spark.operators import similarity

    emb = read_fixture_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(0, 7)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    for shards in (1, 4, 32):
        multi = similarity.cosine_topk_multi(
            emb, queries, k=5, shards=shards
        ).collect()
        got = {
            qid: sorted(
                [(r["vec_id"], r["cos_sim"]) for r in multi if r["query_id"] == qid]
            )
            for qid in (0, 7)
        }
        for qid in (0, 7):
            qvec = emb.filter(F.col("vec_id") == qid).head()["embedding"]
            want = sorted(
                (r["vec_id"], r["cos_sim"])
                for r in similarity.cosine_topk(emb, qvec, k=5).collect()
            )
            assert got[qid] == want, (shards, qid)


def test_stream_dedup_multi_batch_equals_batch_distinct(spark, sf_dir, tmp_path):
    """VERDICT r6 #6: cross-BATCH dedup state must actually persist — a
    key first seen in micro-batch 1 is suppressed in batches 2-4. The
    watermark is widened past the fixture's time span so no state evicts
    mid-replay; the surviving key set (and its size: no re-emission)
    then equals batch DISTINCT exactly."""
    from ddataframeoperation_spark.catalog import read_fixture_table
    from ddataframeoperation_spark.streaming import windows as STR

    events = read_fixture_table(spark, sf_dir, "events")
    stream = STR.stage_multi_batch_replay(
        events, str(tmp_path / "stage"), n_batches=4, ts_col="ts"
    )
    got = STR.run_to_memory(
        STR.stream_dedup(stream, watermark="720 hours").select(
            "user_id", "event_type"
        ),
        output_mode="append",
    )
    want = events.select("user_id", "event_type").distinct()
    assert got.count() == want.count()  # every key exactly once
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_cumulative_share_random_matches_single_window(spark):
    """The bucketed two-level running sum must equal the naive
    ``sum() OVER (ORDER BY value DESC, tiebreak)`` exactly — across bucket
    counts, with duplicate values (incl. ties at bucket boundaries),
    constant frames, and single rows. Long values so both formulations
    are association-free."""
    import random

    from pyspark.sql import Window

    for seed in range(5):
        rng = random.Random(700 + seed)
        n = rng.randint(1, 120)
        # Small value grid forces heavy ties; one seed is all-constant.
        hi = 1 if seed == 3 else 40
        rows = [(i, rng.randint(0, hi) * 10) for i in range(n)]
        df = spark.createDataFrame(rows, "id long, v long")
        w = Window.orderBy(F.col("v").desc(), F.col("id").asc()).rowsBetween(
            Window.unboundedPreceding, 0
        )
        wt = Window.partitionBy()
        want = {
            r["id"]: (r["cum"], r["total"])
            for r in df.select(
                "id",
                F.sum("v").over(w).alias("cum"),
                F.sum("v").over(wt).alias("total"),
            ).collect()
        }
        for buckets in (1, 7, 64):
            got = {
                r["id"]: (r["cum"], r["total"])
                for r in R.cumulative_share(
                    df, "v", "id", buckets=buckets
                ).select("id", "cum", "total").collect()
            }
            assert got == want, (seed, buckets)


def test_token_budget_admission_drops_null_ids_and_tokens(spark, tmp_path):
    """ADVICE r6: a NULL doc_id (or NULL token count) row must be dropped
    by the streaming admitter — previously int(NaN) raised inside the
    state function and killed the whole query on one dirty row."""
    import ddataframeoperation_spark.streaming.stateful as STF
    from ddataframeoperation_spark.streaming.windows import (
        run_to_memory,
        stage_multi_batch_replay,
    )

    rows = [
        (1, "s", 10),
        (None, "s", 10),     # NULL id: dropped, consumes no budget
        (2, "s", None),      # NULL tokens: dropped
        (3, "s", 10),
        (4, "s", 1000),      # over budget: rejected (greedy)
        (5, "s", 10),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, ntok long")
    stream = stage_multi_batch_replay(
        df, str(tmp_path / "stage"), n_batches=2, ts_col="ntok"
    )
    got = run_to_memory(
        STF.token_budget_admission(stream, 30), output_mode="append"
    )
    admitted = sorted(r["doc_id"] for r in got.collect())
    assert admitted == [1, 3, 5]


def test_corpus_datacard_values_and_plan(spark):
    from ddataframeoperation_spark.operators import text as TX

    rows = [
        # en/web: two docs — 5 tokens and 1 token ("hi" → short), distinct
        # trigrams in doc 1 (no repetition).
        (1, "en", "web", "alpha beta gamma delta epsilon"),
        (2, "en", "web", "hi"),
        # en/books: pure repetition — "a b a b a b" has 4 trigrams, 2
        # distinct → repetition 0.5.
        (3, "en", "books", "a b a b a b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, source string, text string")
    out = {(r["lang"], r["source"]): r
           for r in TX.corpus_datacard(df, short_tokens=3).collect()}

    web = out[("en", "web")]
    assert web["n_docs"] == 2 and web["total_tokens"] == 6
    assert web["p50_tokens"] == 3.0 and web["p90_tokens"] == 4.6
    assert web["short_share"] == 0.5          # "hi" is under 3 tokens
    assert web["mean_repetition"] == 0.0      # 3 distinct trigrams of 3

    books = out[("en", "books")]
    assert books["n_docs"] == 1 and books["total_tokens"] == 6
    assert books["mean_repetition"] == 0.5    # 2 distinct of 4 trigrams

    # Plan contract: ONE aggregate pair (partial + final), no window, no
    # join — the card must stay a single-scan map-side-combined rollup.
    plan = TX.corpus_datacard(df)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "Join" not in plan


def test_corpus_datacard_null_text_contract(spark):
    from ddataframeoperation_spark.operators import text as TX

    rows = [(1, "en", "web", None), (2, "en", "web", "alpha beta gamma")]
    df = spark.createDataFrame(rows, "doc_id long, lang string, source string, text string")
    out = TX.corpus_datacard(df, short_tokens=2).collect()[0]
    # NULL text coalesces to '' (1 whitespace token, 0 chars): it counts
    # in EVERY column's denominator — n_docs 2, tokens 1+3, short 1 of 2.
    assert out["n_docs"] == 2 and out["total_tokens"] == 4
    assert out["short_share"] == 0.5
    assert out["avg_chars"] == round((0 + 16) / 2, 4)
    assert out["mean_repetition"] == 0.0


def test_retrieval_metrics_scope_is_the_run(spark):
    from ddataframeoperation_spark.operators import retrieval as RT

    pred = spark.createDataFrame(
        [(1, 10, 0.9)], "query_id long, doc_id long, score double"
    )
    qrels = spark.createDataFrame(
        [(1, 10, 1), (2, 20, 1)], "query_id long, doc_id long, grade int"
    )
    rows = RT.retrieval_metrics(pred, qrels, k=3).collect()
    # Documented scope contract: query 2 (judged, but absent from the
    # run) emits NO row — callers grading partial runs must outer-join
    # back to the qrels query list before macro-averaging.
    assert [r["query_id"] for r in rows] == [1]
    assert rows[0]["recall_at_k"] == 1.0


def test_mmr_drops_vectorless_candidates(spark):
    from ddataframeoperation_spark.operators import retrieval as RT

    pred = spark.createDataFrame(
        [(1, 10, 0.9), (1, 11, 0.8), (1, 12, 0.7)],
        "query_id long, vec_id long, cos_sim double",
    )
    vectors = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, None), (13, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    got = RT.mmr_diversify(pred, vectors, k=3).collect()
    # Documented contract: id 11 (NULL embedding) and id 12 (absent from
    # vectors) drop before selection instead of crashing the Arrow
    # kernel — only id 10 survives, so fewer than k rows come back.
    assert [(r["vec_id"], r["mmr_rank"]) for r in got] == [(10, 1)]


def test_mmr_null_relevance_ranks_last_in_any_row_order(spark):
    from ddataframeoperation_spark.operators import retrieval as RT

    rows = [("q", 1, None), ("q", 2, 0.9), ("q", 3, 0.5)]
    vectors = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    # Documented contract: a NULL relevance ranks after every scored
    # candidate. A NaN key never won the argmax, so a NULL candidate that
    # came first in its group used to take pick 1.
    for order in (rows, rows[::-1]):
        pred = spark.createDataFrame(
            order, "query_id string, vec_id long, cos_sim double"
        ).coalesce(1)
        got = RT.mmr_diversify(pred, vectors, k=3, lamb=0.5).collect()
        assert [r["vec_id"] for r in sorted(got, key=lambda r: r["mmr_rank"])] == [2, 3, 1]
