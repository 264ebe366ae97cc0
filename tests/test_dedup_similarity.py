"""Dedup (B31/B32) and similarity (B33) operator tests."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from ddataframeoperation_spark.catalog import read_fixture_table
from ddataframeoperation_spark.operators import dedup, similarity


def _docs(spark):
    rows = [
        (1, "The quick brown fox jumps over the lazy dog", "a"),
        (2, "The quick brown fox jumps over the lazy dog!", "a"),  # near-dup of 1
        (3, "the QUICK brown fox jumps over the lazy dog", "a"),  # normalized dup of 1
        (4, "Completely different content about spark engines", "a"),
        (5, "Totally unrelated text with other words entirely", "b"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_fingerprint_dedup_keeps_lowest_id(spark):
    d = dedup.dedup_by_fingerprint(_docs(spark))
    ids = sorted(r["doc_id"] for r in d.collect())
    # 1/2/3 normalize identically -> keep 1; 4 and 5 survive.
    assert ids == [1, 4, 5]


def test_jaccard_pairs_finds_near_dups(spark):
    pairs = dedup.jaccard_pairs(_docs(spark), threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got and (1, 3) in got and (2, 3) in got
    assert all(a < b for a, b in got)
    assert (4, 5) not in got


def test_minhash_candidates_cover_exact_dups(spark):
    """Identical normalized docs always collide in every band."""
    cand = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_candidates(_docs(spark)).collect()
    }
    assert (1, 2) in cand and (1, 3) in cand


def test_simhash_zero_distance_for_dups(spark):
    cand = dedup.simhash_candidates(_docs(spark), max_hamming=3)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in cand.collect()}
    assert got.get((1, 3)) == 0  # identical after normalization


def test_simhash_degenerate_corpus_bounded(spark):
    """1k identical short docs collapse to ONE hot (blk, chunk) bucket per
    block; without the max_bucket cap the self-join yields 1000·999/2 ≈
    500k candidate rows. The cap degrades hot buckets to star linkage:
    O(n) rows, every doc still reachable from the representative so
    downstream connected-components dedup keeps the full cluster."""
    n = 1000
    df = spark.createDataFrame(
        [(i, "same short template text") for i in range(n)],
        "doc_id long, text string",
    )
    cand = dedup.simhash_candidates(df, max_hamming=3, max_bucket=64)
    rows = cand.collect()
    assert len(rows) == n - 1  # star: (min_id, other) once per doc
    assert all(r["hamming"] == 0 for r in rows)
    linked = {r["id_a"] for r in rows} | {r["id_b"] for r in rows}
    assert len(linked) == n  # no doc silently dropped from the cluster
    # Sub-cap buckets keep the exact all-pairs behavior.
    uncapped = dedup.simhash_candidates(df.limit(10), max_hamming=3)
    assert uncapped.count() == 10 * 9 // 2


def test_dedup_by_key_deterministic(spark, sf_dir):
    e = read_fixture_table(spark, sf_dir, "events")
    d1 = dedup.dedup_by_key(e, ["user_id"], [F.col("ts"), F.col("event_id")])
    d2 = dedup.dedup_by_key(e, ["user_id"], [F.col("ts"), F.col("event_id")])
    assert sorted(r["event_id"] for r in d1.collect()) == sorted(
        r["event_id"] for r in d2.collect()
    )


def test_dedup_pipeline_survives_empty_text(spark):
    """Empty/whitespace/punctuation-only docs must flow through normalize,
    shingle, minhash, and simhash without size-0 array crashes."""
    rows = [(1, ""), (2, "   "), (3, "!!!"), (4, "real words here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # All-empty normalized texts share a fingerprint -> one survivor.
    kept = sorted(r["doc_id"] for r in dedup.dedup_by_fingerprint(df).collect())
    assert kept == [1, 4]
    # Empty normalized texts have no shingles, hence no band rows.
    assert dedup.minhash_candidates(df).count() == 0
    assert dedup.simhash_candidates(df, max_hamming=0).count() >= 1
    assert dedup.jaccard_pairs(df, threshold=0.9).count() >= 0  # no crash


def test_minhash_candidates_skip_null_and_empty_text(spark):
    """NULL-text and empty documents share no shingle, so they are never
    candidates of each other (nor of anything else), while a real
    duplicate pair still is."""
    rows = [
        (1, None),
        (2, None),
        (3, ""),
        (4, ""),
        (5, "the quick brown fox jumps over the lazy dog"),
        (6, "the quick brown fox jumps over the lazy dog"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["id_a"], r["id_b"]) for r in dedup.minhash_candidates(df).collect()
    }
    assert pairs == {(5, 6)}
    assert dedup.minhash_band_table(df).filter("id < 5").count() == 0


def test_cosine_known_vectors(spark):
    rows = [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0]), (4, [2.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    top = similarity.cosine_topk(df, [1.0, 0.0], k=4).collect()
    by_id = {r["vec_id"]: r["cos_sim"] for r in top}
    assert by_id[1] == 1.0 and by_id[4] == 1.0
    assert abs(by_id[3] - round(1 / math.sqrt(2), 4)) < 1e-9
    assert by_id[2] == 0.0
    # Order: descending score, id tiebreak.
    assert [r["vec_id"] for r in top] == [1, 4, 3, 2]


def test_cosine_neardup_pairs_blocked(spark):
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.99, 0.01], 0),   # near-dup of 1 (same block)
        (3, [0.0, 1.0], 0),     # same block, dissimilar
        (4, [1.0, 0.0], 1),     # identical to 1 but different block -> not paired
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    pairs = similarity.cosine_neardup_pairs(df, threshold=0.9, block_col="label")
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(1, 2)}


def test_cosine_neardup_requires_blocking(spark):
    import pytest

    df = spark.createDataFrame([(1, [1.0])], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError):
        similarity.cosine_neardup_pairs(df)


def test_lsh_recovers_exact_topk_with_loose_budget(spark, sf_dir):
    """With a generous hamming budget the LSH path converges to exact."""
    import numpy as np

    emb = read_fixture_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    exact = [r["vec_id"] for r in similarity.cosine_topk(emb, q, k=5).collect()]
    rng = np.random.RandomState(42)
    planes = rng.randn(16, len(q)).tolist()
    approx = [
        r["vec_id"]
        for r in similarity.lsh_topk(emb, q, planes, k=5, max_hamming=16).collect()
    ]
    assert approx == exact


def test_levenshtein_pairs_banding_catches_shorter_greater(spark):
    # 'az' < 'b' lexicographically but len('b') < len('az') — the length
    # band must be two-sided or this pair is silently missed.
    df = spark.createDataFrame(
        [("az",), ("b",), ("azzzz",), ("unrelated",)], "name string"
    )
    from ddataframeoperation_spark.operators.dedup import levenshtein_pairs

    # blocking="length" explicitly: "auto" now routes max_dist<=2 to the
    # symmetric-delete path, and this test exists to pin the LENGTH band
    # being two-sided (the deletes path wouldn't catch a one-sided band).
    pairs = {
        (r["name_a"], r["name_b"], r["dist"])
        for r in levenshtein_pairs(
            df, "name", max_dist=2, blocking="length"
        ).collect()
    }
    assert ("az", "b", 2) in pairs
    assert all(d <= 2 for _, _, d in pairs)


def test_block_dedup_removes_cross_doc_boilerplate(spark):
    # Shared 4-token header blocks dedup to their first occurrence; the
    # unique remainders survive; a fully-duplicated doc keeps an output
    # row with empty text (callers filter, the operator doesn't drop).
    df = spark.createDataFrame(
        [
            (1, "copy right header text unique one alpha beta"),
            (2, "copy right header text unique two gamma delta"),
            (3, "copy right header text"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup.block_dedup(df, block_tokens=4).collect()
    }
    assert out[1]["text_deduped"] == "copy right header text unique one alpha beta"
    assert out[2]["text_deduped"] == "unique two gamma delta"
    assert out[3]["text_deduped"] == "" and out[3]["n_blocks_kept"] == 0
    assert out[2]["n_blocks_total"] == 2 and out[2]["n_blocks_kept"] == 1


def test_quantize_embeddings_bounds_and_zero_vector(spark):
    df = spark.createDataFrame(
        [(0, [1.0, -2.0, 0.5]), (1, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"]: r for r in similarity.quantize_embeddings(df).collect()}
    # max|x| maps to ±127; all codes within [-127, 127]; scale = amax/127
    assert out[0]["qvec"] == [64, -127, 32]  # round(1/ (2/127)) = 63.5 -> 64
    assert abs(out[0]["qscale"] - 2.0 / 127.0) < 1e-12
    assert out[1]["qvec"] == [0, 0, 0] and out[1]["qscale"] == 0.0


def test_quantized_topk_recall_vs_exact(spark, sf_dir):
    # Int8 quantization keeps cosine ordering almost intact: the top-10 by
    # quantized score must recover >= 8 of the exact top-10 on the fixture
    # (and the query vector itself must rank first with score 1.0).
    emb = read_fixture_table(spark, sf_dir, "embeddings")
    exact = [r["vec_id"] for r in similarity.cosine_topk(emb, 
        emb.filter(F.col("vec_id") == 0).select("embedding").head()[0], k=10).collect()]
    quant = [r["vec_id"] for r in similarity.quantized_topk(emb, 0, k=10).collect()]
    assert quant[0] == 0
    assert len(set(exact) & set(quant)) >= 8
