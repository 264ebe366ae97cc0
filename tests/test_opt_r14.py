"""Round-14 optimization parity tests.

Every r14 kernel/rewrite must be bit-identical to the path it replaces;
these tests pin that equivalence on adversarial inputs (the oracle sweep
re-proves it on the fixtures).
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from ddataframeoperation_spark.operators import dedup, relational


# --- numpy XXH64 reimplementation vs Spark's xxhash64 -------------------


def test_np_xxh64_matches_spark(spark):
    """The minhash Arrow kernel's hash family must be bit-for-bit Spark's
    xxhash64 — long single-arg (seed 42), (long, int-literal) chains (the
    per-seed signature hash), and 4-long chains (the band bucket)."""
    import numpy as np

    vals = [0, 1, -1, 42, 2**63 - 1, -(2**63), 123456789123456789,
            -987654321987654321, 7, 0x9E3779B185EBCA87 - 2**64]
    df = spark.createDataFrame([(v,) for v in vals], "h0 long")
    rows = df.select(
        "h0",
        F.xxhash64("h0").alias("one"),
        *[F.xxhash64("h0", F.lit(s)).alias(f"s{s}") for s in (0, 1, 5, 31)],
        F.xxhash64("h0", "h0", "h0", "h0").alias("four"),
    ).collect()
    with np.errstate(over="ignore"):
        for r in rows:
            v = np.uint64(np.int64(r["h0"]))
            base = dedup._np_xxh64_long(v, np.uint64(42))
            assert np.int64(base) == r["one"]
            for s in (0, 1, 5, 31):
                assert np.int64(dedup._np_xxh64_int(s, base)) == r[f"s{s}"]
            h = np.uint64(42)
            for _ in range(4):
                h = dedup._np_xxh64_long(v, h)
            assert np.int64(h) == r["four"]


def test_minhash_band_table_arrow_matches_jvm(spark):
    """Arrow signature kernel vs the pure-JVM aggregate: identical
    (id, band, bucket) sets, including empty/short docs and NULL text."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, ""),               # empty -> single empty shingle
            (4, "one two"),        # shorter than shingle_n
            (5, None),             # NULL text drops from both paths
            (6, "Repeated repeated REPEATED tokens tokens tokens here"),
        ],
        "doc_id long, text string",
    )
    jvm = {tuple(r) for r in
           dedup.minhash_band_table(docs, arrow_signature=False).collect()}
    arrow = {tuple(r) for r in
             dedup.minhash_band_table(docs, arrow_signature=True).collect()}
    assert arrow == jvm
    # non-default band geometry
    jvm = {tuple(r) for r in dedup.minhash_band_table(
        docs, num_hashes=16, bands=4, shingle_n=2, arrow_signature=False
    ).collect()}
    arrow = {tuple(r) for r in dedup.minhash_band_table(
        docs, num_hashes=16, bands=4, shingle_n=2, arrow_signature=True
    ).collect()}
    assert arrow == jvm


def test_minhash_band_table_arrow_string_ids(spark):
    docs = spark.createDataFrame(
        [("a", "alpha beta gamma delta"), ("b", "alpha beta gamma epsilon")],
        "doc_id string, text string",
    )
    jvm = {tuple(r) for r in
           dedup.minhash_band_table(docs, arrow_signature=False).collect()}
    arrow = {tuple(r) for r in
             dedup.minhash_band_table(docs, arrow_signature=True).collect()}
    assert arrow == jvm


# --- connected_components single-task endgame ---------------------------


def test_cc_endgame_matches_loop_random_graph(spark):
    random.seed(14)
    edges = [(random.randint(0, 400), random.randint(0, 400))
             for _ in range(700)]
    # self-loops + duplicates + a long chain tail
    edges += [(5, 5), (7, 7)] + edges[:50] + [(1000 + i, 1001 + i)
                                              for i in range(40)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    fast = {(r["id"], r["component"])
            for r in dedup.connected_components(pairs).collect()}
    loop = {(r["id"], r["component"])
            for r in dedup.connected_components(
                pairs, small_graph_rows=0).collect()}
    assert fast == loop


def test_cc_endgame_matches_loop_string_ids_and_nulls(spark):
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), (None, "z"), ("q", None)],
        "id_a string, id_b string",
    )
    fast = {(r["id"], r["component"])
            for r in dedup.connected_components(pairs).collect()}
    loop = {(r["id"], r["component"])
            for r in dedup.connected_components(
                pairs, small_graph_rows=0).collect()}
    assert fast == loop
    # NULL-endpoint pairs drop whole on both paths
    assert {i for i, _ in fast} == {"a", "b", "c", "x", "y"}


# --- semantic_join kernel/fold parity ON THE FIXTURES (ADVICE r13) -------


def test_semantic_join_kernel_fold_parity_on_fixture(spark):
    """b33_semantic_join pins the BLAS arrow kernel whose identity with
    the sequential fold is empirical, not structural (a cosine near-tie
    within ~1e-16 could flip a winner on a future fixture). Run BOTH
    paths on the registered query's own probe (sf0.01 fixture) so a
    fixture/data change surfaces as a parity failure here, not as an
    opaque oracle hash mismatch."""
    from ddataframeoperation_spark.catalog import read_fixture_table
    from ddataframeoperation_spark.operators import similarity

    emb = read_fixture_table(spark, "/root/testdata/sf0.01", "embeddings")
    left = emb.filter(F.col("vec_id") < 250)
    right = emb.filter(F.col("vec_id") >= 250)
    cents = similarity.kmeans_centroids(emb, k=8, iters=5)
    kern = {tuple(r) for r in similarity.semantic_join(
        left, right, cents, nprobe=None, arrow_kernel=True).collect()}
    fold = {tuple(r) for r in similarity.semantic_join(
        left, right, cents, nprobe=None, arrow_kernel=False).collect()}
    assert kern == fold


# --- binary-search bucket assign vs the filter-count lambda --------------


def test_bucket_by_cuts_matches_filter_count(spark):
    """The rank machinery's O(log cuts) binary-search bucket assign must
    equal the old size(filter(cuts, x -> v > x)) count for every value —
    including duplicates, values equal to cuts, NaN and ±inf."""
    import math

    random.seed(21)
    vals = [float(random.randint(-8, 8)) for _ in range(1500)]
    vals += [random.uniform(-50, 50) for _ in range(1500)]
    vals += [float("nan")] * 7 + [float("inf"), float("-inf")] * 3
    df = spark.createDataFrame([(v,) for v in vals], "_v double")
    for buckets in (2, 7, 64, 512):
        probs = [i / buckets for i in range(1, buckets)]
        cuts = df.agg(
            F.percentile_approx("_v", probs, 10_000).alias("_cuts")
        )
        old_rows = (
            df.crossJoin(F.broadcast(cuts))
            .withColumn(
                "_bkt",
                F.size(F.filter(F.col("_cuts"), lambda x: F.col("_v") > x)),
            )
            .groupBy("_v", "_bkt").count().collect()
        )
        new_rows = (
            relational._bucket_by_cuts(
                df, cuts, "_v", "_cuts", buckets - 1, "_bkt"
            )
            .groupBy("_v", "_bkt").count().collect()
        )

        def key(rows):  # NaN-safe set encoding
            return sorted(
                (math.isnan(r["_v"]),
                 0.0 if math.isnan(r["_v"]) else r["_v"],
                 r["_bkt"], r["count"])
                for r in rows
            )

        assert key(new_rows) == key(old_rows), f"buckets={buckets}"


def test_bucket_by_cuts_integer_values(spark):
    df = spark.createDataFrame(
        [(v,) for v in [1, 1, 2, 3, 5, 8, 13, 21, 34, 55, 89]], "_v long"
    )
    buckets = 4
    probs = [i / buckets for i in range(1, buckets)]
    cuts = df.agg(F.percentile_approx("_v", probs, 10_000).alias("_cuts"))
    old = {
        (r["_v"], r["_bkt"])
        for r in df.crossJoin(F.broadcast(cuts)).withColumn(
            "_bkt",
            F.size(F.filter(F.col("_cuts"), lambda x: F.col("_v") > x)),
        ).collect()
    }
    new = {
        (r["_v"], r["_bkt"])
        for r in relational._bucket_by_cuts(
            df, cuts, "_v", "_cuts", buckets - 1, "_bkt"
        ).collect()
    }
    assert new == old
