"""Round-14 optimization parity tests.

Every r14 kernel/rewrite must be bit-identical to the path it replaces;
these tests pin that equivalence on adversarial inputs (the oracle sweep
re-proves it on the fixtures).
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from ddataframeoperation_spark.operators import dedup, relational


# --- minhash band table pinned against checksums -------------------------


def _band_checksum(table):
    """(sum of xxhash64(id, band, bucket), rows) — order-free, and exact
    as a decimal sum, so any changed bucket moves it."""
    r = table.select(
        F.sum(F.xxhash64("id", "band", "bucket").cast("decimal(38,0)")),
        F.count("*"),
    ).head()
    return int(r[0]), r[1]


def _rows_per_id(table):
    return {r["id"]: r["count"] for r in table.groupBy("id").count().collect()}


def test_minhash_band_table_arrow_matches_jvm(spark):
    """The (id, band, bucket) table equals checksums captured while a
    second, Arrow-kernel signature path existed and agreed with this one
    bit for bit, restricted to the documents that have shingles: the
    empty and the NULL text get no band rows, and short docs keep theirs."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, ""),               # empty -> no shingle, no band rows
            (4, "one two"),        # shorter than shingle_n
            (5, None),             # NULL text -> no shingle, no band rows
            (6, "Repeated repeated REPEATED tokens tokens tokens here"),
        ],
        "doc_id long, text string",
    )
    table = dedup.minhash_band_table(docs)
    assert _band_checksum(table) == (-17289184977876622449, 32)
    assert _rows_per_id(table) == {i: 8 for i in (1, 2, 4, 6)}
    # non-default band geometry
    table = dedup.minhash_band_table(
        docs, num_hashes=16, bands=4, shingle_n=2
    )
    assert _band_checksum(table) == (-7211871853371989927, 16)
    assert _rows_per_id(table) == {i: 4 for i in (1, 2, 4, 6)}


def test_minhash_band_table_arrow_string_ids(spark):
    docs = spark.createDataFrame(
        [("a", "alpha beta gamma delta"), ("b", "alpha beta gamma epsilon")],
        "doc_id string, text string",
    )
    table = dedup.minhash_band_table(docs)
    assert _band_checksum(table) == (-24365709868023818355, 16)
    assert _rows_per_id(table) == {"a": 8, "b": 8}


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


# --- semantic_join vs brute force ON THE FIXTURES (ADVICE r13) ----------


def test_semantic_join_kernel_fold_parity_on_fixture(spark):
    """b33_semantic_join runs the BLAS kernel, whose agreement with a
    sequential score is empirical, not structural (a cosine near-tie
    within ~1e-16 could flip a winner on a future fixture). Check it on
    the registered query's own probe (sf0.01 fixture) against the
    pairwise numpy reference, so a fixture/data change surfaces here,
    not as an opaque oracle hash mismatch."""
    from cosine_reference import assert_rounded, semantic_join_reference

    from ddataframeoperation_spark.catalog import read_fixture_table
    from ddataframeoperation_spark.operators import similarity

    emb = read_fixture_table(spark, "/root/testdata/sf0.01", "embeddings")
    left = emb.filter(F.col("vec_id") < 250)
    right = emb.filter(F.col("vec_id") >= 250)
    cents = similarity.kmeans_centroids(emb, k=8, iters=5)
    got = {r["l_vec_id"]: (r["r_vec_id"], r["cos_sim"])
           for r in similarity.semantic_join(
               left, right, cents, nprobe=None).collect()}
    want = semantic_join_reference(
        [tuple(r) for r in left.select("vec_id", "embedding").collect()],
        [tuple(r) for r in right.select("vec_id", "embedding").collect()],
    )
    assert got.keys() == want.keys() and len(got) > 0
    for lid, (rid, cos) in got.items():
        assert rid == want[lid][0], lid
        assert_rounded(cos, want[lid][1])


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
