"""Table-maintenance operators: merge upsert, compaction, incremental dedup."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from ddataframeoperation_spark.operators import dedup, skew


def test_merge_upsert(spark, tmp_path):
    target = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id long, tag string, v double"
    ).write.parquet(target)
    updates = spark.createDataFrame(
        [(2, "b2", 99.0), (4, "d", 40.0)], "id long, tag string, v double"
    )
    skew.merge_upsert(spark, target, updates, ["id"])
    got = {
        (r["id"], r["tag"], r["v"])
        for r in spark.read.parquet(target).collect()
    }
    assert got == {(1, "a", 10.0), (2, "b2", 99.0), (3, "c", 30.0), (4, "d", 40.0)}


def test_merge_upsert_idempotent(spark, tmp_path):
    target = str(tmp_path / "t")
    spark.createDataFrame([(1, 1.0)], "id long, v double").write.parquet(target)
    updates = spark.createDataFrame([(1, 2.0)], "id long, v double")
    skew.merge_upsert(spark, target, updates, ["id"])
    skew.merge_upsert(spark, target, updates, ["id"])  # replay-safe
    rows = spark.read.parquet(target).collect()
    assert len(rows) == 1 and rows[0]["v"] == 2.0


def test_compact_reduces_files(spark, tmp_path):
    path = str(tmp_path / "frag")
    spark.range(1000).repartition(20).write.parquet(path)
    assert len(glob.glob(f"{path}/part-*")) == 20
    skew.compact(spark, path, target_files=2)
    assert len(glob.glob(f"{path}/part-*")) == 2
    assert spark.read.parquet(path).count() == 1000


def test_dedup_increment(spark):
    corpus = spark.createDataFrame(
        [(1, "known document text here")], "doc_id long, text string"
    ).select(dedup.fingerprint("text").alias("fp"))
    new = spark.createDataFrame(
        [
            (10, "known document text here"),   # already in corpus -> dropped
            (11, "a brand new document"),
            (12, "A brand NEW document!!"),      # dup of 11 within increment
            (13, "another fresh one"),
        ],
        "doc_id long, text string",
    )
    kept = sorted(r["doc_id"] for r in dedup.dedup_increment(new, corpus).collect())
    assert kept == [11, 13]


def test_salted_join_rejects_right_outer(spark):
    import pytest

    a = spark.range(10).withColumnRenamed("id", "k")
    b = spark.range(5).withColumnRenamed("id", "j")
    with pytest.raises(ValueError, match="inner"):
        skew.salted_join(a, b, "k", "j", how="right")


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    labels = dedup.connected_components(
        pairs, checkpoint_dir=str(tmp_path / "ckpt")
    )
    got = {(r["id"], r["component"]) for r in labels.collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    # The reliable checkpoint actually landed on disk.
    assert glob.glob(str(tmp_path / "ckpt" / "*"))


def test_checkpoint_round_read_back_starts_no_job(spark, tmp_path):
    """A parquet checkpoint round starts one Spark job, the write: the
    read-back takes its schema from the footer instead of inferring it."""
    import uuid

    truncate = dedup._round_truncator(
        "cc", "0123456789ab", str(tmp_path / "ckpt")
    )
    df = spark.range(10)
    sc = spark.sparkContext
    group = f"truncate-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "checkpoint round")
    try:
        back = truncate(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert back.schema == spark.read.parquet(
        str(tmp_path / "ckpt" / "cc_0123456789ab_round_0")
    ).schema
    assert sorted(r["id"] for r in back.collect()) == list(range(10))
