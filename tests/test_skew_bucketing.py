"""Skew toolkit tests: salted aggregation equivalence, AQE skew-join splits."""

from __future__ import annotations

from pyspark.sql import functions as F

from ddataframeoperation_spark.catalog import read_fixture_table
from ddataframeoperation_spark.operators import skew


def test_salted_agg_equals_plain(spark, sf_dir):
    li = read_fixture_table(spark, sf_dir, "lineitem")
    plain = {
        (r["l_returnflag"], round(r["s"], 4), r["n"])
        for r in li.groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"), F.count("*").alias("n"))
        .collect()
    }
    salted = {
        (r["l_returnflag"], round(r["s"], 4), r["n"])
        for r in skew.salted_group_agg(
            li.select("l_returnflag", "l_quantity"),
            ["l_returnflag"],
            partials=[F.sum("l_quantity").alias("ps"), F.count("*").alias("pc")],
            finals=[F.sum("ps").alias("s"), F.sum("pc").alias("n")],
        ).collect()
    }
    assert salted == plain


def test_aqe_splits_skewed_join_partitions(spark):
    """With a pathologically hot key, AQE's skew-join handling must split
    the oversized partition (OptimizeSkewedJoin) instead of leaving one
    straggler task — the runtime half of the skew story (the explicit
    salting operators are the planning half)."""
    import pyspark.sql.functions as sf

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # Aggressive thresholds so the (compressed) local-test shuffle
        # qualifies; production keeps the defaults (256MB/5x).
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # 200k rows on ONE key + 2k spread over 200 keys.
        big = spark.range(200_000).select(
            sf.when(sf.col("id") < 198_000, 7)
            .otherwise(sf.col("id") % 200)
            .alias("k"),
            # Incompressible payload so shuffle sizes reflect row counts.
            sf.md5(sf.col("id").cast("string")).alias("pad"),
        )
        small = spark.range(200).select(
            sf.col("id").alias("k"), sf.col("id").alias("v")
        )
        j = big.join(small, "k").groupBy().count()
        # collect() on THIS dataset so its own AQE plan reaches final state
        # (count() would execute a different Dataset's plan).
        assert j.collect()[0][0] == 200_000
        final_plan = str(j._jdf.queryExecution().executedPlan())
        assert "isFinalPlan=true" in final_plan
        assert "skew=true" in final_plan, final_plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
