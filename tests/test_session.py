"""Session factory settings: what ``get_spark`` pins and why it matters."""

from __future__ import annotations

import os

import pyspark.errors.utils as pyspark_error_utils

from ddataframeoperation_spark import session
from ddataframeoperation_spark.queries import QUERIES

#: The analytics_corpus benchmark workload's query kinds.
ANALYTICS_KINDS = [
    "b05_join_inner",
    "b31_dedup_fingerprint",
    "b17_window_rank",
    "b33_cosine_topk",
    "b09_asof_join",
    "b34_word_stats",
    "b11_time_rollup",
    "b33_mmr_rerank",
]


def test_local_cpus_defaults_to_usable_cpus(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session._local_cpus() == str(len(os.sched_getaffinity(0)))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session._local_cpus() == "3"


def test_call_site_capture_is_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert pyspark_error_utils.is_debugging_enabled() is False


def test_repeated_rotation_compiles_nothing(spark, sf_dir):
    # One pass over the analytics_corpus kinds compiles 94 classes; with
    # Spark's default 100-entry (4-segment) codegen cache about half of
    # them were evicted and recompiled on every later pass.
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def rotation_compiles() -> int:
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        for kind in ANALYTICS_KINDS:
            QUERIES[kind](spark, sf_dir).collect()
        return metrics.METRIC_COMPILATION_TIME().getCount() - before

    rotation_compiles()
    assert rotation_compiles() == 0
