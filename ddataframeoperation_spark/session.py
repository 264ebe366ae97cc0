"""SparkSession factory tuned for both local testing and cluster scale.

The reference ran a single eager R process (``R/DataFrameOperationR.R`` —
no parallelism at all); here the session is the unit of scale. Defaults:

- AQE on (runtime coalesce, skew-join splitting) — at 100 TB the static
  plan is always wrong somewhere, AQE fixes partition counts and skewed
  joins from runtime stats;
- shuffle partitions and local task threads sized to the CPUs this
  process may run on (``SPARK_GRAFT_CPUS`` overrides; a cluster
  deployment overrides via ``spark.sql.shuffle.partitions`` / relies on
  AQE advisory sizing);
- Arrow enabled so any Pandas-UDF boundary is vectorized, never row-at-a-time;
- UTC session timezone so timestamp semantics are stable vs the DuckDB
  oracle;
- broadcast threshold left at default 10 MB — dimension tables (region,
  nation, supplier, part at TPC-H ratios) broadcast automatically, and
  operators that *know* a side is dimensional also hint explicitly;
- PySpark's DataFrame call-site capture off
  (``spark.python.sql.dataFrameDebugging.enabled``). When on, every
  ``functions.*`` and ``Column`` call makes extra py4j round trips to
  record its Python file:line. Turning it off halved the round trips of
  building the eight analytics_corpus query plans at sf0.001 (3658 →
  1828; the as-of join query 988 → 348) and cut their build time from
  0.71 to 0.55 s (4-vCPU host, 2 task threads). Trade-off: DataFrame
  error messages no longer carry the Python file:line call site; the
  error class and message are unchanged. Scope: PySpark reads the
  setting once per Python process, from the first active session, so a
  session built outside ``get_spark`` (for example
  ``tools/check_oracles.py --vanilla``) keeps PySpark's default;
- a codegen cache of :data:`CODEGEN_CACHE_ENTRIES` generated classes
  instead of Spark's 100, which is too small for the 94 classes the eight
  analytics_corpus query kinds compile: 42–45 of them were recompiled on
  every pass over the kinds, and none are at 1000.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark"]

#: Generated classes Spark's codegen cache holds (a static conf: it is
#: fixed when the JVM's first session starts). Measured working set: one
#: pass over the eight analytics_corpus query kinds at sf0.001 compiles 94
#: distinct classes. Spark's default of 100 is split into 4 segments of 25
#: that evict separately, so 42–45 of them recompiled on every later pass;
#: at 1000 (250 per segment) later passes compile none.
CODEGEN_CACHE_ENTRIES = 1000


def _local_cpus() -> str:
    """``SPARK_GRAFT_CPUS`` if set, else the CPUs this process may run on."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def get_spark(app_name: str = "ddataframeoperation_spark") -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism. On a real cluster the
    caller supplies master/executor settings externally (spark-submit); every
    config below is safe for both modes.
    """
    cpus = _local_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Fixture events.parquet stores timestamp[ns]; Spark's reader rejects
        # TIMESTAMP(NANOS) outright — read as long and convert at the catalog
        # layer (read_fixture_table) to a µs timestamp (lossless: fixtures
        # carry no sub-µs precision).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/ddfo-warehouse"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if "spark.master" not in os.environ.get("SPARK_CONF", ""):
        builder = builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
