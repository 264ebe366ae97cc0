"""Script-transform surface — the engine's UDF/UDTF boundary (B30).

The reference's entire raison d'être is running a user script over the
table catalog: the orchestrator wraps Python in an Action XML
(``ApplyTransformationTo`` CDATA, reference ``R/DataFrameOperationR.R:328``)
and describes it in PMML as a ``ScriptExecutor`` DefineFunction applied to
FieldRefs (``:556-576``). Here that becomes the idiomatic Spark trio:

- :func:`apply_script_grouped` — grouped-map ``applyInPandas``: script sees
  one group as a pandas DataFrame, returns a pandas DataFrame with a
  declared schema (the platform's ``PredictedName:PredictedDataType``
  contract);
- :func:`apply_script_batches` — ``mapInPandas``: script streams Arrow
  record batches, group-independent;
- :func:`scalar_pandas_udf` — vectorized column function.

Scale notes: all three move data over Arrow in columnar batches — never
row-at-a-time Python. ``applyInPandas`` shuffles on the group key and must
hold ONE GROUP in memory (document that to script authors: a skewed group
is the failure mode; pre-salt or pre-aggregate hot keys). ``mapInPandas``
holds only one Arrow batch (``spark.sql.execution.arrow.maxRecordsPerBatch``).
Every Python task also pays a fixed set-up cost before its first batch;
on Python < 3.13 ``get_spark``'s worker daemon
(:mod:`ddataframeoperation_spark.pydaemon`) cuts 100–210 ms of it per task.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

__all__ = [
    "apply_script_grouped",
    "apply_script_batches",
    "scalar_pandas_udf",
    "grouped_agg_pandas_udf",
    "grouped_map_parallelism",
]


def grouped_map_parallelism(df: DataFrame) -> int:
    """Partition count for a Python grouped-map stage: max of
    ``spark.sql.shuffle.partitions`` and the cluster's default parallelism
    — i.e. the pre-AQE plan. AQE coalesces shuffles for JVM read cost
    (64 MB advisory), which is blind to the PYTHON cost of an
    ``applyInPandas`` stage: Arrow transfer + per-group pandas work ends
    up on a handful of cores. Callers ``repartition(n, keys)`` before the
    ``groupBy`` so the grouped map reuses the exchange."""
    spark = df.sparkSession
    try:
        shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        shuffle_parts = 0  # e.g. "auto" on some platforms
    return max(shuffle_parts, spark.sparkContext.defaultParallelism)


def apply_script_grouped(
    df: DataFrame,
    group_cols: Sequence[str],
    func: Callable,
    output_schema: StructType | str,
    parallelism: int | None = None,
) -> DataFrame:
    """B30 — grouped-map script execution: ``func(pandas.DataFrame) ->
    pandas.DataFrame`` per group, output schema declared up front (the
    Spark rendering of the reference's script node + emitted
    ``MetaData``/``MetaDataType``, A23).

    The input is explicitly hash-repartitioned on the group keys before
    the grouped map (the map's ClusteredDistribution is satisfied by the
    repartition, so no second exchange). Without this, AQE coalesces the
    shuffle for JVM read cost — measured 3 partitions for a ~100k-row
    input on local[32] — which is blind to the PYTHON cost of the stage:
    Arrow transfer + pandas per group runs on 3 of 32 cores. Default
    ``parallelism`` = max(spark.sql.shuffle.partitions,
    defaultParallelism), i.e. the pre-AQE plan the operator would get on
    a tuned cluster."""
    if parallelism is None:
        parallelism = grouped_map_parallelism(df)
    part = df.repartition(parallelism, *[F.col(c) for c in group_cols])
    return part.groupBy(*group_cols).applyInPandas(func, schema=output_schema)


def apply_script_batches(
    df: DataFrame,
    func: Callable[[Iterator], Iterator],
    output_schema: StructType | str,
) -> DataFrame:
    """B30 — batch-streaming script execution (``mapInPandas``): for
    group-independent transforms; peak memory is one Arrow batch."""
    return df.mapInPandas(func, schema=output_schema)


def scalar_pandas_udf(func: Callable, return_type: str):
    """B30 — vectorized scalar UDF (Arrow series in/out)."""
    return F.pandas_udf(func, returnType=return_type)


def zscore_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
) -> DataFrame:
    """Example script-node workload: per-group z-score normalization via
    ``applyInPandas`` — the canonical grouped-map pattern. Kept in the
    library (not just tests) because it is the declared B30 query surface;
    sample-stddev semantics match SQL ``stddev_samp``.

    Input is pruned to the group + value columns BEFORE the grouped map:
    ``applyInPandas`` ships every input column to Python, so an unpruned
    call reads and shuffles unused (possibly wide) columns — Catalyst
    cannot prune through an opaque Python function."""
    df = df.select(*group_cols, value_col)
    out_schema = (
        ", ".join(f"{c} {t}" for c, t in df.select(*group_cols).dtypes)
        + f", {value_col} double, zscore double"
    )

    def _norm(pdf):
        v = pdf[value_col]
        sd = v.std()  # pandas default: sample stddev (ddof=1)
        z = (v - v.mean()) / sd if sd and sd == sd else v * 0.0
        out = pdf[list(group_cols)].copy()
        out[value_col] = v
        out["zscore"] = z
        return out

    return apply_script_grouped(df, group_cols, _norm, out_schema)


def grouped_agg_pandas_udf(func: Callable, return_type: str):
    """B30 — GROUPED_AGG pandas UDF: the fourth UDF form beside
    grouped-map / map-in-pandas / scalar (completing the reference's
    ScriptExecutor surface as the full Spark quartet). The function
    receives one group's column as a pandas Series and returns ONE
    scalar; Spark runs it as a true aggregate — usable in ``groupBy().
    agg()`` AND over windows — with Arrow batch transfer.

    Scale note: unlike grouped-map, a grouped-agg UDF does NOT require
    the whole group's ROW data in Python — only the aggregated column(s)
    cross the Arrow boundary — but there is no partial aggregation
    (map-side combine) for Python aggregates: every group value ships to
    its reducer. For algebraic statistics prefer builtins; reserve this
    for genuinely custom reductions.

    The GROUPED_AGG functionType is passed EXPLICITLY: type-hint
    inference cannot work in modules under ``from __future__ import
    annotations`` (hints arrive as strings and Spark rejects the
    signature).
    """
    import warnings

    from pyspark.sql.functions import PandasUDFType

    with warnings.catch_warnings():
        # The explicit-functionType deprecation warning is noise here:
        # the hint route is structurally unavailable (stringified hints).
        warnings.simplefilter("ignore", UserWarning)
        return F.pandas_udf(func, return_type, PandasUDFType.GROUPED_AGG)
