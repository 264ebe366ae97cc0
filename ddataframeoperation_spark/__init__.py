"""ddataframeoperation_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of the reference
``skpathak21/DDataFrameOperation`` (an R data-plumbing package for a visual
ML-experiment platform; see ``/root/reference/R/DataFrameOperationR.R``),
rebuilt Spark-first:

- the reference's catalog/load/save surface (``PerformLoadData`` /
  ``FinalOutput`` twins, reference ``R/DataFrameOperationR.R:53-95`` and
  ``:226-323``) lives in :mod:`ddataframeoperation_spark.compat`;
- the full relational operator surface (projection, filter, joins, aggs,
  windows, set ops — SURVEY.md §2 Part B) lives in
  :mod:`ddataframeoperation_spark.operators`;
- LLM-data-pipeline extensions (dedup, similarity search, text analysis,
  multimodal columns) live in their own operator modules;
- Structured Streaming forms of the event-time operators live in
  :mod:`ddataframeoperation_spark.streaming`.

Everything is declarative DataFrame/SQL so Catalyst handles pushdown,
pruning, join strategy, and AQE; Python UDFs appear only where Spark
builtins cannot express the semantics (user scripts and a few
vectorized numpy kernels).
"""

from ddataframeoperation_spark.session import get_spark
from ddataframeoperation_spark.catalog import Catalog, FIXTURE_TABLES, load_fixture_tables
from ddataframeoperation_spark.functions.schema import (
    schema_from_metadata,
    metadata_from_schema,
)

__all__ = [
    "get_spark",
    "Catalog",
    "FIXTURE_TABLES",
    "load_fixture_tables",
    "schema_from_metadata",
    "metadata_from_schema",
]

__version__ = "0.1.0"
