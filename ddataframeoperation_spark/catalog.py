"""Named-table catalog — the Spark rendering of the reference's table list.

The reference builds a named list ``table_name -> data.frame`` by asking a
REST orchestrator for table locations and loading each from HDFS
(``PerformLoadData``, reference ``R/DataFrameOperationR.R:53-95``; upstream
DAG outputs merged by ``LoadOtherData``, ``:96-204``). Here the catalog is a
thin dict of *lazy* DataFrames that are also registered as temp views, so
both the DataFrame API and ``spark.sql`` can reach every table by name.

Scale note: registration is metadata-only; nothing is read until an action
runs, and Catalyst prunes columns/partitions per query — the reference's
eager whole-table materialization (``read.csv`` per part-file, ``:37-49``)
is exactly what we avoid. A fixture table's schema comes from one parquet
footer read on the driver with Spark's own converter (:func:`_parquet_schema`),
so registering starts no Spark job; schema inference would start one per
table.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_json_string

__all__ = [
    "FIXTURE_TABLES",
    "Catalog",
    "load_fixture_tables",
    "read_fixture_table",
]

#: The ten driver fixture tables (TESTDATA.md) — TPC-H-ish star schema plus
#: events / documents / embeddings for the LLM-pipeline operators.
FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Small dimension tables that should broadcast in joins at any scale.
DIM_TABLES = frozenset({"region", "nation", "supplier", "part"})


class Catalog:
    """Named catalog of DataFrames (reference: the ``newlist`` named list,
    ``R/DataFrameOperationR.R:84``, ``:163-165``).

    Keys behave like the reference's: REST ``TABLE_NAME`` or
    ``{NodeCaption}_{i}`` for upstream-node split outputs.
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._tables: dict[str, DataFrame] = {}

    def register(self, name: str, df: DataFrame) -> DataFrame:
        """Add/overwrite a named table and expose it to SQL as a temp view."""
        self._tables[name] = df
        df.createOrReplaceTempView(name)
        return df

    def load(
        self,
        name: str,
        path: str,
        fmt: str = "parquet",
        schema: StructType | str | None = None,
        **options,
    ) -> DataFrame:
        """Load a dataset directory into the catalog.

        Mirrors ``LoadDataFrameFromPath`` (reference
        ``R/DataFrameOperationR.R:19-51``): a *directory* of part-files is
        one table; ``_SUCCESS``/metadata files are skipped; an external
        schema overrides any embedded one. Spark's file index does the part
        discovery natively (the reference's hand-rolled WebHDFS LISTSTATUS
        loop, and its last-part-wins accumulator bug at ``:36-45``, are both
        replaced by a correct distributed multi-file scan → UNION ALL of
        parts, which is what the commented-out SparkR ``read.df`` at
        ``:161`` always intended).
        """
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        if fmt == "csv":
            # Reference CSVs are headerless with externally-supplied column
            # names (``read.csv(header=FALSE)`` + ``colnames<-``, :43-44).
            options.setdefault("header", "false")
        df = reader.format(fmt).options(**options).load(path)
        return self.register(name, df)

    def get(self, name: str) -> DataFrame:
        try:
            return self._tables[name]
        except KeyError:
            raise KeyError(
                f"table {name!r} not in catalog; available: {self.names()}"
            ) from None

    def __getitem__(self, name: str) -> DataFrame:
        return self.get(name)

    def __contains__(self, name: str) -> bool:
        return name in self._tables

    def cache(self, name: str, storage_level: str = "MEMORY_AND_DISK") -> DataFrame:
        """Persist a hot catalog table (deserialized columns in memory,
        spill to disk). Use for dimensions re-read by many queries in one
        session; storage is lazy — materialized by the next action."""
        from pyspark.storagelevel import StorageLevel

        df = self.get(name).persist(getattr(StorageLevel, storage_level))
        self._tables[name] = df
        df.createOrReplaceTempView(name)
        return df

    def uncache(self, name: str) -> None:
        self.get(name).unpersist()

    def names(self) -> list[str]:
        return sorted(self._tables)

    def as_dict(self) -> Mapping[str, DataFrame]:
        return dict(self._tables)


def _normalize_timestamps(df: DataFrame) -> DataFrame:
    """Normalize fixture timestamp columns to plain ``TIMESTAMP`` (LTZ).

    Two fixture generations exist:

    - ``timestamp[ns]`` (older): Spark's vectorized reader refuses
      TIMESTAMP(NANOS); under ``spark.sql.legacy.parquet.nanosAsLong`` the
      column surfaces as epoch-nanos long — ``div 1000`` to µs is lossless
      (fixtures carry no sub-µs precision).
    - ``timestamp[us]`` without tz metadata (current): Spark 4 infers
      ``TIMESTAMP_NTZ``, which breaks watermarks
      (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE) and numeric casts
      (CAST TIMESTAMP_NTZ AS DOUBLE is illegal). Cast to session-tz
      TIMESTAMP — value-preserving under the UTC session this engine pins
      (session.py) and matching DuckDB's naive reading of the same files.
    """
    from pyspark.sql import functions as F

    for name, dtype in df.dtypes:
        if name == "ts" and dtype == "bigint":
            df = df.withColumn(name, F.timestamp_micros(F.expr(f"{name} div 1000")))
        elif dtype == "timestamp_ntz":
            df = df.withColumn(name, F.col(name).cast("timestamp"))
    return df


def _parquet_schema(spark: SparkSession, path: str) -> StructType:
    """Schema of the parquet file or directory ``path``, from one footer
    read on the driver — no Spark job.

    A schemaless ``spark.read.parquet`` starts a Spark job just to read one
    footer (``mergeSchemasInParallel`` runs even for a single file with
    ``mergeSchema`` off). This reads the same footer Spark's non-merging
    inference would trust — the first data file, skipping ``_``/``.`` names
    as Spark's file index does — and converts it with Spark's own
    ``ParquetToSparkSchemaConverter`` over the session conf, so
    ``nanosAsLong``, TIMESTAMP_NTZ inference and Spark's row-metadata
    schema apply exactly as in inference. Every field is nullable, as in
    the schema a file source reports. Set those confs before calling.
    """
    jvm = spark._jvm
    state = spark._jsparkSession.sessionState()
    hconf = state.newHadoopConf()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    files = {
        st.getPath().getName(): st
        for st in jpath.getFileSystem(hconf).listStatus(jpath)
        if st.isFile()
    }
    name = min((n for n in files if not n.startswith(("_", "."))), default=None)
    if name is None:
        raise FileNotFoundError(f"no parquet data file under {path!r}")
    first = files[name]
    pq = jvm.org.apache.spark.sql.execution.datasources.parquet
    footer = pq.ParquetFooterReader.readFooter(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(first, hconf),
        jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
    )
    jschema = pq.ParquetFileFormat.readSchemaFromFooter(
        jvm.org.apache.parquet.hadoop.Footer(first.getPath(), footer),
        pq.ParquetToSparkSchemaConverter(state.conf()),
    )
    return _parse_datatype_json_string(jschema.asNullable().json())


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema from
    :func:`_parquet_schema`, so the read starts no inference job."""
    return spark.read.schema(_parquet_schema(spark, path)).parquet(path)


#: Memoized fixture DataFrames keyed by (applicationId, sf_dir, table).
#: Fixtures are immutable, so reusing the analyzed DataFrame is safe and
#: skips the per-call file listing + parquet footer schema read — fixed
#: overhead that otherwise recurs for every query in a suite run. Keyed by
#: applicationId so a restarted session never sees plans bound to a dead
#: JVM context.
_FIXTURE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def read_fixture_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver fixture table, normalizing timestamp columns
    (ns-long and TIMESTAMP_NTZ generations both land on plain TIMESTAMP).

    Self-sufficient w.r.t. session config: ``nanosAsLong`` is ensured at
    runtime so callers with their own SparkSession (e.g. the driver's
    harness) don't hit PARQUET_TYPE_ILLEGAL on a ns-timestamp fixture.

    The schema comes from one footer read on the driver with Spark's own
    converter (:func:`_parquet_schema`), after ``nanosAsLong`` is set, and
    is handed to the reader, so no Spark job runs. Footer read plus the
    read with a schema: median 56–82 ms per table, against 114–146 ms for
    Spark's inferring read, which starts a job (part-file directories and
    sf0.01 single files, 4 vCPUs, 2 task threads, warm JVM).
    """
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _FIXTURE_CACHE.get(key)
    if cached is not None:
        return cached
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = _normalize_timestamps(_read_parquet(spark, path))
    _FIXTURE_CACHE[key] = df
    return df


def load_fixture_tables(
    spark: SparkSession,
    sf_dir: str,
    tables: Iterable[str] = FIXTURE_TABLES,
) -> Catalog:
    """Register the driver fixture tables under ``sf_dir`` as a catalog.

    One ``spark.read.parquet`` per table — lazy, columnar + predicate
    pushdown for free. Each schema comes from one footer read on the driver
    (:func:`read_fixture_table`), so registering starts no Spark job.
    """
    cat = Catalog(spark)
    for name in tables:
        cat.register(name, read_fixture_table(spark, sf_dir, name))
    return cat
