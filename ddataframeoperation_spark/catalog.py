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
table. :func:`load_fixture_tables` resolves its tables concurrently and all
or none, then registers their views in order; the JVM classes a footer read
calls are looked up once per py4j gateway, so a table costs about 27 py4j
round trips rather than about 90.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Mapping
from concurrent.futures import ThreadPoolExecutor
from types import SimpleNamespace

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


def _normalize_timestamps(df: DataFrame, schema: StructType) -> DataFrame:
    """Normalize fixture timestamp columns to plain ``TIMESTAMP`` (LTZ).

    ``schema`` is ``df``'s schema as the caller already holds it (the
    footer's), so no round trip to the JVM asks for it again.

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

    for field in schema.fields:
        name, dtype = field.name, field.dataType.simpleString()
        if name == "ts" and dtype == "bigint":
            df = df.withColumn(name, F.timestamp_micros(F.expr(f"{name} div 1000")))
        elif dtype == "timestamp_ntz":
            df = df.withColumn(name, F.col(name).cast("timestamp"))
    return df


#: Per py4j gateway: the JVM classes and static members a footer read uses.
#: Resolving a dotted class name costs one reflection round trip per name
#: part, and a static member one more, against one for a resolved call, so
#: they are resolved once. A new gateway replaces the entry.
_FOOTER_JVM: dict[object, SimpleNamespace] = {}


def _footer_jvm(spark: SparkSession) -> SimpleNamespace:
    gateway = spark.sparkContext._gateway
    handles = _FOOTER_JVM.get(gateway)
    if handles is None:
        jvm = spark._jvm
        pq = jvm.org.apache.spark.sql.execution.datasources.parquet
        util = jvm.org.apache.parquet.hadoop.util
        handles = SimpleNamespace(
            path=jvm.org.apache.hadoop.fs.Path,
            hidden_filter=util.HiddenFileFilter.INSTANCE,
            stat2paths=jvm.org.apache.hadoop.fs.FileUtil.stat2Paths,
            # ``unsafeWrapArray`` takes any array; py4j matches no Java
            # array to an ``Object[]`` parameter.
            array_seq=jvm.scala.collection.immutable.ArraySeq.unsafeWrapArray,
            input_file=util.HadoopInputFile.fromStatus,
            read_footer=pq.ParquetFooterReader.readFooter,
            skip_row_groups=(
                jvm.org.apache.parquet.format.converter.ParquetMetadataConverter
                .SKIP_ROW_GROUPS
            ),
            footer=jvm.org.apache.parquet.hadoop.Footer,
            converter=pq.ParquetToSparkSchemaConverter,
            read_schema=pq.ParquetFileFormat.readSchemaFromFooter,
        )
        _FOOTER_JVM.clear()
        _FOOTER_JVM[gateway] = handles
    return handles


def _footer_schema(spark: SparkSession, path: str):
    """The nullable Java ``StructType`` behind :func:`_parquet_schema`."""
    jvm = _footer_jvm(spark)
    state = spark._jsparkSession.sessionState()
    hconf = state.newHadoopConf()
    jpath = jvm.path(path)
    # Hidden (``_``/``.``) names are dropped in the JVM, and the entries'
    # paths cross to Python as one string; only entries up to the first
    # file in name order are fetched one by one.
    statuses = jpath.getFileSystem(hconf).listStatus(jpath, jvm.hidden_filter)
    listing = jvm.array_seq(jvm.stat2paths(statuses)).mkString("\n")
    paths = listing.split("\n") if listing else []
    for i in sorted(range(len(paths)), key=paths.__getitem__):
        first = statuses[i]
        if first.isFile():
            break
    else:
        raise FileNotFoundError(f"no parquet data file under {path!r}")
    footer = jvm.read_footer(jvm.input_file(first, hconf), jvm.skip_row_groups)
    return jvm.read_schema(
        jvm.footer(first.getPath(), footer), jvm.converter(state.conf())
    ).asNullable()


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
    return _parse_datatype_json_string(_footer_schema(spark, path).json())


def _relation(spark: SparkSession, path: str, jschema) -> DataFrame:
    """``spark.read.schema(...).parquet(path)`` with the Java schema
    ``jschema``: the same plan, in four py4j calls, none of which asks for
    the active session."""
    jreader = spark._jsparkSession.read().schema(jschema).format("parquet")
    return DataFrame(jreader.load(path), spark)


def _read_fixture(spark: SparkSession, path: str) -> DataFrame:
    jschema = _footer_schema(spark, path)
    schema = _parse_datatype_json_string(jschema.json())
    return _normalize_timestamps(_relation(spark, path, jschema), schema)


#: Memoized fixture DataFrames keyed by (applicationId, sf_dir, table).
#: Fixtures are immutable, so reusing the analyzed DataFrame is safe and
#: skips the per-call footer read — fixed overhead that otherwise recurs
#: for every query in a suite run. Only the current application's entries
#: are kept: a restarted session never sees plans bound to a dead JVM
#: context, and the stopped application's Datasets are released.
_FIXTURE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _fixture_frames(
    spark: SparkSession, sf_dir: str, names: list[str]
) -> list[DataFrame]:
    """The fixture DataFrames of ``names``, in order, all or none.

    Memo misses are resolved concurrently on a pool of
    ``min(misses, usable CPUs)`` threads; each footer read and relation
    analysis is driver-side metadata work, so no Spark job starts there.
    The memo, the class handles and the session conf are only written on
    the calling thread. The first failing table's own exception is raised,
    in input order, after every miss has finished, and nothing is memoized
    then.
    """
    app = spark.sparkContext.applicationId
    for key in [k for k in _FIXTURE_CACHE if k[0] != app]:
        del _FIXTURE_CACHE[key]
    misses = [n for n in dict.fromkeys(names) if (app, sf_dir, n) not in _FIXTURE_CACHE]
    if misses:
        if "events" in misses:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        _footer_jvm(spark)
        paths = [os.path.join(sf_dir, f"{n}.parquet") for n in misses]
        workers = min(len(paths), len(os.sched_getaffinity(0)))
        with ThreadPoolExecutor(workers) as pool:
            futures = [pool.submit(_read_fixture, spark, p) for p in paths]
        frames = [f.result() for f in futures]
        for name, df in zip(misses, frames):
            _FIXTURE_CACHE[(app, sf_dir, name)] = df
    return [_FIXTURE_CACHE[(app, sf_dir, n)] for n in names]


def read_fixture_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver fixture table, normalizing timestamp columns
    (ns-long and TIMESTAMP_NTZ generations both land on plain TIMESTAMP).

    Self-sufficient w.r.t. session config: ``nanosAsLong`` is ensured at
    runtime so callers with their own SparkSession (e.g. the driver's
    harness) don't hit PARQUET_TYPE_ILLEGAL on a ns-timestamp fixture.

    The schema comes from one footer read on the driver with Spark's own
    converter (:func:`_parquet_schema`), after ``nanosAsLong`` is set, and
    is handed to the reader, so no Spark job runs. A memo miss: median
    20–26 ms per table, against 38 ms with the footer classes looked up on
    every call (sf0.01 single files and 4-part-file directories, 4 vCPUs,
    2 task threads, warm JVM).
    """
    return _fixture_frames(spark, sf_dir, [name])[0]


def load_fixture_tables(
    spark: SparkSession,
    sf_dir: str,
    tables: Iterable[str] = FIXTURE_TABLES,
) -> Catalog:
    """Register the driver fixture tables under ``sf_dir`` as a catalog.

    One lazy parquet relation per table — columnar + predicate pushdown for
    free. The tables are resolved first, concurrently and all or none
    (:func:`read_fixture_table`'s footer read, so no Spark job starts in
    the pool); then the temp views are registered in ``tables`` order on
    the calling thread, so a missing table leaves no view behind. All ten
    tables: median 200–265 ms on 4 threads, against 355 ms on one and
    490 ms table by table with the footer classes looked up on every call
    (same host and data as :func:`read_fixture_table`).
    """
    names = list(tables)
    cat = Catalog(spark)
    for name, df in zip(names, _fixture_frames(spark, sf_dir, names)):
        cat.register(name, df)
    return cat
