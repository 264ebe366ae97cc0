"""Reference-surface compatibility layer — the five NAMESPACE exports of
``skpathak21/DDataFrameOperation`` re-expressed on Spark.

| Reference export | Here | Reference source |
|---|---|---|
| ``PerformLoadData`` | :func:`perform_load_data` | ``R/DataFrameOperationR.R:53-95`` |
| ``UpdateJob``       | :func:`update_job`       | ``:205-225`` |
| ``FinalOutput``     | :func:`final_output`     | ``:226-323`` |
| ``GeneratePmml``    | :func:`generate_pmml`    | ``:324-386`` |
| ``SaveFileToHdfs``  | :func:`save_text_file`   | ``:388-436`` |

The platform's Python twin used exactly these entry-point names
(embedded example script, ``R/DataFrameOperationR.R:328``):
``dfs = DataframeOpr.PerformLoadData(...); DataframeOpr.FinalOutput(dfs[t])``
— so ``DataframeOpr`` aliases are exported at the bottom.

Reference bugs deliberately FIXED (SURVEY.md §2-A, implement intent not bug):
- A5: all part-files are unioned (Spark multi-file scan), not last-part-wins;
- A18: ``final_output`` introspects its argument, not a global;
- A20: the CSV sink writes comma-separated CSV, not space-separated;
- A24: the PMML Apply emits *every* FieldRef and the DataDictionary is
  actually included in the document.

The WebHDFS-by-hand I/O of the reference collapses into ``spark.read`` /
``df.write`` (distributed, executor-side); the REST orchestrator calls stay
driver-side and are injectable for testing.
"""

from __future__ import annotations

import contextlib
import json
import os
import uuid as _uuid
from collections.abc import Callable, Mapping, Sequence
from xml.sax.saxutils import escape

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ddataframeoperation_spark.catalog import Catalog
from ddataframeoperation_spark.functions.schema import (
    _type_from_name,
    manifest_for,
    metadata_from_schema,
    schema_from_metadata,
)

__all__ = [
    "perform_load_data",
    "parse_action_xml",
    "parse_graph_json",
    "latest_completed_output",
    "final_output",
    "update_job",
    "generate_pmml",
    "save_text_file",
    "DataframeOpr",
]


def parse_action_xml(xml_text: str) -> dict[str, str]:
    """Parse the platform's Action XML into its orchestration fields — the
    Spark-side twin of the reference's XPath extraction in ``UpdateJob``
    (``R/DataFrameOperationR.R:207-211``: UUID, ExperimentId, NodeId,
    ServiceUrl) plus the user script payload (``ApplyTransformationTo``
    CDATA property read at ``:330-334``).

    Returns keys: ``uuid``, ``experiment_id``, ``node_id``, ``service_url``,
    ``script`` (empty string when absent).
    """
    import xml.etree.ElementTree as ET

    root = ET.fromstring(xml_text)

    def first_text(tag: str) -> str:
        el = root.find(f".//{tag}")
        return (el.text or "").strip() if el is not None else ""

    script = ""
    for prop in root.iter("Property"):
        if prop.get("Name") == "ApplyTransformationTo":
            script = (prop.text or "").strip()
    return {
        "uuid": first_text("UUID"),
        "experiment_id": first_text("ExperimentId"),
        "node_id": first_text("NodeId"),
        "service_url": first_text("ServiceUrl"),
        "script": script,
    }

# Wire-format quirk of the platform: JSON payloads ride inside JSON strings
# with double-quotes swapped to backticks (reference gsub('"','`',...) at
# R/DataFrameOperationR.R:295-296 and the inverse at :140-142). Kept ONLY at
# the REST boundary.
def _backtick_escape(s: str) -> str:
    return s.replace('"', "`")


def perform_load_data(
    spark: SparkSession,
    table_specs: Sequence[Mapping] | None = None,
    metadata_fetcher: Callable[[], Sequence[Mapping]] | None = None,
    fmt: str = "parquet",
) -> Catalog:
    """Twin of ``PerformLoadData`` (``R/DataFrameOperationR.R:53-95``):
    build a named catalog from externally-supplied table metadata.

    The reference POSTs ``GetDataSourceSchema`` to an orchestrator and gets
    ``TableList[{TABLE_NAME, DataLocation, ColumnList[].MappedAliasName}]``;
    here the same records arrive either directly (``table_specs``) or from
    an injected ``metadata_fetcher`` (the REST call, mockable in tests).

    Spec keys: ``TABLE_NAME``, ``DataLocation``, and either
    ``ColumnList`` ([{MappedAliasName, DataType?}]) or
    ``MetaData``/``MetaDataType`` comma-strings (the upstream-node form,
    reference ``:148-153``). Loading is lazy ``spark.read`` — the
    reference's eager per-part WebHDFS loop (and its last-part-wins bug)
    is replaced by one distributed multi-file scan per table.
    """
    specs = list(table_specs or [])
    if metadata_fetcher is not None:
        specs += list(metadata_fetcher())
    cat = Catalog(spark)
    for spec in specs:
        name = spec["TABLE_NAME"]
        schema = None
        if "ColumnList" in spec:
            schema = T.StructType(
                [
                    T.StructField(
                        c["MappedAliasName"].strip(),
                        _type_from_name(c.get("DataType", "string")),
                        True,
                    )
                    for c in spec["ColumnList"]
                ]
            )
        elif "MetaData" in spec:
            schema = schema_from_metadata(
                spec["MetaData"], spec.get("MetaDataType", "")
            )
        table_fmt = spec.get("Format", fmt)
        if "SplitData" in spec:
            # Split-dataset node output (e.g. train/test split): one catalog
            # entry per partition, keyed "{name}_{i}" (1-based) — reference
            # SplitData branch, R/DataFrameOperationR.R:144-168.
            for i, path in enumerate(spec["SplitData"], start=1):
                cat.load(f"{name}_{i}", path, fmt=table_fmt, schema=schema)
        else:
            cat.load(name, spec["DataLocation"], fmt=table_fmt, schema=schema)
    return cat


def latest_completed_output(
    job_status: "DataFrame", node_id: str
) -> str | None:
    """The reference's latest-completed-run resolution (A8+A10): from the
    orchestrator's JobsStatus records, keep ``Status == 2`` (success) for
    this node and take the LAST DataLocation — the positional pick at
    ``R/DataFrameOperationR.R:135-140`` made deterministic with an explicit
    order (the reference relied on REST response order)."""
    from pyspark.sql import functions as F

    order_col = (
        "JobId" if "JobId" in job_status.columns else F.monotonically_increasing_id()
    )
    rows = (
        job_status.filter(
            (F.col("Status") == 2)
            & (F.col("JobNodeID") == node_id)
            & (F.col("JobNodeID") != "0")
        )
        .withColumn("_ord", F.col(order_col) if isinstance(order_col, str) else order_col)
        .orderBy(F.col("_ord").desc())
        .select("DataLocation")
        .head(1)
    )
    return rows[0][0] if rows else None


def parse_graph_json(graph_json: str) -> dict[str, str]:
    """Experiment-DAG decode (A11): keep JointJS cells with
    ``type == 'devs.Model'`` and return the ``id -> NodeCaption`` map
    (reference ``R/DataFrameOperationR.R:109-123``). Driver-side: DAG
    metadata is orchestration, not data-plane."""
    cells = json.loads(graph_json).get("cells", [])
    return {
        c["id"]: c.get("NodeCaption", "")
        for c in cells
        if c.get("type") == "devs.Model" and "id" in c
    }


def final_output(
    df: DataFrame,
    output_root: str,
    job_reporter: Callable[[str, int], None] | None = None,
    write_pmml: bool = False,
    script: str = "",
    fmt: str = "csv",
) -> dict[str, str]:
    """Twin of ``FinalOutput`` (``R/DataFrameOperationR.R:226-323``): write
    the result table, emit the (MetaData, MetaDataType, locations) manifest,
    report job status.

    Output layout mirrors the reference: ``{root}/{uuid}/model/`` for data
    (the reference wrote one ``{uuid}.csv``; we keep the directory-of-parts
    convention — same consumer contract, reference ``:257``), plus
    ``{root}/{uuid}/pmml/`` when requested. CSV is headerless
    comma-separated overwrite (the reference accidentally wrote
    space-separated via ``write.table`` defaults, ``:280`` — intent
    implemented, not the bug). Status codes: 2=success, 3=failed
    (``:218-221``). A failed node deletes its whole ``{root}/{uuid}/``
    before reporting 3, so no partial output is left looking complete.
    """
    run_uuid = str(_uuid.uuid4())
    data_loc = os.path.join(output_root, run_uuid, "model")
    pmml_loc = os.path.join(output_root, run_uuid, "pmml") if write_pmml else ""
    try:
        writer = df.write.mode("overwrite")
        if fmt == "csv":
            writer = writer.option("header", "false")
        writer.format(fmt).save(data_loc)
        manifest = manifest_for(df, data_loc, model_location=data_loc, pmml_location=pmml_loc)
        if write_pmml:
            names, types = metadata_from_schema(df)
            pmml = generate_pmml(names, types, script)
            save_text_file(df.sparkSession, pmml, pmml_loc)
        if job_reporter is not None:
            job_reporter(_backtick_escape(json.dumps(manifest)), 2)
        return manifest
    except Exception:
        # The data and its _SUCCESS marker may already be written: remove
        # the whole run so a failed node leaves nothing that looks complete.
        # A failing delete must not mask the node's own error.
        spark = df.sparkSession
        with contextlib.suppress(Py4JError):
            run_dir = spark._jvm.org.apache.hadoop.fs.Path(os.path.join(output_root, run_uuid))
            run_dir.getFileSystem(spark._jsc.hadoopConfiguration()).delete(run_dir, True)
        if job_reporter is not None:
            job_reporter("", 3)
        raise


def update_job(
    post: Callable[[str, Mapping], object],
    service_url: str,
    task_uuid: str,
    experiment_id: str,
    node_id: str,
    data_location: str,
    status: int,
) -> object:
    """Twin of ``UpdateJob`` (``R/DataFrameOperationR.R:205-225``): POST the
    job status to the orchestrator. ``post`` is the HTTP function
    (``requests.post``-shaped), injected so tests need no network. The
    ``application_{uuid}`` job-id convention (YARN-style, reference
    ``:216``) is preserved."""
    payload = {
        "ParameterValue": {
            "ExperimentID": experiment_id,
            "JobID": f"application_{task_uuid}",
            "Status": status,
            "JobNodeID": node_id,
            "DataLocation": data_location,
        }
    }
    return post(f"{service_url.rstrip('/')}/Updatejob", payload)


def generate_pmml(metadata: str, metadata_type: str, script: str) -> str:
    """Twin of ``GeneratePmml`` (``R/DataFrameOperationR.R:324-386``): wrap
    a user script as a PMML 4.2 TransformationDictionary whose DefineFunction
    is the platform's ScriptExecutor applied to every input column.

    Reference bugs fixed: all FieldRefs are emitted (the reference's
    ``CreateApplyFunc`` returned inside its loop, ``:565-572``) and the
    DataDictionary built at ``:449-453`` is actually included in the
    document (the reference never appended it). Every field is written
    ``dataType="float"``, as the reference wrote it, so ``metadata_type``
    is not read."""
    names = [n.strip() for n in metadata.split(",") if n.strip()]
    fields = "\n".join(
        f'      <DataField name="{escape(n)}" optype="continuous" dataType="float"/>'
        for n in names
    )
    field_refs = "\n".join(
        f'          <FieldRef field="{escape(n)}"/>' for n in names
    )
    params = "\n".join(
        f'        <ParameterField name="{escape(n)}" optype="continuous" dataType="float"/>'
        for n in names
    )
    return f"""<?xml version="1.0" encoding="UTF-8"?>
<PMML version="4.2" xmlns="http://www.dmg.org/PMML-4_2">
  <Header copyright="ddataframeoperation_spark">
    <Application name="ddataframeoperation_spark" version="0.1.0"/>
  </Header>
  <DataDictionary numberOfFields="{len(names)}">
{fields}
  </DataDictionary>
  <TransformationDictionary>
    <DefineFunction name="pangeacommand.PythonEngine.ScriptExecutor.execute" optype="continuous" dataType="string">
{params}
        <Apply function="script">
          <Constant dataType="string">{escape(script)}</Constant>
{field_refs}
        </Apply>
    </DefineFunction>
  </TransformationDictionary>
</PMML>
"""


def save_text_file(spark: SparkSession, content: str, out_dir: str, name: str = "part-00000") -> str:
    """Twin of ``SaveFileToHdfs`` (``R/DataFrameOperationR.R:388-436``):
    persist a small text artifact as ``{out_dir}/part-00000``. Local and
    hdfs:// URIs both work via the JVM Hadoop FileSystem so no Python-side
    HDFS client is needed."""
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    conf = jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(os.path.join(out_dir, name))
    fs = path.getFileSystem(conf)
    out = fs.create(path, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()
    return os.path.join(out_dir, name)


class DataframeOpr:
    """Platform-twin facade with the reference's exact entry-point names
    (example script at ``R/DataFrameOperationR.R:328``:
    ``from DataFrameOperation import DataframeOpr``)."""

    PerformLoadData = staticmethod(perform_load_data)
    FinalOutput = staticmethod(final_output)
    UpdateJob = staticmethod(update_job)
    GeneratePmml = staticmethod(generate_pmml)
    SaveFileToHdfs = staticmethod(save_text_file)
