"""Schema metadata round-trip (B28) and reference-surface compat layer."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import types as T

from ddataframeoperation_spark import compat
from ddataframeoperation_spark.functions.schema import (
    manifest_for,
    metadata_from_schema,
    schema_from_metadata,
)


def test_schema_from_metadata_vocab():
    st = schema_from_metadata("a, b, c, d", "integer, character, double, logical")
    assert [f.dataType for f in st.fields] == [
        T.IntegerType(),
        T.StringType(),
        T.DoubleType(),
        T.BooleanType(),
    ]
    assert [f.name for f in st.fields] == ["a", "b", "c", "d"]


def test_metadata_roundtrip(spark):
    df = spark.createDataFrame([(1, "x", 2.0)], "a int, b string, c double")
    names, types = metadata_from_schema(df)
    assert names == "a, b, c" and types == "int, string, double"
    st = schema_from_metadata(names, types)
    assert st == df.schema


def test_unknown_type_falls_back_to_string():
    st = schema_from_metadata("a", "wibble")
    assert st.fields[0].dataType == T.StringType()


def test_final_output_csv_and_manifest(spark, tmp_path):
    df = spark.createDataFrame([(1, "x"), (2, "y")], "id int, name string")
    statuses = []
    manifest = compat.final_output(
        df,
        str(tmp_path),
        job_reporter=lambda loc, status: statuses.append(status),
        write_pmml=True,
        script="out = dfs['t']",
    )
    assert statuses == [2]
    assert manifest["MetaData"] == "id, name"
    assert manifest["MetaDataType"] == "int, string"
    # Data directory holds comma-separated headerless CSV (intent of A20).
    files = glob.glob(os.path.join(manifest["DataLocation"], "part-*"))
    assert files
    content = "".join(open(f).read() for f in files)
    assert "1,x" in content and "2,y" in content
    # PMML exists and includes every FieldRef + the DataDictionary (A24 fixed).
    pmml = open(os.path.join(manifest["PMMLLocation"], "part-00000")).read()
    assert pmml.count("<FieldRef") == 2
    assert "<DataDictionary" in pmml


def test_final_output_failed_pmml_leaves_no_run_dir(spark, tmp_path, monkeypatch):
    # The data and its _SUCCESS marker are written before the PMML: a failed
    # PMML write must not leave that data behind looking like a finished run.
    def broken_save(*args, **kwargs):
        raise OSError("pmml store down")

    monkeypatch.setattr(compat, "save_text_file", broken_save)
    df = spark.createDataFrame([(1, "x")], "id int, name string")
    posts = []
    with pytest.raises(OSError, match="pmml store down"):
        compat.final_output(
            df,
            str(tmp_path),
            job_reporter=lambda loc, status: posts.append(status),
            write_pmml=True,
        )
    assert posts == [3]
    assert os.listdir(tmp_path) == []


def test_perform_load_data_catalog(spark, sf_dir):
    cat = compat.perform_load_data(
        spark,
        table_specs=[
            {
                "TABLE_NAME": "cust",
                "DataLocation": f"{sf_dir}/customer.parquet",
            }
        ],
    )
    assert "cust" in cat
    assert cat["cust"].count() > 0
    assert spark.table("cust").columns == cat["cust"].columns


def test_parse_action_xml():
    xml = """<Action>
      <UUID>u-123</UUID><ExperimentId>e-9</ExperimentId>
      <NodeId>n-4</NodeId><ServiceUrl>http://svc</ServiceUrl>
      <Property Name='ApplyTransformationTo'><![CDATA[out = dfs['t']]]></Property>
    </Action>"""
    got = compat.parse_action_xml(xml)
    assert got == {
        "uuid": "u-123",
        "experiment_id": "e-9",
        "node_id": "n-4",
        "service_url": "http://svc",
        "script": "out = dfs['t']",
    }


def test_split_data_catalog_entries(spark, sf_dir, tmp_path):
    src = spark.createDataFrame([(1,), (2,), (3,), (4,)], "x int")
    train, test = src.randomSplit([0.5, 0.5], seed=7)
    p1, p2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    train.write.parquet(p1)
    test.write.parquet(p2)
    cat = compat.perform_load_data(
        spark,
        table_specs=[
            {"TABLE_NAME": "Split", "SplitData": [p1, p2]},
        ],
    )
    assert "Split_1" in cat and "Split_2" in cat
    assert cat["Split_1"].count() + cat["Split_2"].count() == 4


def test_latest_completed_output(spark):
    rows = [
        ("1", 2, "n1", "/run1"),
        ("2", 3, "n1", "/failed"),
        ("3", 2, "n1", "/run3"),
        ("4", 2, "n2", "/other"),
        ("5", 2, "0", "/zero"),
    ]
    js = spark.createDataFrame(
        rows, "JobId string, Status int, JobNodeID string, DataLocation string"
    )
    assert compat.latest_completed_output(js, "n1") == "/run3"
    assert compat.latest_completed_output(js, "missing") is None


def test_parse_graph_json():
    gj = """{"cells": [
      {"type": "devs.Model", "id": "a", "NodeCaption": "Load"},
      {"type": "link", "id": "x"},
      {"type": "devs.Model", "id": "b", "NodeCaption": "Split"}
    ]}"""
    assert compat.parse_graph_json(gj) == {"a": "Load", "b": "Split"}


def test_update_job_payload():
    calls = []
    compat.update_job(
        lambda url, payload: calls.append((url, payload)),
        "http://svc/",
        "abc",
        "exp1",
        "n1",
        "/out",
        2,
    )
    (url, payload), = calls
    assert url == "http://svc/Updatejob"
    assert payload["ParameterValue"]["JobID"] == "application_abc"
    assert payload["ParameterValue"]["Status"] == 2
