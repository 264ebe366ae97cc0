"""Catalog behavior tests (registration, SQL visibility, caching, schema
from parquet footers)."""

from __future__ import annotations

import os
import re
import shutil
import uuid

import pytest

from ddataframeoperation_spark.catalog import (
    FIXTURE_TABLES,
    Catalog,
    _parquet_schema,
    load_fixture_tables,
)


def test_register_and_sql_visibility(spark, sf_dir):
    cat = load_fixture_tables(spark, sf_dir, tables=["region", "nation"])
    assert cat.names() == ["nation", "region"]
    assert spark.sql("SELECT count(*) AS n FROM region").head()["n"] == 5


def test_missing_table_names_available(spark):
    cat = Catalog(spark)
    with pytest.raises(KeyError) as e:
        cat.get("nope")
    assert "available" in str(e.value)


def test_cache_roundtrip(spark, sf_dir):
    cat = load_fixture_tables(spark, sf_dir, tables=["region"])
    df = cat.cache("region")
    assert df.count() == 5
    assert df.storageLevel.useMemory
    cat.uncache("region")
    assert not cat.get("region").storageLevel.useMemory


def _footer_and_inferred(spark, path):
    return _parquet_schema(spark, path), spark.read.parquet(path).schema


@pytest.mark.parametrize("table", FIXTURE_TABLES)
def test_footer_schema_matches_inference_single_file(spark, sf_dir, table):
    got, want = _footer_and_inferred(spark, f"{sf_dir}/{table}.parquet")
    assert got == want


def test_footer_schema_matches_inference_spark_directory(spark, tmp_path):
    out = str(tmp_path / "t.parquet")
    spark.range(20).selectExpr(
        "id", "cast(id AS string) AS s", "array(id, id + 1) AS a",
        "named_struct('x', id * 0.5) AS st", "timestamp_micros(id) AS ts",
    ).repartition(3).write.parquet(out)
    names = os.listdir(out)
    assert "_SUCCESS" in names and any(n.startswith(".") for n in names)
    got, want = _footer_and_inferred(spark, out)
    assert got == want


def test_footer_schema_ns_timestamp_surfaces_as_long(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "ns.parquet")
    pq.write_table(
        pa.table({
            "ts": pa.array([1_000_000_000, 2_000_000_000], pa.timestamp("ns")),
            "v": [1.0, 2.0],
        }),
        path,
    )
    got, want = _footer_and_inferred(spark, path)
    assert got == want
    assert got["ts"].dataType.simpleString() == "bigint"


def test_load_fixture_tables_starts_no_spark_job(spark, sf_dir, tmp_path):
    # A fresh copy misses the per-application memo, so every table's schema
    # is learned again; inference would start one Spark job per table.
    fresh = str(tmp_path / "sf")
    shutil.copytree(sf_dir, fresh)
    sc = spark.sparkContext
    group = f"catalog-load-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "load_fixture_tables")
    try:
        cat = load_fixture_tables(spark, fresh)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert cat.names() == sorted(FIXTURE_TABLES)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert cat["region"].count() == 5


def test_footer_schema_without_data_file_names_path(spark, tmp_path):
    empty = tmp_path / "empty.parquet"
    empty.mkdir()
    (empty / "_SUCCESS").write_text("")
    with pytest.raises(FileNotFoundError, match=re.escape(str(empty))):
        _parquet_schema(spark, str(empty))
