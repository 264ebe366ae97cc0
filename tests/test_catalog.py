"""Catalog behavior tests (registration, SQL visibility, caching, schema
from parquet footers)."""

from __future__ import annotations

import os
import re
import shutil

import pytest
from py4j.clientserver import ClientServerConnection

from ddataframeoperation_spark import catalog
from ddataframeoperation_spark.catalog import (
    FIXTURE_TABLES,
    Catalog,
    _parquet_schema,
    load_fixture_tables,
    read_fixture_table,
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


def _newest_job_id(sc):
    """Id of the newest job the status store knows (its job list is newest
    first), after every queued listener event is applied."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    return None if jobs.isEmpty() else jobs.head().jobId()


def test_newest_job_id_sees_a_job(spark):
    sc = spark.sparkContext
    before = _newest_job_id(sc)
    spark.range(3).count()
    assert _newest_job_id(sc) != before


def test_load_fixture_tables_starts_no_spark_job(spark, sf_dir, tmp_path):
    # A fresh copy misses the per-application memo, so every table's schema
    # is learned again; inference would start one Spark job per table. Jobs
    # are counted by id, not by job group: the pool threads that resolve the
    # tables do not inherit the caller's job group.
    fresh = str(tmp_path / "sf")
    shutil.copytree(sf_dir, fresh)
    sc = spark.sparkContext
    before = _newest_job_id(sc)
    cat = load_fixture_tables(spark, fresh)
    assert _newest_job_id(sc) == before
    assert cat.names() == sorted(FIXTURE_TABLES)
    assert cat["region"].count() == 5


def test_read_fixture_table_drops_other_applications(spark, sf_dir):
    stale = ("app-of-a-stopped-session", sf_dir, "region")
    catalog._FIXTURE_CACHE[stale] = object()
    read_fixture_table(spark, sf_dir, "region")
    assert stale not in catalog._FIXTURE_CACHE
    app = spark.sparkContext.applicationId
    assert {k[0] for k in catalog._FIXTURE_CACHE} == {app}


def test_load_fixture_tables_is_all_or_nothing(spark, sf_dir, tmp_path):
    load_fixture_tables(spark, sf_dir)  # every view exists before the attempt
    fresh = str(tmp_path / "sf")
    shutil.copytree(sf_dir, fresh)
    # The last table, so a table-by-table registration would have put a
    # view over every other table of the copy before failing.
    empty = os.path.join(fresh, f"{FIXTURE_TABLES[-1]}.parquet")
    os.remove(empty)
    os.mkdir(empty)
    open(os.path.join(empty, "_SUCCESS"), "w").close()
    with pytest.raises(FileNotFoundError, match=re.escape(empty)):
        load_fixture_tables(spark, fresh)
    for t in FIXTURE_TABLES:
        files = spark.table(t).inputFiles()
        assert files and not any(fresh in f for f in files), t


def test_load_fixture_tables_round_trip_census(spark, sf_dir, tmp_path, monkeypatch):
    """py4j commands one registration sends, garbage-collection (``m``)
    commands left out: their number follows Python's GC timing."""
    fresh = str(tmp_path / "sf")
    shutil.copytree(sf_dir, fresh)
    sent = []
    send = ClientServerConnection.send_command

    def counting(self, command):
        sent.append(command.split("\n", 1)[0])
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    load_fixture_tables(spark, fresh)
    monkeypatch.undo()
    # Resolving the footer classes on every call and walking each listing
    # element by element from Python sent 756 here (sf0.001 single files).
    # Now about 27 per table plus one auth command per pool thread: 272, or
    # 326 when this is the gateway's first footer read (class lookups).
    assert sum(c != "m" for c in sent) <= 350


def test_footer_schema_without_data_file_names_path(spark, tmp_path):
    empty = tmp_path / "empty.parquet"
    empty.mkdir()
    (empty / "_SUCCESS").write_text("")
    with pytest.raises(FileNotFoundError, match=re.escape(str(empty))):
        _parquet_schema(spark, str(empty))
