"""Session factory settings: what ``get_spark`` pins and why it matters."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from importlib.util import module_from_spec
from pathlib import Path

import pandas as pd
import pyspark.errors.utils as pyspark_error_utils
from pyspark.sql.functions import pandas_udf

from ddataframeoperation_spark import pydaemon, session
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


def test_python_workers_run_engine_daemon(spark):
    @pandas_udf("string")
    def worker_daemon(ids: pd.Series) -> pd.Series:
        import sys
        import zipimport

        main = sys.modules["__main__"]
        patched = zipimport.zipimporter.invalidate_caches is getattr(main, "invalidate_caches", None)
        return ids.map(lambda _: f"{main.__spec__.name} {patched}")

    [row] = spark.range(1, numPartitions=1).select(worker_daemon("id")).collect()
    name, patched = row[0].split()
    if sys.version_info < (3, 13):
        assert (name, patched) == ("ddataframeoperation_spark.pydaemon", "True")
    else:
        assert name == "pyspark.daemon"


def test_invalidate_caches_rereads_only_changed_archive(tmp_path, monkeypatch):
    archive = tmp_path / "lib.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zmod_a.py", "VALUE = 1\n")
    monkeypatch.setattr(zipimport, "_zip_directory_cache", {})
    monkeypatch.setattr(pydaemon, "_read_stamps", {})
    reads = []
    stock_read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda path: reads.append(path) or stock_read(path)
    )
    importer = zipimport.zipimporter(str(archive))
    assert len(reads) == 1

    pydaemon.invalidate_caches(importer)  # first call: no stamp yet
    assert len(reads) == 2
    for _ in range(3):
        pydaemon.invalidate_caches(importer)
    assert len(reads) == 2  # unchanged archive: not re-read

    with zipfile.ZipFile(archive, "a") as zf:
        zf.writestr("zmod_b.py", "VALUE = 2\n")
    pydaemon.invalidate_caches(importer)
    assert len(reads) == 3
    spec = importer.find_spec("zmod_b")
    module = module_from_spec(spec)
    spec.loader.exec_module(module)
    assert module.VALUE == 2


def test_python_udf_runs_with_cwd_outside_checkout(tmp_path):
    # The worker daemon lives in this package, so the workers must import
    # it even when neither the cwd nor PYTHONPATH holds the checkout.
    root = Path(session.__file__).resolve().parent.parent
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {str(root)!r})
        import pandas as pd
        from pyspark.sql.functions import pandas_udf
        from ddataframeoperation_spark.session import get_spark

        spark = get_spark("outside-checkout")

        @pandas_udf("long")
        def plus_one(ids: pd.Series) -> pd.Series:
            return ids + 1

        print(sorted(r[0] for r in spark.range(3, numPartitions=1).select(plus_one("id")).collect()))
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "1"
    done = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    assert done.stdout.strip().splitlines()[-1] == "[1, 2, 3]"
