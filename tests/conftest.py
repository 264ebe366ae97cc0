"""Shared pytest fixtures: one SparkSession per test session."""

from __future__ import annotations

import contextlib
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from ddataframeoperation_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def reliable_checkpoints(spark, tmp_path):
    """A context manager: inside it the SparkContext checkpoints reliably
    under ``tmp_path / "ckpt"`` (what ``spark.checkpoint.dir`` sets in a
    deployment); on leaving it the context has no checkpoint directory
    again, so other tests keep the ``localCheckpoint`` default."""

    @contextlib.contextmanager
    def _reliable():
        sc = spark.sparkContext
        sc.setCheckpointDir(str(tmp_path / "ckpt"))
        try:
            yield tmp_path / "ckpt"
        finally:
            getattr(sc._jsc.sc(), "checkpointDir_$eq")(
                sc._jvm.scala.Option.apply(None)
            )

    return _reliable
