"""Shared fixtures: one local SparkSession, one seeded corpus per session."""

from __future__ import annotations

import os
import shutil

import pytest

from spel_spark.datagen import generate
from spel_spark.io import CheckpointStore
from spel_spark.session import get_spark

# The suite's inputs are small (2k turns, sf0.001/sf0.01), but a lazily
# collected 32g heap lets the test JVM grow past the RAM of a 15 GB host
# and get OOM-killed mid-suite.  An explicit SPEL_DRIVER_MEM still wins.
os.environ.setdefault("SPEL_DRIVER_MEM", "6g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="spel_tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def corpus():
    return generate(seed=42, n_turns=2000)


@pytest.fixture(scope="session")
def transcripts_df(spark, corpus):
    from spel_spark.pipeline import load_transcripts_df

    return load_transcripts_df(spark, corpus).cache()


@pytest.fixture(scope="session")
def sf001_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture()
def store(spark, tmp_path):
    base = str(tmp_path / "ckpt")
    yield CheckpointStore(spark, base)
    shutil.rmtree(base, ignore_errors=True)
