"""Shared fixtures: one local SparkSession, one seeded corpus per session."""

from __future__ import annotations

import shutil

import pytest

from spel_spark.datagen import generate
from spel_spark.io import CheckpointStore
from spel_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    yield get_spark(app_name="spel_tests")


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
