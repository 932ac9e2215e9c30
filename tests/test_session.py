"""get_spark derives its execution settings from the host, and defers to
spark-submit.  Each case runs in a fresh process: a live JVM keeps the
master and heap it started with."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyspark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROBE = f"""
import json, sys
sys.path.insert(0, {ROOT!r})
from spel_spark.session import get_spark
s = get_spark()
print(json.dumps({{
    "master": s.sparkContext.master,
    "partitions": int(s.conf.get("spark.sql.shuffle.partitions")),
    "heap": s.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory(),
}}))
s.stop()
"""


def _probe(tmp_path, env: dict, launcher: list[str]) -> dict:
    script = tmp_path / "probe.py"
    script.write_text(PROBE)
    base = {
        k: v
        for k, v in os.environ.items()
        if k not in ("SPARK_GRAFT_CPUS", "SPEL_DRIVER_MEM", "PYSPARK_GATEWAY_PORT")
    }
    out = subprocess.run(
        [*launcher, str(script)],
        env={**base, **env},
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_local_defaults_fit_the_host(tmp_path):
    got = _probe(tmp_path, {}, [sys.executable])
    cores = len(os.sched_getaffinity(0))
    assert got["master"] == f"local[{cores}]"
    assert got["partitions"] == cores
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    assert abs(got["heap"] / phys - 0.6) < 0.005  # the JVM rounds to its regions


def test_deployment_overrides(tmp_path):
    env = {"SPARK_GRAFT_CPUS": "3", "SPEL_DRIVER_MEM": "2g"}
    got = _probe(tmp_path, env, [sys.executable])
    assert got == {"master": "local[3]", "partitions": 3, "heap": 2 * 2**30}


def test_spark_submit_owns_the_master(tmp_path):
    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    got = _probe(tmp_path, {"SPARK_GRAFT_CPUS": "3"}, [submit, "--master", "local[2]"])
    assert got["master"] == "local[2]"
