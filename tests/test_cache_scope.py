"""One cache lifecycle: the function that runs the actions releases what it
cached.  Each flow must leave the set of persisted RDD ids as it found it
(ids, not sizes: RDDs that earlier tests left behind may be released by
Spark's cleaner while a flow runs), and only ``session.persist`` and
``session.cache_scope`` may touch the cache."""

from __future__ import annotations

import ast
import os

import pytest

from spel_spark.io import CheckpointStore
from spel_spark.operators.clustering import connected_components
from spel_spark.operators.dedup import (
    cluster_documents,
    minhash_near_dup_pairs,
    simhash64,
    simhash_candidate_pairs,
)
from spel_spark.operators.evaluation import ep1_evaluate
from spel_spark.operators.metrics import pairwise_micro_f1, resolve_labeled_pairs
from spel_spark.pipeline import load_transcripts_df, run_pipeline
from spel_spark.session import cache_scope

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _held(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _docs(spark, sf):
    return spark.read.parquet(f"{sf}/documents.parquet")


def _durable_pipeline(spark, corpus, tmp_path, sf):
    store = CheckpointStore(spark, str(tmp_path / "ckpt"))
    run_pipeline(spark, load_transcripts_df(spark, corpus), store,
                 redirects=spark.createDataFrame(corpus.redirects))


def _connected_components(spark, corpus, tmp_path, sf):
    edges = spark.range(200).selectExpr("id AS a_id", "(id * 7) % 200 AS b_id")
    connected_components(edges)


def _ephemeral_f1(spark, corpus, tmp_path, sf):
    clusters = run_pipeline(spark, load_transcripts_df(spark, corpus), store=None,
                            redirects=spark.createDataFrame(corpus.redirects))
    labeled = spark.createDataFrame(corpus.labeled_pairs)
    return pairwise_micro_f1(resolve_labeled_pairs(labeled, clusters))


# called bare: the function runs its own actions, so it owns its caches
BARE = {
    "run_pipeline_durable": _durable_pipeline,
    "cluster_documents": lambda spark, corpus, tmp_path, sf: cluster_documents(spark, sf),
    "connected_components": _connected_components,
}
# lazy plans: the scope around the caller's action releases their caches
SCOPED = {
    "run_pipeline_ephemeral_f1": _ephemeral_f1,
    "minhash_near_dup_pairs": lambda spark, corpus, tmp_path, sf: minhash_near_dup_pairs(
        _docs(spark, sf)
    ),
    "simhash_candidate_pairs": lambda spark, corpus, tmp_path, sf: simhash_candidate_pairs(
        simhash64(_docs(spark, sf))
    ),
    "ep1_evaluate": lambda spark, corpus, tmp_path, sf: ep1_evaluate(
        spark, ttl_path="/nonexistent/gold.ttl"
    ),
}


@pytest.mark.parametrize("flow", [*BARE, *SCOPED])
def test_flow_leaves_no_persisted_rdds(spark, corpus, tmp_path, sf001_dir, flow):
    before = _held(spark)
    if flow in BARE:
        BARE[flow](spark, corpus, tmp_path, sf001_dir)
    else:
        with cache_scope():
            SCOPED[flow](spark, corpus, tmp_path, sf001_dir).collect()
            assert _held(spark) - before, "the flow cached nothing: the test is vacuous"
    assert _held(spark) - before == set()


def test_only_the_helper_touches_the_cache():
    """Spark-free AST scan: no ``.persist(``, ``.cache()`` or ``.unpersist(``
    call in the package outside ``session.persist``/``session.cache_scope``."""
    hits = []
    for d, _dirs, files in os.walk(os.path.join(ROOT, "spel_spark")):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(d, fn), ROOT)
            with open(os.path.join(ROOT, rel)) as f:
                tree = ast.parse(f.read(), filename=rel)
            allowed = set()
            if rel == os.path.join("spel_spark", "session.py"):
                for node in tree.body:
                    if getattr(node, "name", None) in ("persist", "cache_scope"):
                        allowed |= {id(n) for n in ast.walk(node)}
            hits += [
                f"{rel}:{n.lineno}"
                for n in ast.walk(tree)
                if isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr in ("persist", "cache", "unpersist")
                and id(n) not in allowed
            ]
    assert not hits, f"cache calls outside session.persist/cache_scope: {hits}"
