"""Driver contract for the spark-graft builder (PySpark target).

``entry``: flagship near-duplicate document clustering (MinHash-LSH ->
Jaccard verify -> connected components) on sf0.001.

``queries``/``oracle_sql``: one entry per implemented operator from
SURVEY.md §2 — relational core (aggs, windows, gaps-and-islands, top-k,
sessionization), record-linkage kernels (normalizer, blocking, pair
self-join, Jaccard/Levenshtein scoring, threshold edges, micro-F1,
portable md5 MinHash + LSH bands), and training-data-pipeline ops
(exact/ngram/embedding dedup, ANN top-k, text stats, language heuristic,
fingerprinting).  xxhash64-based internals (SimHash, engine LSH, full ER
pipeline, Jaro-Winkler) have no DuckDB twin and are exported rows-only,
as is ``ep1_flagship`` — the reference's composed batch-evaluation
lifecycle over the real AIDA testc gold.  The SAME composed lifecycle is
oracle-checked end to end as ``ep1_flagship_portable`` (builtin corpus,
md5-seeded corruption, full stage-by-stage DuckDB twin), the COMPLETE
record-linkage chain as ``er_clusters_portable`` (blocking -> salted
pairs -> blended scoring -> CC -> assignment), the SimHash dedup chain
as ``simhash_dedup_portable``, and the IVF ANN path as ``ann_ivf_topk``
(literal centroids) plus ``ann_ivf_kmeans`` (the k-means-trained
quantizer frozen as a shipped model artifact — operators/ivf_model.py —
so both engines score identical literals).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spel_spark.queries import CATALOG  # noqa: E402
from spel_spark.session import ship_package  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    ship_package(spark)
    from spel_spark.operators.dedup import cluster_documents

    return cluster_documents(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# rows-only extras (non-SQL-expressible: iterative CC, xxhash64, pandas UDF)
# ---------------------------------------------------------------------------

def _q_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from spel_spark.operators.dedup import simhash64, simhash_candidate_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simhash_candidate_pairs(simhash64(docs), max_hamming=8).orderBy(
        "a_id", "b_id"
    )


def _q_minhash_doc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spel_spark.operators.dedup import cluster_documents

    return cluster_documents(spark, sf_dir)


def _q_er_f1_synthetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full ER pipeline on the seeded synthetic transcript corpus (sf_dir is
    ignored — the corpus is generator-defined per FIXTURES.md) -> one row of
    pairwise micro P/R/F1.  The north-rule gate: expect F1 >= 0.99."""
    from spel_spark.datagen import generate
    from spel_spark.operators.metrics import pairwise_micro_f1, resolve_labeled_pairs
    from spel_spark.pipeline import load_transcripts_df, run_pipeline

    corpus = generate(seed=42, n_turns=2000)
    tdf = load_transcripts_df(spark, corpus)
    clusters = run_pipeline(
        spark, tdf, store=None, redirects=spark.createDataFrame(corpus.redirects)
    )
    labeled = spark.createDataFrame(corpus.labeled_pairs)
    return pairwise_micro_f1(resolve_labeled_pairs(labeled, clusters))


def _q_pairs_engine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spel_spark.queries import q_pairs_engine

    return q_pairs_engine(spark, sf_dir)


def _q_pair_scores_engine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spel_spark.queries import q_pair_scores_engine

    return q_pair_scores_engine(spark, sf_dir)


def _q_dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spel_spark.queries import q_dedup_minhash_pairs

    return q_dedup_minhash_pairs(spark, sf_dir)


def _q_ep1_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP1: the reference's full batch-evaluation lifecycle composed as one
    DAG (parse NIF gold -> punct_tokenize -> synthesized subword top-k ->
    resolve_words -> phrases -> re-segmenting span alignment -> MD/EL
    micro P/R/F1; ref src/spel/evaluate_local.py:79-109).  Gold-vs-gold:
    every F1 column must be 1.0.  Rows-only (NIF parse + window cascade
    have no SQL twin); sf_dir is ignored — the input is the real
    aida_testc.ttl gold (or the deterministic built-in fallback corpus)."""
    from spel_spark.operators.evaluation import ep1_evaluate

    return ep1_evaluate(spark)


_ROWS_ONLY: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "simhash_dedup": _q_simhash_dedup,
    "minhash_doc_clusters": _q_minhash_doc_clusters,
    "er_f1_synthetic": _q_er_f1_synthetic,
    "pairs_engine": _q_pairs_engine,
    "pair_scores_engine": _q_pair_scores_engine,
    "dedup_minhash_pairs": _q_dedup_minhash_pairs,
    "ep1_flagship": _q_ep1_flagship,
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            ship_package(spark)
            return fn(spark, sf_dir)

        return run

    for name, (fn, _sql) in CATALOG.items():
        out[name] = wrap(fn)
    for name, fn in _ROWS_ONLY.items():
        out[name] = wrap(fn)
    return out


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_fn, sql) in CATALOG.items() if sql is not None}
