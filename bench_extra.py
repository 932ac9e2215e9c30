"""Per-stage isolation bench (guide §1.4): times each hot query and its
internal stages with the noop sink, labelled jobs, and optional explain
capture.  NOT the driver contract — bench.py stays frozen; numbers from
here are cited in OPTIMIZATION_r06.md.

Usage:
  python bench_extra.py stages          # minhash pipeline stage isolation
  python bench_extra.py queries [names] # standalone per-query walls (N reps)
  python bench_extra.py plans           # write plans/r06/<q>_{before,after}.txt
"""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = int(os.environ.get("SPEL_EXTRA_REPS", "3"))

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _spark():
    from spel_spark.session import get_spark, warm_python_workers

    spark = get_spark(app_name="spel_bench_extra")
    warm_python_workers(spark)
    return spark


def _timed(spark, label, build, reps=REPS):
    walls = []
    for _ in range(reps):
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(label)
        t0 = time.time()
        _noop(build())
        walls.append(round(time.time() - t0, 3))
    spark.sparkContext.setJobDescription(None)
    print(json.dumps({"label": label, "walls": sorted(walls)}), flush=True)
    return min(walls)


def run_stages():
    """Isolate the stages of the minhash dedup flow + doc_clusters + er."""
    from pyspark.sql import functions as F

    import spel_spark.queries as Q
    from spel_spark.operators.dedup import (
        _sig_bands,
        _word_minhash_sig,
        minhash_near_dup_pairs,
    )

    spark = _spark()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    print("n_docs:", docs.count(), "n_partitions:", docs.rdd.getNumPartitions())

    _timed(spark, "sig_only", lambda: _word_minhash_sig(docs, "doc_id", "text", 32))
    _timed(
        spark,
        "bands_only",
        lambda: _sig_bands(_word_minhash_sig(docs, "doc_id", "text", 32), "doc_id", 32, 8),
    )

    def tok_table():
        return docs.select(
            "doc_id",
            F.array_sort(
                F.array_distinct(
                    F.transform(
                        F.filter(F.split("text", " "), lambda x: F.length(x) > 0),
                        lambda x: F.xxhash64(x),
                    )
                )
            ).alias("toks"),
        )

    _timed(spark, "tok_table_only", tok_table)

    def cands_predistinct():
        from spel_spark.operators.blocking import salted_id_pairs

        sig = _word_minhash_sig(docs, "doc_id", "text", 32)
        t = tok_table().withColumn("n_toks", F.size("toks"))
        bands_df = _sig_bands(sig, "doc_id", 32, 8).join(
            t.select("doc_id", "n_toks"), "doc_id"
        )
        len_ok = F.least("a_n_toks", "b_n_toks") >= F.lit(0.8) * F.greatest(
            "a_n_toks", "b_n_toks"
        )
        # default-mode dedup of the candidates, ids only
        return salted_id_pairs(
            bands_df, id_col="doc_id", key_col="band", carry=("n_toks",), pair_filter=len_ok
        ).select("a_id", "b_id")

    _timed(spark, "cands_distinct", cands_predistinct)
    _timed(spark, "full_minhash_pairs", lambda: minhash_near_dup_pairs(docs))

    # counts for context (untimed)
    spark.catalog.clearCache()
    n_c = cands_predistinct().count()
    full = minhash_near_dup_pairs(docs)
    n_f = full.count()
    print(json.dumps({"n_candidates_distinct": n_c, "n_final_pairs": n_f}), flush=True)
    spark.stop()


QUERY_NAMES = [
    "tpch_q1", "pairs_engine", "pair_scores_engine", "minhash_signature",
    "dedup_minhash_pairs", "dedup_embedding_cosine", "ann_topk_cosine",
    "text_stats", "doc_fingerprint", "simhash_dedup", "doc_clusters",
    "er_pipeline_20k",
]


def _headline_builders(spark):
    import spel_spark.queries as Q
    from spel_spark.operators.dedup import (
        cluster_documents,
        simhash64,
        simhash_candidate_pairs,
    )

    return {
        "tpch_q1": lambda: Q.q_tpch_q1(spark, SF_DIR),
        "pairs_engine": lambda: Q.q_pairs_engine(spark, SF_DIR),
        "pair_scores_engine": lambda: Q.q_pair_scores_engine(spark, SF_DIR),
        "minhash_signature": lambda: Q.q_minhash_signature(spark, SF_DIR),
        "dedup_minhash_pairs": lambda: Q.q_dedup_minhash_pairs(spark, SF_DIR),
        "dedup_embedding_cosine": lambda: Q.q_dedup_embedding_cosine(spark, SF_DIR),
        "ann_topk_cosine": lambda: Q.q_ann_topk_cosine(spark, SF_DIR),
        "text_stats": lambda: Q.q_text_stats(spark, SF_DIR),
        "doc_fingerprint": lambda: Q.q_doc_fingerprint(spark, SF_DIR),
        "simhash_dedup": lambda: simhash_candidate_pairs(
            simhash64(spark.read.parquet(f"{SF_DIR}/documents.parquet"))
        ),
        "doc_clusters": lambda: cluster_documents(spark, SF_DIR),
        "er_pipeline_20k": lambda: _er_pipeline(spark),
    }


def _er_pipeline(spark):
    import bench

    bench._er_prepare(spark, 20000)
    return bench._er_pipeline(spark, 20000)


def run_queries(names):
    spark = _spark()
    builders = _headline_builders(spark)
    total = 0.0
    for name in names or QUERY_NAMES:
        total += _timed(spark, name, builders[name])
    print(json.dumps({"total_min": round(total, 3)}), flush=True)
    spark.stop()


def run_plans(names, suffix):
    out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r06")
    os.makedirs(out_dir, exist_ok=True)
    spark = _spark()
    builders = _headline_builders(spark)
    for name in names or QUERY_NAMES:
        df = builders[name]()
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print("wrote", path, flush=True)
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    rest = [a for a in sys.argv[2:] if not a.startswith("--")]
    if mode == "stages":
        run_stages()
    elif mode == "plans":
        suffix = "after" if "--after" in sys.argv else "before"
        run_plans(rest, suffix)
    else:
        run_queries(rest)
