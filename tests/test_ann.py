"""ANN: LSH-bucketed top-k recall vs brute-force cosine."""

import pytest
from pyspark.sql import functions as F

from spel_spark.operators.ann import ann_lsh_topk, with_lsh_signature
from spel_spark.queries import q_ann_topk_cosine

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def vecs(spark):
    return (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .cache()
    )


def test_lsh_signature_deterministic(spark, vecs):
    a = {r.vec_id: r.lsh_sig for r in with_lsh_signature(vecs.limit(50), dim=64).collect()}
    b = {r.vec_id: r.lsh_sig for r in with_lsh_signature(vecs.limit(50), dim=64).collect()}
    assert a == b


def test_lsh_topk_recall_vs_brute_force(spark, vecs):
    brute = {
        (r.q_id, r.nbr_id)
        for r in q_ann_topk_cosine(spark, SF).collect()
    }
    queries = vecs.filter(F.col("vec_id") < 10)
    lsh = {
        (r.q_id, r.nbr_id)
        for r in ann_lsh_topk(vecs, queries, k=5, n_bits=16, bands=4, dim=64).collect()
    }
    recall = len(brute & lsh) / len(brute)
    assert recall >= 0.5, recall  # 4 bands x 4 bits on 64-dim embeddings


def test_lsh_band_join_carries_ids_only(spark, vecs):
    """Scale shape: the banded bucket join must not replicate vectors
    through the explode — vector columns may only be joined back AFTER
    the candidate dedup (verdict r2 finding #2).  Checkable plan fact:
    the distinct over candidates aggregates on id columns only (the old
    plan's distinct keys included q_id_v/nbr_id_v array payloads)."""
    import re

    from spel_spark.plans import physical_plan

    queries = vecs.filter(F.col("vec_id") < 10)
    plan = physical_plan(ann_lsh_topk(vecs, queries, k=5, dim=64))
    agg_keys = re.findall(r"HashAggregate\(keys=\[([^\]]*)\]", plan)
    assert agg_keys, plan  # the candidate dedup must exist
    for keys in agg_keys:
        assert "v#" not in keys, keys


def test_ivf_assign_covers_all_cells_used(spark, vecs):
    from spel_spark.operators.ann import ivf_assign, ivf_centroids

    cents = ivf_centroids(vecs, nlist=8, seed=42)
    assert len(cents) == 8
    assigned = ivf_assign(vecs, cents)
    cells = {r.cell for r in assigned.select("cell").distinct().collect()}
    assert cells <= set(range(8)) and len(cells) >= 2
    # deterministic
    cents2 = ivf_centroids(vecs, nlist=8, seed=42)
    assert cents == cents2


def test_ivf_topk_recall_vs_brute_force(spark, vecs):
    from spel_spark.operators.ann import ann_ivf_topk, ivf_centroids

    brute = {(r.q_id, r.nbr_id) for r in q_ann_topk_cosine(spark, SF).collect()}
    queries = vecs.filter(F.col("vec_id") < 10)
    cents = ivf_centroids(vecs, nlist=8, seed=42)
    ivf = {
        (r.q_id, r.nbr_id)
        for r in ann_ivf_topk(
            vecs, queries, k=5, nprobe=4, centroids=cents
        ).collect()
    }
    recall = len(brute & ivf) / len(brute)
    # probing half the cells of a trained quantizer should catch most
    assert recall >= 0.6, recall


def test_ivf_collapsed_cell_salted_and_exact(spark):
    """Skew gate for the IVF probe join (round-3 verdict #3): every corpus
    vector lands in ONE cell (near-duplicate-heavy corpus), which used to
    concentrate the probe equi-join on a single key carrying full vectors.
    The salted path must (a) still return the exact brute-force top-k —
    the probed cell holds the whole corpus — and (b) keep vector payloads
    out of the candidate-dedup aggregate (ids-only through the salt
    cells)."""
    import math
    import re

    from spel_spark.operators.ann import ann_ivf_topk
    from spel_spark.plans import physical_plan

    rows = [
        (i, [10.0, math.sin(i * 0.7), math.cos(i * 1.3), (i % 7) / 7.0])
        for i in range(120)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, v array<double>")
    queries = corpus.filter(F.col("vec_id") < 5)
    # centroid 0 dominates every dot product -> all vectors assign to cell 0
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 0.0, 0.0, 1.0]]
    df = ann_ivf_topk(corpus, queries, k=3, nprobe=1, centroids=cents)
    got = {(r.q_id, r.rk): r.nbr_id for r in df.collect()}

    def topk(q, qv, k=3):
        sims = []
        for i, v in rows:
            if i == q:
                continue
            dot = sum(a * b for a, b in zip(qv, v))
            na = math.sqrt(sum(a * a for a in qv))
            nb = math.sqrt(sum(b * b for b in v))
            sims.append((-(dot / (na * nb)), i))
        sims.sort()
        return [i for _, i in sims[:k]]

    for q, qv in rows[:5]:
        want = topk(q, qv)
        assert [got[(q, rk)] for rk in (1, 2, 3)] == want, (q, want)
    # plan fact: candidate dedup aggregates over id/salt keys, never vectors
    plan = physical_plan(df)
    agg_keys = re.findall(r"HashAggregate\(keys=\[([^\]]*)\]", plan)
    assert agg_keys, plan
    for keys in agg_keys:
        assert "v#" not in keys, keys


def test_ann_plan_build_runs_no_job_when_dim_given(spark, vecs):
    """Round-3 verdict #8: with ``dim`` supplied (and literal centroids),
    constructing the ANN plans must not trigger any Spark job — the old
    .first() dimensionality probes ran one small job per call.  Job-group
    tracking: any job started during plan construction would land in the
    marker group."""
    from spel_spark.operators.ann import ann_ivf_topk, ivf_centroids

    sc = spark.sparkContext
    queries = vecs.filter(F.col("vec_id") < 5)
    sc.setJobGroup("ann-plan-build", "must stay empty")
    try:
        ann_lsh_topk(vecs, queries, k=3, dim=64)
        cents = ivf_centroids(vecs, nlist=4, use_kmeans=False, dim=64)
        ann_ivf_topk(vecs, queries, k=3, centroids=cents, dim=64)
        jobs = sc.statusTracker().getJobIdsForGroup("ann-plan-build")
    finally:
        sc.setJobGroup("ann-plan-build-done", "reset")
    assert list(jobs) == [], jobs


def test_ivf_full_probe_equals_brute(spark, vecs):
    """nprobe == nlist degenerates to exact brute force — recall 1.0."""
    from spel_spark.operators.ann import ann_ivf_topk, ivf_centroids

    brute = {(r.q_id, r.nbr_id) for r in q_ann_topk_cosine(spark, SF).collect()}
    queries = vecs.filter(F.col("vec_id") < 10)
    cents = ivf_centroids(vecs, nlist=4, seed=42)
    ivf = {
        (r.q_id, r.nbr_id)
        for r in ann_ivf_topk(vecs, queries, k=5, nprobe=4, centroids=cents).collect()
    }
    assert ivf == brute


def test_missing_dim_raises_instead_of_probing(spark, vecs):
    """Round-4 verdict #7: the .first() dimensionality-probe fallback ran
    a hidden Spark job at plan-build time for bare calls — now a loud
    ValueError naming the fix."""
    from spel_spark.operators.ann import ivf_centroids

    with pytest.raises(ValueError, match="dim"):
        with_lsh_signature(vecs)
    with pytest.raises(ValueError, match="dim"):
        ann_lsh_topk(vecs, vecs.filter(F.col("vec_id") < 5), k=3)
    with pytest.raises(ValueError, match="dim"):
        ivf_centroids(vecs, nlist=4, use_kmeans=False)


def test_frozen_kmeans_centroids_match_training(spark):
    """Provenance guard for the shipped IVF model artifact: re-running
    the seeded pyspark.ml k-means fit on the training table reproduces
    the frozen literals (if a pyspark upgrade changes the fit, this fails
    and the artifact gets re-frozen).  Element-wise to 1e-12, not exact:
    the refit's floating-point sums depend on how rows split across
    tasks, so one core count can land one ulp away from another."""
    from spel_spark.operators.ann import ivf_centroids
    from spel_spark.operators.ivf_model import (
        KMEANS_CENTROIDS,
        KMEANS_NLIST,
        KMEANS_SEED,
        KMEANS_TRAIN_SF_DIR,
    )

    e = (
        spark.read.parquet(f"{KMEANS_TRAIN_SF_DIR}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    got = ivf_centroids(e, nlist=KMEANS_NLIST, seed=KMEANS_SEED)
    assert len(got) == len(KMEANS_CENTROIDS)
    for g, want in zip(got, KMEANS_CENTROIDS):
        assert len(g) == len(want)
        assert all(abs(x - y) <= 1e-12 for x, y in zip(g, want)), (g, want)
