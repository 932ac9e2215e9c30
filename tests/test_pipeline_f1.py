"""End-to-end: pairwise F1 >= 0.99 (the north-rule gate), score symmetry,
resume-from-checkpoint equality, lineage completeness."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

import spel_spark.io as sio
import spel_spark.pipeline as pl
from spel_spark.io import CheckpointStore, _read_marker, _write_marker
from spel_spark.operators.metrics import (
    pairwise_f1_by_block,
    pairwise_micro_f1,
    resolve_labeled_pairs,
)
from spel_spark.operators.scoring import score_pairs
from spel_spark.pipeline import STAGES, PipelineConfig, run_pipeline
from spel_spark.streaming.incremental import read_clusters


@pytest.fixture(scope="module")
def pipeline_out(spark, corpus, transcripts_df, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("ckpt_e2e"))
    store = CheckpointStore(spark, base)
    redirects = spark.createDataFrame(corpus.redirects)
    clusters = run_pipeline(spark, transcripts_df, store, redirects=redirects)
    return store, clusters


def test_pairwise_f1_meets_north_rule(spark, corpus, pipeline_out):
    _, clusters = pipeline_out
    labeled = spark.createDataFrame(corpus.labeled_pairs)
    row = pairwise_micro_f1(resolve_labeled_pairs(labeled, clusters)).collect()[0]
    assert row.precision >= 0.99, row
    assert row.recall >= 0.99, row
    assert row.f1 >= 0.99, row


def test_per_block_f1(spark, corpus, pipeline_out):
    _, clusters = pipeline_out
    labeled = spark.createDataFrame(corpus.labeled_pairs)
    per = pairwise_f1_by_block(resolve_labeled_pairs(labeled, clusters))
    has_pos = (F.col("tp") + F.col("fn")) > 0
    # blocks with gold positives: no catastrophic block; negative-only
    # blocks (near-miss families): zero false positives
    bad = per.filter(
        (has_pos & (F.col("n_pairs") >= 50) & (F.col("f1") < 0.9))
        | (~has_pos & (F.col("fp") > 0))
    )
    assert bad.count() == 0, bad.collect()


def _stage_dirs(store):
    """stage -> (committed fingerprint, mtime of its directory)."""
    marker = _read_marker(store.base_dir)
    return {
        s: (fp, os.stat(os.path.join(store.base_dir, s, fp)).st_mtime_ns)
        for s, fp in marker.items()
    }


def _pairs(df):
    return {(r.mention_id, r.cluster_id) for r in df.collect()}


def test_resume_reuses_checkpoints(spark, corpus, transcripts_df, pipeline_out):
    """Second run over a committed store must reuse every stage and produce
    identical clusters (reference analogue: continue_from_previous_checkpoint,
    src/spel/finetune_step_1.py:65-66)."""
    store, clusters = pipeline_out
    before = _stage_dirs(store)
    assert set(before) == set(STAGES)
    redirects = spark.createDataFrame(corpus.redirects)
    again = run_pipeline(spark, transcripts_df, store, redirects=redirects)
    assert _pairs(clusters) == _pairs(again)
    assert _stage_dirs(store) == before


def test_resume_after_partial_failure(spark, corpus, transcripts_df, pipeline_out):
    """Simulate a crash before the tail stages committed: drop them from
    the manifest, rerun, verify identical output and that early stages
    were NOT recomputed (same fingerprint, directory mtime unchanged)."""
    store, clusters = pipeline_out
    a = _pairs(clusters)  # before the tail stages are uncommitted
    before = _stage_dirs(store)
    marker = _read_marker(store.base_dir)
    _write_marker(
        store.base_dir,
        {s: fp for s, fp in marker.items() if s not in ("edges", "clusters")},
    )
    redirects = spark.createDataFrame(corpus.redirects)
    again = run_pipeline(spark, transcripts_df, store, redirects=redirects)
    assert _stage_dirs(store)["mentions"] == before["mentions"]
    assert _pairs(again) == a


def test_stale_config_resume_recomputes(
    spark, corpus, transcripts_df, pipeline_out, tmp_path
):
    """A store committed at threshold 0.60, resumed at 0.99, must give the
    clusters of a resume=False run at 0.99: mentions..scores are reused
    untouched, edges and clusters are recomputed."""
    store, _ = pipeline_out
    base = str(tmp_path / "stale")
    shutil.copytree(store.base_dir, base)
    stale = CheckpointStore(spark, base)
    before = _stage_dirs(stale)
    redirects = spark.createDataFrame(corpus.redirects)
    strict = PipelineConfig(threshold=0.99)
    resumed = _pairs(run_pipeline(
        spark, transcripts_df, stale, redirects=redirects, config=strict
    ))
    fresh = _pairs(run_pipeline(
        spark, transcripts_df, CheckpointStore(spark, str(tmp_path / "fresh")),
        redirects=redirects, config=strict, resume=False,
    ))
    assert resumed == fresh
    after = _stage_dirs(stale)
    for s in ("mentions", "surfaces", "blocks", "pairs", "scores"):
        assert after[s] == before[s], s
    for s in ("edges", "clusters"):
        assert after[s][0] != before[s][0], s


def test_kill_mid_stage_resume(
    spark, corpus, transcripts_df, pipeline_out, tmp_path, monkeypatch
):
    """A run killed in the edges stage resumes to the clusters of an
    uninterrupted run without rewriting the stages that committed, and
    never serves the uncommitted edges directory the kill left behind."""
    uninterrupted = pipeline_out[0].read("clusters")  # an earlier test rewrote it
    store = CheckpointStore(spark, str(tmp_path / "killed"))
    redirects = spark.createDataFrame(corpus.redirects)
    real_edges, real_write_marker = pl.threshold_edges, sio._write_marker

    # kill 1: the edges build raises after scores committed
    def boom(*args, **kwargs):
        raise RuntimeError("killed while building edges")

    monkeypatch.setattr(pl, "threshold_edges", boom)
    with pytest.raises(RuntimeError, match="killed"):
        run_pipeline(spark, transcripts_df, store, redirects=redirects)
    before = _stage_dirs(store)
    assert set(before) == {"mentions", "surfaces", "blocks", "pairs", "scores"}

    # kill 2: wrong edges (threshold 0.0) land on disk, then the
    # process dies before the manifest swap commits them
    monkeypatch.setattr(pl, "threshold_edges", lambda scores, t: real_edges(scores, 0.0))

    def die_on_edges_commit(state_dir, marker):
        if "edges" in marker:
            raise RuntimeError("killed before commit")
        real_write_marker(state_dir, marker)

    monkeypatch.setattr(sio, "_write_marker", die_on_edges_commit)
    with pytest.raises(RuntimeError, match="killed"):
        run_pipeline(spark, transcripts_df, store, redirects=redirects)
    orphans = os.listdir(os.path.join(store.base_dir, "edges"))
    assert len(orphans) == 1
    assert store.committed("edges") is None

    monkeypatch.undo()
    resumed = run_pipeline(spark, transcripts_df, store, redirects=redirects)
    assert _pairs(resumed) == _pairs(uninterrupted)
    after = _stage_dirs(store)
    for s, v in before.items():
        assert after[s] == v, s
    assert after["edges"][0] == orphans[0]  # same fingerprint, rewritten


def test_corrupt_manifest_raises(spark, corpus, transcripts_df, tmp_path):
    """A corrupt batch-store _LATEST raises the ValueError incremental ER
    raises for its own corrupt manifest; a committed stage whose directory
    is gone raises too."""
    for d in ("batch", "incremental"):
        os.makedirs(tmp_path / d)
        (tmp_path / d / "_LATEST").write_text('{"mentions": "ab')
    store = CheckpointStore(spark, str(tmp_path / "batch"))
    with pytest.raises(ValueError, match="corrupt _LATEST manifest"):
        run_pipeline(spark, transcripts_df, store)
    with pytest.raises(ValueError, match="corrupt _LATEST manifest"):
        read_clusters(spark, str(tmp_path / "incremental"))

    store = CheckpointStore(spark, str(tmp_path / "missing"))
    store.write(transcripts_df.limit(3), "transcripts", "fp0")
    shutil.rmtree(tmp_path / "missing" / "transcripts" / "fp0")
    with pytest.raises(ValueError, match="directory is missing"):
        store.read("transcripts")


def test_lineage_written_per_stage(pipeline_out):
    store, _ = pipeline_out
    stages = {r.stage for r in store.read_lineage().select("stage").distinct().collect()}
    for s in STAGES:
        assert s in stages, s


def test_score_symmetry(spark, pipeline_out):
    """s(a,b) == s(b,a): swap the surface columns and rescore."""
    store, _ = pipeline_out
    pairs = store.read("pairs").limit(200)
    fwd = score_pairs(pairs).select("a_id", "b_id", "score")
    swapped = pairs.select(
        "a_id", "b_id",
        F.col("b_norm").alias("a_norm"), F.col("a_norm").alias("b_norm"),
        "block_key",
    )
    rev = score_pairs(swapped).select("a_id", "b_id", F.col("score").alias("score_rev"))
    j = fwd.join(rev, ["a_id", "b_id"])
    bad = j.filter(F.abs(F.col("score") - F.col("score_rev")) > 1e-9)
    assert bad.count() == 0


def test_clusters_cover_all_mentions(spark, pipeline_out):
    store, _ = pipeline_out
    clusters = store.read("clusters")  # re-read: prior test rewrote the stage
    assert clusters.count() == store.read("mentions").count()
    assert clusters.filter(F.col("cluster_id").isNull()).count() == 0
