"""Incremental streaming ER (streaming/incremental.py): appending turns
through the delta-bipartite merge must yield EXACTLY the clusters of a
full batch recompute — same mention_id -> cluster_id mapping — and a
retried epoch must be a no-op (effectively-once state commits)."""

from spel_spark.operators.mentions import (
    extract_mentions,
    with_mention_id,
    with_norm_surface,
)
from spel_spark.pipeline import PipelineConfig, run_pipeline
from spel_spark.streaming.incremental import (
    merge_batch,
    read_clusters,
    start_incremental_er,
)

SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def _mentions(spark, pdf):
    return with_mention_id(
        with_norm_surface(extract_mentions(spark.createDataFrame(pdf, schema=SCHEMA)))
    )


def _held(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _cluster_map(df):
    return {r.mention_id: r.cluster_id
            for r in df.select("mention_id", "cluster_id").collect()}


def _batch_clusters(spark, pdf):
    # exact_pairs: the incremental path generates ALL pairs sharing a
    # block key (delta-bipartite union over epochs), i.e. the exact-pair
    # semantics; anchor sparsification is a batch-mode optimization
    return run_pipeline(
        spark,
        spark.createDataFrame(pdf, schema=SCHEMA),
        store=None,
        config=PipelineConfig(exact_pairs=True),
    )


def test_incremental_merge_equals_batch(spark, corpus, tmp_path):
    state = str(tmp_path / "state")
    pdf = corpus.transcripts.head(1000)
    merge_batch(spark, _mentions(spark, pdf.iloc[:600]), state, epoch=0)
    final = merge_batch(spark, _mentions(spark, pdf.iloc[600:]), state, epoch=1)
    want = _cluster_map(_batch_clusters(spark, pdf))
    assert _cluster_map(final) == want
    # the committed snapshot is the same assignment
    assert _cluster_map(read_clusters(spark, state)) == want


def test_incremental_epoch_retry_is_idempotent(spark, corpus, tmp_path):
    """foreachBatch is at-least-once: re-running an epoch (executor loss
    after a partial state write) must reproduce identical state, because
    every input of epoch e is filtered to epoch < e."""
    state = str(tmp_path / "state_retry")
    pdf = corpus.transcripts.head(400)
    merge_batch(spark, _mentions(spark, pdf.iloc[:250]), state, epoch=0)
    b2 = _mentions(spark, pdf.iloc[250:])
    first = _cluster_map(merge_batch(spark, b2, state, epoch=1))
    retried = _cluster_map(merge_batch(spark, b2, state, epoch=1))
    assert first == retried
    assert _cluster_map(read_clusters(spark, state)) == first


def test_corrupt_state_fails_batch_instead_of_resetting(spark, corpus, tmp_path):
    """A state table that EXISTS but cannot be read must raise (so the
    streaming checkpoint retries the batch) — mapping it to 'no state'
    would silently drop this epoch's new-vs-old pairs forever.  The failed
    epoch still releases what it cached."""
    import pytest

    state = str(tmp_path / "state_bad")
    pdf = corpus.transcripts.head(200)
    merge_batch(spark, _mentions(spark, pdf.iloc[:100]), state, epoch=0)
    # replace the blocks table with an unreadable non-parquet file
    import shutil

    shutil.rmtree(f"{state}/blocks")
    with open(f"{state}/blocks", "w") as f:
        f.write("not parquet")
    before = _held(spark)
    with pytest.raises(Exception):
        merge_batch(spark, _mentions(spark, pdf.iloc[100:]), state, epoch=1)
    assert _held(spark) - before == set()


def test_streaming_incremental_er_matches_batch(spark, corpus, tmp_path):
    """End-to-end through foreachBatch: two availableNow drains sharing a
    checkpoint (two separate epochs — one drain would coalesce the files
    into a single batch) == one batch recompute."""
    src = str(tmp_path / "src")
    state = str(tmp_path / "state_stream")
    ckpt = str(tmp_path / "ckpt")
    pdf = corpus.transcripts.head(600)
    spark.createDataFrame(pdf.iloc[:400], schema=SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q = start_incremental_er(spark, src, state, ckpt)
    q.awaitTermination(180)
    spark.createDataFrame(pdf.iloc[400:], schema=SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q = start_incremental_er(spark, src, state, ckpt)
    q.awaitTermination(180)
    got = _cluster_map(read_clusters(spark, state))
    assert got == _cluster_map(_batch_clusters(spark, pdf))


# --- round 5: O(delta) assignment, manifest, retention, compaction ---------

import json
import os

from spel_spark.io import _read_marker


def _epoch_dirs(path):
    if not os.path.isdir(path):
        return []
    return sorted(
        int(e.split("=", 1)[1]) for e in os.listdir(path) if e.startswith("epoch=")
    )


def test_clusters_write_is_a_delta(spark, corpus, tmp_path):
    """Epoch e's clusters partition must contain ONLY this batch's
    mentions plus prior mentions whose cluster id changed — not a full
    snapshot rewrite (the r4 O(total) anti-pattern)."""
    state = str(tmp_path / "state_delta")
    pdf = corpus.transcripts.head(1000)
    after0 = _cluster_map(merge_batch(spark, _mentions(spark, pdf.iloc[:600]), state, epoch=0))
    batch1 = _mentions(spark, pdf.iloc[600:])
    final = _cluster_map(merge_batch(spark, batch1, state, epoch=1))
    batch1_ids = {r.mention_id for r in batch1.select("mention_id").collect()}
    # expected delta = new mentions + prior mentions whose assignment changed
    expected = batch1_ids | {
        m for m, c in final.items() if m in after0 and after0[m] != c
    }
    delta = spark.read.parquet(f"{state}/clusters/epoch=1")
    got = {r.mention_id for r in delta.select("mention_id").collect()}
    assert got == expected
    assert len(got) < len(final)  # genuinely smaller than the snapshot


def test_manifest_tracks_commits_and_retry(spark, corpus, tmp_path):
    state = str(tmp_path / "state_marker")
    pdf = corpus.transcripts.head(400)
    merge_batch(spark, _mentions(spark, pdf.iloc[:200]), state, epoch=0)
    m0 = _read_marker(state)
    assert m0 == {
        "epoch": 0, "committed": True, "prev_epoch": None,
        "cluster_epochs": [0], "prev_cluster_epochs": [],
    }
    b1 = _mentions(spark, pdf.iloc[200:])
    merge_batch(spark, b1, state, epoch=1)
    m1 = _read_marker(state)
    assert m1["epoch"] == 1 and m1["committed"]
    assert m1["prev_epoch"] == 0 and m1["cluster_epochs"] == [0, 1]
    # retry of the last epoch replays against the SAME inputs and commits
    # an identical manifest
    merge_batch(spark, b1, state, epoch=1)
    assert _read_marker(state) == m1


def test_epoch_regression_raises(spark, corpus, tmp_path):
    """A lost/reset streaming checkpoint restarts epochs at 0 — merging
    an older epoch into newer state must fail loudly, not clobber."""
    import pytest

    state = str(tmp_path / "state_reg")
    pdf = corpus.transcripts.head(300)
    merge_batch(spark, _mentions(spark, pdf.iloc[:150]), state, epoch=0)
    merge_batch(spark, _mentions(spark, pdf.iloc[150:]), state, epoch=1)
    with pytest.raises(ValueError, match="checkpoint was reset"):
        merge_batch(spark, _mentions(spark, pdf.iloc[:150]), state, epoch=0)


def test_manifestless_state_dir_raises(spark, corpus, tmp_path):
    import pytest

    state = str(tmp_path / "state_noman")
    pdf = corpus.transcripts.head(200)
    merge_batch(spark, _mentions(spark, pdf.iloc[:100]), state, epoch=0)
    os.remove(os.path.join(state, "_LATEST"))
    with pytest.raises(ValueError, match="no _LATEST manifest"):
        merge_batch(spark, _mentions(spark, pdf.iloc[100:]), state, epoch=1)


def test_missing_partition_raises(spark, corpus, tmp_path):
    """A partition the manifest references but that was deleted is
    corruption: the merge and the reader raise instead of serving the
    state without it."""
    import shutil

    import pytest

    pdf = corpus.transcripts.head(200)
    state = str(tmp_path / "state_nosurf")
    merge_batch(spark, _mentions(spark, pdf.iloc[:100]), state, epoch=0)
    shutil.rmtree(f"{state}/surfaces/epoch=0")
    with pytest.raises(ValueError, match="partition is missing"):
        merge_batch(spark, _mentions(spark, pdf.iloc[100:]), state, epoch=1)

    state = str(tmp_path / "state_nocl")
    merge_batch(spark, _mentions(spark, pdf.iloc[:100]), state, epoch=0)
    merge_batch(spark, _mentions(spark, pdf.iloc[100:]), state, epoch=1)
    assert _read_marker(state)["cluster_epochs"] == [0, 1]
    shutil.rmtree(f"{state}/clusters/epoch=0")
    with pytest.raises(ValueError, match="partition is missing"):
        read_clusters(spark, state)


def test_cli_reports_only_missing_state_as_no_data(
    spark, corpus, tmp_path, monkeypatch, capsys
):
    """``spel_spark incremental`` with nothing to drain: a virgin state dir
    prints "no data processed" and exits 0; a corrupt manifest or a
    deleted clusters partition raises (a non-zero exit)."""
    import shutil

    import pytest

    from spel_spark import cli

    monkeypatch.setattr("spel_spark.session.get_spark", lambda **kw: spark)
    src = str(tmp_path / "src")
    os.makedirs(src)

    def run(state):
        return cli.main(["incremental", "--input", src, "--state", state])

    assert run(str(tmp_path / "virgin")) == 0
    assert "no data processed" in capsys.readouterr().out

    corrupt = str(tmp_path / "corrupt")
    os.makedirs(corrupt)
    with open(os.path.join(corrupt, "_LATEST"), "w") as f:
        f.write("{not json")
    with pytest.raises(ValueError, match="corrupt _LATEST"):
        run(corrupt)

    lost = str(tmp_path / "lost")
    merge_batch(spark, _mentions(spark, corpus.transcripts.head(100)), lost, epoch=0)
    shutil.rmtree(f"{lost}/clusters/epoch=0")
    with pytest.raises(ValueError, match="partition is missing"):
        run(lost)


def test_retention_bounds_state_and_compaction_preserves_equality(
    spark, corpus, tmp_path
):
    """Many epochs with compact_every=3: snapshot tables keep only
    {prev, current}, clusters partitions stay bounded, and the resolved
    view still equals the batch recompute bit-for-bit."""
    state = str(tmp_path / "state_ret")
    pdf = corpus.transcripts.head(900)
    n = 6
    step = len(pdf) // n
    final = None
    for e in range(n):
        chunk = pdf.iloc[e * step : (e + 1) * step] if e < n - 1 else pdf.iloc[e * step :]
        final = merge_batch(
            spark, _mentions(spark, chunk), state, epoch=e, compact_every=3
        )
        if e == 3:
            # epoch 3 compacts: its retry rewrites the full-snapshot
            # partition from the same inputs, to the same view
            first = (_cluster_map(final), _read_marker(state))
            final = merge_batch(
                spark, _mentions(spark, chunk), state, epoch=e, compact_every=3
            )
            assert (_cluster_map(final), _read_marker(state)) == first
            assert first[1]["cluster_epochs"] == [3]
    # compaction leaves no tmp or staging dirs behind
    assert all(d.startswith("epoch=") for d in os.listdir(f"{state}/clusters"))
    for tbl in ("surfaces", "components", "surf_clusters"):
        assert _epoch_dirs(f"{state}/{tbl}") == [4, 5], tbl
    # compact_every=3 -> full snapshots at epochs 3 (deltas 0-2 + 3) then
    # deltas after; retention keeps current view + previous view's parts
    assert len(_epoch_dirs(f"{state}/clusters")) <= 4
    want = _cluster_map(_batch_clusters(spark, pdf))
    assert _cluster_map(final) == want
    assert _cluster_map(read_clusters(spark, state)) == want
    # append logs are retained in full (pair-induction inputs + audit)
    assert _epoch_dirs(f"{state}/mentions") == list(range(n))
    # retry of the last epoch after retention still replays deterministically
    last_chunk = pdf.iloc[(n - 1) * step :]
    retried = merge_batch(
        spark, _mentions(spark, last_chunk), state, epoch=n - 1, compact_every=3
    )
    assert _cluster_map(retried) == want


def test_incremental_soak_50_epochs_state_plateaus(spark, corpus, tmp_path):
    """Long-run soak (r5 verdict #4): 50 epochs with compact_every=8.
    The snapshot/cluster state must stay bounded (byte size plateaus
    instead of growing with epoch count), a retry at epoch 50 after many
    retention cycles must still replay deterministically, and the
    resolved view must equal the batch recompute exactly."""
    import os

    def _du(path):
        total = 0
        for dirpath, _dirs, files in os.walk(path):
            for fn in files:
                total += os.path.getsize(os.path.join(dirpath, fn))
        return total

    state = str(tmp_path / "state_soak")
    pdf = corpus.transcripts.head(1500)
    n = 50
    step = len(pdf) // n
    sizes = []
    final = None
    for e in range(n):
        chunk = (
            pdf.iloc[e * step : (e + 1) * step] if e < n - 1 else pdf.iloc[e * step :]
        )
        final = merge_batch(
            spark, _mentions(spark, chunk), state, epoch=e, compact_every=8
        )
        sizes.append(
            sum(_du(f"{state}/{t}") for t in ("surfaces", "components",
                                              "surf_clusters", "clusters"))
        )
    # plateau: after the corpus is fully absorbed, bounded state must not
    # keep growing — the mean size of the last 10 epochs stays within 40%
    # of the mean of epochs 25-40 (both after several compaction cycles)
    mid = sum(sizes[25:40]) / 15
    tail = sum(sizes[-10:]) / 10
    assert tail <= mid * 1.4, (mid, tail, sizes[-15:])
    # snapshot retention held through every cycle: only {prev, current}
    for tbl in ("surfaces", "components", "surf_clusters"):
        assert _epoch_dirs(f"{state}/{tbl}") == [n - 2, n - 1], tbl
    # clusters fan-in bounded by compact_every (+ prev view retention)
    assert len(_epoch_dirs(f"{state}/clusters")) <= 2 * 8 + 2
    want = _cluster_map(_batch_clusters(spark, pdf))
    assert _cluster_map(final) == want
    assert _cluster_map(read_clusters(spark, state)) == want
    # retry of the final epoch after 6 compaction + retention cycles
    retried = merge_batch(
        spark, _mentions(spark, pdf.iloc[(n - 1) * step :]), state,
        epoch=n - 1, compact_every=8,
    )
    assert _cluster_map(retried) == want


def test_incremental_lineage_rows(spark, corpus, tmp_path):
    """North rule: per-partition lineage rows + score histograms, one set
    per epoch per stage."""
    state = str(tmp_path / "state_lin")
    pdf = corpus.transcripts.head(400)
    merge_batch(spark, _mentions(spark, pdf.iloc[:200]), state, epoch=0)
    merge_batch(spark, _mentions(spark, pdf.iloc[200:]), state, epoch=1)
    lin = spark.read.parquet(f"{state}/_lineage")
    rows = lin.collect()
    stages = {(r.stage, json.loads(r.extra)["epoch"]) for r in rows}
    for e in (0, 1):
        for st in ("inc_mentions", "inc_new_blocks", "inc_edges", "inc_clusters_delta"):
            assert (st, e) in stages, (st, e)
    hist = [r for r in rows if r.stage == "inc_edges" and len(r.score_histogram) > 0]
    assert hist and any(sum(r.score_histogram) > 0 for r in hist)


def test_read_paths_run_no_job_at_plan_time(spark, corpus, tmp_path):
    """O(1) manifest lookup: building the read_clusters plan (and the
    state-input plans of a merge) must not trigger the old agg(max)
    full-table scan — no Spark job may start before an action."""
    state = str(tmp_path / "state_nojob")
    pdf = corpus.transcripts.head(300)
    merge_batch(spark, _mentions(spark, pdf.iloc[:150]), state, epoch=0)
    merge_batch(spark, _mentions(spark, pdf.iloc[150:]), state, epoch=1)
    sc = spark.sparkContext
    sc.setJobGroup("inc-read-plan", "must stay empty")
    try:
        df = read_clusters(spark, state)
        df.explain()  # plan construction + physical planning, no action
        jobs = sc.statusTracker().getJobIdsForGroup("inc-read-plan")
    finally:
        sc.setJobGroup("inc-read-plan-done", "reset")
    assert list(jobs) == [], jobs


def test_lineage_retry_does_not_duplicate_rows(spark, corpus, tmp_path):
    """State commits are effectively-once; the audit log must be too — a
    retried epoch replaces its own lineage partition instead of
    appending a duplicate set of rows."""
    state = str(tmp_path / "state_lin_retry")
    pdf = corpus.transcripts.head(300)
    merge_batch(spark, _mentions(spark, pdf.iloc[:150]), state, epoch=0)
    b1 = _mentions(spark, pdf.iloc[150:])
    merge_batch(spark, b1, state, epoch=1)
    first = sorted(
        (r.stage, r.epoch, r.partition_id, r.rows)
        for r in spark.read.parquet(f"{state}/_lineage").collect()
    )
    merge_batch(spark, b1, state, epoch=1)  # retry
    retried = sorted(
        (r.stage, r.epoch, r.partition_id, r.rows)
        for r in spark.read.parquet(f"{state}/_lineage").collect()
    )
    assert retried == first


def test_merge_batch_leaves_no_persisted_rdds(spark, corpus, tmp_path):
    """merge_batch unpersists everything it persists: no RDD persisted
    during an epoch is still held after it.  Compared as id sets, not
    sizes: RDDs that earlier tests left behind may be released by Spark's
    cleaner while an epoch runs.  A batch the caller cached stays cached:
    merge_batch releases only what it cached itself."""
    state = str(tmp_path / "state_cache")
    pdf = corpus.transcripts.head(400)

    for epoch, part in enumerate((pdf.iloc[:100], pdf.iloc[100:200], pdf.iloc[200:300])):
        before = _held(spark)
        merge_batch(spark, _mentions(spark, part), state, epoch=epoch)
        assert _held(spark) - before == set(), epoch
    mine = _mentions(spark, pdf.iloc[300:]).cache()
    mine.count()
    before = _held(spark)
    merge_batch(spark, mine, state, epoch=3)
    assert _held(spark) - before == set()
    assert mine.storageLevel.useMemory
    mine.unpersist()
