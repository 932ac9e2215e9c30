"""Incremental streaming entity resolution: merge new turns into the
existing clustering instead of recomputing the world.

This is the operational 100-TB mode of the ER flow (the reference's
analogue is one-document-at-a-time serving behind a lock,
src/gerbil_connect/server.py:88-151): a trillion-turn corpus is clustered
ONCE in batch, then each arriving micro-batch only pays for what it adds —

* pair generation is DELTA-BIPARTITE: surfaces first seen in this batch
  join against the full block index (new x all, skew-salted ids-only via
  blocking.salted_bipartite_id_pairs, deduplicated once as canonical
  unordered pairs); old x old pairs were generated when their newer
  member first arrived, so the union over epochs is EXACTLY
  the batch pair set (every unordered pair materializes at the epoch its
  later member appears — an induction the equality test pins);
* connected components runs on the STAR-CONTRACTED graph: previous
  (node -> component) assignments re-enter as edges, so CC converges in
  O(1) delta rounds instead of O(log n) full rounds — component labels
  stay min-node ids, since a star's label is itself a member;
* cluster assignment is O(delta): each epoch's ``surface_clusters``
  mapping (tiny — distinct surfaces) is DIFFED against the previous
  epoch's, and only (a) this batch's mentions and (b) prior mentions of
  surfaces whose cluster id actually changed are re-assigned and emitted
  as a clusters DELTA partition.  The full assignment is the
  latest-epoch-wins resolution over delta partitions; every
  ``compact_every`` epochs the resolution is materialized as a single
  full-snapshot partition and the superseded deltas are pruned, so reads
  stay O(1 snapshot + few deltas) instead of O(epochs);
* the mention instance table is touched append-only.

State layout under ``state_dir`` (all parquet; every write lands in an
``epoch=<id>`` partition with dynamic partition overwrite — a RETRIED
epoch replaces its own partition and reads only what the ``_LATEST``
manifest references, so foreachBatch's at-least-once becomes
effectively-once, same discipline as ingest.start_mention_ingest):

  mentions/       append    per-mention rows of each batch
  blocks/         append    block keys of surfaces FIRST SEEN in the epoch
  edges/          append    match edges (+ blended score) of the epoch
  surfaces/       snapshot  merged (norm_surface, n_mentions, min_mention_id)
  components/     snapshot  (node, component) — star edges of the next epoch
  surf_clusters/  snapshot  (norm_surface -> cluster_id) — the diff basis
  clusters/       delta     changed/new mention->cluster rows per epoch
  _lineage/       per-epoch per-partition lineage rows (epoch-partitioned
                  dynamic overwrite — a retried epoch replaces its own
                  audit rows, keeping the log effectively-once too)
  _LATEST         manifest  JSON commit record (written by io._write_marker)

The ``_LATEST`` manifest is the commit point and the O(1) answer to
"what is the current state" — the moral equivalent of an Iceberg
metadata-pointer swap, and the same commit protocol the batch
CheckpointStore uses.  It records which snapshot epoch and which
clusters partitions are live, plus the same for the PREVIOUS commit so a
retried epoch replays against exactly the inputs its first attempt saw
even after retention has pruned everything older.  Fields:

  epoch               id of the epoch this manifest belongs to
  committed           False between merge start and commit (a reader
                      seeing False serves the PREVIOUS consistent view)
  prev_epoch          snapshot epoch that was the input to ``epoch``
  cluster_epochs      clusters partitions composing the current view
  prev_cluster_epochs clusters partitions composing the previous view
                      (retry inputs — retained until the NEXT commit)

Snapshot tables keep only the {previous, current} epochs; clusters keeps
only the partitions the current+previous manifests reference — state size
is bounded regardless of epoch count.

Production deployment would keep these as Iceberg tables (MERGE INTO for
the snapshots, snapshot expiry for retention, RewriteDataFiles for
compaction); plain epoch-partitioned parquet + the manifest file keeps
the same commit semantics without the catalog dependency.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spel_spark.io import _MARKER, CheckpointStore, _read_marker, _write_marker
from spel_spark.operators.blocking import (
    blocking_keys,
    salted_bipartite_id_pairs,
    surface_nodes,
)
from spel_spark.operators.clustering import (
    assign_mentions,
    connected_components,
    surface_clusters,
)
from spel_spark.operators.scoring import DEFAULT_THRESHOLD, score_pairs, threshold_edges


def _path(state_dir: str, name: str) -> str:
    return f"{state_dir}/{name}"


def _write_epoch(df: DataFrame, path: str, epoch: int) -> None:
    (
        df.withColumn("epoch", F.lit(int(epoch)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch")
        .parquet(path)
    )
    # a zero-row epoch writes NO partition dir under dynamic overwrite,
    # which would make "legitimately empty" indistinguishable from
    # "partition pruned/deleted behind the manifest's back".  Creating the
    # (possibly empty) partition dir pins the invariant the read guards
    # rely on: a manifest-referenced partition that is MISSING is always
    # corruption (local-FS form, like _prune_epochs; on an object store
    # this is a zero-byte marker object).
    os.makedirs(os.path.join(path, f"epoch={int(epoch)}"), exist_ok=True)


def _with_epoch(schema) -> "object":
    from pyspark.sql.types import IntegerType, StructType

    full = StructType(list(schema.fields))
    return full.add("epoch", IntegerType())


def _read_state(spark: SparkSession, path: str, schema) -> DataFrame | None:
    """Read a state table with its EXPLICIT schema (+ the epoch partition
    column).  Explicit schemas matter twice: an epoch that produced zero
    rows leaves a file-less partition dir that schema inference cannot
    read, and inference would make 'empty' indistinguishable from
    'broken'.

    ONLY the path-missing case maps to None: any other failure (transient
    IO, corrupt footer — these surface at action time under an explicit
    schema) must FAIL the batch so the streaming checkpoint retries it —
    treating it as empty state would silently drop every new-vs-old pair
    of this epoch, and since a pair is only generated at the epoch its
    later member first arrives, the edges would be missing forever
    after."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.schema(_with_epoch(schema)).parquet(path)
    except AnalysisException as exc:
        if "PATH_NOT_FOUND" in str(exc) or "Path does not exist" in str(exc):
            return None
        raise


def _read_prev(
    spark: SparkSession, path: str, epoch: int, schema
) -> DataFrame | None:
    """All rows committed by epochs < ``epoch`` (None when the table does
    not exist yet).  Excluding the current epoch makes a retried epoch
    deterministic: its own partial partition is never an input."""
    df = _read_state(spark, path, schema)
    return None if df is None else df.filter(F.col("epoch") < epoch)


def _read_snapshot(
    spark: SparkSession, path: str, epoch: int | None, schema
) -> DataFrame | None:
    """The snapshot partition of exactly ``epoch`` — an O(1)
    partition-pruned scan driven by the manifest, never an agg(max) over
    all epochs.  Returns None only when the manifest says there is no
    previous epoch; a manifest-referenced partition that is MISSING
    raises (someone pruned state the manifest still references —
    proceeding as 'empty' would silently drop every previously known
    surface/component)."""
    if epoch is None:
        return None
    df = _read_state(spark, path, schema)
    if df is None:
        raise ValueError(
            f"state manifest references epoch {epoch} of {path!r} but the "
            "table does not exist — state dir corrupted or partially deleted"
        )
    # the table dir existing is not enough: a pruned/deleted epoch=<N>
    # partition under a surviving dir would otherwise filter to an EMPTY
    # frame and silently drop every previously known surface/component —
    # exactly the corruption mode this guard documents
    _assert_epoch_partition(path, int(epoch))
    return df.filter(F.col("epoch") == int(epoch)).drop("epoch")


def _assert_epoch_partition(path: str, epoch: int) -> None:
    if not os.path.isdir(os.path.join(path, f"epoch={int(epoch)}")):
        raise ValueError(
            f"state manifest references epoch {epoch} of {path!r} but that "
            "partition is missing — state dir corrupted or partially deleted"
        )


def _epoch_inputs(marker: dict | None, state_dir: str, epoch: int) -> tuple:
    """Resolve (prev_epoch, prev_cluster_epochs) for merging ``epoch``,
    enforcing the epoch-monotonicity contract.

    The guard exists because foreachBatch epoch ids restart at 0 when the
    STREAMING CHECKPOINT is lost or replaced while --state is kept: epoch
    0 would then dynamic-overwrite its own old partition while later
    partitions survive, and readers would silently serve a chimera of old
    and new runs.  Refusing loudly is the only safe answer — the caller
    must either restore the original checkpoint or start a fresh state
    dir."""
    if marker is None:
        # Virgin dir — but only if it really is virgin: a state dir with
        # tables and no manifest is a pre-manifest layout or a deleted
        # manifest, and guessing its epochs would corrupt it.
        if os.path.exists(os.path.join(state_dir, "surfaces")):
            raise ValueError(
                f"state dir {state_dir!r} has tables but no {_MARKER} "
                "manifest — refusing to merge into state of unknown epoch "
                "lineage (pre-manifest layout or deleted manifest)"
            )
        return None, []
    if epoch == marker["epoch"]:
        # retry of the in-flight/last epoch: replay against exactly the
        # inputs the first attempt saw
        return marker.get("prev_epoch"), list(marker.get("prev_cluster_epochs", []))
    if epoch < marker["epoch"]:
        raise ValueError(
            f"incoming epoch {epoch} < last state epoch {marker['epoch']} "
            f"in {state_dir!r}: the streaming checkpoint was reset while "
            "the state dir was kept; merging would silently mix two runs. "
            "Restore the original checkpoint or use a fresh --state dir."
        )
    if not marker.get("committed", True):
        raise ValueError(
            f"epoch {marker['epoch']} in {state_dir!r} never committed but "
            f"epoch {epoch} is arriving — the stream advanced past a "
            "failed batch; state would be missing that epoch's pairs forever"
        )
    if epoch > marker["epoch"] + 1:
        # foreachBatch ids are contiguous within one checkpoint lineage:
        # a forward gap means this state dir was paired with a DIFFERENT,
        # further-advanced streaming checkpoint — merging would silently
        # skip the missing epochs' pairs (mirror of the reset guard above)
        raise ValueError(
            f"incoming epoch {epoch} skips ahead of last state epoch "
            f"{marker['epoch']} in {state_dir!r}: batch ids are contiguous "
            "within one checkpoint lineage, so the state dir is paired "
            "with a different checkpoint; the skipped epochs' pairs would "
            "be silently lost.  Use the state dir's own checkpoint or a "
            "fresh --state dir."
        )
    return marker["epoch"], list(marker.get("cluster_epochs", []))


def _prune_epochs(path: str, keep: set[int]) -> None:
    """Delete epoch partitions not referenced by the manifest (retention).
    Local-filesystem implementation (the sandbox case); on an object
    store/Iceberg this is snapshot expiry.  Pruning runs AFTER the commit
    manifest swap, so a crash mid-prune leaves only orphan partitions
    that no manifest references — readers partition-prune past them and
    the next commit's pass removes them."""
    if not os.path.isdir(path):
        return
    for entry in os.listdir(path):
        if not entry.startswith("epoch="):
            continue
        try:
            ep = int(entry.split("=", 1)[1])
        except ValueError:
            continue
        if ep not in keep:
            shutil.rmtree(os.path.join(path, entry), ignore_errors=True)


# fixed state-table schemas (epoch partition column added at read time)
SURFACES_SCHEMA = "norm_surface string, n_mentions bigint, min_mention_id bigint"
BLOCKS_SCHEMA = "surface_id bigint, norm_surface string, block_key string"
EDGES_SCHEMA = "a_id bigint, b_id bigint, score double"
COMPONENTS_SCHEMA = "node bigint, component bigint"
SURF_CLUSTERS_SCHEMA = "norm_surface string, cluster_id bigint"
CLUSTERS_SCHEMA = (
    "mention_id bigint, conv_id string, turn_idx int, begin_char int, "
    "end_char int, surface string, norm_surface string, cluster_id bigint"
)
_CLUSTER_PAYLOAD = [
    "conv_id", "turn_idx", "begin_char", "end_char",
    "surface", "norm_surface", "cluster_id",
]


def _st(ddl: str):
    from pyspark.sql.types import StructType

    return StructType.fromDDL(ddl)


def _resolve_clusters(
    spark: SparkSession, state_dir: str, epochs: list[int]
) -> DataFrame:
    """Latest-epoch-wins resolution of the clusters delta partitions.

    A mention's row is re-emitted only at epochs where its cluster id
    changed, so the max-epoch row per mention_id IS the current
    assignment.  Single-partition fast path (the post-compaction common
    case): a straight scan, zero shuffles."""
    df = _read_state(spark, _path(state_dir, "clusters"), _st(CLUSTERS_SCHEMA))
    if df is None:
        raise ValueError(f"no clusters state under {state_dir!r}")
    # same missing-partition guard as _read_snapshot: a manifest-referenced
    # delta partition that was pruned must raise, not resolve to a view
    # that silently lost those mentions' assignments
    for e in epochs:
        _assert_epoch_partition(_path(state_dir, "clusters"), int(e))
    df = df.filter(F.col("epoch").isin([int(e) for e in epochs]))
    if len(epochs) == 1:
        return df.drop("epoch")
    return (
        df.groupBy("mention_id")
        .agg(F.max_by(F.struct(*_CLUSTER_PAYLOAD), F.col("epoch")).alias("_s"))
        .select("mention_id", "_s.*")
    )


def merge_batch(
    spark: SparkSession,
    batch_mentions: DataFrame,
    state_dir: str,
    epoch: int,
    threshold: float = DEFAULT_THRESHOLD,
    compact_every: int = 8,
) -> DataFrame:
    """Merge one micro-batch of extracted mentions into the state and
    return the (lazily) resolved full clusters DataFrame.

    LIFETIME of the returned frame: it is a lazy view over this epoch's
    clusters delta partitions, which a LATER epoch's retention may prune
    (one commit after the next compaction).  Consume it before calling
    merge_batch again, or decouple it from the files first
    (``df.localCheckpoint()`` / persist+materialize) — holding the raw
    frame across subsequent merges can raise FileNotFoundException at
    action time.

    ``batch_mentions`` must carry (conv_id, turn_idx, begin_char,
    end_char, surface, norm_surface, mention_id) — i.e. the output of
    streaming_mentions / the batch mention chain.  mention_id is a
    deterministic hash of the natural key, so incremental and batch runs
    assign IDENTICAL cluster ids (the equality test's invariant).

    Per-epoch cost is O(delta): extraction/blocking/scoring touch only
    new surfaces, CC runs on the star-contracted graph, and the clusters
    write is a DELTA — batch mentions plus prior mentions whose surface's
    cluster id changed (found by diffing two tiny surface->cluster
    snapshots; when nothing changed, the prior-mention scan is skipped
    entirely).  Every ``compact_every`` epochs the resolved view is
    materialized as a single full-snapshot partition instead (bounding
    read fan-in), and retention prunes everything the current+previous
    manifests no longer reference.
    """
    epoch = int(epoch)
    marker = _read_marker(state_dir)
    prev_epoch, prev_cluster_epochs = _epoch_inputs(marker, state_dir, epoch)
    # begin-record: makes a crash-before-commit retryable with the same
    # inputs, and lets readers keep serving the previous consistent view
    _write_marker(
        state_dir,
        {
            "epoch": epoch,
            "committed": False,
            "prev_epoch": prev_epoch,
            "cluster_epochs": list(prev_cluster_epochs),
            "prev_cluster_epochs": list(prev_cluster_epochs),
        },
    )
    store = CheckpointStore(spark, state_dir)

    m = batch_mentions.persist()
    _write_epoch(m, _path(state_dir, "mentions"), epoch)

    batch_surf = surface_nodes(m)
    prev_surf = _read_snapshot(
        spark, _path(state_dir, "surfaces"), prev_epoch, _st(SURFACES_SCHEMA)
    )
    if prev_surf is None:
        merged_surf = batch_surf
        new_surf = batch_surf
    else:
        cols = ["norm_surface", "n_mentions", "min_mention_id"]
        merged_surf = (
            prev_surf.select(*cols)
            .unionByName(batch_surf.select(*cols))
            .groupBy("norm_surface")
            .agg(
                F.sum("n_mentions").alias("n_mentions"),
                F.min("min_mention_id").alias("min_mention_id"),
            )
            .withColumn("surface_id", F.xxhash64("norm_surface"))
        )
        new_surf = batch_surf.join(
            prev_surf.select("norm_surface"), "norm_surface", "left_anti"
        )
    merged_surf = merged_surf.persist()
    _write_epoch(
        merged_surf.select("norm_surface", "n_mentions", "min_mention_id"),
        _path(state_dir, "surfaces"),
        epoch,
    )

    # delta-bipartite candidate generation: NEW surfaces vs the full block
    # index (ids only through the salt cells; norms joined back after).
    # A pair meets once per shared key and new x new pairs in both
    # orientations: the one canonical distinct below dedups both.
    new_blocks = blocking_keys(new_surf).select(
        "surface_id", "norm_surface", "block_key"
    ).persist()
    _write_epoch(new_blocks, _path(state_dir, "blocks"), epoch)
    prev_blocks = _read_prev(
        spark, _path(state_dir, "blocks"), epoch, _st(BLOCKS_SCHEMA)
    )
    all_blocks = new_blocks.select("surface_id", "block_key")
    if prev_blocks is not None:
        all_blocks = all_blocks.unionByName(
            prev_blocks.select("surface_id", "block_key")
        )
    cand = (
        salted_bipartite_id_pairs(
            new_blocks.select(F.col("surface_id").alias("n_id"), "block_key"),
            all_blocks.select(F.col("surface_id").alias("o_id"), "block_key"),
            "n_id",
            "o_id",
            key_col="block_key",
        )
        .filter(F.col("n_id") != F.col("o_id"))
        .select(
            F.least("n_id", "o_id").alias("a_id"),
            F.greatest("n_id", "o_id").alias("b_id"),
        )
        .distinct()
    )
    norms = merged_surf.select("surface_id", "norm_surface")
    pairs = cand.join(
        norms.select(F.col("surface_id").alias("a_id"), F.col("norm_surface").alias("a_norm")),
        "a_id",
    ).join(
        norms.select(F.col("surface_id").alias("b_id"), F.col("norm_surface").alias("b_norm")),
        "b_id",
    )
    new_edges = threshold_edges(score_pairs(pairs), threshold).select(
        "a_id", "b_id", "score"
    )
    _write_epoch(new_edges, _path(state_dir, "edges"), epoch)
    # read the committed bytes back: scoring (the Jaro-Winkler pandas UDF
    # over every salted candidate pair — the flow's most expensive stage)
    # must run ONCE per epoch, not re-execute for CC's backend-selection
    # count and again for the edge collect
    new_edges = (
        _read_state(spark, _path(state_dir, "edges"), _st(EDGES_SCHEMA))
        .filter(F.col("epoch") == epoch)
        .drop("epoch")
    )

    # CC delta rounds: previous components re-enter as star edges
    prev_comp = _read_snapshot(
        spark, _path(state_dir, "components"), prev_epoch, _st(COMPONENTS_SCHEMA)
    )
    cc_in = new_edges.select("a_id", "b_id")
    if prev_comp is not None:
        cc_in = cc_in.unionByName(
            prev_comp.select(
                F.col("node").alias("a_id"), F.col("component").alias("b_id")
            )
        )
    comps = connected_components(cc_in)
    _write_epoch(comps, _path(state_dir, "components"), epoch)

    # O(delta) assignment: diff this epoch's surface->cluster mapping
    # (tiny) against the previous epoch's, and touch prior mentions ONLY
    # for surfaces whose cluster id changed
    sc_new = surface_clusters(merged_surf, comps)
    _write_epoch(sc_new, _path(state_dir, "surf_clusters"), epoch)
    sc_new = (  # committed bytes: the diff + assigns must not re-run CC joins
        _read_state(
            spark, _path(state_dir, "surf_clusters"), _st(SURF_CLUSTERS_SCHEMA)
        )
        .filter(F.col("epoch") == epoch)
        .drop("epoch")
    )
    delta = assign_mentions(m, sc_new)
    changed = None
    prev_sc = _read_snapshot(
        spark, _path(state_dir, "surf_clusters"), prev_epoch, _st(SURF_CLUSTERS_SCHEMA)
    )
    if prev_sc is not None:
        changed = (
            sc_new.join(
                prev_sc.withColumnRenamed("cluster_id", "prev_cluster_id"),
                "norm_surface",
            )
            .filter(F.col("cluster_id") != F.col("prev_cluster_id"))
            .select("norm_surface", "cluster_id")
            .persist()
        )
        # common case: an epoch that merges nothing across old clusters —
        # skip the prior-mention scan entirely (isEmpty is a limit(1) job
        # on the tiny diff, not a full count)
        if not changed.isEmpty():
            prev_m = _read_prev(
                spark, _path(state_dir, "mentions"), epoch, m.schema
            )
            reassigned = (
                prev_m.drop("epoch")
                # inner join against the tiny changed-surface set —
                # broadcast map-side filter over the mention log scan, no
                # shuffle of the instance table (at 100 TB the mention log
                # would additionally be bucketed by norm_surface so this
                # prunes at the file level)
                .join(changed, "norm_surface")
                .select(
                    "mention_id", "conv_id", "turn_idx", "begin_char",
                    "end_char", "surface", "norm_surface", "cluster_id",
                )
            )
            delta = delta.unionByName(reassigned)

    compacting = bool(prev_cluster_epochs) and (
        len(prev_cluster_epochs) + 1 > int(compact_every)
    )
    if compacting:
        # materialize the full resolved view into this epoch's partition:
        # prior deltas + this delta, latest epoch wins.  Spark refuses to
        # overwrite a path it is reading from, so the resolution lands in
        # a hidden tmp dir (dot-prefixed — invisible to Spark's file
        # listing) and is renamed into the partition slot (the Iceberg
        # RewriteDataFiles analogue).  Crash safety: until the manifest
        # commits, readers resolve the previous view; a retried attempt
        # rmtree-replaces both tmp and target.
        base = (
            _read_state(spark, _path(state_dir, "clusters"), _st(CLUSTERS_SCHEMA))
            .filter(F.col("epoch").isin([int(e) for e in prev_cluster_epochs]))
        )
        union = base.unionByName(delta.withColumn("epoch", F.lit(epoch)))
        full = (
            union.groupBy("mention_id")
            .agg(F.max_by(F.struct(*_CLUSTER_PAYLOAD), F.col("epoch")).alias("_s"))
            .select("mention_id", "_s.*")
        )
        cl_dir = _path(state_dir, "clusters")
        tmp = os.path.join(cl_dir, ".compact_tmp")
        target = os.path.join(cl_dir, f"epoch={epoch}")
        for p in (tmp, target):
            if os.path.exists(p):
                shutil.rmtree(p)
        full.write.parquet(tmp)
        os.rename(tmp, target)
        cluster_epochs = [epoch]
    else:
        _write_epoch(delta, _path(state_dir, "clusters"), epoch)
        cluster_epochs = [int(e) for e in prev_cluster_epochs] + [epoch]

    # per-epoch lineage (north rule: per-partition rows + score
    # histograms) — every input here is committed or persisted, so the
    # lineage aggregations are narrow scans, not stage re-runs.  One
    # dynamic-overwrite write per epoch: a RETRIED epoch replaces its
    # own lineage partition instead of appending duplicate audit rows
    # (state commits are effectively-once; the audit log must be too).
    extra = {"epoch": epoch}
    committed_delta = (
        _read_state(spark, _path(state_dir, "clusters"), _st(CLUSTERS_SCHEMA))
        .filter(F.col("epoch") == epoch)
    )
    frames = [
        store.lineage_frame("inc_mentions", m, extra=extra),
        store.lineage_frame("inc_new_blocks", new_blocks, extra=extra),
        store.lineage_frame("inc_edges", new_edges, extra=extra, score_col="score"),
        store.lineage_frame(
            "inc_clusters_full" if compacting else "inc_clusters_delta",
            committed_delta,
            extra=extra,
        ),
    ]
    lin = frames[0]
    for fr in frames[1:]:
        lin = lin.unionByName(fr)
    _write_epoch(lin, _path(state_dir, "_lineage"), epoch)

    # COMMIT: atomic manifest swap, then retention of everything the
    # current+previous manifests no longer reference (prev inputs stay one
    # more commit so a retry of THIS epoch can replay deterministically)
    _write_marker(
        state_dir,
        {
            "epoch": epoch,
            "committed": True,
            "prev_epoch": prev_epoch,
            "cluster_epochs": cluster_epochs,
            "prev_cluster_epochs": list(prev_cluster_epochs),
        },
    )
    keep_snap = {epoch} | ({int(prev_epoch)} if prev_epoch is not None else set())
    for tbl in ("surfaces", "components", "surf_clusters"):
        _prune_epochs(_path(state_dir, tbl), keep_snap)
    _prune_epochs(
        _path(state_dir, "clusters"),
        {int(e) for e in cluster_epochs} | {int(e) for e in prev_cluster_epochs},
    )

    for df in (m, merged_surf, new_blocks, changed):
        if df is not None:
            df.unpersist()
    return _resolve_clusters(spark, state_dir, cluster_epochs)


def read_clusters(spark: SparkSession, state_dir: str) -> DataFrame:
    """The latest committed cluster assignment — manifest-driven: O(1)
    lookup, partition-pruned scan, no agg(max) over all epochs.  While an
    epoch is in flight (manifest committed=False) this serves the
    PREVIOUS consistent view."""
    marker = _read_marker(state_dir)
    if marker is None:
        raise ValueError(
            f"no {_MARKER} manifest under {state_dir!r} — not an "
            "incremental-ER state dir (or the manifest was deleted)"
        )
    epochs = (
        marker["cluster_epochs"]
        if marker.get("committed", True)
        else marker["prev_cluster_epochs"]
    )
    if not epochs:
        raise ValueError(f"state dir {state_dir!r} has no committed clusters yet")
    return _resolve_clusters(spark, state_dir, epochs)


def start_incremental_er(
    spark: SparkSession,
    source_path: str,
    state_dir: str,
    checkpoint_path: str,
    redirects: DataFrame | None = None,
    threshold: float = DEFAULT_THRESHOLD,
):
    """Continuous ER: transcript stream -> per-batch incremental cluster
    merge.  availableNow trigger (drain-and-stop); the streaming
    checkpoint + epoch-partitioned state give exactly-once cluster
    snapshots across restarts.  Returns the StreamingQuery."""
    from spel_spark.streaming.ingest import read_transcript_stream, streaming_mentions

    stream = read_transcript_stream(spark, source_path)
    ments = streaming_mentions(stream, redirects)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        merge_batch(spark, batch_df, state_dir, epoch_id, threshold)

    return (
        ments.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
