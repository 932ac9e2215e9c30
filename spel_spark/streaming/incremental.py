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
  ``compact_every`` epochs the resolution is written as that epoch's
  partition through the same epoch write (a full snapshot) and the
  superseded deltas are pruned, so reads stay O(1 snapshot + few deltas)
  instead of O(epochs);
* the mention instance table is touched append-only.

State layout under ``state_dir``: epoch-partitioned parquet tables of the
io.CheckpointStore, ``<table>/epoch=<id>/``.  Every write replaces only its
own epoch's partition (dynamic partition overwrite), and a merge reads only
the partitions the ``_LATEST`` manifest references, so a RETRIED epoch
replays foreachBatch's at-least-once delivery as effectively-once, the
same discipline as ingest.start_mention_ingest:

  mentions/       append    per-mention rows of each batch
  blocks/         append    block keys of surfaces FIRST SEEN in the epoch
  edges/          append    match edges (+ blended score) of the epoch
  surfaces/       snapshot  merged (norm_surface, n_mentions, min_mention_id)
  components/     snapshot  (node, component) — star edges of the next epoch
  surf_clusters/  snapshot  (norm_surface -> cluster_id) — the diff basis
  clusters/       delta     changed/new mention->cluster rows per epoch
  _lineage/       per-epoch per-partition lineage rows (a retried epoch
                  replaces its own audit rows: the log is effectively-once)
  _LATEST         manifest  JSON commit record (io's commit protocol)

The ``_LATEST`` manifest is the commit point and the O(1) answer to
"what is the current state" — the moral equivalent of an Iceberg
metadata-pointer swap, and the same commit protocol the batch stages use.
It records which snapshot epoch and which clusters partitions are live,
plus the same for the PREVIOUS commit so a retried epoch replays against
exactly the inputs its first attempt saw even after retention has pruned
everything older.  Fields:

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
from spel_spark.session import cache_scope, persist


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


def _latest(clusters: DataFrame) -> DataFrame:
    """Latest-epoch-wins resolution of clusters rows.  A mention's row is
    re-emitted only at epochs where its cluster id changed, so the
    max-epoch row per mention_id IS the current assignment."""
    return (
        clusters.groupBy("mention_id")
        .agg(F.max_by(F.struct(*_CLUSTER_PAYLOAD), F.col("epoch")).alias("_s"))
        .select("mention_id", "_s.*")
    )


def _resolve_clusters(store: CheckpointStore, epochs: list[int]) -> DataFrame:
    """The assignment the clusters partitions ``epochs`` compose.
    Single-partition fast path (the post-compaction common case): a
    straight scan, zero shuffles."""
    df = store.read_epochs("clusters", CLUSTERS_SCHEMA, epochs)
    return df.drop("epoch") if len(epochs) == 1 else _latest(df)


@cache_scope()
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
    # The manifest decides what exists: there is no prior state exactly
    # when prev_epoch is None.  Otherwise a missing table or partition is
    # corruption and the reads below raise: as empty state it would drop
    # this epoch's new-vs-old pairs, which no later epoch generates.
    store = CheckpointStore(spark, state_dir)

    m = persist(batch_mentions)
    store.write_epoch(m, "mentions", epoch)

    batch_surf = surface_nodes(m)
    if prev_epoch is None:
        merged_surf = new_surf = batch_surf
    else:
        prev_surf = store.read_epochs("surfaces", SURFACES_SCHEMA, [prev_epoch])
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
    merged_surf = persist(merged_surf)
    store.write_epoch(
        merged_surf.select("norm_surface", "n_mentions", "min_mention_id"),
        "surfaces",
        epoch,
    )

    # delta-bipartite candidate generation: NEW surfaces vs the full block
    # index (ids only through the salt cells; norms joined back after).
    # A pair meets once per shared key and new x new pairs in both
    # orientations: the one canonical distinct below dedups both.
    new_blocks = persist(
        blocking_keys(new_surf).select("surface_id", "norm_surface", "block_key")
    )
    store.write_epoch(new_blocks, "blocks", epoch)
    all_blocks = new_blocks.select("surface_id", "block_key")
    if prev_epoch is not None:
        all_blocks = all_blocks.unionByName(
            store.read_log("blocks", BLOCKS_SCHEMA, epoch).select(
                "surface_id", "block_key"
            )
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
    store.write_epoch(new_edges, "edges", epoch)
    # read the committed bytes back: scoring (the Jaro-Winkler pandas UDF
    # over every salted candidate pair — the flow's most expensive stage)
    # must run ONCE per epoch, not re-execute for CC's backend-selection
    # count and again for the edge collect
    new_edges = store.read_epochs("edges", EDGES_SCHEMA, [epoch]).drop("epoch")

    # CC delta rounds: previous components re-enter as star edges
    cc_in = new_edges.select("a_id", "b_id")
    if prev_epoch is not None:
        cc_in = cc_in.unionByName(
            store.read_epochs("components", COMPONENTS_SCHEMA, [prev_epoch]).select(
                F.col("node").alias("a_id"), F.col("component").alias("b_id")
            )
        )
    comps = connected_components(cc_in)
    store.write_epoch(comps, "components", epoch)

    # O(delta) assignment: diff this epoch's surface->cluster mapping
    # (tiny) against the previous epoch's, and touch prior mentions ONLY
    # for surfaces whose cluster id changed
    store.write_epoch(surface_clusters(merged_surf, comps), "surf_clusters", epoch)
    # committed bytes: the diff + assigns must not re-run CC joins
    sc_new = store.read_epochs(
        "surf_clusters", SURF_CLUSTERS_SCHEMA, [epoch]
    ).drop("epoch")
    delta = assign_mentions(m, sc_new)
    if prev_epoch is not None:
        prev_sc = store.read_epochs("surf_clusters", SURF_CLUSTERS_SCHEMA, [prev_epoch])
        changed = persist(
            sc_new.join(
                prev_sc.withColumnRenamed("cluster_id", "prev_cluster_id"),
                "norm_surface",
            )
            .filter(F.col("cluster_id") != F.col("prev_cluster_id"))
            .select("norm_surface", "cluster_id")
        )
        # common case: an epoch that merges nothing across old clusters —
        # skip the prior-mention scan entirely (isEmpty is a limit(1) job
        # on the tiny diff, not a full count)
        if not changed.isEmpty():
            reassigned = (
                store.read_log("mentions", m.schema.toDDL(), epoch)
                # inner join against the tiny changed-surface set —
                # broadcast map-side filter over the mention log scan, no
                # shuffle of the instance table (at 100 TB the mention log
                # would additionally be bucketed by norm_surface so this
                # prunes at the file level)
                .join(changed, "norm_surface")
                .select("mention_id", *_CLUSTER_PAYLOAD)
            )
            delta = delta.unionByName(reassigned)

    compacting = bool(prev_cluster_epochs) and (
        len(prev_cluster_epochs) + 1 > int(compact_every)
    )
    if compacting:
        # materialize the full resolved view as this epoch's partition:
        # prior deltas + this delta, latest epoch wins (the Iceberg
        # RewriteDataFiles analogue).  The write reads only the prior
        # partitions and replaces only this epoch's, so a retried
        # compaction rewrites it from the same inputs; until the manifest
        # commits, readers resolve the previous view.
        delta = _latest(
            store.read_epochs("clusters", CLUSTERS_SCHEMA, prev_cluster_epochs)
            .unionByName(delta.withColumn("epoch", F.lit(epoch)))
        )
        cluster_epochs = [epoch]
    else:
        cluster_epochs = [int(e) for e in prev_cluster_epochs] + [epoch]
    store.write_epoch(delta, "clusters", epoch)

    # per-epoch lineage (north rule: per-partition rows + score
    # histograms) — every input here is committed or persisted, so the
    # lineage aggregations are narrow scans, not stage re-runs.  One
    # dynamic-overwrite write per epoch: a RETRIED epoch replaces its
    # own lineage partition instead of appending duplicate audit rows
    # (state commits are effectively-once; the audit log must be too).
    extra = {"epoch": epoch}
    committed_delta = store.read_epochs("clusters", CLUSTERS_SCHEMA, [epoch])
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
    store.write_epoch(lin, "_lineage", epoch)

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
        store.prune_epochs(tbl, keep_snap)
    store.prune_epochs("clusters", {*cluster_epochs, *prev_cluster_epochs})
    return _resolve_clusters(store, cluster_epochs)


class NoClusterState(ValueError):
    """``read_clusters`` found nothing committed yet: no ``_LATEST``
    manifest, or only the begin-record of an uncommitted first epoch.
    Every other ValueError from it is corruption."""


def read_clusters(spark: SparkSession, state_dir: str) -> DataFrame:
    """The latest committed cluster assignment — manifest-driven: O(1)
    lookup, partition-pruned scan, no agg(max) over all epochs.  While an
    epoch is in flight (manifest committed=False) this serves the
    PREVIOUS consistent view."""
    marker = _read_marker(state_dir)
    if marker is None:
        raise NoClusterState(
            f"no {_MARKER} manifest under {state_dir!r} — not an "
            "incremental-ER state dir (or the manifest was deleted)"
        )
    epochs = (
        marker["cluster_epochs"]
        if marker.get("committed", True)
        else marker["prev_cluster_epochs"]
    )
    if not epochs:
        raise NoClusterState(f"state dir {state_dir!r} has no committed clusters yet")
    return _resolve_clusters(CheckpointStore(spark, state_dir), epochs)


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
