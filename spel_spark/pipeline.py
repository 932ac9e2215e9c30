"""End-to-end entity-resolution pipeline with checkpointed stages + resume.

Stage DAG (each stage a checkpoint committed by a ``_LATEST`` manifest
swap + per-partition lineage rows, resumable from the last committed
stage — north rule):

  transcripts
    -> mentions     (extract + normalize + redirect + mention_id)
    -> surfaces     (distinct norm surfaces = dedup of the Zipf head)
    -> blocks       (3 key families, exploded)
    -> pairs        (salted self-join over distinct surfaces)
    -> scores       (blended similarity)
    -> edges        (threshold)
    -> components   (large-star/small-star CC, per-iteration localCheckpoint)
    -> clusters     (mention -> canonical min-mention-id cluster)

Each stage is committed under a fingerprint: a hash of the stage name, the
config fields it reads, its upstream stages' fingerprints, the package
version and the identity of the transcripts and redirects inputs.  Resume
reuses a stage only on a fingerprint match, so a rerun under another
config or input recomputes exactly the stages it affects.

The reference's equivalent lifecycle is EP1 (SURVEY §3): per-document
Python loop -> here, partition parallelism over conversations.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import spel_spark
from spel_spark.io import CheckpointStore
from spel_spark.operators.blocking import (
    anchor_pairs,
    blocking_keys,
    salted_pairs,
    surface_nodes,
)
from spel_spark.operators.clustering import assign_clusters, connected_components
from spel_spark.operators.mentions import (
    extract_mentions,
    with_mention_id,
    with_norm_surface,
)
from spel_spark.operators.scoring import DEFAULT_THRESHOLD, score_pairs, threshold_edges
from spel_spark.session import cache_scope, persist

STAGES = ["mentions", "surfaces", "blocks", "pairs", "scores", "edges", "clusters"]


# Storage level for the (wide) mentions persist, shared by the fused
# pipeline and bench.py so the bench always measures the shipped plan
# (pinned A/B at 8M turns with the 32g heap: 62.2 s vs 63.7 s DISK_ONLY at
# 8 threads, scaling eff 0.866 vs 0.824).
MENTIONS_STORAGE = StorageLevel.MEMORY_AND_DISK


@dataclass
class PipelineConfig:
    threshold: float = DEFAULT_THRESHOLD
    use_cosine: bool = False
    # anchor-sparsified pair generation (O(n·k) per block) vs exact
    # all-pairs (O(n²), salted).  Anchors are the scale default.
    exact_pairs: bool = False


def _input_identity(spark: SparkSession, df: DataFrame | None) -> list | None:
    """What ``df`` reads, comparable across processes: the canonicalized
    analyzed plan text (tells filters apart, omits paths) plus the (path,
    size, mtime) of every input file.  Without input files (a pandas
    ``createDataFrame`` LocalRelation) ``semanticHash()`` is added — it
    covers the rows; for a file scan it changes from process to process,
    so it is left out there."""
    if df is None:
        return None
    plan = df._jdf.queryExecution().analyzed().canonicalized().toString()
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    files = []
    for f in sorted(df.inputFiles()):
        path = jvm.org.apache.hadoop.fs.Path(f)
        st = path.getFileSystem(conf).getFileStatus(path)
        files.append([f, st.getLen(), st.getModificationTime()])
    return [plan, files] if files else [plan, df.semanticHash()]


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    store: CheckpointStore | None,
    redirects: DataFrame | None = None,
    config: PipelineConfig | None = None,
    resume: bool = True,
) -> DataFrame:
    """Run (or resume) the full flow; returns the clusters DataFrame.

    Resume: a stage whose committed fingerprint matches the one this run
    computes is read back instead of recomputed — the analogue of the
    reference's continue_from_previous_checkpoint
    (src/spel/finetune_step_1.py:65-66).  ``store=None`` runs ephemerally
    (localCheckpoint only, no durability — for quick evaluations).
    Each durable stage is written inside a ``cache_scope``; an ephemeral
    run's caches belong to the scope around the caller's action.
    """
    cfg = config or PipelineConfig()

    # an ephemeral run fuses the single-consumer stages into one DAG (r5:
    # persisting blocks/pairs added two serial materialization barriers)
    # and persists only mentions (8M-turn runs: re-extracting it for
    # assign_clusters cost more than the cache fill) and surfaces (read by
    # blocks AND assign); connected_components caches edges itself
    inputs = None
    if store is not None:
        inputs = [_input_identity(spark, df) for df in (transcripts, redirects)]
    # each stage reads the one before it (clusters also reads mentions and
    # surfaces, both further upstream), so chaining the previous stage's
    # fingerprint covers every upstream stage
    fps: list[str] = []

    def stage(name: str, build, *fields: str) -> DataFrame:
        """``fields``: the PipelineConfig fields ``build`` reads."""
        if store is None:
            df = build()
            if name == "mentions":
                return persist(df, MENTIONS_STORAGE)
            return persist(df) if name == "surfaces" else df
        blob = json.dumps([
            name, {f: getattr(cfg, f) for f in fields}, fps[-1:], inputs,
            spel_spark.__version__,
        ])
        fp = hashlib.sha256(blob.encode()).hexdigest()[:16]
        fps.append(fp)
        if resume and store.committed(name) == fp:
            return store.read(name)
        with cache_scope():
            store.write(build(), name, fp)
        committed = store.read(name)
        # score histogram lands in lineage for any stage carrying a score
        # column (scores, edges) — A13 / SURVEY §1.4
        store.append_lineage(name, committed, score_col="score")
        return committed

    def build_mentions() -> DataFrame:
        m = with_norm_surface(extract_mentions(transcripts), redirects)
        return with_mention_id(m)

    mentions = stage("mentions", build_mentions)
    surfaces = stage("surfaces", lambda: surface_nodes(mentions))
    blocks = stage("blocks", lambda: blocking_keys(surfaces))
    def build_pairs() -> DataFrame:
        if cfg.exact_pairs:
            return salted_pairs(blocks)
        return anchor_pairs(blocks)

    pairs = stage("pairs", build_pairs, "exact_pairs")
    scores = stage("scores", lambda: score_pairs(pairs, cfg.use_cosine), "use_cosine")
    edges = stage("edges", lambda: threshold_edges(scores, cfg.threshold), "threshold")

    def build_clusters() -> DataFrame:
        comps = connected_components(edges)
        return assign_clusters(mentions, surfaces, comps)

    return stage("clusters", build_clusters)


def load_transcripts_df(spark: SparkSession, corpus) -> DataFrame:
    """pandas Corpus.transcripts -> Spark DataFrame with exact schema."""
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    return spark.createDataFrame(corpus.transcripts, schema=schema)
