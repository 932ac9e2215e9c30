"""Transitive clustering: iterative hash-min connected components.

SpEL's clusters are implicit — every mention resolves to a dense entity id
and equal ids corefer (src/spel/span_annotation.py:12, utils.py:389-396).
With pairwise match edges instead of a global label space, the equivalence
relation is the connected components of the match graph.

Algorithm: alternating large-star / small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14) — O(log n) rounds, each round
two equi-joins + one min-aggregation; no collect_list, so Zipf-hot nodes
stay inside map-side-combinable aggregations.

Catalyst cannot express recursion, so the loop is driver-side with a
``localCheckpoint`` per iteration to truncate lineage (executor-local, not
durable; the reference's analogue: its pickle cache,
src/spel/utils.py:116-137).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spel_spark.session import cache_scope, persist


def _large_star(e: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    min(Γ(u) ∪ {u}).  Input/output: edge pairs (u, v), any orientation."""
    fwd = e.select("u", "v")
    nbr = fwd.union(fwd.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = nbr.groupBy("u").agg(F.min("v").alias("mv"))
    m = F.least(F.col("mv"), F.col("u"))
    return (
        nbr.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), m.alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges large->small; connect each small neighbor of u (and u
    itself) to min(N(u) ∪ {u}).  Output oriented large->small."""
    d = (
        e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).filter(F.col("u") != F.col("v"))
    )
    mins = d.groupBy("u").agg(F.min("v").alias("mv"))
    out = (
        d.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("mv").alias("v"))
        .union(mins.select("u", F.col("mv").alias("v")))
    )
    return out.filter(F.col("u") != F.col("v")).distinct()


@cache_scope()
def connected_components(
    edges: DataFrame,
    max_iter: int = 25,
    backend: str = "auto",
    driver_limit: int = 5_000_000,
    stats: dict | None = None,
) -> DataFrame:
    """Components of the undirected graph given by (a_id, b_id) edges.

    Returns (node, component) where component = min node id of the
    component.  Nodes with no edges are absent (caller maps singletons to
    themselves).

    Backends:
    * ``distributed`` — alternating large-star/small-star rounds (the
      10^12-turn path: O(log n) rounds of joins + min-aggs).
    * ``driver`` — collect edges, union-find on the driver.  The surface
      graph is 5-6 orders of magnitude smaller than the instance table
      (distinct surfaces, not mentions), so below ``driver_limit`` edges a
      single-threaded pass is faster than any shuffle round and — being a
      size-independent constant at every cluster size — does not distort
      scaling.  ``auto`` counts edges once and picks.

    ``stats``, when passed, records {"backend", "rounds"} for
    observability (bench.py --cc-scale uses it to evidence the
    distributed path's O(log n) round count at >driver_limit scale).
    ``auto`` caches ``edges`` for its count and the backend's read and
    releases it on return: both backends return materialized rows.
    """
    if backend == "auto":
        edges = persist(edges)
        # an exchange-free JVM count fills the cache in its own job; under
        # AQE a DataFrame count runs the fill as one more job
        backend = "driver" if edges._jdf.rdd().count() <= driver_limit else "distributed"
    if stats is not None:
        stats["backend"] = backend
    if backend == "driver":
        return _driver_union_find(edges)
    nbr = edges.select(
        F.greatest("a_id", "b_id").alias("u"), F.least("a_id", "b_id").alias("v")
    ).filter(F.col("u") != F.col("v")).distinct()
    prev_sig = None
    for it in range(max_iter):
        nbr = _small_star(_large_star(nbr))
        # truncate the iterative lineage (driver loop, SURVEY §4 #2)
        nbr = nbr.localCheckpoint(eager=True)
        sig_row = nbr.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("h"),  # overflow-free set checksum
        ).collect()[0]
        sig = (sig_row["n"], sig_row["h"])
        if stats is not None:
            stats["rounds"] = it + 1
        if prev_sig == sig:
            break
        prev_sig = sig
    return nbr.select(F.col("u").alias("node"), F.col("v").alias("component"))


def _driver_union_find(edges: DataFrame) -> DataFrame:
    """Small-graph fast path: vectorized min-label propagation (numpy).

    The r5 implementation was a per-edge Python loop (~2-5 µs/edge: ~4 s
    for the 3M-edge sf0.1 doc graph, single-threaded on the driver).
    This is the same computation as C-speed array ops: hook every edge's
    larger label to the smaller, pointer-jump to compress, repeat until
    no edge spans two labels — O((E+V) * log V) vectorized, ~0.1 s at 3M
    edges.  Exact same result as union-find: component = min node id.

    Arrow transfer (toPandas) — toLocalIterator's py4j row streaming is
    ~10x slower and fully serial.
    """
    import numpy as np

    spark = edges.sparkSession
    pdf = edges.select("a_id", "b_id").toPandas()
    a = pdf["a_id"].to_numpy(dtype=np.int64, copy=False)
    b = pdf["b_id"].to_numpy(dtype=np.int64, copy=False)
    nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    ia, ib = inv[: len(a)], inv[len(a):]
    label = np.arange(len(nodes), dtype=np.int64)
    while True:
        la, lb = label[ia], label[ib]
        if np.array_equal(la, lb):
            break
        # hook: point each edge's larger label at the smaller one
        np.minimum.at(label, np.maximum(la, lb), np.minimum(la, lb))
        # full path compression via pointer jumping
        while True:
            nxt = label[label]
            if np.array_equal(nxt, label):
                break
            label = nxt
    import pandas as pd

    out = pd.DataFrame({"node": nodes, "component": nodes[label]})
    return spark.createDataFrame(out, "node long, component long")


def surface_clusters(surfaces: DataFrame, components: DataFrame) -> DataFrame:
    """The (norm_surface -> cluster_id) mapping, computed entirely on the
    tiny surface table (distinct surfaces, 5-6 orders of magnitude smaller
    than the mention instance table).

    cluster label = component min surface_id (surfaces without edges are
    their own component); cluster_id is then canonicalized to
    min(mention_id) over the cluster (FIXTURES §5 gold form) so predicted
    and gold ids share a canonical representation.  Factored out of
    assign_clusters so the incremental path can DIFF two epochs' mappings
    and re-assign only the surfaces whose cluster actually changed.
    """
    surf_comp = (
        surfaces.join(components, surfaces["surface_id"] == components["node"], "left")
        .withColumn("component", F.coalesce("component", "surface_id"))
        .select("norm_surface", "component", "min_mention_id")
    )
    # canonical cluster id = min mention_id over the cluster (FIXTURES §5)
    canon = surf_comp.groupBy("component").agg(
        F.min("min_mention_id").alias("cluster_id")
    )
    return surf_comp.join(canon, "component").select("norm_surface", "cluster_id")


def assign_mentions(mentions: DataFrame, surf_cluster: DataFrame) -> DataFrame:
    """Project the surface->cluster mapping onto the mention instance
    table: one join, touching the instance table exactly once.

    no broadcast hint: Catalyst/AQE broadcasts while the surface table is
    small and falls back to sort-merge when it isn't (10^9-surface scale).
    LEFT join + singleton fallback: a mention whose surface normalizes to
    '' (punctuation/emoji-only) has no surface node — it becomes its own
    singleton cluster instead of silently vanishing, preserving the
    clusters.count() == mentions.count() invariant on real-world text.
    """
    return mentions.join(surf_cluster, "norm_surface", "left").select(
        "mention_id", "conv_id", "turn_idx", "begin_char", "end_char",
        "surface", "norm_surface",
        F.coalesce("cluster_id", "mention_id").alias("cluster_id"),
    )


def assign_clusters(
    mentions: DataFrame, surfaces: DataFrame, components: DataFrame
) -> DataFrame:
    """mention -> cluster_id (surface_clusters composed with
    assign_mentions; see those for the scale rationale)."""
    return assign_mentions(mentions, surface_clusters(surfaces, components))
