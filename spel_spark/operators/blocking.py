"""Blocking: candidate-pair generation with skew-proof self-joins.

The reference bounds its label search space by shrinking a 500K-entity
output head to 5.6K in-domain entities (src/spel/model.py:56-79) and by
per-mention candidate sets (src/spel/candidate_manager.py:31-56).  Our
blocking stage plays exactly that role: no pair outside a shared block key
is ever scored.

Three key families, unioned (J9-style union of candidate sources):

* ``k:`` exact normalized surface        — recalls all normalization-
  recoverable corruptions (case/punct/possessive/slug);
* ``f:`` first token (multi-token only)  — recalls truncations and
  abbreviations, which preserve the head token;
* ``b<j>:`` MinHash-LSH bands over character 3-shingles — recalls typos
  and other ed-1 noise (deterministic xxhash64 seeds, SURVEY A12).

Scale design (the part that must survive 100 TB):

* pairs are generated over **distinct surface forms**, not mention
  instances — instance->surface mapping collapses the Zipf head (a hot
  tool name is ONE node no matter how many billion times it occurs);
* oversized blocks are **salt-partitioned** (triangle replication): a
  block of n surfaces with S salts becomes S*(S+1)/2 bounded cells, each
  joined independently — the self-join never sees a monolithic hot key
  (north star: "salted to break skew on hot mentions").  AQE skew-join
  cannot do this for us because both sides of a self-join skew together.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spel_spark.functions.similarity import shingles_col
from spel_spark.session import persist

# MinHash-LSH parameters: 8 bands x 2 rows = 16 hash functions.
# P(band collision) = 1-(1-j^2)^8 ≈ 0.99 at shingle-jaccard 0.6.
LSH_SEEDS = list(range(101, 117))
LSH_BANDS = 8
LSH_ROWS = 2


def surface_nodes(mentions: DataFrame) -> DataFrame:
    """Distinct normalized surfaces with a stable 64-bit surface_id.

    mentions must carry ``norm_surface`` and ``mention_id``.  Carries
    per-surface mention counts (frequency drives anchor election and
    salting) and the min mention id (cluster canonicalization happens on
    this tiny table instead of re-shuffling the instance table).
    """
    return (
        mentions.filter(F.length("norm_surface") > 0)
        .groupBy("norm_surface")
        .agg(
            F.count(F.lit(1)).alias("n_mentions"),
            F.min("mention_id").alias("min_mention_id"),
        )
        .withColumn("surface_id", F.xxhash64("norm_surface"))
    )


def _seeded_min_hash(sh, seed: int):
    # NB: the lambda must take exactly ONE arg — a two-arg lambda would be
    # interpreted by Spark as (element, index) and silently drop the seed.
    return F.array_min(F.transform(sh, lambda x: F.xxhash64(x, F.lit(seed))))


def minhash_signature(df: DataFrame, col: str = "norm_surface") -> DataFrame:
    """16 seeded min-hashes over character 3-shingles — pure builtins."""
    sh = shingles_col(F.col(col))
    out = df
    for i, seed in enumerate(LSH_SEEDS):
        out = out.withColumn(f"mh_{i}", _seeded_min_hash(sh, seed))
    return out


def blocking_keys(surfaces: DataFrame) -> DataFrame:
    """Explode each surface node into its block keys (all three families).

    Returns (surface_id, norm_surface, n_mentions, block_key); n_mentions
    (instance frequency) drives anchor election and salting downstream.
    """
    sig = minhash_signature(surfaces)
    band_cols = []
    for j in range(LSH_BANDS):
        parts = [F.col(f"mh_{j * LSH_ROWS + r}") for r in range(LSH_ROWS)]
        band_cols.append(
            F.concat(F.lit(f"b{j}:"), F.xxhash64(*parts).cast("string"))
        )
    # first-token key applies to single-token surfaces too: a truncated
    # surface ("kamora") must co-block with its full form ("kamora ledger")
    first_tok = F.split(F.col("norm_surface"), " ").getItem(0)
    keys = F.array(
        F.concat(F.lit("k:"), F.col("norm_surface")),
        F.concat(F.lit("f:"), first_tok),
        *band_cols,
    )
    return (
        sig.select(
            "surface_id",
            "norm_surface",
            "n_mentions",
            F.explode(F.filter(keys, lambda k: k.isNotNull())).alias("block_key"),
        )
    )


def _salt_sized(df: DataFrame, counted: DataFrame, key_cols, max_cell, max_salts):
    """``df`` inner-joined to its key's size in ``counted``: ``n_members``
    (rows of ``counted`` under the key) and ``n_salts`` = ceil(n/max_cell)
    clamped to [1, max_salts] — the one salt-sizing policy of every
    candidate-pair join (triangle: ``counted`` is ``df``; bipartite: both
    sides are sized by the corpus side)."""
    counts = counted.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n_members"))
    return df.join(counts, key_cols).withColumn(
        "n_salts",
        F.least(
            F.greatest(F.ceil(F.col("n_members") / max_cell), F.lit(1)),
            F.lit(max_salts),
        ).cast("int"),
    )


def salted_id_pairs(
    blocks: DataFrame,
    id_col: str = "id",
    key_col="block_key",
    max_cell: int = 1024,
    max_salts: int = 64,
    carry: tuple = (),
    pair_filter=None,
    first_shared_key=None,
) -> DataFrame:
    """Triangle-salted self-join: every unordered pair of ``id_col``
    sharing a key, once.  Output (a_id, b_id, a_<c>.., b_<c>..), a_id < b_id.

    A member with salt s sits on the A side of cells (s, j), j >= s, and
    the B side of cells (i, s), i <= s: the S*(S+1)/2 cells of a block
    meet every pair, and off-diagonal cells yield a pair in ONE
    orientation (A = smaller salt), so pairs are canonicalized by id.

    ``key_col`` is a column name or a sequence of names (composite bucket
    key, e.g. ``("slot", "bandh")``: narrow typed columns join faster than
    concatenated strings and carry the band slot for emit-once below).

    ``carry`` names narrow scalar columns of ``blocks`` replicated through
    the cells as ``a_<c>``/``b_<c>`` and swapped with the ids, so that
    ``pair_filter`` — a SYMMETRIC boolean Column over them (it runs before
    canonicalization) — prunes pairs BEFORE the dedup.

    Cross-key dedup, two modes (guide §2.3/§2.4):

    * default — group by (a_id, b_id), which shuffles every joined row;
      the key columns come out holding the SMALLEST key the pair shares.
    * ``first_shared_key`` — a SYMMETRIC int Column over carried columns
      giving the 0-based FIRST band slot the two members share; a pair is
      kept only in the bucket of that slot (the FIRST column of a
      composite ``key_col``), so it is emitted exactly once with no dedup
      shuffle (sf0.1: 27M joined rows -> 5.6M pairs; a dense near-dup
      corpus emits a pair from ~5 of 8 bands).  No key columns are output.
    """
    key_cols = [key_col] if isinstance(key_col, str) else list(key_col)
    sized = (
        _salt_sized(blocks, blocks, key_cols, max_cell, max_salts)
        .filter(F.col("n_members") > 1)
        .withColumn(
            "salt", F.pmod(F.xxhash64(id_col, F.lit(7)), F.col("n_salts")).cast("int")
        )
    )
    a_side = sized.select(
        *key_cols,
        F.col(id_col).alias("a_id"),
        *[F.col(c).alias(f"a_{c}") for c in carry],
        F.col("salt").alias("i"),
        F.explode(F.sequence(F.col("salt"), F.col("n_salts") - 1)).alias("j"),
    )
    b_side = sized.select(
        *key_cols,
        F.col(id_col).alias("b_id"),
        *[F.col(c).alias(f"b_{c}") for c in carry],
        F.explode(F.sequence(F.lit(0), F.col("salt"))).alias("i"),
        F.col("salt").alias("j"),
    )
    joined = a_side.join(b_side, [*key_cols, "i", "j"])
    if first_shared_key is None:
        joined = joined.filter(F.col("a_id") != F.col("b_id"))
    else:
        # emit-once.  The diagonal cell holds BOTH orientations of its
        # pairs — a_id < b_id there keeps one (and drops self-pairs).  A
        # member sits in exactly one bucket per slot, so keeping the pair
        # only in its first shared slot emits it exactly once globally.
        joined = joined.filter(
            (F.col("i") != F.col("j")) | (F.col("a_id") < F.col("b_id"))
        ).filter(F.col(key_cols[0]) == first_shared_key)
    if pair_filter is not None:
        joined = joined.filter(pair_filter)
    a_lt = F.col("a_id") < F.col("b_id")
    swap = [("a_id", "b_id"), ("b_id", "a_id")]
    swap += [(f"a_{c}", f"b_{c}") for c in carry] + [(f"b_{c}", f"a_{c}") for c in carry]
    pairs = [F.when(a_lt, F.col(x)).otherwise(F.col(y)).alias(x) for x, y in swap]
    carried = [x for x, _ in swap[2:]]
    if first_shared_key is not None:
        return joined.select(*pairs)
    return (
        joined.select(*pairs, F.struct(*key_cols).alias("_key"))
        .groupBy("a_id", "b_id")
        .agg(*[F.first(c).alias(c) for c in carried], F.min("_key").alias("_key"))
        .select("a_id", "b_id", *carried, "_key.*")
    )


def salted_bipartite_id_pairs(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    key_col: str = "band",
    max_cell: int = 1024,
    max_salts: int = 64,
) -> DataFrame:
    """Skew-salted bipartite equi-join on ``key_col``, ids only.

    The two-table analogue of :func:`salted_id_pairs`: the RIGHT (corpus)
    side of each bucket is split into n_salts cells, and every LEFT
    (query) row in that bucket is replicated across the cells — each join
    task sees at most ``max_cell`` right rows per key.  AQE skew-join
    can't save a hot bucket here because both sides grow together.
    Output: (left_id, right_id) once per shared key, NOT deduplicated —
    each caller dedups once, in the form it needs.  Payloads (vectors,
    surface forms) are joined back by the caller on the survivors.
    """
    r_side = (
        _salt_sized(right, right, [key_col], max_cell, max_salts)
        .withColumn(
            "salt",
            F.pmod(F.xxhash64(right_id, F.lit(11)), F.col("n_salts")).cast("int"),
        )
        .select(key_col, right_id, "salt")
    )
    # inner: keys absent on the right match nothing
    l_side = (
        _salt_sized(left, right, [key_col], max_cell, max_salts)
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.col("n_salts") - 1)))
        .select(key_col, left_id, "salt")
    )
    return l_side.join(r_side, [key_col, "salt"]).select(left_id, right_id)


def salted_pairs(blocks: DataFrame, max_cell: int = 1024, max_salts: int = 64) -> DataFrame:
    """All unordered surface pairs sharing a block key, skew-salted.

    blocks: (surface_id, norm_surface, block_key).  Output: (a_id, b_id,
    a_norm, b_norm, block_key), a_id < b_id, one row per pair.
    """
    # consumed by three plan branches (counts + both join sides): persist
    # the narrow projection so the upstream (scan + normalize + banding)
    # is expanded once, not three times (see anchor_pairs for the audit)
    blocks = persist(blocks.select("surface_id", "norm_surface", "block_key"))
    return salted_id_pairs(
        blocks, "surface_id", max_cell=max_cell, max_salts=max_salts, carry=("norm_surface",)
    ).toDF("a_id", "b_id", "a_norm", "b_norm", "block_key")


def anchor_pairs(
    blocks: DataFrame,
    n_anchors: int = 2,
    full_block_limit: int = 8,
) -> DataFrame:
    """Anchor-sparsified pair generation — the 100-TB-scale path.

    All-pairs inside a block is O(n²); at trillion-turn scale a block of
    10⁵ distinct typo variants would emit 10¹⁰ pairs.  But clustering only
    needs CONNECTIVITY: every member must reach the entity core, and the
    core IS the block's most frequent surface (easy corruptions all
    normalize onto the canonical form, so its instance count dominates).
    So: elect the top-``n_anchors`` surfaces per block by mention frequency
    (ties by surface_id for determinism) and pair every member with each
    anchor — O(n·k) per block; transitive closure (CC) completes the
    cluster.  Blocks with <= ``full_block_limit`` members keep exact
    all-pairs (cheap, and protects tiny blocks whose anchor may itself be
    a corrupted form).

    The reference's analogue: candidate sets restrict scoring to a small
    allow-list per mention (src/spel/candidate_manager.py:76-103).

    blocks: (surface_id, norm_surface, n_mentions, block_key).
    Output: (a_id, b_id, a_norm, b_norm, block_key), a_id < b_id, deduped.
    """
    from pyspark.sql import Window

    # blocks is consumed twice while filling the sized cache below
    # (count aggregation + join probe): persist the narrow projection so
    # the scan + normalize + MinHash banding upstream runs exactly once
    blocks = persist(blocks.select("surface_id", "norm_surface", "n_mentions", "block_key"))
    counts = blocks.groupBy("block_key").agg(F.count(F.lit(1)).alias("n_members"))
    # persist: the sized-blocks table is consumed by FIVE plan branches
    # (small -> the triangle join's size count + both of its sides via
    # salted_pairs; big -> anchor election + member join).  Unpersisted, each branch re-expanded the
    # whole upstream — parquet scan + normalize + 16-hash MinHash banding
    # — so one query planned 5 scans of the base table (r6 plan audit:
    # pairs_engine had 68 Exchanges / 5 Scans; with the persist the
    # upstream runs once).
    sized = persist(blocks.join(counts, "block_key").filter(F.col("n_members") > 1))

    small = sized.filter(F.col("n_members") <= full_block_limit).select(
        "surface_id", "norm_surface", "n_mentions", "block_key"
    )
    big = sized.filter(F.col("n_members") > full_block_limit)

    # Two-phase anchor election: a mega-block (10^7 typo variants of one
    # hot tool name) must not concentrate its whole rank sort in ONE
    # window task.  Phase 1 ranks within (block, salt) cells — bounded;
    # phase 2 ranks the <= 64*n_anchors survivors per block — tiny.
    # Top-k composes across phases (any global top-k row is top-k in its
    # cell), so the result is IDENTICAL to the single-window election.
    order = (F.col("n_mentions").desc(), F.col("surface_id"))
    w1 = Window.partitionBy("block_key", "_salt").orderBy(*order)
    w2 = Window.partitionBy("block_key").orderBy(*order)
    anchors = (
        big.withColumn(
            "_salt", F.pmod(F.xxhash64("surface_id", F.lit(13)), F.lit(64)).cast("int")
        )
        .withColumn("rk1", F.row_number().over(w1))
        .filter(F.col("rk1") <= n_anchors)
        .withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= n_anchors)
        .select(
            F.col("surface_id").alias("anchor_id"),
            F.col("norm_surface").alias("anchor_norm"),
            "block_key",
        )
    )
    member_anchor = (
        big.join(anchors, "block_key")
        .filter(F.col("surface_id") != F.col("anchor_id"))
    )
    a_lt = F.col("surface_id") < F.col("anchor_id")
    big_pairs = member_anchor.select(
        F.when(a_lt, F.col("surface_id")).otherwise(F.col("anchor_id")).alias("a_id"),
        F.when(a_lt, F.col("anchor_id")).otherwise(F.col("surface_id")).alias("b_id"),
        F.when(a_lt, F.col("norm_surface")).otherwise(F.col("anchor_norm")).alias("a_norm"),
        F.when(a_lt, F.col("anchor_norm")).otherwise(F.col("norm_surface")).alias("b_norm"),
        "block_key",
    )
    small_pairs = salted_pairs(small)
    return (
        big_pairs.unionByName(small_pairs)
        .groupBy("a_id", "b_id")
        .agg(
            F.first("a_norm").alias("a_norm"),
            F.first("b_norm").alias("b_norm"),
            F.min("block_key").alias("block_key"),
        )
    )
