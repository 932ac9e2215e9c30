"""Document-level deduplication operators (training-data pipeline).

Exact dedup, SimHash, and MinHash-LSH near-dup *clustering* over the
``documents`` table — the document-scale siblings of the mention-level
blocking in operators/blocking.py.  Everything is Spark builtins (xxhash64,
HOFs, bit ops); no Python on the hot path.

SimHash: 64 per-bit sign sums over token hashes -> one BIGINT; candidate
pairs via 4x16-bit band equality; verified by popcount(xor) <= max_hamming
(F.bit_count is JVM-side).

Empty/whitespace-only documents: tokenization drops ""-tokens (they hash
to one constant that biases every signature the same way), so a document
with NO content tokens gets NO signature row and can never near-dup pair —
it stays a singleton in cluster_documents (the doc-table left join keeps
every doc_id).  Content-free duplicates are exact-dedup's job
(queries.dedup_exact groups on the raw text), not similarity's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spel_spark.operators.clustering import connected_components
from spel_spark.session import cache_scope, persist

SIMHASH_BITS = 64
SIMHASH_BANDS = 4  # 16 bits each


def simhash64(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, simhash BIGINT): sign of per-bit weighted sums of token hashes.

    One explode + one groupBy — all map-side combinable, so Zipf-heavy
    documents cost nothing extra.

    Packed 2-lane aggregation (r6, guide §2.3 "narrower types"): instead
    of 64 separate ±1 sums, bit i and bit i+32 share ONE 64-bit
    accumulator — lane value ((h>>i)&1) | (((h>>(i+32))&1) << 32).  Each
    lane's sum counts set bits, bounded by the per-doc token count, which
    is < 2^31 (a split() array is int-indexed), so lane sums never carry
    into the upper lane: the packing is EXACT, not approximate.  The old
    per-bit sign sum is recovered as 2*lane_sum - n > 0  <=>
    lane_sum*2 > n, so the emitted signature is bit-identical; only the
    aggregation state is halved (32 buffers + count vs 64).
    """
    from spel_spark.session import ensure_min_parallelism

    # single-split guard (guide §2.5 input skew): the token explode + the
    # partial sums otherwise run on ONE core when the input is a
    # one-row-group parquet file
    docs = ensure_min_parallelism(docs)
    toks = docs.select(
        F.col(id_col),
        F.explode(
            # runs of spaces would otherwise yield "" tokens that all hash
            # to one constant and bias every bit-sum the same way
            F.filter(F.split(F.col(text_col), " "), lambda x: F.length(x) > 0)
        ).alias("tok"),
    ).withColumn("h", F.xxhash64("tok", F.lit(5)))
    half = SIMHASH_BITS // 2
    sums = toks.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(
                F.shiftright(F.col("h"), i)
                .bitwiseAND(F.lit(1))
                .bitwiseOR(
                    F.shiftleft(
                        F.shiftright(F.col("h"), i + half).bitwiseAND(F.lit(1)),
                        half,
                    )
                )
            ).alias(f"p{i}")
            for i in range(half)
        ],
    )
    sim = F.lit(0).cast("long")
    for i in range(half):
        lo = F.col(f"p{i}").bitwiseAND(F.lit((1 << half) - 1))
        hi = F.shiftright(F.col(f"p{i}"), half)  # p >= 0: arithmetic == logical
        sim = sim.bitwiseOR(
            F.when(lo * 2 > F.col("n"), F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
                F.lit(0).cast("long")
            )
        ).bitwiseOR(
            F.when(
                hi * 2 > F.col("n"), F.shiftleft(F.lit(1).cast("long"), i + half)
            ).otherwise(F.lit(0).cast("long"))
        )
    return sums.select(F.col(id_col), sim.alias("simhash"))


def _simhash_chunk(col, j: int, bits: int):
    return F.shiftright(col, j * bits).bitwiseAND(F.lit((1 << bits) - 1))


def _first_shared_chunk(a_col, b_col, n_bands: int, bits: int):
    """0-based first band slot where the two signatures' chunks agree —
    a codegen-friendly when-chain (no interpreted HOFs)."""
    expr = F.lit(-1)
    for j in reversed(range(n_bands)):
        expr = F.when(
            _simhash_chunk(a_col, j, bits) == _simhash_chunk(b_col, j, bits),
            F.lit(j),
        ).otherwise(expr)
    return expr


def simhash_candidate_pairs(
    sims: DataFrame, id_col: str = "doc_id", max_hamming: int = 8
) -> DataFrame:
    """Near-dup candidates: equal 16-bit band -> verify popcount(xor).

    Candidate generation routes through the TRIANGLE-SALTED id-only
    self-join (blocking.salted_id_pairs, emit-once mode) — the salting
    core every candidate-pair join shares.  A degenerate band value (e.g.
    a boilerplate-heavy corpus slice where one 16-bit band collides for
    10^5 documents) would otherwise recreate the hot-key blowup in a
    single join task; salting bounds every cell.

    Emit-once plan (r6, guide §2.3/§2.4): the 8-byte simhash rides
    THROUGH the salt cells as a carry column, so the popcount verify is
    inline and the old signature join-back is gone, and cross-band pair
    duplicates are dropped by the first-shared-band filter instead of a
    ``.distinct()`` — the candidate flow now has no pair-level shuffle at
    all (before: 2 Exchange + 2 join for dedup + verify).
    """
    from spel_spark.operators.blocking import salted_id_pairs

    # consumed once per side of the salted self-join: persist so the
    # 64-way conditional-sum aggregation behind `sims` runs once
    sims = persist(sims.select(F.col(id_col), F.col("simhash")))
    bands = sims.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[_simhash_chunk(F.col("simhash"), j, 16) for j in range(SIMHASH_BANDS)]
            )
        ).alias("slot", "bandh"),
    )
    cands = salted_id_pairs(
        bands,
        id_col=id_col,
        key_col=("slot", "bandh"),
        carry=("simhash",),
        first_shared_key=_first_shared_chunk(
            F.col("a_simhash"), F.col("b_simhash"), SIMHASH_BANDS, 16
        ),
    )
    return (
        cands.withColumn(
            "hamming",
            F.bit_count(F.col("a_simhash").bitwiseXOR(F.col("b_simhash"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", "hamming")
    )


def _distinct_tokens(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, dtoks ARRAY<STRING>): the distinct word tokens of each doc.

    The shared tokenize pass (r6, guide §2.4 "don't compute things
    twice"): both the MinHash signature AND the exact-verify token sets
    consume only the distinct token set, so the scan + split + filter +
    distinct runs once and is persisted by the caller, instead of once
    per consumer.
    """
    return docs.select(
        F.col(id_col),
        F.array_distinct(
            # drop "" tokens from space runs: they hash to a constant
            # that slightly biases small-document Jaccard estimates
            F.filter(F.split(F.col(text_col), " "), lambda x: F.length(x) > 0)
        ).alias("dtoks"),
    )


def _sig_from_dtoks(dt: DataFrame, id_col: str, n_hashes: int) -> DataFrame:
    """MinHash signature over a (id, dtoks) distinct-token table."""
    toks = dt.select(F.col(id_col), F.explode("dtoks").alias("tok"))
    sig = toks.groupBy(id_col).agg(
        *[
            F.min(F.xxhash64("tok", F.lit(200 + i))).alias(f"mh_{i}")
            for i in range(n_hashes)
        ]
    )
    return sig.select(
        F.col(id_col),
        F.array(*[F.col(f"mh_{i}") for i in range(n_hashes)]).alias("sig"),
    )


def _band_hash_cols(n_hashes: int, bands: int) -> list:
    """Per-slot 64-bit band hashes of a ``sig`` array column."""
    r = n_hashes // bands
    return [
        F.xxhash64(*[F.col("sig").getItem(j * r + k) for k in range(r)])
        for j in range(bands)
    ]


def _sig_band_slots(
    sig: DataFrame, id_col: str, n_hashes: int = 16, bands: int = 8
) -> DataFrame:
    """(id, bv0..bv{bands-1}, slot, bandh): a signature's LSH band hashes
    (r = n_hashes/bands rows each), keyed (slot, bandh) with every per-slot
    band hash carried as a SCALAR column for the emit-once pair filter
    (scalar fixed-width fields replicate through the salt cells ~20%
    cheaper than an array column: measured 3.7 s vs 4.8 s for the sf0.1
    candidate stage)."""
    base = sig.select(
        F.col(id_col),
        *[c.alias(f"bv{j}") for j, c in enumerate(_band_hash_cols(n_hashes, bands))],
    )
    return base.select(
        F.col(id_col),
        *[F.col(f"bv{j}") for j in range(bands)],
        F.posexplode(F.array(*[F.col(f"bv{j}") for j in range(bands)])).alias(
            "slot", "bandh"
        ),
    )


def _first_shared_slot(n_bands: int):
    """0-based first slot where the carried a_bv*/b_bv* band hashes agree
    (when-chain — whole-stage-codegen, unlike zip_with/array_position)."""
    expr = F.lit(-1)
    for j in reversed(range(n_bands)):
        expr = F.when(
            F.col(f"a_bv{j}") == F.col(f"b_bv{j}"), F.lit(j)
        ).otherwise(expr)
    return expr


def minhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.8,
    n_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """LSH candidates -> signature prefilter -> exact Jaccard verification.

    Scale design (each step earned by a measured failure mode):

    1. Candidate generation is a TRIANGLE-SALTED self-join on the band key
       (blocking.salted_id_pairs), not a naive band equi-join: corpora
       with a Zipf token head produce degenerate band buckets (observed
       at sf0.1: one ~3,100-doc bucket per band -> 41.7M candidate pairs
       emitted by a single broadcast-join task over the 1-split parquet
       scan).  Salting bounds every join cell — the document-dedup
       analogue of hot mention surfaces (SURVEY §4 custom work #1).
    2. Candidates are prefiltered by SIGNATURE agreement (n_hashes
       BIGINTs — 256 bytes/side at the default 32) before the wide token
       arrays are ever shuffled: the matching-minhash fraction is an
       unbiased Jaccard estimate, so requiring est >= threshold/2 kills
       the hot-bucket bulk (true Jaccard ~0.3) at negligible recall cost
       (P[estimate < t/2 | true j >= 0.8] = P[Binom(32,0.8) <= 12]
       ~ 5e-8 — far below the banding miss rate itself).
    3. Survivors get the exact token-set Jaccard.

    4. Three exact-or-conservative prunes keep the verify cheap (each
       measured at sf0.1, where the corpus emits 8.2M band candidates
       for 2.97M true edges):

       * token-COUNT bound, applied INSIDE the salt cells: |A∩B|/|A∪B|
         >= t implies min(|A|,|B|) >= t*max(|A|,|B|) — exact, no recall
         loss, 8 bytes/row carried;
       * (r6) cross-band pair dedup is EMIT-ONCE, not ``.distinct()``:
         the per-slot band hashes ride through the salt cells and a pair
         is kept only in its first shared band slot, which removed the
         widest exchange of the flow outright (measured at sf0.1: the
         27M-row dedup shuffle became a filter; candidate stage 14.7 s
         -> 3.7 s).  The surviving ids are then hash-repartitioned so
         the verify does not inherit the salted join's hot-cell
         partitioning (see inline comment);
       * the signature prefilter (step 2 above);
       * token sets are 64-bit xxhash64 values (sorted BIGINT arrays),
         not strings: set intersection over longs is ~2.6x faster and
         the wide string payload never shuffles.  Jaccard over hashes
         equals Jaccard over tokens up to 64-bit collisions (odds ~1e-15
         per pair at 10^4-token documents); the verified row set at
         sf0.1 is bit-identical to the string-token implementation.

    Band shape r = n_hashes/bands: the default 4 rows x 8 bands keeps
    recall at j >= 0.8 at 98.5% banding (+ ~0 prefilter loss) while
    admitting ~4x fewer sub-threshold candidates than 2 x 8 on dense
    corpora (measured at sf0.1: 8.2M vs 11.0M candidates for 2.97M true
    edges; 99.7% of edges retained, and downstream CC closes the gap via
    transitivity).
    """
    from spel_spark.operators.blocking import salted_id_pairs
    from spel_spark.session import ensure_min_parallelism

    # single-split guard: the tokenize + hash + 32-way min aggregation
    # otherwise runs on one core over a one-row-group parquet scan
    docs = ensure_min_parallelism(docs)
    # shared tokenize pass (r6): the signature AND the verify token sets
    # both depend only on the distinct token set, so scan + split +
    # filter + distinct runs ONCE (persisted) instead of once per
    # consumer.  Exactness: sig explodes the same distinct set the old
    # per-consumer expression produced; toks applies array_distinct
    # AGAIN after hashing, so two distinct tokens colliding to one
    # 64-bit hash still collapse exactly as before.
    dt = persist(_distinct_tokens(docs, id_col, text_col))
    sig = persist(_sig_from_dtoks(dt, id_col, n_hashes))
    # hashed token sets (sorted BIGINTs) + their size; consumed by both
    # verify sides AND the count-bound carry
    t = persist(
        dt.select(
            F.col(id_col),
            F.array_sort(
                F.array_distinct(
                    F.transform(F.col("dtoks"), lambda x: F.xxhash64(x))
                )
            ).alias("toks"),
        ).withColumn("n_toks", F.size("toks"))
    )
    bands_df = _sig_band_slots(sig, id_col, n_hashes, bands).join(
        t.select(F.col(id_col), "n_toks"), id_col
    )
    len_ok = F.least("a_n_toks", "b_n_toks") >= F.lit(jaccard_threshold) * F.greatest(
        "a_n_toks", "b_n_toks"
    )
    # hash-repartition the surviving candidate ids before the verify
    # joins: without this exchange the zip_with prefilter and the exact
    # token intersect fuse into the salted-join stage and inherit its
    # (slot, bandh, cell) partitioning, where the hot buckets concentrate
    # the surviving pairs in a handful of tasks (guide §2.5 — measured at
    # sf0.1: 32 s fused vs 6.9 s with the boundary).  16-byte id rows
    # only; partition count follows spark.sql.shuffle.partitions + AQE.
    cands = salted_id_pairs(
        bands_df,
        id_col=id_col,
        key_col=("slot", "bandh"),
        carry=("n_toks", *[f"bv{j}" for j in range(bands)]),
        pair_filter=len_ok,
        first_shared_key=_first_shared_slot(bands),
    ).select("a_id", "b_id").repartition("a_id", "b_id")
    sa = sig.select(F.col(id_col).alias("a_id"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col(id_col).alias("b_id"), F.col("sig").alias("sig_b"))
    # NB: keep the zip_with form.  An "optimized" unrolled sum of 32
    # getItem comparisons was A/B'd and is ~8x SLOWER end to end (67 s vs
    # 8 s at sf0.1, interleaved reps): the 60+-node comparison tree blows
    # past the codegen method budget inside the join stage and the whole
    # stage falls back to interpreted evaluation — guide §1.1's "fresh
    # ideal implementation is usually slower at first" in action.
    match_frac = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v
            )
        )
        / F.size("sig_a")
    )
    # NB: keep the two-pass join shape (sig prefilter joins, THEN toks
    # joins).  A "fused" single-pass variant — both sides joining a
    # combined (sig, toks, n_toks) table once — was A/B'd in-process
    # (5 interleaved reps over pre-materialized candidates) and is
    # SLOWER (median 2.30 s vs 1.76 s): the 4-BHJ two-pass chain already
    # fuses into one WholeStageCodegen with narrower rows between joins,
    # while the fused form pays two extra broadcast builds of the joined
    # side table.
    prefiltered = (
        cands.join(sa, "a_id")
        .join(sb, "b_id")
        .filter(match_frac >= jaccard_threshold / 2.0)
        .select("a_id", "b_id")
    )
    ta = t.select(F.col(id_col).alias("a_id"), F.col("toks").alias("ta"), F.col("n_toks").alias("na"))
    tb = t.select(F.col(id_col).alias("b_id"), F.col("toks").alias("tb"), F.col("n_toks").alias("nb"))
    inter = F.size(F.array_intersect("ta", "tb"))
    jac = inter / (F.col("na") + F.col("nb") - inter)
    return (
        prefiltered.join(ta, "a_id")
        .join(tb, "b_id")
        .withColumn("jacc", jac.cast("double"))
        .filter(F.col("jacc") >= jaccard_threshold)
        .select("a_id", "b_id", "jacc")
    )


def cluster_documents(
    spark: SparkSession, sf_dir: str, jaccard_threshold: float = 0.8
) -> DataFrame:
    """Flagship: near-duplicate document clustering.

    documents -> MinHash-LSH candidates -> Jaccard verify -> connected
    components -> (doc_id, cluster_id, cluster_size).  Singleton documents
    cluster with themselves.  The document-scale analogue of the mention
    pipeline (SURVEY §7 step 2), exercising A12/J10/J11/X13 end to end.
    Returns holding no cache: ``out`` (a doc scan joined to materialized
    components) is cheaper to read twice than to cache.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with cache_scope():
        comps = connected_components(
            minhash_near_dup_pairs(docs, jaccard_threshold=jaccard_threshold)
        )
    out = (
        docs.select("doc_id")
        .join(comps, docs["doc_id"] == comps["node"], "left")
        .withColumn("cluster_id", F.coalesce("component", "doc_id"))
        .select("doc_id", "cluster_id")
    )
    sizes = out.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return out.join(sizes, "cluster_id").select("doc_id", "cluster_id", "cluster_size")
