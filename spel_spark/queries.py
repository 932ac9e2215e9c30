"""Driver-contract query catalog: every SQL-expressible operator from
SURVEY.md §2 as a (Spark builder, DuckDB oracle SQL) pair.

Conventions that make the driver's order-insensitive value-hash comparison
work (see __spark_entry__.py docstring):

* every computed column is aliased identically in Spark and SQL;
* doubles are ``round(x, 6)`` and cast to double on BOTH sides;
* portable hashing uses md5 hex strings (identical in Spark and DuckDB);
  xxhash64-based operators (engine-internal) are exported rows-only;
* timestamps are formatted to strings before output.

Each builder takes (spark, sf_dir) and reads the driver's parquet tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spel_spark.functions.normalize import norm_surface_col, norm_surface_sql
from spel_spark.functions.similarity import (
    cosine_sim,
    levenshtein_sim,
    token_jaccard,
)

MD5_SEEDS = ["s1", "s2", "s3", "s4"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _tp(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """_t plus the single-split parallelism guard — ONLY for queries whose
    result is invariant under row order/partitioning (per-row maps, joins,
    exact-integer aggs, fully-ordered windows).  Queries with cross-row
    FLOAT aggregation (e.g. tpch_q1's sum of doubles) must keep the
    scan's native partitioning: a repartition reorders the summation and
    shifts the round-6 result (observed on tpch_q1 — checksum flipped),
    which the DuckDB oracle comparison would count as a wrong answer.

    Why the guard at all: the driver's tables are one-row-group parquet
    files, so a scan is ONE partition and every narrow operator chained
    onto it (md5 fingerprints, 64-dim cosines, shingle MinHash) runs on a
    single core until the first exchange.  No-op on multi-split inputs
    (see session.ensure_min_parallelism)."""
    from spel_spark.session import ensure_min_parallelism

    return ensure_min_parallelism(_t(spark, sf_dir, name))


def _r6(col):
    return F.round(col, 6).cast("double")


# --------------------------------------------------------------------------
# classic relational coverage (scans/filters/aggs/windows — SURVEY §2.4-2.6)
# --------------------------------------------------------------------------

def q_tpch_q1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _r6(F.sum("l_quantity")).alias("sum_qty"),
            _r6(F.sum("l_extendedprice")).alias("sum_base_price"),
            _r6(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("sum_disc_price"),
            _r6(F.avg("l_quantity")).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       CAST(round(sum(l_quantity), 6) AS DOUBLE) AS sum_qty,
       CAST(round(sum(l_extendedprice), 6) AS DOUBLE) AS sum_base_price,
       CAST(round(sum(l_extendedprice * (1 - l_discount)), 6) AS DOUBLE) AS sum_disc_price,
       CAST(round(avg(l_quantity), 6) AS DOUBLE) AS avg_qty,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_top_orders_per_cust(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "rk")
    )


SQL_TOP_ORDERS = """
SELECT o_custkey, o_orderkey, rk FROM (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders) WHERE rk <= 3
"""


def q_occurrence_rank(spark, sf_dir):
    """W5/J1: occurrence rank — the rank-join that replaces the reference's
    stateful candidate consumption (src/spel/aida.py:48-50,79-84)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey", "o_orderstatus").orderBy(
        "o_orderdate", "o_orderkey"
    )
    return o.select(
        "o_custkey", "o_orderstatus", "o_orderkey",
        F.row_number().over(w).alias("occurrence_rank"),
    )


SQL_OCCURRENCE_RANK = """
SELECT o_custkey, o_orderstatus, o_orderkey,
       row_number() OVER (PARTITION BY o_custkey, o_orderstatus
                          ORDER BY o_orderdate, o_orderkey) AS occurrence_rank
FROM orders
"""


def q_consecutive_runs(spark, sf_dir):
    """A4/W3 gaps-and-islands: runs of equal l_returnflag per order —
    the phrase-building primitive (reference: src/spel/utils.py:389-396)."""
    li = _t(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) is NOT unique in the driver's synthetic
    # data; add l_returnflag for a deterministic total order
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber", "l_returnflag")
    runs = li.withColumn(
        "chg",
        F.when(
            F.lag("l_returnflag").over(w).isNull()
            | (F.lag("l_returnflag").over(w) != F.col("l_returnflag")),
            1,
        ).otherwise(0),
    ).withColumn("run_id", F.sum("chg").over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    ))
    return (
        runs.groupBy("l_orderkey", "run_id", "l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("run_len"),
            F.min("l_linenumber").alias("begin_line"),
            F.max("l_linenumber").alias("end_line"),
        )
    )


SQL_CONSECUTIVE_RUNS = """
WITH marked AS (
  SELECT l_orderkey, l_linenumber, l_returnflag,
         CASE WHEN lag(l_returnflag) OVER w IS NULL
                OR lag(l_returnflag) OVER w <> l_returnflag THEN 1 ELSE 0 END AS chg
  FROM lineitem
  WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber, l_returnflag)
), runs AS (
  SELECT *, CAST(sum(chg) OVER (PARTITION BY l_orderkey
                                ORDER BY l_linenumber, l_returnflag
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id
  FROM marked)
SELECT l_orderkey, run_id, l_returnflag,
       count(*) AS run_len, min(l_linenumber) AS begin_line,
       max(l_linenumber) AS end_line
FROM runs GROUP BY l_orderkey, run_id, l_returnflag
"""


def q_sessionize_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ; session TZ is pinned UTC so ntz->ltz->epoch is
    # exactly DuckDB's epoch(ts)
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    s = ev.withColumn(
        "new_sess", F.when(gap.isNull() | (gap > 3600), 1).otherwise(0)
    )
    return s.groupBy("user_id").agg(
        F.sum("new_sess").alias("n_sessions"), F.count(F.lit(1)).alias("n_events")
    )


SQL_SESSIONIZE = """
WITH g AS (
  SELECT user_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 3600 THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM g GROUP BY user_id
"""


def q_events_window_agg(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"), _r6(F.sum("value")).alias("sum_value"))
    )


SQL_EVENTS_WINDOW = """
SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
       count(*) AS n, CAST(round(sum(value), 6) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# record-linkage operators (SURVEY §2 north-star set) over driver tables
# --------------------------------------------------------------------------

def q_norm_surface(spark, sf_dir):
    p = _tp(spark, sf_dir, "part")
    return p.select(
        "p_partkey", norm_surface_col(F.col("p_name")).alias("norm_surface")
    )


SQL_NORM_SURFACE = (
    f"SELECT p_partkey, {norm_surface_sql('p_name')} AS norm_surface FROM part"
)


def q_blocking_first_token(spark, sf_dir):
    p = q_norm_surface(spark, sf_dir)
    return p.select(
        "p_partkey",
        F.concat(F.lit("f:"), F.split("norm_surface", " ").getItem(0)).alias("block_key"),
    )


SQL_BLOCKING_FIRST_TOKEN = f"""
SELECT p_partkey,
       'f:' || string_split({norm_surface_sql('p_name')}, ' ')[1] AS block_key
FROM part
"""


def q_pairs_exact_block(spark, sf_dir):
    """J10 pair generation: self-join on the blocking key, a < b."""
    b = q_blocking_first_token(spark, sf_dir)
    a = b.select(F.col("p_partkey").alias("a_key"), "block_key")
    c = b.select(F.col("p_partkey").alias("b_key"), "block_key")
    return (
        a.join(c, "block_key")
        .filter(F.col("a_key") < F.col("b_key"))
        .select("a_key", "b_key", "block_key")
    )


SQL_PAIRS_EXACT_BLOCK = f"""
WITH b AS (
  SELECT p_partkey,
         'f:' || string_split({norm_surface_sql('p_name')}, ' ')[1] AS block_key
  FROM part)
SELECT a.p_partkey AS a_key, c.p_partkey AS b_key, a.block_key
FROM b a JOIN b c USING (block_key)
WHERE a.p_partkey < c.p_partkey
"""


def q_pair_scores(spark, sf_dir):
    """X12/X13 scoring over blocked pairs: token jaccard + levenshtein sim
    (JW is engine-internal, exported rows-only elsewhere)."""
    p = q_norm_surface(spark, sf_dir)
    pairs = q_pairs_exact_block(spark, sf_dir)
    a = p.select(F.col("p_partkey").alias("a_key"), F.col("norm_surface").alias("a_norm"))
    b = p.select(F.col("p_partkey").alias("b_key"), F.col("norm_surface").alias("b_norm"))
    return (
        pairs.join(a, "a_key").join(b, "b_key")
        .select(
            "a_key", "b_key",
            _r6(token_jaccard(F.col("a_norm"), F.col("b_norm"))).alias("jacc"),
            _r6(levenshtein_sim(F.col("a_norm"), F.col("b_norm"))).alias("lev_sim"),
        )
    )


_SQL_PAIR_SCORES_BASE = f"""
WITH n AS (
  SELECT p_partkey, {norm_surface_sql('p_name')} AS norm_surface FROM part),
b AS (
  SELECT p_partkey, norm_surface,
         'f:' || string_split(norm_surface, ' ')[1] AS block_key FROM n),
pr AS (
  SELECT a.p_partkey AS a_key, c.p_partkey AS b_key,
         a.norm_surface AS a_norm, c.norm_surface AS b_norm
  FROM b a JOIN b c USING (block_key)
  WHERE a.p_partkey < c.p_partkey),
tok AS (
  SELECT *, list_distinct(string_split(a_norm, ' ')) AS ta,
            list_distinct(string_split(b_norm, ' ')) AS tb
  FROM pr)
SELECT a_key, b_key,
       CAST(round(CASE WHEN len(list_distinct(list_concat(ta, tb))) > 0
            THEN len(list_intersect(ta, tb))::DOUBLE
                 / len(list_distinct(list_concat(ta, tb)))
            ELSE 0.0 END, 6) AS DOUBLE) AS jacc,
       CAST(round(CASE WHEN greatest(length(a_norm), length(b_norm)) > 0
            THEN 1.0 - levenshtein(a_norm, b_norm)::DOUBLE
                 / greatest(length(a_norm), length(b_norm))
            ELSE 1.0 END, 6) AS DOUBLE) AS lev_sim
FROM tok
"""

SQL_PAIR_SCORES = _SQL_PAIR_SCORES_BASE


def q_jaro_winkler(spark, sf_dir):
    """X12 Jaro-Winkler over blocked pairs — the Arrow-batched pandas UDF
    with the native/numpy kernel (functions/similarity.py).  Oracle: DuckDB's
    builtin jaro_winkler_similarity (verified to agree with the kernel on
    500 randomized cases; the only divergence is ''-vs-'' where our kernel
    returns 1.0 — the CASE below pins the oracle to the same convention)."""
    from spel_spark.functions.similarity import jaro_winkler_udf

    p = q_norm_surface(spark, sf_dir)
    pairs = q_pairs_exact_block(spark, sf_dir)
    a = p.select(F.col("p_partkey").alias("a_key"), F.col("norm_surface").alias("a_norm"))
    b = p.select(F.col("p_partkey").alias("b_key"), F.col("norm_surface").alias("b_norm"))
    return (
        pairs.join(a, "a_key").join(b, "b_key")
        .select(
            "a_key", "b_key",
            _r6(jaro_winkler_udf(F.col("a_norm"), F.col("b_norm"))).alias("jw"),
        )
    )


SQL_JARO_WINKLER = f"""
WITH n AS (
  SELECT p_partkey, {norm_surface_sql('p_name')} AS norm_surface FROM part),
b AS (
  SELECT p_partkey, norm_surface,
         'f:' || string_split(norm_surface, ' ')[1] AS block_key FROM n)
SELECT a.p_partkey AS a_key, c.p_partkey AS b_key,
       CAST(round(CASE WHEN a.norm_surface = '' AND c.norm_surface = ''
            THEN 1.0
            ELSE jaro_winkler_similarity(a.norm_surface, c.norm_surface)
            END, 6) AS DOUBLE) AS jw
FROM b a JOIN b c USING (block_key)
WHERE a.p_partkey < c.p_partkey
"""


def q_match_edges(spark, sf_dir):
    """Threshold filter over scored pairs (the edge builder)."""
    return q_pair_scores(spark, sf_dir).filter(F.col("jacc") >= 0.5).select(
        "a_key", "b_key", "jacc"
    )


SQL_MATCH_EDGES = f"SELECT a_key, b_key, jacc FROM ({_SQL_PAIR_SCORES_BASE}) WHERE jacc >= 0.5"


def q_pairwise_micro_f1(spark, sf_dir):
    """A5 micro P/R/F1 as one aggregation over a deterministic pair sample:
    gold = same event_type, predicted = same day (a stand-in classifier)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 7 == 0)
    a = ev.select(
        F.col("user_id"), F.col("event_id").alias("a_id"),
        F.col("event_type").alias("a_type"),
        F.date_format("ts", "yyyy-MM-dd").alias("a_day"),
    )
    b = ev.select(
        F.col("user_id"), F.col("event_id").alias("b_id"),
        F.col("event_type").alias("b_type"),
        F.date_format("ts", "yyyy-MM-dd").alias("b_day"),
    )
    pairs = a.join(b, "user_id").filter(F.col("a_id") < F.col("b_id"))
    g = F.col("a_type") == F.col("b_type")
    p = F.col("a_day") == F.col("b_day")
    agg = pairs.agg(
        F.sum((g & p).cast("long")).alias("tp"),
        F.sum((~g & p).cast("long")).alias("fp"),
        F.sum((g & ~p).cast("long")).alias("fn"),
    )
    prec = F.col("tp") / F.greatest(F.col("tp") + F.col("fp"), F.lit(1))
    rec = F.col("tp") / F.greatest(F.col("tp") + F.col("fn"), F.lit(1))
    return agg.select(
        "tp", "fp", "fn",
        _r6(prec).alias("precision"), _r6(rec).alias("recall"),
        _r6(F.when(prec + rec > 0, 2 * prec * rec / (prec + rec)).otherwise(0.0)).alias("f1"),
    )


SQL_PAIRWISE_MICRO_F1 = """
WITH s AS (SELECT * FROM events WHERE event_id % 7 = 0),
pairs AS (
  SELECT a.event_type = b.event_type AS g,
         strftime(a.ts, '%Y-%m-%d') = strftime(b.ts, '%Y-%m-%d') AS p
  FROM s a JOIN s b ON a.user_id = b.user_id AND a.event_id < b.event_id),
agg AS (
  SELECT CAST(sum(CASE WHEN g AND p THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(sum(CASE WHEN NOT g AND p THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(sum(CASE WHEN g AND NOT p THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM pairs)
SELECT tp, fp, fn,
  CAST(round(tp::DOUBLE / greatest(tp + fp, 1), 6) AS DOUBLE) AS precision,
  CAST(round(tp::DOUBLE / greatest(tp + fn, 1), 6) AS DOUBLE) AS recall,
  CAST(round(CASE WHEN tp::DOUBLE / greatest(tp + fp, 1) + tp::DOUBLE / greatest(tp + fn, 1) > 0
    THEN 2 * (tp::DOUBLE / greatest(tp + fp, 1)) * (tp::DOUBLE / greatest(tp + fn, 1))
         / (tp::DOUBLE / greatest(tp + fp, 1) + tp::DOUBLE / greatest(tp + fn, 1))
    ELSE 0.0 END, 6) AS DOUBLE) AS f1
FROM agg
"""


def q_punct_tokens(spark, sf_dir):
    """F2: punctuation-aware splitter with exact char offsets over document
    text (ref utils.py:22-59 branch semantics incl. the possessive split).
    The DuckDB twin re-expresses the whole branch cascade with parallel
    unnest + window prefix-sums + list_filter — verified against the
    Python twin on the corpus AND adversarial edge cases (all-punct
    words, double spaces, possessive+trailing-punct, non-ASCII)."""
    from spel_spark.functions.tokenize import punct_tokenize

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("conv_id"), F.lit(0).alias("turn_idx"), F.col("text")
    )
    return punct_tokenize(d)


SQL_PUNCT_TOKENS = r"""
WITH ws AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
w AS (
  SELECT doc_id,
         unnest(generate_series(0, len(words) - 1)) AS i,
         unnest(words) AS word
  FROM ws
),
wo AS (
  SELECT doc_id, i, word,
         CAST(coalesce(SUM(len(word) + 1)
            OVER (PARTITION BY doc_id ORDER BY i
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT) AS b
  FROM w
),
parts AS (
  SELECT doc_id, i, word, b, b + len(word) AS e,
         regexp_extract(word, '^([!-/:-@\[-`{-~]+)', 1) AS lead
  FROM wo WHERE len(word) > 0
),
shaped AS (
  SELECT doc_id, i, word, b, e, lead,
         CASE WHEN len(lead) = len(word) THEN ''
              ELSE regexp_extract(word[len(lead) + 1:], '([!-/:-@\[-`{-~]+)$', 1)
         END AS trail
  FROM parts
),
subtoks AS (
  SELECT doc_id, i, unnest(
    CASE
      WHEN lead = '' AND trail = '' AND (word LIKE '%''s' OR word LIKE '%''S')
        THEN [{'tok': word[1:len(word)-2], 'bb': b, 'ee': e - 2},
              {'tok': word[len(word)-1:], 'bb': e - 2, 'ee': e}]
      WHEN lead = '' AND trail = ''
        THEN [{'tok': word, 'bb': b, 'ee': e}]
      ELSE list_filter(
        [{'tok': lead, 'bb': b, 'ee': b + len(lead)},
         {'tok': word[len(lead)+1:len(word)-len(trail)], 'bb': b + len(lead), 'ee': e - len(trail)},
         {'tok': CASE WHEN len(trail) > 0 THEN word[len(word)-len(trail)+1:] ELSE '' END,
          'bb': e - len(trail), 'ee': e}],
        x -> len(x.tok) > 0)
    END) AS s
  FROM shaped
)
SELECT doc_id AS conv_id, 0 AS turn_idx,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i, s.bb) - 1 AS INT) AS token_idx,
       s.tok AS tok, CAST(s.bb AS INT) AS begin_char, CAST(s.ee AS INT) AS end_char
FROM subtoks
"""


def q_macro_f1(spark, sf_dir):
    """A6 macro P/R/F1: per-block (user) F1 rows averaged UNWEIGHTED into
    the reference's final macro row (src/spel/decao_eval.py:1205-1221) —
    exercises operators/metrics.pairwise_f1_by_block + pairwise_macro_f1
    over the same stand-in pair labeling as pairwise_micro_f1."""
    from spel_spark.operators.metrics import pairwise_macro_f1

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 7 == 0)
    a = ev.select(
        F.col("user_id"), F.col("event_id").alias("a_id"),
        F.col("event_type").alias("a_type"),
        F.date_format("ts", "yyyy-MM-dd").alias("a_day"),
    )
    b = ev.select(
        F.col("user_id"), F.col("event_id").alias("b_id"),
        F.col("event_type").alias("b_type"),
        F.date_format("ts", "yyyy-MM-dd").alias("b_day"),
    )
    resolved = (
        a.join(b, "user_id")
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            F.col("user_id").cast("string").alias("block_key"),
            (F.col("a_type") == F.col("b_type")).alias("same_entity"),
            (F.col("a_day") == F.col("b_day")).alias("pred_same"),
        )
    )
    out = pairwise_macro_f1(resolved)
    return out.select(
        "n_blocks",
        _r6(F.col("macro_precision")).alias("macro_precision"),
        _r6(F.col("macro_recall")).alias("macro_recall"),
        _r6(F.col("macro_f1")).alias("macro_f1"),
    )


SQL_MACRO_F1 = """
WITH s AS (SELECT * FROM events WHERE event_id % 7 = 0),
pairs AS (
  SELECT a.user_id AS block_key,
         a.event_type = b.event_type AS g,
         strftime(a.ts, '%Y-%m-%d') = strftime(b.ts, '%Y-%m-%d') AS p
  FROM s a JOIN s b ON a.user_id = b.user_id AND a.event_id < b.event_id),
per AS (
  SELECT block_key,
         CAST(sum(CASE WHEN g AND p THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(sum(CASE WHEN NOT g AND p THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(sum(CASE WHEN g AND NOT p THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM pairs GROUP BY block_key),
scored AS (
  SELECT tp::DOUBLE / greatest(tp + fp, 1) AS prec,
         tp::DOUBLE / greatest(tp + fn, 1) AS rec
  FROM per),
f AS (
  SELECT prec, rec,
         CASE WHEN prec + rec > 0 THEN 2 * prec * rec / (prec + rec)
              ELSE 0.0 END AS f1
  FROM scored)
SELECT CAST(count(*) AS BIGINT) AS n_blocks,
  CAST(round(avg(prec), 6) AS DOUBLE) AS macro_precision,
  CAST(round(avg(rec), 6) AS DOUBLE) AS macro_recall,
  CAST(round(avg(f1), 6) AS DOUBLE) AS macro_f1
FROM f
"""


def _md5_minhash_cols(norm_col):
    """Portable MinHash: per seed, min over md5(seed || shingle) hex strings
    (md5 is bit-identical in Spark and DuckDB; string min is total order)."""
    n = F.length(norm_col)
    idx = F.sequence(F.lit(1), F.greatest(n - 2, F.lit(1)))
    sh = F.array_distinct(F.transform(idx, lambda i: F.substr(norm_col, i, F.lit(3))))
    def seeded(seed: str):
        # one-arg lambda only: a two-arg lambda would become (element, index)
        return F.array_min(
            F.transform(sh, lambda g: F.md5(F.concat(F.lit(seed), g)))
        )

    return [seeded(s) for s in MD5_SEEDS]


def q_minhash_signature(spark, sf_dir):
    """A12 MinHash signature, portable md5 variant (4 seeds)."""
    p = q_norm_surface(spark, sf_dir)
    mh = _md5_minhash_cols(F.col("norm_surface"))
    return p.select(
        "p_partkey", *[c.alias(f"mh{i}") for i, c in enumerate(mh)]
    )


def q_simhash_signature(spark, sf_dir):
    """SimHash signature, portable 32-bit md5 variant (the engine's
    64-bit xxhash64 form is operators/dedup.py:simhash64, rows-only).
    Same sign-of-per-bit-weighted-sums operator, md5 token hashes so
    Spark and DuckDB agree bit-for-bit.  Empty tokens from space runs
    are filtered on BOTH sides, mirroring the engine operator's token
    semantics (r3 verdict #7 / r4 advice #2)."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.length("tok") > 0)
    h = toks.withColumn(
        "h", F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
    )
    sums = h.groupBy("doc_id").agg(*[
        F.sum(
            (F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) * 2 - 1).cast("long")
        ).alias(f"b{i}")
        for i in range(32)
    ])
    sim = F.lit(0).cast("long")
    for i in range(32):
        sim = sim.bitwiseOR(
            F.when(
                F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
            ).otherwise(F.lit(0).cast("long"))
        )
    return sums.select("doc_id", sim.alias("simhash32"))


SQL_SIMHASH_SIGNATURE = """
WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
h AS (SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS h
      FROM t WHERE tok <> ''),
b AS (SELECT doc_id, i, sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM h CROSS JOIN range(0, 32) r(i) GROUP BY doc_id, i)
SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT)
       AS simhash32
FROM b GROUP BY doc_id
"""


def q_simhash_dedup_portable(spark, sf_dir):
    """The SimHash near-dup CHAIN (not just the signature) with a DuckDB
    twin: portable 32-bit md5 simhash -> 4x8-bit band candidates (a < b,
    deduped across bands) -> popcount(xor) verify at max_hamming 4
    (the engine's 8/64 rate on the 32-bit signature).  The engine path
    (operators/dedup.simhash_candidate_pairs, 64-bit xxhash64 + salted
    band join) stays rows-only as simhash_dedup."""
    sig = q_simhash_signature(spark, sf_dir)
    bands = sig.select(
        "doc_id",
        "simhash32",
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.lit(f"{j}:"),
                        F.shiftright(F.col("simhash32"), j * 8)
                        .bitwiseAND(F.lit(0xFF))
                        .cast("string"),
                    )
                    for j in range(4)
                ]
            )
        ).alias("band"),
    )
    a = bands.select(
        F.col("doc_id").alias("a_id"), F.col("simhash32").alias("sh_a"), "band"
    )
    b = bands.select(
        F.col("doc_id").alias("b_id"), F.col("simhash32").alias("sh_b"), "band"
    )
    return (
        a.join(b, "band")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "sh_a", "sh_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= 4)
        .select("a_id", "b_id", F.col("hamming").cast("int").alias("hamming"))
    )


SQL_SIMHASH_DEDUP_PORTABLE = f"""
WITH sig AS ({SQL_SIMHASH_SIGNATURE}),
bands AS (
  SELECT doc_id, simhash32,
         unnest([
           '0:' || ((simhash32 >> 0) & 255)::VARCHAR,
           '1:' || ((simhash32 >> 8) & 255)::VARCHAR,
           '2:' || ((simhash32 >> 16) & 255)::VARCHAR,
           '3:' || ((simhash32 >> 24) & 255)::VARCHAR]) AS band
  FROM sig),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                  a.simhash32 AS sh_a, b.simhash32 AS sh_b
  FROM bands a JOIN bands b USING (band)
  WHERE a.doc_id < b.doc_id)
SELECT a_id, b_id, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(sh_a, sh_b)) <= 4
"""


def _sql_shingles(expr):
    return (
        f"list_distinct(list_transform(range(1, greatest(length({expr}) - 2, 1) + 1), "
        f"i -> substr({expr}, i::int, 3)))"
    )


SQL_MINHASH_SIGNATURE = f"""
WITH n AS (SELECT p_partkey, {norm_surface_sql('p_name')} AS ns FROM part),
sh AS (SELECT p_partkey, {_sql_shingles('ns')} AS grams FROM n)
SELECT p_partkey,
  list_min(list_transform(grams, g -> md5('s1' || g))) AS mh0,
  list_min(list_transform(grams, g -> md5('s2' || g))) AS mh1,
  list_min(list_transform(grams, g -> md5('s3' || g))) AS mh2,
  list_min(list_transform(grams, g -> md5('s4' || g))) AS mh3
FROM sh
"""


def q_lsh_band_keys(spark, sf_dir):
    """LSH banding over the portable signature: 2 bands x 2 rows."""
    sig = q_minhash_signature(spark, sf_dir)
    return sig.select(
        "p_partkey",
        F.md5(F.concat(F.col("mh0"), F.col("mh1"))).alias("band0"),
        F.md5(F.concat(F.col("mh2"), F.col("mh3"))).alias("band1"),
    )


SQL_LSH_BAND_KEYS = f"""
SELECT p_partkey, md5(mh0 || mh1) AS band0, md5(mh2 || mh3) AS band1
FROM ({SQL_MINHASH_SIGNATURE})
"""


# --------------------------------------------------------------------------
# training-data pipeline: dedup / text analysis / embeddings (task brief)
# --------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    """Exact dedup via content hash: per source, docs vs distinct texts."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_distinct"),
    )


SQL_DEDUP_EXACT = """
SELECT source, count(*) AS n_docs, count(DISTINCT md5(text)) AS n_distinct
FROM documents GROUP BY source
"""


def q_dedup_ngram_jaccard(spark, sf_dir):
    """N-gram (token-set) Jaccard near-dup pairs within a language block."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.array_distinct(F.split("text", " ")).alias("toks")
    )
    a = d.select(F.col("doc_id").alias("a_doc"), "lang", F.col("toks").alias("ta"))
    b = d.select(F.col("doc_id").alias("b_doc"), "lang", F.col("toks").alias("tb"))
    pairs = a.join(b, "lang").filter(F.col("a_doc") < F.col("b_doc"))
    jac = F.size(F.array_intersect("ta", "tb")) / F.size(F.array_union("ta", "tb"))
    return (
        pairs.withColumn("jacc", _r6(jac))
        .filter(F.col("jacc") >= 0.8)
        .select("a_doc", "b_doc", "lang", "jacc")
    )


SQL_DEDUP_NGRAM_JACCARD = """
WITH d AS (
  SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS toks
  FROM documents),
p AS (
  SELECT a.doc_id AS a_doc, b.doc_id AS b_doc, a.lang,
         CAST(round(len(list_intersect(a.toks, b.toks))::DOUBLE
              / len(list_distinct(list_concat(a.toks, b.toks))), 6) AS DOUBLE) AS jacc
  FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id)
SELECT a_doc, b_doc, lang, jacc FROM p WHERE jacc >= 0.8
"""


def q_dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs within a label block — zip_with/
    aggregate dot product, no UDF.

    The corpus is augmented with PLANTED duplicates (copies of vec_id < 5
    at -1 - vec_id — negative ids can never collide with natural ids at
    any SF) so the checked result is non-empty everywhere: the synthetic
    embeddings' natural in-label cosine tops out ~0.47, so a high
    threshold alone would green-light a vacuous empty-vs-empty parity
    check.  Threshold 0.4 admits both the planted exact dups (cos = 1.0)
    and the densest natural near-dups — the kernel is exercised on both.
    """
    base = _tp(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    e = base.unionByName(
        base.filter(F.col("vec_id") < 5).select(
            (-1 - F.col("vec_id")).alias("vec_id"), "label", "v"
        )
    )
    a = e.select(F.col("vec_id").alias("a_vec"), "label", F.col("v").alias("va"))
    b = e.select(F.col("vec_id").alias("b_vec"), "label", F.col("v").alias("vb"))
    pairs = a.join(b, "label").filter(F.col("a_vec") < F.col("b_vec"))
    return (
        pairs.withColumn("cos", _r6(cosine_sim(F.col("va"), F.col("vb"))))
        .filter(F.col("cos") >= 0.4)
        .select("a_vec", "b_vec", "label", "cos")
    )


SQL_DEDUP_EMBEDDING_COSINE = """
WITH base AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
e AS (
  SELECT * FROM base
  UNION ALL
  SELECT -1 - vec_id, label, v FROM base WHERE vec_id < 5),
p AS (
  SELECT a.vec_id AS a_vec, b.vec_id AS b_vec, a.label,
         CAST(round(list_cosine_similarity(a.v, b.v), 6) AS DOUBLE) AS cos
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
SELECT a_vec, b_vec, label, cos FROM p WHERE cos >= 0.4
"""


def q_ann_topk_cosine(spark, sf_dir):
    """Brute-force cosine top-k neighbors for the first 10 query vectors —
    the exactness baseline for ANN (scale path: LSH/IVF bucketing)."""
    e = _tp(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    pairs = q.crossJoin(e).filter(F.col("vec_id") != F.col("q_id"))
    scored = pairs.select(
        "q_id", F.col("vec_id").alias("nbr_id"),
        cosine_sim(F.col("qv"), F.col("v")).alias("cos_raw"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_raw").desc(), F.col("nbr_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("q_id", "nbr_id", "rk", _r6(F.col("cos_raw")).alias("cos"))
    )


SQL_ANN_TOPK = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
s AS (
  SELECT q_id, e.vec_id AS nbr_id, list_cosine_similarity(qv, e.v) AS cos_raw
  FROM q CROSS JOIN e WHERE e.vec_id <> q_id),
r AS (
  SELECT q_id, nbr_id,
         row_number() OVER (PARTITION BY q_id ORDER BY cos_raw DESC, nbr_id) AS rk,
         CAST(round(cos_raw, 6) AS DOUBLE) AS cos
  FROM s)
SELECT q_id, nbr_id, rk, cos FROM r WHERE rk <= 5
"""


# --- IVF ANN, portable variant: literal centroids -> DuckDB-checkable ----

_IVF_DIM = 64      # driver embeddings are 64-dim at every SF
_IVF_NLIST = 8
_IVF_NPROBE = 4


def _ivf_literal_centroids() -> list[list[float]]:
    """Deterministic data-independent centroids (seeded gaussian, L2
    normalized).  Literal on BOTH sides: Spark gets them as F.lit trees,
    DuckDB as repr()-rendered SQL literals — repr round-trips doubles
    exactly, so the two engines score identical centroid dots."""
    import numpy as np

    rng = np.random.Generator(np.random.PCG64(7))
    c = rng.standard_normal((_IVF_NLIST, _IVF_DIM))
    c = c / np.linalg.norm(c, axis=1, keepdims=True)
    return [[float(x) for x in row] for row in c]


IVF_CENTROIDS = _ivf_literal_centroids()


def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN with LITERAL centroids (round-3 verdict #4): nearest-cell
    assignment + nprobe probing + exact cosine re-rank, oracle-checked
    end to end.  The k-means-trained quantizer is the same operator with
    ``centroids=ivf_centroids(...)`` (rows-only query ann_ivf_kmeans;
    recall-tested in tests/test_ann.py)."""
    from spel_spark.operators.ann import ann_ivf_topk

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.filter(F.col("vec_id") < 10)
    return ann_ivf_topk(
        e, q, k=5, nprobe=_IVF_NPROBE, centroids=IVF_CENTROIDS, dim=_IVF_DIM
    )


def _sql_ivf_centroid_list(c: list[float]) -> str:
    return "[" + ", ".join(repr(x) for x in c) + "]"


# Probe ordering mirrors ann_ivf_topk's reverse(array_sort(struct(s, i)))
# exactly: score DESC, then cell index DESC on (impossible-in-float) ties.
# Assignment argmax mirrors array_position(scores, array_max(scores)):
# FIRST max wins in both engines (list_position is first-occurrence).
def _sql_ivf_topk(centroids: list[list[float]], nprobe: int) -> str:
    """DuckDB twin of ann_ivf_topk for any literal centroid set — shared
    by the gaussian-literal variant and the frozen-k-means variant."""
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
scored AS (SELECT vec_id, v, [{", ".join(
    f"list_dot_product(v, {_sql_ivf_centroid_list(c)})" for c in centroids
)}] AS cs FROM e),
inv AS (SELECT vec_id AS nbr_id, v AS nbr_v,
               list_position(cs, list_max(cs)) - 1 AS cell
        FROM scored),
probe AS (
  SELECT vec_id AS q_id, v AS q_v, i AS cell,
         row_number() OVER (
           PARTITION BY vec_id
           ORDER BY list_extract(cs, i + 1) DESC, i DESC) AS prk
  FROM scored CROSS JOIN range(0, {len(centroids)}) r(i)
  WHERE vec_id < 10),
cands AS (
  SELECT p.q_id, p.q_v, inv.nbr_id, inv.nbr_v
  FROM (SELECT * FROM probe WHERE prk <= {nprobe}) p
  JOIN inv USING (cell)
  WHERE inv.nbr_id <> p.q_id),
s AS (SELECT q_id, nbr_id, list_cosine_similarity(q_v, nbr_v) AS cos_raw
      FROM cands),
r2 AS (SELECT q_id, nbr_id,
              row_number() OVER (
                PARTITION BY q_id ORDER BY cos_raw DESC, nbr_id) AS rk,
              CAST(round(cos_raw, 6) AS DOUBLE) AS cos
       FROM s)
SELECT q_id, nbr_id, rk, cos FROM r2 WHERE rk <= 5
"""


SQL_ANN_IVF_TOPK = _sql_ivf_topk(IVF_CENTROIDS, _IVF_NPROBE)


def q_ann_ivf_kmeans(spark, sf_dir):
    """IVF ANN with the TRAINED coarse quantizer — now fully
    oracle-checked (round-4 verdict #4): the pyspark.ml k-means fit is
    seeded and deterministic, so its centroids are frozen once as a
    shipped model artifact (operators/ivf_model.py, provenance asserted
    by tests/test_ann.py::test_frozen_kmeans_centroids_match_training)
    and injected as identical literals into both engines — the FAISS
    deployment shape: train offline, broadcast centroids at query
    time."""
    from spel_spark.operators.ann import ann_ivf_topk
    from spel_spark.operators.ivf_model import KMEANS_CENTROIDS

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.filter(F.col("vec_id") < 10)
    return ann_ivf_topk(
        e, q, k=5, nprobe=_IVF_NPROBE, centroids=KMEANS_CENTROIDS, dim=_IVF_DIM
    )


def _sql_ann_ivf_kmeans() -> str:
    from spel_spark.operators.ivf_model import KMEANS_CENTROIDS

    return _sql_ivf_topk(KMEANS_CENTROIDS, _IVF_NPROBE)


SQL_ANN_IVF_KMEANS = _sql_ann_ivf_kmeans()


# --- LSH ANN, portable: seeded hyperplanes are literals in both engines --

_LSH_BITS = 16
_LSH_BANDS = 4


def q_ann_lsh_topk(spark, sf_dir):
    """Random-hyperplane LSH ANN, oracle-checked end to end: the seeded
    hyperplanes (numpy PCG64(42), the operator's own quantizer) are
    literal in BOTH engines, so sign-bit signatures, band bucketing, the
    skew-salted candidate join and the exact-cosine re-rank are all
    reproducible in DuckDB.  Completes the oracle-checked ANN family:
    brute force + IVF + LSH."""
    from spel_spark.operators.ann import ann_lsh_topk

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.filter(F.col("vec_id") < 10)
    return ann_lsh_topk(e, q, k=5, n_bits=_LSH_BITS, bands=_LSH_BANDS, dim=_IVF_DIM)


def _sql_lsh_ann() -> str:
    from spel_spark.operators.ann import _hyperplanes

    planes = _hyperplanes(_IVF_DIM, _LSH_BITS, seed=42)
    bit_terms = " + ".join(
        f"(CASE WHEN list_dot_product(v, {_sql_ivf_centroid_list(p)}) > 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    r = _LSH_BITS // _LSH_BANDS
    mask = (1 << r) - 1
    band_exprs = ", ".join(
        f"'{j}:' || (((sig >> {j * r}) & {mask}))::VARCHAR" for j in range(_LSH_BANDS)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sig AS (SELECT vec_id, v, CAST({bit_terms} AS BIGINT) AS sig FROM e),
bands AS (SELECT vec_id, v, unnest([{band_exprs}]) AS band FROM sig),
cands AS (
  SELECT DISTINCT q.vec_id AS q_id, n.vec_id AS nbr_id
  FROM bands q JOIN bands n USING (band)
  WHERE q.vec_id < 10 AND q.vec_id <> n.vec_id),
qv AS (SELECT vec_id AS q_id, v AS q_v FROM e WHERE vec_id < 10),
nv AS (SELECT vec_id AS nbr_id, v AS nbr_v FROM e),
s AS (SELECT c.q_id, c.nbr_id, list_cosine_similarity(q_v, nbr_v) AS cos_raw
      FROM cands c JOIN qv USING (q_id) JOIN nv USING (nbr_id)),
r2 AS (SELECT q_id, nbr_id,
              row_number() OVER (
                PARTITION BY q_id ORDER BY cos_raw DESC, nbr_id) AS rk,
              CAST(round(cos_raw, 6) AS DOUBLE) AS cos
       FROM s)
SELECT q_id, nbr_id, rk, cos FROM r2 WHERE rk <= 5
"""


SQL_ANN_LSH_TOPK = _sql_lsh_ann()


def q_text_stats(spark, sf_dir):
    """Text quality scoring: token counts, uniqueness, mean token length,
    BPE-ish length estimate (ceil(chars/4))."""
    d = _tp(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_uniq_tokens"),
        _r6(F.length("text") / F.size(toks)).alias("chars_per_token"),
        F.ceil(F.length("text") / 4).cast("long").alias("est_bpe_tokens"),
    )


SQL_TEXT_STATS = """
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       len(list_distinct(string_split(text, ' '))) AS n_uniq_tokens,
       CAST(round(length(text)::DOUBLE / len(string_split(text, ' ')), 6) AS DOUBLE)
         AS chars_per_token,
       CAST(ceil(length(text)::DOUBLE / 4) AS BIGINT) AS est_bpe_tokens
FROM documents
"""


_STOPWORDS = ["the", "a", "of", "and", "to"]


def q_lang_stopword_ratio(spark, sf_dir):
    """Language-ID heuristic: English-stopword ratio per document."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop = F.size(
        F.filter(toks, lambda t: t.isin(_STOPWORDS))
    )
    return d.select(
        "doc_id", "lang",
        _r6(stop / F.size(toks)).alias("stop_ratio"),
        (stop / F.size(toks) > 0.05).alias("looks_en"),
    )


SQL_LANG_STOPWORD = f"""
WITH t AS (
  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
s AS (
  SELECT doc_id, lang,
         len(list_filter(toks, x -> list_contains({_STOPWORDS}, x)))::DOUBLE
           / len(toks) AS r
  FROM t)
SELECT doc_id, lang, CAST(round(r, 6) AS DOUBLE) AS stop_ratio,
       r > 0.05 AS looks_en
FROM s
"""


def q_doc_fingerprint(spark, sf_dir):
    """Document fingerprinting: min-md5 over word 5-grams (winnowing-lite,
    portable)."""
    d = _tp(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - 5, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i + 1, 5)))
    )
    return d.select("doc_id", F.array_min(grams).alias("fingerprint"))


SQL_DOC_FINGERPRINT = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id,
  list_min(list_transform(range(0, greatest(len(toks) - 5, 0) + 1),
           i -> md5(array_to_string(toks[i+1:i+5], ' ')))) AS fingerprint
FROM t
"""


def q_bioes_tagging(spark, sf_dir):
    """W1: BIOES tags from an in-mention bitmap (lag/lead windows) over a
    token stream derived from events (doc = user, token order = ts)."""
    from spel_spark.operators.spans import bioes_tags

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tokens = ev.select(
        F.col("user_id").alias("doc_id"),
        F.row_number().over(w).alias("token_idx"),
        (F.col("event_type") == "click").alias("is_in_mention"),
    )
    return bioes_tags(tokens).select("doc_id", "token_idx", "bioes", "bioes_code")


SQL_BIOES = """
WITH t AS (
  SELECT user_id AS doc_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS token_idx,
         event_type = 'click' AS cur
  FROM events),
n AS (
  SELECT doc_id, token_idx, cur,
         coalesce(lag(cur) OVER w, false) AS prev,
         coalesce(lead(cur) OVER w, false) AS nxt
  FROM t WINDOW w AS (PARTITION BY doc_id ORDER BY token_idx))
SELECT doc_id, token_idx,
  CASE WHEN NOT cur THEN 'O'
       WHEN NOT prev AND NOT nxt THEN 'S'
       WHEN NOT prev AND nxt THEN 'B'
       WHEN prev AND nxt THEN 'I'
       ELSE 'E' END AS bioes,
  CASE WHEN NOT cur THEN 2
       WHEN NOT prev AND NOT nxt THEN 4
       WHEN NOT prev AND nxt THEN 0
       WHEN prev AND nxt THEN 1
       ELSE 3 END AS bioes_code
FROM n
"""


def q_softmax_window(spark, sf_dir):
    """X7: numerically-stable softmax of event values per user."""
    from spel_spark.operators.spans import softmax_over_window

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 11 == 0)
    out = softmax_over_window(ev, "value", ["user_id"])
    return out.select("user_id", "event_id", _r6(F.col("softmax")).alias("softmax"))


SQL_SOFTMAX = """
WITH s AS (SELECT * FROM events WHERE event_id % 11 = 0),
m AS (
  SELECT user_id, event_id,
         exp(value - max(value) OVER (PARTITION BY user_id)) AS e
  FROM s)
SELECT user_id, event_id,
       CAST(round(e / sum(e) OVER (PARTITION BY user_id), 6) AS DOUBLE) AS softmax
FROM m
"""


def q_word_resolution(spark, sf_dir):
    """A1+A2: word-candidate aggregation + resolution cascade (reference:
    src/spel/span_annotation.py:77-121) over subword annotations
    synthesized deterministically from events (doc = user, 3 subwords per
    word, 3-entry ranked top-k per subword)."""
    from spel_spark.operators.words import resolve_words

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    e = F.col("event_id").cast("long")
    a = e % 11
    b = (a + 1 + e % 5) % 11
    c = (a + 6 + e % 3) % 11
    rn = F.row_number().over(w) - 1
    sub = ev.select(
        F.col("user_id").cast("long").alias("doc_id"),
        F.floor(rn / 3).cast("long").alias("word_idx"),
        (rn % 3).cast("long").alias("subword_idx"),
        F.array(
            F.struct(a.alias("entity_id"), ((e * 37 % 100) / F.lit(100.0)).alias("p")),
            F.struct(b.alias("entity_id"), ((e * 53 % 100) / F.lit(100.0)).alias("p")),
            F.struct(c.alias("entity_id"), ((e * 71 % 100) / F.lit(100.0)).alias("p")),
        ).alias("top_k"),
    )
    out = resolve_words(sub)
    return out.select(
        "doc_id", "word_idx",
        F.col("resolved_entity").cast("long").alias("resolved_entity"),
        _r6(F.col("confidence")).alias("confidence"),
        F.col("n_subwords").cast("long").alias("n_subwords"),
    )


SQL_WORD_RESOLUTION = """
WITH base AS (
  SELECT CAST(user_id AS BIGINT) AS doc_id,
         (row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1) AS rn,
         CAST(event_id AS BIGINT) AS e
  FROM events),
sub AS (
  SELECT doc_id, CAST(rn // 3 AS BIGINT) AS word_idx,
         CAST(rn % 3 AS BIGINT) AS subword_idx, e,
         e % 11 AS a, (e % 11 + 1 + e % 5) % 11 AS b,
         (e % 11 + 6 + e % 3) % 11 AS c,
         (e * 37 % 100) / 100.0 AS p1, (e * 53 % 100) / 100.0 AS p2,
         (e * 71 % 100) / 100.0 AS p3
  FROM base),
ex AS (
  SELECT doc_id, word_idx, subword_idx, 0 AS pos, a AS entity_id, p1 AS p FROM sub
  UNION ALL SELECT doc_id, word_idx, subword_idx, 1, b, p2 FROM sub
  UNION ALL SELECT doc_id, word_idx, subword_idx, 2, c, p3 FROM sub),
nsub AS (
  SELECT doc_id, word_idx, count(*) AS n_subwords FROM sub GROUP BY 1, 2),
-- set semantics per subword (mirrors word_candidates' per_sub step): a
-- duplicated entity_id inside one top_k counts once with its best p
per_sub AS (
  SELECT doc_id, word_idx, subword_idx, entity_id,
         max(p) AS p, min(pos) AS pos
  FROM ex GROUP BY 1, 2, 3, 4),
agg AS (
  SELECT doc_id, word_idx, entity_id,
         count(*) AS n_hits, sum(p) AS sum_p,
         sum(CASE WHEN pos = 0 THEN 1 ELSE 0 END) AS votes,
         min(CASE WHEN pos = 0 THEN subword_idx END) AS first_vote
  FROM per_sub GROUP BY 1, 2, 3),
feat AS (
  SELECT a.doc_id, a.word_idx, a.entity_id, n.n_subwords,
         a.sum_p / n.n_subwords AS avg_p,
         a.n_hits = n.n_subwords AS is_cand,
         a.votes, a.first_vote,
         a.votes = n.n_subwords AS unanimous
  FROM agg a JOIN nsub n USING (doc_id, word_idx)),
rk AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id, word_idx
    ORDER BY unanimous DESC, is_cand DESC,
             CAST(floor((CASE WHEN is_cand THEN avg_p ELSE 0.0 END) * 1e9
                  + 0.5) AS BIGINT) DESC,
             votes DESC, first_vote ASC NULLS LAST, entity_id ASC) AS rnk
  FROM feat)
SELECT doc_id, word_idx, entity_id AS resolved_entity,
       CAST(round(avg_p, 6) AS DOUBLE) AS confidence, n_subwords
FROM rk WHERE rnk = 1
"""


# --------------------------------------------------------------------------
# EP1 flagship, portable: the composed reference evaluation lifecycle with a
# DuckDB twin (round-3 verdict #1) — gold-vs-gold AND one corruption setting
# --------------------------------------------------------------------------

_EP1_CORRUPT = 7  # the fixed corruption setting checked alongside N=0


def q_ep1_flagship_portable(spark, sf_dir):
    """EP1 oracle-checked: the full lifecycle (punct_tokenize -> gold word
    labeling -> synthesized subword top-k -> resolve_words cascade ->
    consecutive-run phrases -> re-segmenting span alignment -> MD/EL
    micro P/R/F1; ref evaluate_local.py:79-109) over the deterministic
    builtin corpus, run uncorrupted (corrupt_every=0 -> F1 1.0) and at
    one fixed md5-seeded corruption (corrupt_every=7).  sf_dir is
    ignored — the corpus is literal on both sides, so DuckDB re-executes
    the entire composition stage by stage."""
    from spel_spark.operators.evaluation import ep1_evaluate

    outs = []
    for n in (0, _EP1_CORRUPT):
        r = ep1_evaluate(
            spark,
            ttl_path="/nonexistent-use-builtin-corpus.ttl",
            corrupt_every=n or None,
            portable_corruption=True,
        ).withColumn("corrupt_every", F.lit(n))
        outs.append(r)
    u = outs[0].unionByName(outs[1])
    return u.select(
        "corrupt_every", "gold_source", "n_docs",
        "n_gold_phrases", "n_pred_phrases",
        "md_tp", "md_fp", "md_fn",
        _r6(F.col("md_precision")).alias("md_precision"),
        _r6(F.col("md_recall")).alias("md_recall"),
        _r6(F.col("md_f1")).alias("md_f1"),
        "el_tp", "el_fp", "el_fn",
        _r6(F.col("el_precision")).alias("el_precision"),
        _r6(F.col("el_recall")).alias("el_recall"),
        _r6(F.col("el_f1")).alias("el_f1"),
        "n_unaligned_entities",
    )


def _ep1_values_sql() -> tuple[str, str]:
    from spel_spark.operators.evaluation import FALLBACK_DOCS, FALLBACK_SPANS

    docs = ", ".join(f"({d}, '{t}')" for d, t in FALLBACK_DOCS)
    spans = ", ".join(
        f"({d}, {b}, {e}, '{s}', '{en}')" for d, b, e, s, en in FALLBACK_SPANS
    )
    return docs, spans


def _ep1_stream_sql(suffix: str, corrupt_every: int) -> str:
    """CTE chain for ONE phrase stream: corrupted labels -> synthesized
    2-subword top-k -> the SQL_WORD_RESOLUTION cascade (n_subwords = 2) ->
    gaps-and-islands phrase merge.  Mirrors evaluation.synth_subword_
    annotations + words.resolve_words + spans.phrases_from_annotations."""
    s = suffix
    if corrupt_every:
        lbl = (
            "CASE WHEN CAST(concat('0x', substr(md5(doc_id::VARCHAR || ':' || "
            f"word_idx::VARCHAR), 1, 8)) AS BIGINT) % {corrupt_every} = 0 "
            "THEN (CASE WHEN label <> 0 THEN 0 ELSE 1 END) ELSE label END"
        )
    else:
        lbl = "label"
    return f"""
lbl_{s} AS (
  SELECT doc_id, word_idx, word, begin_char, end_char, {lbl} AS lbl
  FROM words_l),
ex_{s} AS (
  SELECT doc_id, word_idx, 0 AS subword_idx, 0 AS pos, lbl AS entity_id, 0.85 AS p FROM lbl_{s}
  UNION ALL SELECT doc_id, word_idx, 0, 1, lbl + 100000, 0.10 FROM lbl_{s}
  UNION ALL SELECT doc_id, word_idx, 1, 0, lbl, 0.85 FROM lbl_{s}
  UNION ALL SELECT doc_id, word_idx, 1, 1, lbl + 100000, 0.10 FROM lbl_{s}),
per_sub_{s} AS (
  SELECT doc_id, word_idx, subword_idx, entity_id, max(p) AS p, min(pos) AS pos
  FROM ex_{s} GROUP BY 1, 2, 3, 4),
agg_{s} AS (
  SELECT doc_id, word_idx, entity_id, count(*) AS n_hits, sum(p) AS sum_p,
         sum(CASE WHEN pos = 0 THEN 1 ELSE 0 END) AS votes,
         min(CASE WHEN pos = 0 THEN subword_idx END) AS first_vote
  FROM per_sub_{s} GROUP BY 1, 2, 3),
feat_{s} AS (
  SELECT doc_id, word_idx, entity_id, sum_p / 2 AS avg_p,
         n_hits = 2 AS is_cand, votes, first_vote, votes = 2 AS unanimous
  FROM agg_{s}),
rk_{s} AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id, word_idx
    ORDER BY unanimous DESC, is_cand DESC,
             CAST(floor((CASE WHEN is_cand THEN avg_p ELSE 0.0 END) * 1e9
                  + 0.5) AS BIGINT) DESC,
             votes DESC, first_vote ASC NULLS LAST, entity_id ASC) AS rnk
  FROM feat_{s}),
ann_{s} AS (
  SELECT w.doc_id, w.word_idx, w.word, w.begin_char, w.end_char, r.entity_id AS ann
  FROM words_l w JOIN (SELECT * FROM rk_{s} WHERE rnk = 1) r
  USING (doc_id, word_idx)),
chg_{s} AS (
  SELECT *, CASE WHEN lag(ann) OVER (PARTITION BY doc_id ORDER BY word_idx)
                 IS DISTINCT FROM ann THEN 1 ELSE 0 END AS chg
  FROM ann_{s}),
runs_{s} AS (
  SELECT *, SUM(chg) OVER (PARTITION BY doc_id ORDER BY word_idx
                           ROWS UNBOUNDED PRECEDING) AS run_id
  FROM chg_{s}),
ph_{s} AS (
  SELECT doc_id, run_id, ann AS entity,
         min(begin_char) AS b, max(end_char) AS e,
         string_agg(word, ' ' ORDER BY word_idx) AS surface
  FROM runs_{s} GROUP BY 1, 2, 3)"""


def _ep1_metrics_sql(label: int, gs: str, ps: str) -> str:
    """Segment alignment + span-match-gated MD/EL counters for one
    (gold stream, pred stream) pair — mirrors spans.span_align_resegment
    + spans.span_eval_from_alignment (both streams fully partition each
    document, so the interval join is total: inner == full outer)."""
    def sliced(side: str) -> str:
        return (
            f"CASE WHEN greatest(g.b, p.b) = {side}.b AND least(g.e, p.e) = {side}.e "
            f"THEN {side}.surface "
            f"ELSE substr({side}.surface, greatest(g.b, p.b) - {side}.b + 1, "
            f"least(g.e, p.e) - greatest(g.b, p.b)) END"
        )

    return f"""
seg_{label} AS (
  SELECT g.entity AS ge, p.entity AS pe,
         replace({sliced('g')}, ' ', '') = replace({sliced('p')}, ' ', '') AS sm
  FROM ph_{gs} g JOIN ph_{ps} p
    ON g.doc_id = p.doc_id AND p.b < g.e AND g.b < p.e),
m_{label} AS (
  SELECT
    CAST(sum(CASE WHEN ge <> 0 AND pe <> 0 AND sm THEN 1 ELSE 0 END) AS BIGINT) AS md_tp,
    CAST(sum(CASE WHEN pe <> 0 AND NOT (ge <> 0 AND sm) THEN 1 ELSE 0 END) AS BIGINT) AS md_fp,
    CAST(sum(CASE WHEN ge <> 0 AND NOT (pe <> 0 AND sm) THEN 1 ELSE 0 END) AS BIGINT) AS md_fn,
    CAST(sum(CASE WHEN ge <> 0 AND pe <> 0 AND sm AND ge = pe THEN 1 ELSE 0 END) AS BIGINT) AS el_tp,
    CAST(sum(CASE WHEN pe <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
    CAST(sum(CASE WHEN ge <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_g,
    CAST(sum(CASE WHEN NOT sm AND (ge <> 0 OR pe <> 0) THEN 1 ELSE 0 END) AS BIGINT)
      AS n_unaligned_entities
  FROM seg_{label}),
row_{label} AS (
  SELECT {label} AS corrupt_every, 'builtin_fallback' AS gold_source,
         (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM words_l) AS n_docs,
         (SELECT CAST(count(*) AS BIGINT) FROM ph_{gs} WHERE entity <> 0) AS n_gold_phrases,
         (SELECT CAST(count(*) AS BIGINT) FROM ph_{ps} WHERE entity <> 0) AS n_pred_phrases,
         md_tp, md_fp, md_fn,
         CAST(round(md_tp::DOUBLE / greatest(md_tp + md_fp, 1), 6) AS DOUBLE) AS md_precision,
         CAST(round(md_tp::DOUBLE / greatest(md_tp + md_fn, 1), 6) AS DOUBLE) AS md_recall,
         CAST(round(CASE WHEN md_tp::DOUBLE / greatest(md_tp + md_fp, 1)
                          + md_tp::DOUBLE / greatest(md_tp + md_fn, 1) > 0
            THEN 2 * (md_tp::DOUBLE / greatest(md_tp + md_fp, 1))
                   * (md_tp::DOUBLE / greatest(md_tp + md_fn, 1))
                 / (md_tp::DOUBLE / greatest(md_tp + md_fp, 1)
                    + md_tp::DOUBLE / greatest(md_tp + md_fn, 1))
            ELSE 0.0 END, 6) AS DOUBLE) AS md_f1,
         el_tp, (n_p - el_tp) AS el_fp, (n_g - el_tp) AS el_fn,
         CAST(round(el_tp::DOUBLE / greatest(n_p, 1), 6) AS DOUBLE) AS el_precision,
         CAST(round(el_tp::DOUBLE / greatest(n_g, 1), 6) AS DOUBLE) AS el_recall,
         CAST(round(CASE WHEN el_tp::DOUBLE / greatest(n_p, 1)
                          + el_tp::DOUBLE / greatest(n_g, 1) > 0
            THEN 2 * (el_tp::DOUBLE / greatest(n_p, 1))
                   * (el_tp::DOUBLE / greatest(n_g, 1))
                 / (el_tp::DOUBLE / greatest(n_p, 1)
                    + el_tp::DOUBLE / greatest(n_g, 1))
            ELSE 0.0 END, 6) AS DOUBLE) AS el_f1,
         n_unaligned_entities
  FROM m_{label})"""


def _ep1_portable_sql() -> str:
    docs, spans = _ep1_values_sql()
    return rf"""
WITH corpus(doc_id, text) AS (VALUES {docs}),
spans(doc_id, g_begin, g_end, g_surface, entity) AS (VALUES {spans}),
vocab AS (
  SELECT entity, CAST(row_number() OVER (ORDER BY entity) AS INT) AS entity_id
  FROM (SELECT DISTINCT entity FROM spans)),
gold_ids AS (
  SELECT s.doc_id, s.g_begin, s.g_end, v.entity_id
  FROM spans s JOIN vocab v USING (entity)),
ws AS (SELECT doc_id, string_split(text, ' ') AS words FROM corpus),
w AS (
  SELECT doc_id, unnest(generate_series(0, len(words) - 1)) AS i,
         unnest(words) AS word
  FROM ws),
wo AS (
  SELECT doc_id, i, word,
         CAST(coalesce(SUM(len(word) + 1)
            OVER (PARTITION BY doc_id ORDER BY i
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT) AS b
  FROM w),
parts AS (
  SELECT doc_id, i, word, b, b + len(word) AS e,
         regexp_extract(word, '^([!-/:-@\[-`{{-~]+)', 1) AS lead
  FROM wo WHERE len(word) > 0),
shaped AS (
  SELECT doc_id, i, word, b, e, lead,
         CASE WHEN len(lead) = len(word) THEN ''
              ELSE regexp_extract(word[len(lead) + 1:], '([!-/:-@\[-`{{-~]+)$', 1)
         END AS trail
  FROM parts),
subtoks AS (
  SELECT doc_id, i, unnest(
    CASE
      WHEN lead = '' AND trail = '' AND (word LIKE '%''s' OR word LIKE '%''S')
        THEN [{{'tok': word[1:len(word)-2], 'bb': b, 'ee': e - 2}},
              {{'tok': word[len(word)-1:], 'bb': e - 2, 'ee': e}}]
      WHEN lead = '' AND trail = ''
        THEN [{{'tok': word, 'bb': b, 'ee': e}}]
      ELSE list_filter(
        [{{'tok': lead, 'bb': b, 'ee': b + len(lead)}},
         {{'tok': word[len(lead)+1:len(word)-len(trail)], 'bb': b + len(lead), 'ee': e - len(trail)}},
         {{'tok': CASE WHEN len(trail) > 0 THEN word[len(word)-len(trail)+1:] ELSE '' END,
          'bb': e - len(trail), 'ee': e}}],
        x -> len(x.tok) > 0)
    END) AS s
  FROM shaped),
tokens AS (
  SELECT doc_id,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i, s.bb) - 1 AS INT)
           AS word_idx,
         s.tok AS word, CAST(s.bb AS INT) AS begin_char, CAST(s.ee AS INT) AS end_char
  FROM subtoks),
words_l AS (
  SELECT t.doc_id, t.word_idx, t.word, t.begin_char, t.end_char,
         coalesce(g.entity_id, 0) AS label
  FROM tokens t LEFT JOIN gold_ids g
    ON t.doc_id = g.doc_id AND t.begin_char >= g.g_begin AND t.end_char <= g.g_end),
{_ep1_stream_sql('g', 0).lstrip()},
{_ep1_stream_sql('p', _EP1_CORRUPT).lstrip()},
{_ep1_metrics_sql(0, 'g', 'g').lstrip()},
{_ep1_metrics_sql(_EP1_CORRUPT, 'g', 'p').lstrip()}
SELECT * FROM row_0 UNION ALL SELECT * FROM row_{_EP1_CORRUPT}
"""


SQL_EP1_FLAGSHIP_PORTABLE = _ep1_portable_sql()


def q_subword_eval(spark, sf_dir):
    """A7: masked subword-eval counters (reference:
    src/spel/decao_eval.py:1335-1391) over a deterministic stand-in
    labeling of events: mask = even event_id, actual = click, predicted =
    value > 50."""
    from spel_spark.operators.metrics import subword_eval_counters

    ev = _t(spark, sf_dir, "events").select(
        (F.col("event_id") % 2 == 0).alias("eval_mask"),
        (F.col("event_type") == "click").alias("is_in_mention"),
        (F.col("value") > 50).alias("pred_in_mention"),
    )
    out = subword_eval_counters(ev)
    return out.select(
        "total", "correct", "total_true", "correct_true",
        "total_false", "correct_false",
        _r6(F.col("overall_acc")).alias("overall_acc"),
        _r6(F.col("in_mention_acc")).alias("in_mention_acc"),
        _r6(F.col("out_mention_acc")).alias("out_mention_acc"),
    )


SQL_SUBWORD_EVAL = """
WITH s AS (
  SELECT event_id % 2 = 0 AS m, event_type = 'click' AS a, value > 50 AS p
  FROM events),
agg AS (
  SELECT CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS total,
         CAST(sum(CASE WHEN m AND a = p THEN 1 ELSE 0 END) AS BIGINT) AS correct,
         CAST(sum(CASE WHEN m AND a THEN 1 ELSE 0 END) AS BIGINT) AS total_true,
         CAST(sum(CASE WHEN m AND a AND p THEN 1 ELSE 0 END) AS BIGINT) AS correct_true,
         CAST(sum(CASE WHEN m AND NOT a THEN 1 ELSE 0 END) AS BIGINT) AS total_false,
         CAST(sum(CASE WHEN m AND NOT a AND NOT p THEN 1 ELSE 0 END) AS BIGINT) AS correct_false
  FROM s)
SELECT total, correct, total_true, correct_true, total_false, correct_false,
  CAST(round(CASE WHEN total > 0 THEN correct * 100.0 / total ELSE 0.0 END, 6) AS DOUBLE) AS overall_acc,
  CAST(round(CASE WHEN total_true > 0 THEN correct_true * 100.0 / total_true ELSE 0.0 END, 6) AS DOUBLE) AS in_mention_acc,
  CAST(round(CASE WHEN total_false > 0 THEN correct_false * 100.0 / total_false ELSE 0.0 END, 6) AS DOUBLE) AS out_mention_acc
FROM agg
"""


def q_candidate_filter(spark, sf_dir):
    """J8: candidate-set post-filter — predictions outside the mention's
    allow-list fall back to the null entity (reference:
    src/spel/candidate_manager.py:76-103).  Predictions and allow-lists
    synthesized deterministically from part."""
    from spel_spark.operators.spans import candidate_filter

    p = q_norm_surface(spark, sf_dir)
    preds = p.select(
        "p_partkey",
        F.concat(F.lit("f:"), F.split("norm_surface", " ").getItem(0)).alias("block_key"),
        (F.col("p_partkey") % 50).cast("long").alias("entity_id"),
    )
    allow = (
        preds.filter(F.col("p_partkey") % 3 == 0)
        .select("block_key", "entity_id")
        .distinct()
    )
    return candidate_filter(preds, allow).select(
        "p_partkey", "block_key", F.col("entity_id").cast("long").alias("entity_id")
    )


SQL_CANDIDATE_FILTER = f"""
WITH preds AS (
  SELECT p_partkey,
         'f:' || string_split({norm_surface_sql('p_name')}, ' ')[1] AS block_key,
         CAST(p_partkey % 50 AS BIGINT) AS entity_id
  FROM part),
allow AS (
  SELECT DISTINCT block_key, entity_id FROM preds WHERE p_partkey % 3 = 0)
SELECT p.p_partkey, p.block_key,
       CASE WHEN a.entity_id IS NOT NULL THEN p.entity_id ELSE 0 END AS entity_id
FROM preds p LEFT JOIN allow a
  ON p.block_key = a.block_key AND p.entity_id = a.entity_id
"""


def q_candidate_rerank(spark, sf_dir):
    """J8 full semantics: a disallowed prediction falls back to its best
    allowed ALTERNATIVE, not straight to null (ref candidate_manager.py:
    99-103); no/empty candidate list -> null (:86-88).  Alternatives are
    synthesized rank-ordered from part."""
    from spel_spark.operators.spans import candidate_rerank

    p = q_norm_surface(spark, sf_dir)
    alt = lambda e: F.struct(  # noqa: E731
        e.cast("int").alias("entity_id"), F.lit(0.0).alias("p")
    )
    preds = p.select(
        "p_partkey",
        F.concat(F.lit("f:"), F.split("norm_surface", " ").getItem(0)).alias("block_key"),
        (F.col("p_partkey") % 50).cast("long").alias("entity_id"),
        F.array(
            alt(F.col("p_partkey") % 50),
            alt((F.col("p_partkey") % 7) * 3),
            alt((F.col("p_partkey") % 11) * 5),
        ).cast("array<struct<entity_id:int,p:double>>").alias("alternatives"),
    )
    allow = (
        preds.filter(F.col("p_partkey") % 3 == 0)
        .select("block_key", "entity_id")
        .distinct()
    )
    return candidate_rerank(preds, allow).select(
        "p_partkey", "block_key", F.col("entity_id").cast("long").alias("entity_id")
    )


SQL_CANDIDATE_RERANK = f"""
WITH preds AS (
  SELECT p_partkey,
         'f:' || string_split({norm_surface_sql('p_name')}, ' ')[1] AS block_key,
         CAST(p_partkey % 50 AS BIGINT) AS entity_id,
         [CAST(p_partkey % 50 AS BIGINT),
          CAST((p_partkey % 7) * 3 AS BIGINT),
          CAST((p_partkey % 11) * 5 AS BIGINT)] AS alts
  FROM part),
allow AS (
  SELECT block_key, list(DISTINCT entity_id) AS allow_list
  FROM preds WHERE p_partkey % 3 = 0 GROUP BY block_key),
joined AS (
  SELECT p.p_partkey, p.block_key, p.entity_id, p.alts, a.allow_list
  FROM preds p LEFT JOIN allow a ON p.block_key = a.block_key)
SELECT p_partkey, block_key,
  CASE WHEN entity_id = 0 THEN 0
       WHEN allow_list IS NULL OR len(allow_list) = 0 THEN 0
       ELSE coalesce(list_filter(alts, x -> list_contains(allow_list, x))[1], 0)
  END AS entity_id
FROM joined
"""


def q_token_counts(spark, sf_dir):
    """Token counting for training-data budgeting: whitespace tokens, a
    BPE-ish regex token count (alnum runs + one token per other non-space
    char — the classic pre-tokenizer shape), and a subword estimate
    (ceil(len/4) per whitespace word, the rule-of-thumb BPE fertility).
    All JVM builtins; one narrow map."""
    d = _t(spark, sf_dir, "documents")
    words = F.filter(F.split("text", " "), lambda w: w != "")
    return d.select(
        "doc_id",
        F.size(words).alias("ws_tokens"),
        F.regexp_count(F.col("text"), F.lit("[A-Za-z0-9]+|[^A-Za-z0-9 ]")).alias(
            "bpe_tokens"
        ),
        F.aggregate(
            words,
            F.lit(0).cast("long"),
            lambda acc, w: acc + F.ceil(F.length(w) / F.lit(4.0)).cast("long"),
        ).alias("subword_est"),
    )


SQL_TOKEN_COUNTS = """
SELECT doc_id,
  len(list_filter(string_split(text, ' '), w -> w != '')) AS ws_tokens,
  len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9 ]')) AS bpe_tokens,
  CAST(coalesce(list_sum(list_transform(
       list_filter(string_split(text, ' '), w -> w != ''),
       w -> CAST(ceil(length(w) / 4.0) AS BIGINT))), 0) AS BIGINT) AS subword_est
FROM documents
"""


def q_embedding_centroids(spark, sf_dir):
    """Per-label embedding centroid (the IVF/classifier building block):
    element-wise mean over array<float> columns via posexplode ->
    (label, pos) mean -> ordered re-assembly.  Shuffles (label, pos) pairs
    — dim x labels rows — never whole vectors twice."""
    e = _t(spark, sf_dir, "embeddings").select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v")
    )
    by_pos = e.groupBy("label", "pos").agg(
        F.avg("v").alias("m"), F.count(F.lit(1)).alias("n")
    )
    # centroid serialized as micro-unit integers CSV: float formatting and
    # array reprs differ between Spark and DuckDB result frames, so the
    # portable form is floor(m*1e6 + 0.5) joined with ','
    return (
        by_pos.groupBy("label")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: F.floor(s["m"] * F.lit(1e6) + F.lit(0.5)).cast("string"),
                ),
            ).alias("centroid_micro"),
            F.max("n").alias("n_vecs"),
        )
        .select("label", "centroid_micro", "n_vecs")
    )


SQL_EMBEDDING_CENTROIDS = """
WITH x AS (
  SELECT label, u.pos, u.v FROM (
    SELECT label,
           unnest(list_transform(range(1, len(embedding) + 1),
                  i -> struct_pack(pos := i - 1,
                                   v := embedding[i]::DOUBLE))) AS u
    FROM embeddings)),
m AS (
  SELECT label, pos, avg(v) AS m, count(*) AS n
  FROM x GROUP BY label, pos)
SELECT label,
       list_aggregate(
         array_agg(CAST(floor(m * 1e6 + 0.5) AS BIGINT)::VARCHAR ORDER BY pos),
         'string_agg', ',') AS centroid_micro,
       CAST(max(n) AS BIGINT) AS n_vecs
FROM m GROUP BY label
"""


def q_doc_clusters_portable(spark, sf_dir):
    """Oracle-checked twin of the flagship ``cluster_documents`` flow:
    3-gram shingles -> 4-seed md5 MinHash -> r=1 band candidates -> exact
    shingle-Jaccard verify (>= 0.8) -> connected components ->
    (doc_id, cluster_id, cluster_size).  Same operator chain as entry(),
    with md5 in place of xxhash64 so DuckDB reproduces the edges exactly;
    the DuckDB twin computes components with a recursive transitive-closure
    CTE (fine at oracle scale; the engine uses large-star/small-star)."""
    from spel_spark.operators.clustering import connected_components

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    n = F.length("text")
    idx = F.sequence(F.lit(1), F.greatest(n - 2, F.lit(1)))
    sh = F.array_distinct(
        F.transform(idx, lambda i: F.substr(F.col("text"), i, F.lit(3)))
    )
    docs = d.select("doc_id", sh.alias("grams"))
    mh = docs.select(
        "doc_id",
        *[
            F.array_min(
                F.transform(
                    F.col("grams"), lambda g, s=s: F.md5(F.concat(F.lit(s), g))
                )
            ).alias(f"m{i}")
            for i, s in enumerate(MD5_SEEDS)
        ],
    )
    bands = mh.select(
        "doc_id",
        F.explode(
            F.array(
                *[F.concat(F.lit(f"{i}:"), F.col(f"m{i}")) for i in range(len(MD5_SEEDS))]
            )
        ).alias("bk"),
    )
    a = bands.select(F.col("doc_id").alias("a_doc"), "bk")
    b = bands.select(F.col("doc_id").alias("b_doc"), "bk")
    cand = (
        a.join(b, "bk")
        .filter(F.col("a_doc") < F.col("b_doc"))
        .select("a_doc", "b_doc")
        .distinct()
    )
    sa = docs.select(F.col("doc_id").alias("a_doc"), F.col("grams").alias("ga"))
    sb = docs.select(F.col("doc_id").alias("b_doc"), F.col("grams").alias("gb"))
    jac = F.size(F.array_intersect("ga", "gb")) / F.size(F.array_union("ga", "gb"))
    edges = (
        cand.join(sa, "a_doc").join(sb, "b_doc")
        .filter(jac >= 0.8)
        .select(F.col("a_doc").alias("a_id"), F.col("b_doc").alias("b_id"))
    )
    comps = connected_components(edges)
    out = (
        d.select("doc_id")
        .join(comps, F.col("doc_id") == F.col("node"), "left")
        .withColumn("cluster_id", F.coalesce("component", "doc_id"))
        .select("doc_id", "cluster_id")
    )
    sizes = out.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return out.join(sizes, "cluster_id").select("doc_id", "cluster_id", "cluster_size")


SQL_DOC_CLUSTERS_PORTABLE = f"""
WITH RECURSIVE
d AS (SELECT doc_id, text FROM documents),
sh AS (SELECT doc_id, {_sql_shingles('text')} AS grams FROM d),
mh AS (SELECT doc_id,
  list_min(list_transform(grams, g -> md5('s1' || g))) AS m0,
  list_min(list_transform(grams, g -> md5('s2' || g))) AS m1,
  list_min(list_transform(grams, g -> md5('s3' || g))) AS m2,
  list_min(list_transform(grams, g -> md5('s4' || g))) AS m3
 FROM sh),
bands AS (
  SELECT doc_id, '0:' || m0 AS bk FROM mh UNION ALL
  SELECT doc_id, '1:' || m1 FROM mh UNION ALL
  SELECT doc_id, '2:' || m2 FROM mh UNION ALL
  SELECT doc_id, '3:' || m3 FROM mh),
cand AS (
  SELECT DISTINCT a.doc_id AS a_doc, b.doc_id AS b_doc
  FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id),
edges AS (
  SELECT a_doc, b_doc
  FROM cand
  JOIN sh sa ON sa.doc_id = cand.a_doc
  JOIN sh sb ON sb.doc_id = cand.b_doc
  WHERE len(list_intersect(sa.grams, sb.grams))::DOUBLE
        / len(list_distinct(list_concat(sa.grams, sb.grams))) >= 0.8),
sym AS (
  SELECT a_doc AS a, b_doc AS b FROM edges
  UNION SELECT b_doc, a_doc FROM edges),
reach(a, b) AS (
  SELECT doc_id, doc_id FROM d
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
cl AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM cl
"""


# --------------------------------------------------------------------------
# composed ER flagship, portable: the COMPLETE record-linkage chain
# (normalize -> 3-family blocking -> pairs -> full blended scoring ->
# threshold+gate -> connected components -> cluster assignment) with a
# DuckDB twin — the ER analogue of doc_clusters_portable
# --------------------------------------------------------------------------

_ER_THRESHOLD_SCALED = 65_000_000  # 0.65 on the x1e8 integer score scale
_ER_GATE_LEV = 850_000             # lev >= 0.85 on the x1e6 feature scale


def _er_portable_mentions_surfaces(spark, sf_dir):
    """(mentions, surface nodes) for the portable ER queries: part rows
    as mentions; surface_id = min mention id (the DuckDB-reproducible
    stand-in for the engine's xxhash64 surface hash — identical
    semantics, stable, unique per surface)."""
    m = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("mention_id"),
        norm_surface_col(F.col("p_name")).alias("norm_surface"),
    )
    surfaces = (
        m.filter(F.length("norm_surface") > 0)
        .groupBy("norm_surface")
        .agg(
            F.min("mention_id").alias("surface_id"),
            F.count(F.lit(1)).alias("n_mentions"),
        )
    )
    return m, surfaces


def _er_portable_blocks(surfaces):
    """All three blocking-key families over surface nodes, md5-portable
    (engine twin: blocking.blocking_keys with xxhash64 LSH seeds)."""
    mh = _md5_minhash_cols(F.col("norm_surface"))
    first_tok = F.split("norm_surface", " ").getItem(0)
    keys = F.array(
        F.concat(F.lit("k:"), F.col("norm_surface")),
        F.concat(F.lit("f:"), first_tok),
        F.concat(F.lit("b0:"), F.md5(F.concat(mh[0], mh[1]))),
        F.concat(F.lit("b1:"), F.md5(F.concat(mh[2], mh[3]))),
    )
    return surfaces.select(
        "surface_id", "norm_surface", "n_mentions",
        F.explode(keys).alias("block_key"),
    )


def _scaled6(col):
    """floor(x*1e6 + 0.5) as BIGINT — the cross-engine-exact feature
    representation (Spark round is HALF_UP, Python HALF_EVEN, DuckDB
    scale-multiplies; floor-scaling has ONE behavior in all three)."""
    return F.floor(col * F.lit(1e6) + F.lit(0.5)).cast("long")


def q_er_clusters_portable(spark, sf_dir):
    """The full ER pipeline shape, oracle-checked end to end: mentions
    (part rows) -> normalized surfaces -> surface nodes -> all THREE
    blocking-key families (exact / first-token / md5-MinHash-LSH bands)
    -> exact block pairs via the REAL salted self-join -> the REAL
    blended scorer (jw/lev/jacc/shj/ftok at the shipped 40/15/10/15/20
    weights) -> threshold + precision gate -> REAL connected components
    -> min-mention-id cluster assignment with singleton fallback.

    Engine operators are used wherever they are portable (salted_pairs,
    i.e. the salted_id_pairs core, score_pairs kernels, connected
    components); the two engine-internal substitutions are declared:
    surface ids are min-mention-ids instead of xxhash64 (bit-identical
    semantics, DuckDB-reproducible) and the LSH bands use the md5 minhash
    (MD5_SEEDS) instead of xxhash64 seeds.
    Scoring comparisons happen on floor-scaled BIGINT features so the
    threshold crossing is EXACT in both engines.

    Output: (mention_id, cluster_id, cluster_size) for every part row.
    """
    from spel_spark.operators.blocking import salted_pairs
    from spel_spark.operators.clustering import connected_components
    from spel_spark.functions.similarity import (
        array_jaccard,
        jaro_winkler_udf,
        levenshtein_sim,
        shingles_col,
        token_jaccard,
    )

    m, surfaces = _er_portable_mentions_surfaces(spark, sf_dir)
    blocks = _er_portable_blocks(surfaces)
    pairs = salted_pairs(blocks)
    a, b = F.col("a_norm"), F.col("b_norm")
    jwS = _scaled6(jaro_winkler_udf(a, b))
    levS = _scaled6(levenshtein_sim(a, b))
    jaccS = _scaled6(token_jaccard(a, b))
    shjS = _scaled6(array_jaccard(shingles_col(a), shingles_col(b)))
    ftokS = F.when(
        F.split(a, " ").getItem(0) == F.split(b, " ").getItem(0), F.lit(1_000_000)
    ).otherwise(F.lit(0)).cast("long")
    scored = pairs.select(
        "a_id", "b_id",
        (40 * jwS + 15 * levS + 10 * jaccS + 15 * shjS + 20 * ftokS).alias("scoreS"),
        levS.alias("levS"),
        ftokS.alias("ftokS"),
    )
    edges = scored.filter(
        (F.col("scoreS") >= _ER_THRESHOLD_SCALED)
        & ((F.col("ftokS") == 1_000_000) | (F.col("levS") >= _ER_GATE_LEV))
    ).select("a_id", "b_id")
    comps = connected_components(edges)
    surf_cluster = (
        surfaces.join(comps, surfaces["surface_id"] == comps["node"], "left")
        .withColumn("cluster_id", F.coalesce("component", "surface_id"))
        .select("norm_surface", "cluster_id")
    )
    assigned = (
        m.join(surf_cluster, "norm_surface", "left")
        .select(
            "mention_id",
            F.coalesce("cluster_id", "mention_id").alias("cluster_id"),
        )
    )
    sizes = assigned.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return assigned.join(sizes, "cluster_id").select(
        "mention_id", "cluster_id", "cluster_size"
    )


def _er_sql_prefix() -> str:
    """Shared CTE chain of the portable ER queries: mentions -> surface
    nodes (sid = min mention id, n_m = instance count) -> md5 minhash ->
    the three blocking-key families.  Shingle SQL comes from the single
    _sql_shingles helper so every oracle stays byte-identical."""
    sh = _sql_shingles("norm_surface")
    return f"""
n AS (SELECT p_partkey AS mention_id, {norm_surface_sql('p_name')} AS norm_surface
      FROM part),
s AS (SELECT norm_surface, min(mention_id) AS sid, count(*) AS n_m FROM n
      WHERE length(norm_surface) > 0 GROUP BY 1),
mh AS (SELECT norm_surface, sid,
  list_min(list_transform({sh}, g -> md5('s1' || g))) AS m0,
  list_min(list_transform({sh}, g -> md5('s2' || g))) AS m1,
  list_min(list_transform({sh}, g -> md5('s3' || g))) AS m2,
  list_min(list_transform({sh}, g -> md5('s4' || g))) AS m3
 FROM s),
keys AS (
  SELECT sid, 'k:' || norm_surface AS bk FROM s
  UNION ALL SELECT sid, 'f:' || string_split(norm_surface, ' ')[1] FROM s
  UNION ALL SELECT sid, 'b0:' || md5(m0 || m1) FROM mh
  UNION ALL SELECT sid, 'b1:' || md5(m2 || m3) FROM mh)"""


def _er_portable_sql() -> str:
    jacc = (
        "CASE WHEN len(list_distinct(list_concat({x}, {y}))) > 0 "
        "THEN len(list_intersect({x}, {y}))::DOUBLE "
        "/ len(list_distinct(list_concat({x}, {y}))) ELSE 0.0 END"
    )
    return f"""
WITH RECURSIVE
{_er_sql_prefix().lstrip()},
pr AS (SELECT DISTINCT a.sid AS a_id, b.sid AS b_id
       FROM keys a JOIN keys b USING (bk) WHERE a.sid < b.sid),
pn AS (SELECT pr.a_id, pr.b_id, sa.norm_surface AS a_norm, sb.norm_surface AS b_norm
       FROM pr JOIN s sa ON sa.sid = pr.a_id JOIN s sb ON sb.sid = pr.b_id),
feat AS (
  SELECT a_id, b_id,
    CAST(floor((CASE WHEN a_norm = '' AND b_norm = '' THEN 1.0
         ELSE jaro_winkler_similarity(a_norm, b_norm) END) * 1e6 + 0.5) AS BIGINT) AS jwS,
    CAST(floor((CASE WHEN greatest(length(a_norm), length(b_norm)) > 0
         THEN 1.0 - levenshtein(a_norm, b_norm)::DOUBLE
              / greatest(length(a_norm), length(b_norm))
         ELSE 1.0 END) * 1e6 + 0.5) AS BIGINT) AS levS,
    CAST(floor(({jacc.format(x="list_distinct(string_split(a_norm, ' '))",
                             y="list_distinct(string_split(b_norm, ' '))")}) * 1e6 + 0.5)
         AS BIGINT) AS jaccS,
    CAST(floor(({jacc.format(x=_sql_shingles('a_norm'), y=_sql_shingles('b_norm'))})
         * 1e6 + 0.5) AS BIGINT) AS shjS,
    CASE WHEN string_split(a_norm, ' ')[1] = string_split(b_norm, ' ')[1]
         THEN 1000000 ELSE 0 END AS ftokS
  FROM pn),
edges AS (
  SELECT a_id, b_id
  FROM feat
  WHERE 40 * jwS + 15 * levS + 10 * jaccS + 15 * shjS + 20 * ftokS
        >= {_ER_THRESHOLD_SCALED}
    AND (ftokS = 1000000 OR levS >= {_ER_GATE_LEV})),
sym AS (SELECT a_id AS a, b_id AS b FROM edges
        UNION SELECT b_id, a_id FROM edges),
reach(a, b) AS (
  SELECT sid, sid FROM s
  UNION
  SELECT r.a, y.b FROM reach r JOIN sym y ON r.b = y.a),
cl AS (SELECT a AS sid, min(b) AS cluster_id FROM reach GROUP BY a),
assigned AS (
  SELECT n.mention_id,
         coalesce(cl.cluster_id, n.mention_id) AS cluster_id
  FROM n LEFT JOIN s ON s.norm_surface = n.norm_surface
         LEFT JOIN cl ON cl.sid = s.sid)
SELECT mention_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM assigned
"""


SQL_ER_CLUSTERS_PORTABLE = _er_portable_sql()


def q_er_anchor_pairs_portable(spark, sf_dir):
    """The ENGINE's anchor-sparsified pair generation (the 100-TB scale
    default, blocking.anchor_pairs), oracle-checked: blocks with more
    than ``full_block_limit`` members pair every member with the
    top-``n_anchors`` surfaces by (instance frequency DESC, surface_id)
    — O(n·k) per block — while small blocks keep exact all-pairs; pairs
    dedup across key families with the min block key.  Runs the REAL
    operator (including its two-phase salted anchor election, proven
    identical to the single-window election) over the portable md5 block
    keys; DuckDB re-derives the election with one window."""
    from spel_spark.operators.blocking import anchor_pairs

    _, surfaces = _er_portable_mentions_surfaces(spark, sf_dir)
    blocks = _er_portable_blocks(surfaces)
    return anchor_pairs(blocks).select(
        "a_id", "b_id", "a_norm", "b_norm", "block_key"
    )


SQL_ER_ANCHOR_PAIRS_PORTABLE = f"""
WITH
{_er_sql_prefix().lstrip()},
counts AS (SELECT bk, count(*) AS n_members FROM keys GROUP BY bk),
sized AS (
  SELECT k.sid, k.bk, c.n_members, s.n_m
  FROM keys k JOIN counts c USING (bk) JOIN s ON s.sid = k.sid
  WHERE c.n_members > 1),
small_pairs AS (
  SELECT a.sid AS a_id, b.sid AS b_id, a.bk
  FROM sized a JOIN sized b USING (bk)
  WHERE a.n_members <= 8 AND a.sid < b.sid),
anchors AS (
  SELECT sid AS anchor_id, bk
  FROM (SELECT sid, bk,
               row_number() OVER (PARTITION BY bk ORDER BY n_m DESC, sid) AS rk
        FROM sized WHERE n_members > 8)
  WHERE rk <= 2),
big_pairs AS (
  SELECT least(m.sid, a.anchor_id) AS a_id,
         greatest(m.sid, a.anchor_id) AS b_id, m.bk
  FROM sized m JOIN anchors a USING (bk)
  WHERE m.n_members > 8 AND m.sid <> a.anchor_id),
un AS (SELECT * FROM small_pairs UNION ALL SELECT * FROM big_pairs),
ded AS (SELECT a_id, b_id, min(bk) AS block_key FROM un GROUP BY 1, 2)
SELECT d.a_id, d.b_id, sa.norm_surface AS a_norm, sb.norm_surface AS b_norm,
       d.block_key
FROM ded d JOIN s sa ON sa.sid = d.a_id JOIN s sb ON sb.sid = d.b_id
"""


def q_er_block_f1_portable(spark, sf_dir):
    """Per-block pairwise P/R/F1 over REAL ER blocks (closing the r3 gap
    where the macro-F1 oracle used a stand-in events labeling): mention
    pairs grouped by their noun block (2nd token of the normalized
    surface), gold = co-clustered by the full portable ER chain
    (q_er_clusters_portable), predicted = the naive first-token matcher.
    Exercises metrics.pairwise_f1_by_block (the 'matched blocking key'
    grouping of the north rule) on ER-derived data end to end; fp arises
    where the naive matcher over-merges vs the chain, fn where band-key
    merges cross first tokens."""
    from spel_spark.operators.metrics import pairwise_f1_by_block

    clusters = q_er_clusters_portable(spark, sf_dir).select(
        "mention_id", "cluster_id"
    )
    m, _ = _er_portable_mentions_surfaces(spark, sf_dir)
    toks = F.split("norm_surface", " ")
    # F.get (0-based) returns NULL out of bounds; element_at THROWS under
    # Spark 4's default ANSI mode for single-token surfaces, making a
    # coalesce fallback unreachable dead code
    lab = m.join(clusters, "mention_id").select(
        "mention_id",
        "cluster_id",
        F.get(toks, 0).alias("tok1"),
        F.coalesce(F.get(toks, 1), F.get(toks, 0)).alias("tok2"),
    )
    a = lab.select(
        F.col("mention_id").alias("a_id"), F.col("cluster_id").alias("a_cl"),
        F.col("tok1").alias("a_t1"), F.col("tok2").alias("tok2"),
    )
    b = lab.select(
        F.col("mention_id").alias("b_id"), F.col("cluster_id").alias("b_cl"),
        F.col("tok1").alias("b_t1"), F.col("tok2").alias("tok2"),
    )
    resolved = (
        a.join(b, "tok2")
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            F.col("tok2").alias("block_key"),
            (F.col("a_cl") == F.col("b_cl")).alias("same_entity"),
            (F.col("a_t1") == F.col("b_t1")).alias("pred_same"),
        )
    )
    out = pairwise_f1_by_block(resolved)
    return out.select(
        "block_key", "tp", "fp", "fn", "n_pairs",
        _r6(F.col("precision")).alias("precision"),
        _r6(F.col("recall")).alias("recall"),
        _r6(F.col("f1")).alias("f1"),
    )


SQL_ER_BLOCK_F1_PORTABLE = f"""
WITH clus AS ({SQL_ER_CLUSTERS_PORTABLE}),
mm AS (SELECT p_partkey AS mention_id, {norm_surface_sql('p_name')} AS ns FROM part),
lab AS (
  SELECT mm.mention_id, c.cluster_id,
         string_split(ns, ' ')[1] AS tok1,
         coalesce(string_split(ns, ' ')[2], string_split(ns, ' ')[1]) AS tok2
  FROM mm JOIN clus c USING (mention_id)),
pairs AS (
  SELECT a.tok2 AS block_key,
         a.cluster_id = b.cluster_id AS g,
         a.tok1 = b.tok1 AS p
  FROM lab a JOIN lab b ON a.tok2 = b.tok2 AND a.mention_id < b.mention_id),
per AS (
  SELECT block_key,
         CAST(sum(CASE WHEN g AND p THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(sum(CASE WHEN NOT g AND p THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(sum(CASE WHEN g AND NOT p THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM pairs GROUP BY block_key)
SELECT block_key, tp, fp, fn, n_pairs,
  CAST(round(tp::DOUBLE / greatest(tp + fp, 1), 6) AS DOUBLE) AS precision,
  CAST(round(tp::DOUBLE / greatest(tp + fn, 1), 6) AS DOUBLE) AS recall,
  CAST(round(CASE WHEN tp::DOUBLE / greatest(tp + fp, 1)
                   + tp::DOUBLE / greatest(tp + fn, 1) > 0
    THEN 2 * (tp::DOUBLE / greatest(tp + fp, 1)) * (tp::DOUBLE / greatest(tp + fn, 1))
         / (tp::DOUBLE / greatest(tp + fp, 1) + tp::DOUBLE / greatest(tp + fn, 1))
    ELSE 0.0 END, 6) AS DOUBLE) AS f1
FROM per
"""


# --------------------------------------------------------------------------
# engine-path pair generation (rows-only: xxhash64 ids have no DuckDB twin)
# --------------------------------------------------------------------------

def q_pairs_engine(spark, sf_dir):
    """J10 at scale — the ENGINE pair-generation path: distinct normalized
    surfaces -> 3 blocking-key families -> anchor-sparsified pairs (O(n·k)
    per block; exact salted all-pairs for small blocks).  This, not the
    quadratic ``pairs_exact_block`` parity query, is what the headline
    bench times: pair volume grows ~linearly with input, not O(n²)."""
    from spel_spark.operators.blocking import (
        anchor_pairs,
        blocking_keys,
        surface_nodes,
    )

    p = _tp(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("mention_id"),
        norm_surface_col(F.col("p_name")).alias("norm_surface"),
    )
    blocks = blocking_keys(surface_nodes(p))
    return anchor_pairs(blocks).select("a_id", "b_id", "a_norm", "b_norm", "block_key")


def q_pair_scores_engine(spark, sf_dir):
    """Blended scoring (JW + lev + jaccard + shingle-jaccard + first-token)
    over the engine pair path — the scores stage as actually shipped."""
    from spel_spark.operators.scoring import score_pairs

    return score_pairs(q_pairs_engine(spark, sf_dir)).select(
        "a_id", "b_id",
        _r6(F.col("jw")).alias("jw"),
        _r6(F.col("lev")).alias("lev"),
        _r6(F.col("jacc")).alias("jacc"),
        _r6(F.col("score")).alias("score"),
    )


def q_dedup_minhash_pairs(spark, sf_dir):
    """Engine near-dup path over documents: banded MinHash-LSH candidates
    -> exact Jaccard verify (bucketed, not all-pairs — the 100-TB shape)."""
    from spel_spark.operators.dedup import minhash_near_dup_pairs

    docs = _t(spark, sf_dir, "documents")
    return minhash_near_dup_pairs(docs, jaccard_threshold=0.8).select(
        "a_id", "b_id", _r6(F.col("jacc")).alias("jacc")
    )


# --------------------------------------------------------------------------
# catalog (name -> (spark builder, duckdb oracle SQL or None))
# --------------------------------------------------------------------------

CATALOG: dict[str, tuple] = {
    "tpch_q1": (q_tpch_q1, SQL_TPCH_Q1),
    "top_orders_per_cust": (q_top_orders_per_cust, SQL_TOP_ORDERS),
    "occurrence_rank": (q_occurrence_rank, SQL_OCCURRENCE_RANK),
    "consecutive_runs": (q_consecutive_runs, SQL_CONSECUTIVE_RUNS),
    "sessionize_events": (q_sessionize_events, SQL_SESSIONIZE),
    "events_window_agg": (q_events_window_agg, SQL_EVENTS_WINDOW),
    "norm_surface": (q_norm_surface, SQL_NORM_SURFACE),
    "blocking_first_token": (q_blocking_first_token, SQL_BLOCKING_FIRST_TOKEN),
    "pairs_exact_block": (q_pairs_exact_block, SQL_PAIRS_EXACT_BLOCK),
    "pair_scores": (q_pair_scores, SQL_PAIR_SCORES),
    "jaro_winkler_scores": (q_jaro_winkler, SQL_JARO_WINKLER),
    "match_edges": (q_match_edges, SQL_MATCH_EDGES),
    "pairwise_micro_f1": (q_pairwise_micro_f1, SQL_PAIRWISE_MICRO_F1),
    "macro_f1": (q_macro_f1, SQL_MACRO_F1),
    "punct_tokens": (q_punct_tokens, SQL_PUNCT_TOKENS),
    "minhash_signature": (q_minhash_signature, SQL_MINHASH_SIGNATURE),
    "simhash_signature": (q_simhash_signature, SQL_SIMHASH_SIGNATURE),
    "simhash_dedup_portable": (q_simhash_dedup_portable, SQL_SIMHASH_DEDUP_PORTABLE),
    "lsh_band_keys": (q_lsh_band_keys, SQL_LSH_BAND_KEYS),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_ngram_jaccard": (q_dedup_ngram_jaccard, SQL_DEDUP_NGRAM_JACCARD),
    "doc_clusters_portable": (q_doc_clusters_portable, SQL_DOC_CLUSTERS_PORTABLE),
    "dedup_embedding_cosine": (q_dedup_embedding_cosine, SQL_DEDUP_EMBEDDING_COSINE),
    "ann_topk_cosine": (q_ann_topk_cosine, SQL_ANN_TOPK),
    "ann_ivf_topk": (q_ann_ivf_topk, SQL_ANN_IVF_TOPK),
    "ann_ivf_kmeans": (q_ann_ivf_kmeans, SQL_ANN_IVF_KMEANS),
    "ann_lsh_topk": (q_ann_lsh_topk, SQL_ANN_LSH_TOPK),
    "text_stats": (q_text_stats, SQL_TEXT_STATS),
    "token_counts": (q_token_counts, SQL_TOKEN_COUNTS),
    "embedding_centroids": (q_embedding_centroids, SQL_EMBEDDING_CENTROIDS),
    "lang_stopword_ratio": (q_lang_stopword_ratio, SQL_LANG_STOPWORD),
    "doc_fingerprint": (q_doc_fingerprint, SQL_DOC_FINGERPRINT),
    "bioes_tagging": (q_bioes_tagging, SQL_BIOES),
    "softmax_window": (q_softmax_window, SQL_SOFTMAX),
    "word_resolution": (q_word_resolution, SQL_WORD_RESOLUTION),
    "candidate_filter": (q_candidate_filter, SQL_CANDIDATE_FILTER),
    "candidate_rerank": (q_candidate_rerank, SQL_CANDIDATE_RERANK),
    "subword_eval": (q_subword_eval, SQL_SUBWORD_EVAL),
    "ep1_flagship_portable": (q_ep1_flagship_portable, SQL_EP1_FLAGSHIP_PORTABLE),
    "er_clusters_portable": (q_er_clusters_portable, SQL_ER_CLUSTERS_PORTABLE),
    "er_anchor_pairs_portable": (q_er_anchor_pairs_portable, SQL_ER_ANCHOR_PAIRS_PORTABLE),
    "er_block_f1_portable": (q_er_block_f1_portable, SQL_ER_BLOCK_F1_PORTABLE),
}
