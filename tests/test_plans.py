"""Plan-quality audit: no row-Python on the hot path; pushdown; broadcast."""

from pyspark.sql import functions as F

from spel_spark.operators.blocking import anchor_pairs, blocking_keys, surface_nodes
from spel_spark.operators.mentions import extract_mentions, with_mention_id, with_norm_surface
from spel_spark.operators.scoring import score_pairs, threshold_edges
from spel_spark.plans import (
    assert_no_row_python,
    count_arrow_eval_nodes,
    physical_plan,
    scan_summary,
)


def test_no_row_python_anywhere(spark, transcripts_df, corpus):
    redirects = spark.createDataFrame(corpus.redirects)
    mentions = with_mention_id(with_norm_surface(extract_mentions(transcripts_df), redirects))
    surfaces = surface_nodes(mentions)
    pairs = anchor_pairs(blocking_keys(surfaces))
    edges = threshold_edges(score_pairs(pairs))
    for df in [mentions, surfaces, pairs, edges]:
        assert_no_row_python(df)


def test_builtin_extractor_has_zero_python(spark, transcripts_df):
    m = extract_mentions(transcripts_df)
    plan = physical_plan(m)
    assert "EvalPython" not in plan  # neither Arrow nor Batch — pure JVM
    assert "Exchange" not in plan    # zero-shuffle narrow map


def test_scoring_is_arrow_only(spark, transcripts_df, corpus):
    redirects = spark.createDataFrame(corpus.redirects)
    mentions = with_mention_id(with_norm_surface(extract_mentions(transcripts_df), redirects))
    scored = score_pairs(anchor_pairs(blocking_keys(surface_nodes(mentions))))
    assert count_arrow_eval_nodes(scored) >= 1  # the JW pandas UDF
    assert_no_row_python(scored)


def test_parquet_pushdown_and_pruning(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    q = li.filter(F.col("l_quantity") > 40).select("l_orderkey", "l_quantity")
    s = scan_summary(q)
    assert any("l_quantity" in f for f in s["pushed_filters"]), s
    # column pruning: scan must not read all 11 columns
    assert all("l_extendedprice" not in rs for rs in s["read_schemas"]), s


def test_redirect_join_broadcasts(spark, transcripts_df, corpus):
    redirects = spark.createDataFrame(corpus.redirects)
    m = with_norm_surface(extract_mentions(transcripts_df), redirects)
    assert scan_summary(m)["has_broadcast"]


def test_word_resolution_plan_is_jvm_only(spark, sf001_dir):
    """A1/A2: one shuffle-aggregate + one window, zero Python."""
    from spel_spark.queries import q_word_resolution

    df = q_word_resolution(spark, sf001_dir)
    assert "EvalPython" not in physical_plan(df)


def test_punct_tokenizer_is_zero_shuffle(spark, transcripts_df):
    """F2: narrow map — no Exchange, no Python."""
    from spel_spark.functions.tokenize import punct_tokenize

    toks = punct_tokenize(transcripts_df)
    plan = physical_plan(toks)
    assert "EvalPython" not in plan
    assert "Exchange" not in plan


def test_nif_parser_plan_is_jvm_only(spark):
    import os

    from spel_spark.sources.nif import parse_nif_gold

    ttl = "/root/reference/resources/data/aida_testc.ttl"
    if not os.path.exists(ttl):
        import pytest

        pytest.skip("fixture absent")
    contexts, phrases = parse_nif_gold(spark, ttl)
    assert "EvalPython" not in physical_plan(phrases)
    assert "EvalPython" not in physical_plan(contexts)


def test_simhash_signature_is_jvm_only_one_shuffle(spark, sf001_dir):
    """Portable SimHash: explode + one map-side-combinable aggregate —
    zero Python, exactly one exchange (the groupBy)."""
    from spel_spark.queries import q_simhash_signature

    df = q_simhash_signature(spark, sf001_dir)
    plan = physical_plan(df)
    assert "EvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_jaro_winkler_query_is_arrow_only(spark, sf001_dir):
    """JW catalog query: the kernel runs as an Arrow pandas UDF, never
    row-at-a-time Python."""
    from spel_spark.queries import q_jaro_winkler

    df = q_jaro_winkler(spark, sf001_dir)
    assert count_arrow_eval_nodes(df) >= 1
    assert_no_row_python(df)


def test_ep1_evaluation_plan_is_jvm_only(spark):
    """EP1 composed lifecycle: every stage is builtins/windows — zero
    Python anywhere in the fallback-corpus plan."""
    from spel_spark.operators.evaluation import ep1_evaluate

    df = ep1_evaluate(spark, ttl_path="/nonexistent/gold.ttl")
    assert "EvalPython" not in physical_plan(df)


def test_detokenizer_is_jvm_only_zero_shuffle(spark):
    """Moses-EN detokenizer: one aggregate expression — no Python, no
    Exchange."""
    from spel_spark.functions.detokenize import moses_detokenize_col

    df = spark.createDataFrame([(["a", ",", "b"],)], "words array<string>")
    plan = physical_plan(df.select(moses_detokenize_col(F.col("words"))))
    assert "EvalPython" not in plan
    assert "Exchange" not in plan


def test_candidate_rerank_broadcasts_zero_shuffle_on_preds(spark):
    """J8 rerank: allow-sets broadcast; the prediction side is never
    exchanged."""
    from spel_spark.operators.spans import candidate_rerank
    from spel_spark.plans import scan_summary

    preds = spark.createDataFrame(
        [(1, "k", 5, [(5, 0.9)])],
        "row int, block_key string, entity_id int, "
        "alternatives array<struct<entity_id:int,p:double>>",
    )
    allow = spark.createDataFrame([("k", 5)], "block_key string, entity_id int")
    out = candidate_rerank(preds, allow)
    assert scan_summary(out)["has_broadcast"]
    assert "EvalPython" not in physical_plan(out)


def test_er_portable_chain_plans_are_arrow_only(spark, sf001_dir):
    """The new composed ER oracle queries: no row-at-a-time Python
    anywhere (the Jaro-Winkler pandas UDF is the only Python, Arrow-
    batched), and the part scan prunes to the two consumed columns."""
    from spel_spark.queries import (
        q_er_anchor_pairs_portable,
        q_er_block_f1_portable,
        q_er_clusters_portable,
    )

    for q in (q_er_clusters_portable, q_er_anchor_pairs_portable,
              q_er_block_f1_portable):
        df = q(spark, sf001_dir)
        assert_no_row_python(df)
    s = scan_summary(q_er_clusters_portable(spark, sf001_dir))
    assert any("p_partkey" in rs and "p_name" in rs for rs in s["read_schemas"])
    assert all("p_brand" not in rs for rs in s["read_schemas"])  # pruned


def test_simhash_dedup_portable_plan_is_jvm_only(spark, sf001_dir):
    from spel_spark.plans import physical_plan
    from spel_spark.queries import q_simhash_dedup_portable

    plan = physical_plan(q_simhash_dedup_portable(spark, sf001_dir))
    assert "EvalPython" not in plan  # pure builtins end to end
