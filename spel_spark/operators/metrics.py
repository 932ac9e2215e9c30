"""Pairwise evaluation: micro/macro P/R/F1 over labeled pairs.

The Spark re-expression of the reference's micro metric counters
(src/spel/decao_eval.py:1185-1202 — n/prec_d/rec_d sums over g∩p) and
macro per-document averaging (decao_eval.py:1205-1221), with *pairs*
instead of spans: predicted-same = both mentions in the same final
cluster; gold-same = ``same_entity`` from the labeled fixture; evaluation
is grouped by the pair's blocking key (north rule: "at matched blocking
key").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spel_spark.session import persist


def resolve_labeled_pairs(labeled: DataFrame, clusters: DataFrame) -> DataFrame:
    """Join the (conv,turn,begin)-keyed labeled pairs to predicted clusters.

    labeled: a_conv,a_turn,a_begin,b_conv,b_turn,b_begin,block_key,same_entity.
    clusters: mention rows with (conv_id, turn_idx, begin_char, cluster_id).
    Adds pred_same.  Pairs whose mentions were not extracted resolve to
    pred_same = false (a recall miss, exactly like a blocking miss).
    """
    # consumed twice (a-side AND b-side join): persist the narrow derived
    # projection so the cluster-assignment DAG behind ``clusters`` — which
    # projects the full mention instance table — expands once, not twice
    # (guide §2.4/§5; r6 in-process A/B on the 2000-turn ER gate: median
    # 7.51 s -> 6.77 s, and at 10^9-mention scale the second expansion is
    # a second full instance-table pass).
    c = persist(clusters.select("conv_id", "turn_idx", "begin_char", "cluster_id"))
    a = c.select(
        F.col("conv_id").alias("a_conv"),
        F.col("turn_idx").alias("a_turn"),
        F.col("begin_char").alias("a_begin"),
        F.col("cluster_id").alias("a_cluster"),
    )
    b = c.select(
        F.col("conv_id").alias("b_conv"),
        F.col("turn_idx").alias("b_turn"),
        F.col("begin_char").alias("b_begin"),
        F.col("cluster_id").alias("b_cluster"),
    )
    return (
        labeled.join(a, ["a_conv", "a_turn", "a_begin"], "left")
        .join(b, ["b_conv", "b_turn", "b_begin"], "left")
        .withColumn(
            "pred_same",
            F.coalesce(F.col("a_cluster") == F.col("b_cluster"), F.lit(False)),
        )
    )


def pairwise_micro_f1(resolved: DataFrame) -> DataFrame:
    """Single-row micro P/R/F1 (sums over all pairs) — one agg, no loop."""
    g, p = F.col("same_entity"), F.col("pred_same")
    agg = resolved.agg(
        F.sum((g & p).cast("long")).alias("tp"),
        F.sum((~g & p).cast("long")).alias("fp"),
        F.sum((g & ~p).cast("long")).alias("fn"),
        F.count(F.lit(1)).alias("n_pairs"),
    )
    prec = F.col("tp") / F.greatest(F.col("tp") + F.col("fp"), F.lit(1))
    rec = F.col("tp") / F.greatest(F.col("tp") + F.col("fn"), F.lit(1))
    f1 = F.when(
        prec + rec > 0, 2 * prec * rec / (prec + rec)
    ).otherwise(F.lit(0.0))
    return agg.select(
        "tp", "fp", "fn", "n_pairs",
        prec.alias("precision"), rec.alias("recall"), f1.alias("f1"),
    )


def subword_eval_counters(
    resolved: DataFrame,
    mask_col: str = "eval_mask",
    actual_col: str = "is_in_mention",
    pred_col: str = "pred_in_mention",
) -> DataFrame:
    """A7: masked subword-level mention-detection counters — the Spark
    re-expression of the reference's InOutMentionEvaluationResult
    (src/spel/decao_eval.py:1335-1391): overall / in-mention /
    out-of-mention accuracy over eval-masked subwords, as ONE aggregation
    of conditional sums (no per-token Python loop).

    Accuracies are percentages, 0.0 when the denominator is empty
    (decao_eval.py:1370-1381)."""
    m = F.col(mask_col)
    a = F.col(actual_col)
    p = F.col(pred_col)
    agg = resolved.agg(
        F.sum(m.cast("long")).alias("total"),
        F.sum((m & (a == p)).cast("long")).alias("correct"),
        F.sum((m & a).cast("long")).alias("total_true"),
        F.sum((m & a & p).cast("long")).alias("correct_true"),
        F.sum((m & ~a).cast("long")).alias("total_false"),
        F.sum((m & ~a & ~p).cast("long")).alias("correct_false"),
    )

    def acc(num, den):
        return F.when(
            F.col(den) > 0, F.col(num) * 100.0 / F.col(den)
        ).otherwise(F.lit(0.0))

    return agg.select(
        "total", "correct", "total_true", "correct_true",
        "total_false", "correct_false",
        acc("correct", "total").alias("overall_acc"),
        acc("correct_true", "total_true").alias("in_mention_acc"),
        acc("correct_false", "total_false").alias("out_mention_acc"),
    )


def pairwise_f1_by_block(resolved: DataFrame) -> DataFrame:
    """Per-block-key P/R/F1 (the 'matched blocking key' grouping), plus the
    macro mean across blocks (reference macro analogue)."""
    g, p = F.col("same_entity"), F.col("pred_same")
    per = resolved.groupBy("block_key").agg(
        F.sum((g & p).cast("long")).alias("tp"),
        F.sum((~g & p).cast("long")).alias("fp"),
        F.sum((g & ~p).cast("long")).alias("fn"),
        F.count(F.lit(1)).alias("n_pairs"),
    )
    prec = F.col("tp") / F.greatest(F.col("tp") + F.col("fp"), F.lit(1))
    rec = F.col("tp") / F.greatest(F.col("tp") + F.col("fn"), F.lit(1))
    f1 = F.when(prec + rec > 0, 2 * prec * rec / (prec + rec)).otherwise(F.lit(0.0))
    return per.select(
        "block_key", "tp", "fp", "fn", "n_pairs",
        prec.alias("precision"), rec.alias("recall"), f1.alias("f1"),
    )


def pairwise_macro_f1(resolved: DataFrame) -> DataFrame:
    """A6 macro row: UNWEIGHTED means of the per-block P/R/F1 — the final
    aggregation the reference computes across documents
    (src/spel/decao_eval.py:1205-1221, sum(f1_scores)/len(f1_scores)); each
    block counts once regardless of its pair volume.  One row:
    (n_blocks, macro_precision, macro_recall, macro_f1)."""
    return pairwise_f1_by_block(resolved).agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.avg("precision").alias("macro_precision"),
        F.avg("recall").alias("macro_recall"),
        F.avg("f1").alias("macro_f1"),
    )
