"""Mention extraction: builtin == Arrow UDTF; offsets round-trip; the
per-turn text-equality invariant under stable (conv_id, turn_idx) order."""

from pyspark.sql import functions as F

from spel_spark.operators.mentions import (
    extract_mentions,
    extract_mentions_arrow,
    with_mention_id,
)

KEY = ["conv_id", "turn_idx", "begin_char"]


def _sorted_rows(df):
    return [
        (r.conv_id, r.turn_idx, r.begin_char, r.end_char, r.surface)
        for r in df.orderBy(*KEY).collect()
    ]


def test_builtin_matches_arrow(spark, transcripts_df):
    a = _sorted_rows(extract_mentions(transcripts_df))
    b = _sorted_rows(extract_mentions_arrow(transcripts_df))
    assert a == b
    assert len(a) > 0


def test_matches_gold_mentions(spark, corpus, transcripts_df):
    got = _sorted_rows(extract_mentions(transcripts_df))
    gold = [
        tuple(r)
        for r in corpus.gold_mentions[
            ["conv_id", "turn_idx", "begin_char", "end_char", "surface"]
        ]
        .sort_values(KEY)
        .itertuples(index=False)
    ]
    assert got == gold


def test_offsets_round_trip(spark, transcripts_df):
    """substring(text, begin+1, end-begin) == surface (X10 invariant)."""
    m = extract_mentions(transcripts_df)
    joined = m.join(transcripts_df, ["conv_id", "turn_idx"])
    bad = joined.filter(
        F.expr("substring(text, begin_char + 1, end_char - begin_char)")
        != F.col("surface")
    )
    assert bad.count() == 0


def test_per_turn_text_equality_through_store(spark, transcripts_df, store):
    """north rule: per-turn text equality under stable ordering, end-to-end
    through a checkpoint write+read."""
    store.write(transcripts_df, "transcripts", "fp0")
    back = store.read("transcripts")
    src = transcripts_df.select("conv_id", "turn_idx", "text")
    rt = back.select("conv_id", "turn_idx", "text")
    diff = src.join(rt, ["conv_id", "turn_idx"]).filter(
        src["text"] != rt["text"]
    )
    assert diff.count() == 0
    assert back.count() == transcripts_df.count()
    # stable ordering: (conv_id, turn_idx) is a unique key
    dup = back.groupBy("conv_id", "turn_idx").count().filter("count > 1")
    assert dup.count() == 0


def test_mention_id_deterministic(spark, transcripts_df):
    m1 = with_mention_id(extract_mentions(transcripts_df))
    m2 = with_mention_id(extract_mentions(transcripts_df))
    ids1 = sorted(r.mention_id for r in m1.select("mention_id").collect())
    ids2 = sorted(r.mention_id for r in m2.select("mention_id").collect())
    assert ids1 == ids2
    assert len(set(ids1)) == len(ids1)  # unique
