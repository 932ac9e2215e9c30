"""Blocking: LSH determinism, seed independence, salted joins == naive."""

import math
from itertools import combinations

import pytest
from pyspark.sql import functions as F

from spel_spark.operators.blocking import (
    LSH_SEEDS,
    blocking_keys,
    minhash_signature,
    salted_bipartite_id_pairs,
    salted_id_pairs,
    salted_pairs,
    surface_nodes,
)


def _surfaces(spark, names):
    df = spark.createDataFrame([(s, 1) for s in names], "norm_surface string, n_mentions int")
    return df.withColumn("surface_id", F.xxhash64("norm_surface"))


def test_minhash_deterministic(spark):
    df = _surfaces(spark, ["kamora ledger", "pivek solar"])
    a = minhash_signature(df).orderBy("norm_surface").collect()
    b = minhash_signature(df).orderBy("norm_surface").collect()
    assert a == b


def test_minhash_seeds_vary(spark):
    """Regression: all 16 hashes must differ per surface (the 2-arg-lambda
    index bug produced identical columns)."""
    df = _surfaces(spark, ["kamora ledger"])
    row = minhash_signature(df).collect()[0]
    vals = {row[f"mh_{i}"] for i in range(len(LSH_SEEDS))}
    assert len(vals) > len(LSH_SEEDS) // 2


def test_lsh_recalls_typo(spark):
    df = _surfaces(spark, ["feemur voskin", "fevmur voskin"])
    keys = blocking_keys(df)
    shared = (
        keys.groupBy("block_key")
        .count()
        .filter((F.col("count") > 1) & F.col("block_key").startswith("b"))
    )
    assert shared.count() >= 1


def test_first_token_key_recalls_truncation(spark):
    df = _surfaces(spark, ["kamora", "kamora ledger"])
    pairs = salted_pairs(blocking_keys(df))
    assert pairs.count() == 1


def test_salted_equals_naive(spark):
    """Triangle-replicated self-join == naive combinations, even when the
    block is forced to salt (max_cell=2 on a 9-member block)."""
    names = [f"hot {i}" for i in range(9)]
    df = _surfaces(spark, names)
    blocks = df.select(
        "surface_id", "norm_surface", F.lit("k:hot").alias("block_key")
    )
    got = {
        (r.a_id, r.b_id)
        for r in salted_pairs(blocks, max_cell=2, max_salts=8).collect()
    }
    ids = sorted(r.surface_id for r in df.collect())
    want = {(a, b) for a, b in combinations(ids, 2)}
    assert got == want


def test_salted_pairs_dedup_across_families(spark):
    df = _surfaces(spark, ["kamora ledger", "kamora ledgex"])
    keys = blocking_keys(df)
    pairs = salted_pairs(keys).collect()
    assert len(pairs) == 1  # shares f: and several b: keys, but one row out
    by_surface = {}
    for r in keys.collect():
        by_surface.setdefault(r.norm_surface, set()).add(r.block_key)
    shared = by_surface["kamora ledger"] & by_surface["kamora ledgex"]
    assert len(shared) > 1
    # the surviving row carries the SMALLEST shared key (pair checksums
    # of the ER queries depend on it)
    assert pairs[0].block_key == min(shared)


# salt-cell regimes, (max_cell, max_salts), for the hottest key of each
# case below: one cell, several cells, salt count capped at max_salts
SALT_REGIMES = {"one_cell": (1024, 64), "several_cells": (8, 64), "cap_hit": (8, 4)}


def _assert_regime(regime, n_hot, max_cell, max_salts):
    want = math.ceil(n_hot / max_cell)
    assert {"one_cell": want == 1, "several_cells": 1 < want <= max_salts,
            "cap_hit": want > max_salts}[regime]


def _self_default(spark, max_cell, max_salts):
    """Default mode: one row per unordered pair, carried columns swapped
    with the ids, block_key = smallest shared key.  Ids 0..299 share
    "hot"; 200..369 also sit in 7 cold keys, so many pairs share several
    keys.  The ER delegate salted_pairs must return the same rows."""
    rows = [(i, "hot") for i in range(300)] + [
        (200 + i, f"cold{i % 7}") for i in range(170)
    ]
    blocks = spark.createDataFrame(rows, "surface_id long, block_key string").withColumn(
        "norm_surface", F.concat(F.lit("s"), F.col("surface_id").cast("string"))
    )
    got = salted_id_pairs(
        blocks, "surface_id", max_cell=max_cell, max_salts=max_salts,
        carry=("norm_surface",),
    ).collect()
    delegate = salted_pairs(blocks, max_cell, max_salts).collect()
    assert sorted(map(tuple, delegate)) == sorted(map(tuple, got))
    keys = {}
    for i, k in rows:
        keys.setdefault(i, set()).add(k)
    by_key = {}
    for i, k in rows:
        by_key.setdefault(k, []).append(i)
    want = {
        (a, b, f"s{a}", f"s{b}", min(keys[a] & keys[b]))
        for members in by_key.values()
        for a, b in combinations(sorted(members), 2)
    }
    return 300, [tuple(r) for r in got], want


def _self_emit_once(spark, max_cell, max_salts):
    """Emit-once mode on a composite (slot, bandh) key: every pair sharing
    any bucket exactly once, from its first shared slot.  Slot 1 is one
    hot bucket for ids < 250; ids >= 250 only meet on slots 0 and 2."""
    def bv(i):
        return (i % 2, 0 if i < 250 else 1000 + i, i % 3)

    rows = [(i, s, v, *bv(i)) for i in range(300) for s, v in enumerate(bv(i))]
    blocks = spark.createDataFrame(
        rows, "id long, slot int, bandh long, bv0 long, bv1 long, bv2 long"
    )
    first = F.lit(-1)
    for j in reversed(range(3)):
        first = F.when(F.col(f"a_bv{j}") == F.col(f"b_bv{j}"), F.lit(j)).otherwise(first)
    got = salted_id_pairs(
        blocks, "id", key_col=("slot", "bandh"), max_cell=max_cell,
        max_salts=max_salts, carry=("bv0", "bv1", "bv2"), first_shared_key=first,
    ).collect()
    want = {
        (a, b, *bv(a), *bv(b))
        for a, b in combinations(range(300), 2)
        if any(x == y for x, y in zip(bv(a), bv(b)))
    }
    return 250, [tuple(r) for r in got], want


def _bipartite(spark, max_cell, max_salts):
    """One hot band shared by 200 corpus rows and 20 queries, plus a cold
    band (cold3) and a band absent from the corpus (coldX)."""
    right = spark.createDataFrame(
        [(i, "hot") for i in range(200)] + [(i, f"cold{i % 7}") for i in range(200, 260)],
        "nbr_id long, band string",
    )
    left = spark.createDataFrame(
        [(i, "hot") for i in range(20)] + [(201, "cold3"), (202, "coldX")],
        "q_id long, band string",
    )
    got = salted_bipartite_id_pairs(
        left, right, "q_id", "nbr_id", max_cell=max_cell, max_salts=max_salts
    ).collect()
    corpus = [(r.nbr_id, r.band) for r in right.collect()]
    want = {
        (ql, nr)
        for ql, qb in [(r.q_id, r.band) for r in left.collect()]
        for nr, nb in corpus
        if qb == nb
    }
    n_cold3 = sum(1 for i in range(200, 260) if i % 7 == 3)
    assert len(want) == 20 * 200 + n_cold3  # hot block + cold3
    assert all(q != 202 for q, _ in want)  # coldX matches nothing
    return 200, [tuple(r) for r in got], want


@pytest.mark.parametrize("regime", list(SALT_REGIMES))
@pytest.mark.parametrize(
    "shape", [_self_default, _self_emit_once, _bipartite],
    ids=["self_default", "self_emit_once", "bipartite"],
)
def test_salted_join_equals_naive(spark, shape, regime):
    """Every salted join shape == its naive Python oracle in every salt
    regime, row for row: no pair lost, none emitted twice."""
    max_cell, max_salts = SALT_REGIMES[regime]
    n_hot, got, want = shape(spark, max_cell, max_salts)
    _assert_regime(regime, n_hot, max_cell, max_salts)
    assert len(got) == len(set(got))
    assert set(got) == want


def test_surface_nodes_counts(spark):
    m = spark.createDataFrame(
        [("search", 10), ("search", 7), ("kamora ledger", 3)],
        "norm_surface string, mention_id long",
    )
    rows = {r.norm_surface: r for r in surface_nodes(m).collect()}
    assert rows["search"].n_mentions == 2
    assert rows["search"].min_mention_id == 7
    assert rows["kamora ledger"].n_mentions == 1


def test_salted_id_pairs_equals_naive(spark):
    """Payload-free salted self-join == naive all-pairs, including an
    oversized hot block that spans multiple salt cells."""
    rows = [(i, "hot") for i in range(300)] + [
        (1000 + i, f"cold{i % 7}") for i in range(70)
    ]
    df = spark.createDataFrame(rows, "id long, block_key string")
    got = {
        (r.a_id, r.b_id)
        for r in salted_id_pairs(df, max_cell=32, max_salts=16).collect()
    }
    want = set()
    by_key = {}
    for i, k in rows:
        by_key.setdefault(k, []).append(i)
    for members in by_key.values():
        for a, b in combinations(sorted(members), 2):
            want.add((a, b))
    assert got == want


def test_two_phase_anchor_election_matches_single_window(spark):
    from spel_spark.operators.blocking import anchor_pairs

    """The salted two-phase anchor election must pick EXACTLY the anchors
    a single per-block window would (top-k composes across phases)."""
    import random

    from pyspark.sql import Window

    rng = random.Random(5)
    rows = []
    for blk in range(12):
        for s in range(rng.randint(2, 200)):
            rows.append((blk * 10000 + s, f"s{blk}_{s}", rng.randint(1, 50), f"b{blk}"))
    blocks = spark.createDataFrame(
        rows, "surface_id long, norm_surface string, n_mentions long, block_key string"
    )
    pairs = anchor_pairs(blocks, n_anchors=2, full_block_limit=1)
    # oracle: single-window top-2 anchors per block, then member-anchor pairs
    w = Window.partitionBy("block_key").orderBy(
        F.col("n_mentions").desc(), F.col("surface_id")
    )
    top = (
        blocks.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)
        .select("block_key", F.col("surface_id").alias("anchor_id"))
    )
    want = {
        (min(r.surface_id, r.anchor_id), max(r.surface_id, r.anchor_id))
        for r in blocks.join(top, "block_key").collect()
        if r.surface_id != r.anchor_id
    }
    got = {(r.a_id, r.b_id) for r in pairs.collect()}
    assert got == want
