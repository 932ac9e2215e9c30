"""Driver-contract parity: every CATALOG query must match its DuckDB oracle
(row count + order-insensitive canonical rows) at sf0.001, and the
rows-only extras + entry() must run and return stable schemas."""

import os

import duckdb
import pandas as pd
import pytest

import spel_spark.queries as Q

SF = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.exists(SF), reason="driver testdata not present"
)


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


def _canon(df: pd.DataFrame):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(6)
    return sorted(map(tuple, df.astype(str).to_numpy().tolist()))


@pytest.mark.parametrize("name", sorted(Q.CATALOG))
def test_catalog_matches_duckdb(spark, ddb, name):
    fn, sql = Q.CATALOG[name]
    got = _canon(fn(spark, SF).toPandas())
    want = _canon(ddb.execute(sql).fetchdf())
    assert len(got) == len(want), (name, len(got), len(want))
    assert got == want, name


def test_er_clusters_portable_is_discriminative(spark, ddb):
    """The composed ER oracle must actually cluster — more than one
    cluster (not everything merged) and STRICTLY fewer clusters than
    DISTINCT SURFACES (some cross-surface merging happened; the surface
    count is computed from the data, not hardcoded — sf0.001 has 62
    distinct names, not the nominal 64); a degenerate all-or-nothing
    result would make the parity check vacuous."""
    df = Q.CATALOG["er_clusters_portable"][0](spark, SF).toPandas()
    n_clusters = df["cluster_id"].nunique()
    n_surfaces = ddb.execute(
        "SELECT count(DISTINCT p_name) FROM part"
    ).fetchone()[0]
    assert 1 < n_clusters < n_surfaces
    # at least one cluster spans MULTIPLE surfaces (same-surface mentions
    # co-cluster trivially, so cluster_size alone proves nothing)
    merged = df.groupby("cluster_id")["mention_id"].count()
    assert len(df) > 0 and n_surfaces - n_clusters >= 1
    assert merged.max() > len(df) / n_surfaces  # beyond one surface's share


def test_candidate_filter_oracle_parity(spark, sf001_dir):
    from spel_spark.queries import SQL_CANDIDATE_FILTER, q_candidate_filter

    sdf = q_candidate_filter(spark, sf001_dir).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW part AS SELECT * FROM read_parquet('{sf001_dir}/part.parquet')"
    )
    odf = con.execute(SQL_CANDIDATE_FILTER).df()
    cols = sorted(sdf.columns)
    a = sdf[cols].sort_values(by=cols, ignore_index=True)
    b = odf[cols].sort_values(by=cols, ignore_index=True)
    assert len(a) == len(b) > 0
    # some predictions must actually be nulled and some kept
    assert (a["entity_id"] == 0).any() and (a["entity_id"] != 0).any()
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_entry_runs(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    rows = df.count()
    assert rows > 0
    assert set(df.columns) == {"doc_id", "cluster_id", "cluster_size"}


def test_rows_only_queries_run(spark):
    import __spark_entry__ as E

    qs = E.queries()
    oracles = E.oracle_sql()
    # every oracle key must exist in queries
    assert set(oracles) <= set(qs)
    for name in ["simhash_dedup", "minhash_doc_clusters", "ann_ivf_kmeans",
                 "ep1_flagship", "dedup_minhash_pairs"]:
        df = qs[name](spark, SF)
        assert df.count() >= 0  # runs, stable schema
        assert len(df.columns) >= 2


def test_er_f1_synthetic_meets_gate(spark):
    import __spark_entry__ as E

    row = E.queries()["er_f1_synthetic"](spark, SF).collect()[0]
    assert row.f1 >= 0.99, row
