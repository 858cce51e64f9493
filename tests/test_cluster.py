"""Integer-exact k-means + SemDeDup (operators/cluster.py)."""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osm_chordify_spark.operators.cluster import (
    kmeans_assign,
    kmeans_oracle_sql,
    semdedup,
    semdedup_oracle_sql,
)


def _blob_rows(seed=7):
    """4 well-separated blobs of 30 points in 8 dims, plus planted
    near-duplicates.  Deterministic (fixed LCG, no RNG state)."""
    centers = [
        [10, 0, 0, 0, 0, 0, 0, 0],
        [0, 10, 0, 0, 0, 0, 0, 0],
        [0, 0, 10, 0, 0, 0, 0, 0],
        [0, 0, 0, 10, 0, 0, 0, 0],
    ]
    rows, x = [], seed
    for b, c in enumerate(centers):
        for i in range(30):
            vec = []
            for j in range(8):
                x = (x * 1103515245 + 12345) % (1 << 31)
                vec.append(c[j] + ((x % 2001) - 1000) / 1000.0)  # ±1 jitter
            rows.append((b * 100 + i, [float(v) for v in vec], b))
    return rows


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )


def test_kmeans_recovers_separated_blobs(spark):
    df = _df(spark, _blob_rows())
    out = kmeans_assign(df, k=4, iters=4).toPandas()
    truth = {r[0]: r[2] for r in _blob_rows()}
    out["label"] = out["vec_id"].map(truth)
    # every true blob lands in exactly one cluster and vice versa
    purity = out.groupby("label")["cluster"].nunique()
    assert (purity == 1).all()
    assert out["cluster"].nunique() == 4


def test_kmeans_matches_duckdb_oracle(spark):
    rows = _blob_rows()
    df = _df(spark, rows)
    got = (
        kmeans_assign(df, k=4, iters=3)
        .toPandas().sort_values("vec_id").reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register(
        "t", pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    )
    want = (
        con.sql(kmeans_oracle_sql("t", k=4, iters=3))
        .df().sort_values("vec_id").reset_index(drop=True)
    )
    assert got.astype(str).equals(want.astype(str))


def test_kmeans_partitioning_invariant(spark):
    """Integer arithmetic → the result cannot depend on physical layout."""
    df = _df(spark, _blob_rows())
    a = kmeans_assign(df.repartition(1), k=4, iters=2).toPandas()
    b = kmeans_assign(df.repartition(13), k=4, iters=2).toPandas()
    key = lambda t: t.sort_values("vec_id").reset_index(drop=True)  # noqa: E731
    assert key(a).equals(key(b))


def test_semdedup_flags_planted_near_duplicates(spark):
    rows = _blob_rows()
    # plant: 9001 = scaled copy of vec 5 (cos = 1), 9002 = orthogonal-ish
    src = dict((r[0], r[1]) for r in rows)[5]
    rows = rows + [
        (9001, [v * 1.5 for v in src], 0),
        (9002, [float(j % 2) for j in range(8)], 0),
    ]
    out = semdedup(_df(spark, rows), k=4, iters=3, tau=(95, 100)).toPandas()
    by = out.set_index("vec_id")
    # 9001 clusters with vec 5; one of the pair is flagged against the
    # cluster representative unless one of them IS the representative
    assert by.loc[9001, "cluster"] == by.loc[5, "cluster"]
    rep = by.loc[9001, "rep_id"]
    if rep == 5:
        assert bool(by.loc[9001, "is_dup"])
    # the representative itself is never a dup
    reps = set(out["rep_id"])
    assert not out[out["vec_id"].isin(reps)]["is_dup"].any()


def test_semdedup_matches_duckdb_oracle(spark):
    rows = _blob_rows()
    df = _df(spark, rows)
    got = (
        semdedup(df, k=4, iters=2, tau=(80, 100))
        .toPandas().sort_values("vec_id").reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register(
        "t", pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    )
    want = (
        con.sql(semdedup_oracle_sql("t", k=4, iters=2, tau=(80, 100)))
        .df().sort_values("vec_id").reset_index(drop=True)
    )
    assert got.astype(str).equals(want.astype(str))


def test_kmeans_param_validation(spark):
    df = _df(spark, _blob_rows())
    with pytest.raises(ValueError):
        kmeans_assign(df, k=0)
    with pytest.raises(ValueError):
        kmeans_assign(df, iters=0)
    with pytest.raises(ValueError):
        kmeans_assign(df, scale=1000)  # not a power of two


@pytest.mark.parametrize("bad", [[1.0, 2.0], [], None])
def test_kmeans_rejects_ragged_vectors(spark, bad):
    """A vector shorter than d (or empty, or null) would drop out of the
    per-(cluster, component) counts and silently shift its centroid."""
    rows = _blob_rows() + [(999, bad, 0)]
    with pytest.raises(ValueError, match="one length"):
        kmeans_assign(_df(spark, rows), k=4, iters=1)
