"""kNN parity: engine vs brute-force numpy oracle using the exact
OGR_GreatCircle_Distance formula; hot-cell query (ring 0 suffices) and
empty-region query (ring must expand) per FIXTURES.md §6."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_spark.data import pages as P
from gdal_spark.data.geotag import py_lonlat
from gdal_spark.operators import knn as K
from gdal_spark.spatial import geometry as G

N = 1500


@pytest.fixture(scope="module")
def pts(spark):
    return P.pages_df(spark, N).select("i", "lon", "lat").cache()


def oracle_knn(query_ids, k):
    lons = np.array([py_lonlat(i)[0] for i in range(N)])
    lats = np.array([py_lonlat(i)[1] for i in range(N)])
    out = {}
    for q in query_ids:
        d = G.great_circle_distance(
            np.full(N, lats[q]), np.full(N, lons[q]), lats, lons
        )
        ids = np.arange(N)
        keep = ids != q
        d, ids = d[keep], ids[keep]
        order = np.lexsort((ids, d))[:k]
        out[q] = [(int(ids[j]), float(d[j])) for j in order]
    return out


def test_knn_join_matches_bruteforce_oracle(spark, pts):
    k = 5
    query_ids = [0, 100, 7, 1234]  # 0/100 are hot-cell rows
    queries = pts.filter(F.col("i").isin(query_ids)).select(
        F.col("i").alias("query_id"), "lon", "lat"
    )
    got = K.knn_join(pts, queries, k=k, point_id="i").collect()
    expected = oracle_knn(query_ids, k)
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"], r["dist_m"]))
    assert set(by_q) == set(query_ids)
    for q in query_ids:
        rows = sorted(by_q[q])
        assert [nid for _, nid, _ in rows] == [nid for nid, _ in expected[q]]
        for (_, _, d), (_, ed) in zip(rows, expected[q]):
            assert d == pytest.approx(ed, rel=1e-9)


def test_knn_k1_hot_cell_is_trivial(spark, pts):
    # hot-cell rows i=0 and i=700 coincide except jitter: NN of 0 in the
    # hot cluster must itself be a hot row
    queries = pts.filter(F.col("i") == 0).select(
        F.col("i").alias("query_id"), "lon", "lat"
    )
    got = K.knn_join(pts, queries, k=1).collect()
    assert len(got) == 1
    assert got[0]["neighbor_id"] % 100 == 0
    assert got[0]["dist_m"] < 100.0  # metres — within the jittered hot cell


def test_knn_cell_join_agrees_in_dense_region(spark, pts):
    # hot-cell query: ring 1 at z7 is guaranteed to contain ≥k hot rows
    queries = pts.filter(F.col("i") == 0).select(
        F.col("i").alias("query_id"), "lon", "lat"
    )
    exact = {
        (r["rank"], r["neighbor_id"])
        for r in K.knn_join(pts, queries, k=3).collect()
    }
    cells = {
        (r["rank"], r["neighbor_id"])
        for r in K.knn_cell_join(pts, queries, k=3, zoom=7, ring=1).collect()
    }
    assert exact == cells


def test_knn_cell_join_ring_expansion(spark, pts):
    # sparse-region probe: ring 0 at high zoom misses; ring 3 must recover
    # at least SOME neighbours (documented approximate-window contract).
    queries = spark.createDataFrame(
        [(9999, -120.0, -60.0)], "query_id long, lon double, lat double"
    )
    r3 = K.knn_cell_join(pts, queries, k=2, zoom=4, ring=3).count()
    assert r3 >= 1


def test_adaptive_knn_matches_exact(spark):
    """Expanding k-ring search must agree with brute-force exact kNN,
    including a query in an empty region (ring must expand several times,
    mirroring the reference's expanding window, gdalgrid.cpp:905+)."""
    from pyspark.sql import functions as F

    from gdal_spark.data.pages import pages_df
    from gdal_spark.operators.knn import knn_cell_join_adaptive, knn_join

    pts = pages_df(spark, 3000).select("i", "lon", "lat")
    # query 0 = hot cell (ring 0 suffices); a far query via i==1 wherever it is
    queries = pts.filter(F.col("i").isin([0, 1, 777])).select(
        F.col("i").alias("query_id"), "lon", "lat"
    )
    exact = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in knn_join(pts, queries, k=4).collect()
    }
    adaptive = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in knn_cell_join_adaptive(
            pts, queries, k=4, zoom=5, max_ring=40
        ).collect()
    }
    assert adaptive == exact


def test_adaptive_knn_high_latitude_sparse(spark):
    """Regression for the retire-margin bug: at high latitude the k-th
    candidate found in early rings can be beaten by an unprobed point many
    Mercator cells away (sec(lat) anisotropy + diagonal-vs-axis geometry).
    Sparse hand-placed points near 82N force the phase-2 rectangle probe to
    widen well beyond the phase-1 square; result must equal brute force."""
    from gdal_spark.operators.knn import knn_cell_join_adaptive, knn_join

    rows = [(0, 10.0, 82.0)]
    # a tight diagonal cluster ~1 cell away at z6 and a slightly-closer
    # axis-direction point much farther in cell terms
    rows += [(i, 10.0 + 0.35 * i, 82.0 + 0.05 * i) for i in range(1, 6)]
    rows += [(100, 22.0, 82.0), (101, 10.0, 80.5), (102, -170.0, 82.5)]
    pts = spark.createDataFrame(rows, "i long, lon double, lat double")
    queries = spark.createDataFrame(
        [(0, 10.0, 82.0)], "query_id long, lon double, lat double"
    )
    exact = {
        (r["rank"], r["neighbor_id"])
        for r in knn_join(pts, queries, k=6).collect()
    }
    adaptive = {
        (r["rank"], r["neighbor_id"])
        for r in knn_cell_join_adaptive(
            pts, queries, k=6, zoom=6, max_ring=64
        ).collect()
    }
    assert adaptive == exact


def test_adaptive_knn_empty_queries(spark):
    """Empty query set must return an empty, correctly-typed DataFrame
    (regression: previously raised AttributeError on collected=None)."""
    from gdal_spark.operators.knn import knn_cell_join_adaptive

    pts = spark.createDataFrame(
        [(0, 1.0, 2.0)], "i long, lon double, lat double"
    )
    queries = spark.createDataFrame(
        [], "query_id long, lon double, lat double"
    )
    out = knn_cell_join_adaptive(pts, queries, k=3)
    assert out.count() == 0
    assert out.columns == ["query_id", "neighbor_id", "rank", "dist_m"]


def test_adaptive_knn_capped_raises_or_flags(spark):
    """A query that cannot reach k candidates within max_ring must never
    return silent best-effort rows: default raises; on_capped='flag'
    returns the rows with exact=False (satisfied queries get exact=True)."""
    import pytest

    from gdal_spark.operators.knn import knn_cell_join_adaptive

    # 3 points total; k=5 is unreachable for every query — and max_ring=1
    # stops the expansion immediately
    pts = spark.createDataFrame(
        [(0, 10.0, 10.0), (1, 10.1, 10.1), (2, 80.0, -40.0)],
        "i long, lon double, lat double",
    )
    queries = spark.createDataFrame(
        [(0, 10.0, 10.0)], "query_id long, lon double, lat double"
    )
    with pytest.raises(RuntimeError, match="best-effort"):
        knn_cell_join_adaptive(pts, queries, k=5, zoom=6, max_ring=1)
    out = knn_cell_join_adaptive(
        pts, queries, k=5, zoom=6, max_ring=1, on_capped="flag"
    ).collect()
    assert len(out) > 0
    assert all(r["exact"] is False for r in out)

    # satisfied queries under flag mode carry exact=True
    ok = knn_cell_join_adaptive(
        pts, queries, k=2, zoom=2, max_ring=8, on_capped="flag"
    ).collect()
    assert len(ok) == 2 and all(r["exact"] is True for r in ok)


def test_cell_strategies_keep_ids_above_2_53(spark):
    """Ids above 2^53 have no exact float64 form; every cell strategy must
    return the input ids untouched and equal exact kNN. Two points sit on
    the antimeridian (lon -180 and 180), which the cell grids must wrap."""
    base = 2 ** 53 + 1
    rng = np.random.default_rng(11)
    lon = rng.uniform(-180.0, 180.0, 40)
    lat = rng.uniform(-60.0, 60.0, 40)
    lon[:2] = [-180.0, 180.0]
    rows = [(base + 2 * i, float(lon[i]), float(lat[i])) for i in range(40)]
    ids = {r[0] for r in rows}
    pts = spark.createDataFrame(rows, "i long, lon double, lat double")
    queries = pts.filter(F.col("i") < base + 20).select(
        F.col("i").alias("query_id"), "lon", "lat"
    )

    def ranks(df):
        return {(r["query_id"], r["rank"]): r["neighbor_id"] for r in df.collect()}

    exact = ranks(K.knn_join(pts, queries, k=3))
    assert len(exact) == 30
    for name, out in (
        ("cells", K.knn_cell_join(pts, queries, k=3, zoom=1, ring=1)),
        ("hex", K.knn_hex_kring_join(pts, queries, k=3, ring=14, size=30.0,
                                     point_id="i")),
        ("adaptive", K.knn_cell_join_adaptive(pts, queries, k=3, zoom=4)),
    ):
        got = ranks(out)
        assert set(got.values()) <= ids, name
        assert got == exact, name


def test_adaptive_knn_releases_persisted_rdds(spark):
    """The adaptive rounds persist intermediate frames; after the call only
    the returned frame's own checkpoint may remain."""
    points = P.pages_df(spark, 1500).select("i", "lon", "lat")
    queries = points.filter(F.col("i").isin([0, 1, 777])).select(
        F.col("i").alias("query_id"), "lon", "lat"
    )
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    out = K.knn_cell_join_adaptive(points, queries, k=4, zoom=4)
    assert jsc.getPersistentRDDs().size() <= before + 1
    assert out.count() == 12
