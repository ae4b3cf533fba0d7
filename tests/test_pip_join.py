"""End-to-end spatial join tests: broadcast path vs cell-join path vs a
pure-Python oracle over the deterministic pages + polygons fixtures."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_spark.data import pages as P
from gdal_spark.data.geotag import py_lonlat
from gdal_spark.operators import pip_join as PJ
from gdal_spark.spatial import geometry as G

N_PAGES = 2000


@pytest.fixture(scope="module")
def fixtures(spark):
    pts = P.pages_df(spark, N_PAGES).select("i", "url", "lon", "lat").cache()
    polys = P.polygons_df(spark)
    return pts, polys


def oracle_pairs(n):
    recs = P.polygon_records()
    parsed = [
        (r["poly_id"], [np.asarray(ring) for ring in r["rings"]]) for r in recs
    ]
    pairs = set()
    for i in range(n):
        lon, lat = py_lonlat(i)
        for pid, rings in parsed:
            xmin, ymin, xmax, ymax = G.rings_envelope(rings)
            if xmin <= lon <= xmax and ymin <= lat <= ymax:
                if G.points_in_polygon(np.array([lon]), np.array([lat]), rings)[0]:
                    pairs.add((i, pid))
    return pairs


@pytest.fixture(scope="module")
def expected():
    return oracle_pairs(N_PAGES)


def test_broadcast_pip_join_matches_oracle(fixtures, expected):
    pts, polys = fixtures
    got = {
        (r["i"], r["poly_id"])
        for r in PJ.pip_join(pts, polys).select("i", "poly_id").collect()
    }
    assert got == expected
    assert len(got) > 0  # hot-cell rows guarantee matches


def test_cell_pip_join_matches_oracle(fixtures, expected):
    pts, polys = fixtures
    got = {
        (r["i"], r["poly_id"])
        for r in PJ.pip_join_cells(pts, polys, zoom=6).select("i", "poly_id").collect()
    }
    assert got == expected


def test_cell_pip_join_salted_matches_oracle(fixtures, expected):
    pts, polys = fixtures
    got = {
        (r["i"], r["poly_id"])
        for r in PJ.pip_join_cells(pts, polys, zoom=6, salt=4, broadcast_cover=False)
        .select("i", "poly_id")
        .collect()
    }
    assert got == expected
    # a broadcast cover has no shuffle partition to salt: refused up front
    with pytest.raises(ValueError, match="broadcast_cover=False"):
        PJ.pip_join_cells(pts, polys, zoom=6, salt=4)


def test_left_join_keeps_unmatched(fixtures, expected):
    pts, polys = fixtures
    rows = PJ.pip_join(pts, polys, how="left").select("i", "poly_id").collect()
    matched_i = {i for (i, _) in expected}
    got_pairs = {(r["i"], r["poly_id"]) for r in rows if r["poly_id"] is not None}
    got_nulls = {r["i"] for r in rows if r["poly_id"] is None}
    assert got_pairs == expected
    assert got_nulls == set(range(N_PAGES)) - matched_i
    assert len(rows) == len(expected) + len(got_nulls)


def test_first_match_semantics(fixtures, expected):
    pts, polys = fixtures
    rows = PJ.pip_join(pts, polys, first_match=True).select("i", "poly_id").collect()
    best = {}
    for i, pid in expected:
        best[i] = min(best.get(i, pid), pid)
    assert {(r["i"], r["poly_id"]) for r in rows} == set(best.items())


def test_hot_cell_is_actually_hot(fixtures):
    pts, _ = fixtures
    hot = pts.filter((F.col("i") % 100) == 0).count()
    assert hot == N_PAGES // 100


def test_pages_text_invariant_vs_generator(spark):
    # text column == extractor spec (title + \n + body) — byte identical
    rows = P.pages_df(spark, 50).select("i", "text", "html").collect()
    for r in rows:
        assert r["text"] == P.page_text(r["i"])
        assert bytes(r["html"]) == P.page_html(r["i"])


def test_multipolygon_pip_both_strategies(spark):
    """MultiPolygon features flow through BOTH PIP strategies (broadcast
    map-only and cell-cover equi-join) with identical results: a point in
    either part matches the feature; points in the hole do not match."""
    from gdal_spark.data.pages import multipolygons_df
    from gdal_spark.operators.pip_join import pip_join, pip_join_cells

    pts = spark.createDataFrame(
        [
            (1, 14.0, 44.0),    # inside mp0 part 1
            (2, 22.0, 44.0),    # inside mp0 part 2
            (3, 18.0, 44.0),    # between the parts -> no match
            (4, -19.0, 11.0),   # inside mp1 holey part (not in hole)
            (5, -17.0, 13.0),   # inside mp1's hole -> no match
            (6, -28.0, 12.0),   # inside mp1 plain part
            (7, 0.0, 0.0),      # nowhere
        ],
        "i long, lon double, lat double",
    )
    mp = multipolygons_df(spark)
    want = {1: 2000, 2: 2000, 4: 2001, 6: 2001}
    got_b = {
        r["i"]: r["poly_id"]
        for r in pip_join(pts, mp, first_match=True).collect()
    }
    assert got_b == want
    got_c = {
        r["i"]: r["poly_id"]
        for r in pip_join_cells(pts, mp, zoom=6, first_match=True).collect()
    }
    assert got_c == want


def test_strtree_blocks_cover_all_entries(spark):
    """STR bulk load: every part appears in exactly one block; block bboxes
    bound their members; probe equals a naive full-scan reference."""
    import numpy as np

    from gdal_spark.data.pages import polygons_df
    from gdal_spark.operators.pip_join import build_polygon_index
    from gdal_spark.spatial import geometry as G

    idx = build_polygon_index(polygons_df(spark))
    idx._build_str_blocks()
    seen = np.concatenate([b[0] for b in idx._str_blocks])
    assert sorted(seen.tolist()) == list(range(idx.poly_ids.shape[0]))
    for idxs, (x0, y0, x1, y1) in idx._str_blocks:
        bb = idx.boxes[idxs]
        assert x0 <= bb[:, 0].min() and x1 >= bb[:, 2].max()
        assert y0 <= bb[:, 1].min() and y1 >= bb[:, 3].max()

    rng = np.random.default_rng(3)
    px = rng.uniform(-20, 50, 5000)
    py = rng.uniform(30, 60, 5000)
    got_pt, got_poly = idx.probe(px, py, first_match=True)
    # naive reference: full scan + min poly id
    ref = {}
    for k in range(idx.poly_ids.shape[0]):
        inside = G.points_in_polygon(px, py, idx.rings_list[k])
        for i in np.nonzero(inside)[0]:
            pid = int(idx.poly_ids[k])
            ref[i] = min(ref.get(i, pid), pid)
    assert dict(zip(got_pt.tolist(), got_poly.tolist())) == ref


# Adversarial points shared by every PIP plan: boundary cases first, then
# seeded random points over the polygon layers' extent.
_ADVERSARIAL = [
    (-6.00003, 42.00003),   # ring vertex (mosaic cell 0)
    (-5.00003, 42.00003),   # edge midpoint (mosaic cell 0)
    (43.0, 43.0),           # hole interior (polygon with a hole)
    (-17.0, 13.0),          # hole interior (multipolygon part)
    (18.0, 44.0),           # between the two parts of multipolygon 2000
    (float("nan"), 45.0),   # NaN lon
    (None, 45.0),           # null lon
    (2.0, None),            # null lat
    (180.0, 45.0), (-180.0, 45.0),
    (2.0, 89.9), (2.0, -89.9),
]

_PIP_PLANS = {
    "broadcast": lambda pts, polys, fm: PJ.pip_join(pts, polys, first_match=fm),
    "cells": lambda pts, polys, fm: PJ.pip_join_cells(
        pts, polys, zoom=6, first_match=fm),
    "cells_salted": lambda pts, polys, fm: PJ.pip_join_cells(
        pts, polys, zoom=6, salt=4, broadcast_cover=False, first_match=fm),
    "compact": lambda pts, polys, fm: PJ.pip_join_cells_compact(
        pts, polys, zoom=6, first_match=fm),
}


@pytest.fixture(scope="module")
def adversarial_points(spark):
    rng = np.random.default_rng(20)
    coords = _ADVERSARIAL + list(zip(
        rng.uniform(-35.0, 50.0, 3000).tolist(),
        rng.uniform(5.0, 60.0, 3000).tolist(),
    ))
    rows = [(i, lon, lat) for i, (lon, lat) in enumerate(coords)]
    return rows, spark.createDataFrame(rows, "i long, lon double, lat double")


def _pip_oracle(rows, features, first_match):
    """(i, poly_id) pairs by brute force over every feature part; a point
    with a missing or NaN coordinate matches nothing."""
    ok = [r for r in rows
          if r[1] is not None and r[2] is not None
          and not (np.isnan(r[1]) or np.isnan(r[2]))]
    ids = np.array([r[0] for r in ok])
    px = np.array([r[1] for r in ok])
    py = np.array([r[2] for r in ok])
    pairs = set()
    for pid, parts in features:
        inside = np.zeros(px.shape[0], dtype=bool)
        for rings in parts:
            inside |= G.points_in_polygon(px, py, rings)
        pairs.update((int(i), pid) for i in ids[inside])
    if first_match:
        best = {}
        for i, pid in pairs:
            best[i] = min(best.get(i, pid), pid)
        pairs = set(best.items())
    return pairs


@pytest.mark.parametrize("layer", ["polygons", "multipolygons"])
@pytest.mark.parametrize("first_match", [False, True])
def test_all_pip_plans_agree_on_adversarial_points(
    spark, adversarial_points, layer, first_match
):
    """Broadcast, cell (broadcast cover), salted shuffle-cover and compact
    plans all equal one brute-force oracle on vertices, edges, holes,
    multipolygon gaps, NaN/null coordinates, ±180 lon and ±89.9 lat."""
    rows, pts = adversarial_points
    if layer == "polygons":
        polys = P.polygons_df(spark)
        features = [(r["poly_id"], [[np.asarray(x) for x in r["rings"]]])
                    for r in P.polygon_records()]
    else:
        polys = P.multipolygons_df(spark)
        features = [(r["poly_id"], [[np.asarray(x) for x in part] for part in r["rings"]])
                    for r in P.multipolygon_records()]
    want = _pip_oracle(rows, features, first_match)
    assert len(want) >= 20  # the layer is actually hit
    for name, plan in _PIP_PLANS.items():
        got = {
            (r["i"], r["poly_id"])
            for r in plan(pts, polys, first_match).select("i", "poly_id").collect()
        }
        assert got == want, name
