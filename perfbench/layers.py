"""Per-layer measurements for the traced run.

Every probe drives the engine only through its public functions and
times the call from here. Spark is lazy, so a layer's Spark time is the
difference between cumulative prefixes of the flagship chain, each
materialized through the ``noop`` sink:

    sink (1-row noop) -> scan -> + identity mapInPandas (Arrow round trip)
    -> + pip_join (PIP kernel) -> + tx/ty -> + quadkey

Counts come from numpy over public attributes (``PolygonIndex.boxes``,
``PolygonIndex.probe``) and the generated inputs. The knn, raster and
lineage probes run on the first PROBE_ROWS rows of the workload's table.
"""

from __future__ import annotations

import os
import pickle
import shutil
import statistics
import time

import numpy as np

import inputs
import oracles
import sparkstats

PROBE_ROWS = 50_000
KNN_QUERIES = 16
KNN_K = 10
KERNEL_SAMPLE = 50_000
COUNT_SAMPLE = 10_000
ZOOM = 12
ORIGIN_SHIFT = oracles.ORIGIN_SHIFT


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(tr, name, fn):
    with tr.span(name):
        t0 = time.perf_counter()
        out = fn()
        return time.perf_counter() - t0, out


def identity_map(df):
    """mapInPandas that returns its batches unchanged: the Arrow round trip
    to a Python worker and back, with no kernel."""
    def same(batches):
        yield from batches
    return df.mapInPandas(same, df.schema)


def flagship_chain(spark, tr, wl, reps: int) -> dict:
    """Cumulative prefixes of the flagship pass over the workload's inputs,
    each built from scratch and materialized in the timed region, so
    driver-side planning and the pip_join call count where a user pays
    them. The join uses the workload's ``how``; the workload's operation is
    exactly the prefix named by its ``chain_end``."""
    from gdal_spark.operators.pip_join import pip_join
    from gdal_spark.operators.tiles import assign_tiles

    calls = []

    def read():
        return spark.read.parquet(wl.points_dir)

    def joined():
        pts, polys = read(), spark.read.parquet(wl.polygons_dir)
        t, out = timed(tr, "pip_join.call", lambda: pip_join(
            pts, polys, how=wl.how, first_match=True))
        calls.append(t)
        return out

    prefixes = [
        ("sink", lambda: spark.range(1)),
        ("scan", read),
        ("arrow", lambda: identity_map(read())),
        ("pip_kernel", joined),
        ("tiles.txty", lambda: assign_tiles(joined(), ZOOM, with_quadkey=False)),
        ("tiles.quadkey", lambda: assign_tiles(joined(), ZOOM)),
    ]
    samples = {name: [] for name, _ in prefixes}
    for _ in range(reps):  # rounds, so a slow spell of the host hits every prefix alike
        for name, build in prefixes:
            samples[name].append(timed(tr, "prefix." + name, lambda: noop(build()))[0])
    cum = {name: statistics.median(v) for name, v in samples.items()}
    names = [n for n, _ in prefixes]
    self_s = {"sink": cum["sink"]}
    for prev, cur in zip(names, names[1:]):
        self_s[cur] = cum[cur] - cum[prev]
    driver = statistics.median(calls)
    self_s["pip_kernel"] -= driver
    self_s["pip_join.driver"] = driver
    return {"self_s": self_s, "cum_s": cum, "op_s": cum[wl.chain_end]}


def cells_probe(spark, tr, wl) -> tuple[dict, list]:
    """The partitioned path on the probe slice: ``pip_join_cells`` (zoom 12,
    salt 8, distributed cover, first match). Its matches are first compared
    with broadcast ``pip_join`` (inner, first match) on the same rows, which
    also warms the path; then one timed pass goes to ``noop``, with its
    shuffle, spill and task skew read from Spark's status store."""
    from gdal_spark.operators.pip_join import pip_join, pip_join_cells

    pts = probe_slice(spark, wl.points_dir, wl.offset)
    polys = spark.read.parquet(wl.polygons_dir)

    def cells():
        return pip_join_cells(pts, polys, zoom=ZOOM, salt=8,
                              broadcast_cover=False, first_match=True)

    def pairs(df):
        return {(r[0], r[1]) for r in df.select("doc_id", "poly_id").collect()}

    got = pairs(cells())
    want = pairs(pip_join(pts, polys, how="inner", first_match=True))
    before = sparkstats.stage_keys(spark)
    join_s, _ = timed(tr, "cells.join", lambda: noop(cells()))
    ex = sparkstats.exchange_stats(spark, before)
    return ({"cells.join_s": join_s,
             "exchange.shuffle_bytes": ex["shuffle_bytes"],
             "exchange.spill_bytes": ex["spill_bytes"],
             "stage.task_time_skew": ex["task_time_skew"]},
            [("cells_vs_broadcast", got == want, f"{len(got)} vs {len(want)} matches")])


def kernel_and_cells(spark, tr, points_dir, polygons_dir, seed: int) -> dict:
    """Driver index build, single-thread PolygonIndex.probe, and the
    bbox / cell-cover candidate counts on a seeded sample of points."""
    from gdal_spark.operators.pip_join import build_polygon_index, polygon_cell_cover

    polys = spark.read.parquet(polygons_dir)
    builds = [timed(tr, "pip_join.index_build", lambda: build_polygon_index(polys))
              for _ in range(3)]
    index = builds[-1][1]
    cols = inputs.read_points(points_dir)
    rng = np.random.default_rng(seed)
    pick = rng.choice(cols["lon"].shape[0], size=min(KERNEL_SAMPLE, cols["lon"].shape[0]),
                      replace=False)
    px, py = cols["lon"][pick], cols["lat"][pick]
    index.probe(px[:64], py[:64], True)  # builds the lazy STR blocks
    kernel_s, _ = timed(tr, "pip_kernel.probe", lambda: index.probe(px, py, True))

    sx, sy = px[:COUNT_SAMPLE], py[:COUNT_SAMPLE]
    bbox_cand = 0
    b = index.boxes
    for s in range(0, sx.shape[0], 500):
        x, y = sx[s:s + 500, None], sy[s:s + 500, None]
        bbox_cand += int(((x >= b[:, 0]) & (x <= b[:, 2]) & (y >= b[:, 1]) & (y <= b[:, 3])).sum())
    pairs = index.probe(sx, sy, False)[0].shape[0]

    cover_df = polygon_cell_cover(polys, ZOOM)
    cover_s, _ = timed(tr, "cells.cover", lambda: noop(cover_df))
    cover = cover_df.select("cell_tx", "cell_ty").toPandas()
    ckey = cover["cell_tx"].to_numpy(np.int64) * (1 << ZOOM) + cover["cell_ty"].to_numpy(np.int64)
    keys, counts = np.unique(ckey, return_counts=True)
    tx, ty = tile_np(sx, sy, ZOOM)
    pkey = tx * (1 << ZOOM) + ty
    pos = np.clip(np.searchsorted(keys, pkey), 0, max(keys.shape[0] - 1, 0))
    cand = np.where((keys.shape[0] > 0) & (keys[pos] == pkey), counts[pos], 0)
    _, per_cell = np.unique(pkey, return_counts=True)
    return {
        "pip_join.index_build_s": statistics.median(t for t, _ in builds),
        "pip_join.index_bytes": len(pickle.dumps(index)),
        "pip_kernel.ns_per_point": kernel_s / px.shape[0] * 1e9,
        "pip_kernel.bbox_candidates_per_point": bbox_cand / sx.shape[0],
        "pip_kernel.hits_per_candidate": pairs / max(bbox_cand, 1),
        "cells.cover_s": cover_s,
        "cells.cover_rows": int(ckey.shape[0]),
        "cells.candidates_per_point": float(cand.mean()),
        "cells.hits_per_candidate": pairs / max(int(cand.sum()), 1),
        "cells.hot_cell_share": float(per_cell.max() / pkey.shape[0]),
    }


def _mercator_m(lon, lat):
    """gdal2tiles LatLonToMeters of lon/lat arrays."""
    mx = lon * (ORIGIN_SHIFT / 180.0)
    my = np.log(np.tan((90.0 + lat) * np.pi / 360.0)) / (np.pi / 180.0) * (ORIGIN_SHIFT / 180.0)
    return mx, my


def tile_np(lon, lat, zoom):
    """gdal2tiles XYZ tile of lon/lat arrays (numpy mirror of the oracle)."""
    res = 2 * ORIGIN_SHIFT / 256 / (1 << zoom)
    mx, my = _mercator_m(lon, lat)
    tx = (np.ceil((mx + ORIGIN_SHIFT) / res / 256.0) - 1).astype(np.int64)
    ty = (1 << zoom) - 1 - (np.ceil((my + ORIGIN_SHIFT) / res / 256.0) - 1).astype(np.int64)
    return tx, ty


def probe_slice(spark, points_dir, offset):
    from pyspark.sql import functions as F

    return spark.read.parquet(points_dir).filter(F.col("doc_id") < offset + PROBE_ROWS)


def knn_probe(spark, tr, con, points_dir, offset, seed) -> tuple[dict, list]:
    from gdal_spark.operators.knn import knn_join

    cols = inputs.read_points(points_dir)
    in_slice = cols["doc_id"] < offset + PROBE_ROWS
    ids, lon, lat = (cols[c][in_slice] for c in ("doc_id", "lon", "lat"))
    pick = np.sort(np.random.default_rng(seed + 1).choice(ids.shape[0], KNN_QUERIES, replace=False))
    queries = spark.createDataFrame(
        [(int(ids[i]), float(lon[i]), float(lat[i])) for i in pick],
        "query_id long, lon double, lat double")
    pts = probe_slice(spark, points_dir, offset).select("doc_id", "lon", "lat")

    def knn():
        return knn_join(pts, queries, k=KNN_K, point_id="doc_id")

    # checked first, which also warms the path the timed pass takes
    got = sorted((r["query_id"], r["rank"], r["neighbor_id"], r["dist_m"])
                 for r in knn().collect())
    want = oracles.knn(con, points_dir, f"doc_id < {offset + PROBE_ROWS}",
                       [int(ids[i]) for i in pick], KNN_K)
    checks = [("knn_exact", _knn_equal(got, want), f"{len(got)} vs {len(want)} rows")]
    exec_s, _ = timed(tr, "knn.exec", lambda: noop(knn()))
    return {"knn.exec_s": exec_s,
            "knn.distance_evals": KNN_QUERIES * int(ids.shape[0])}, checks


def _knn_equal(got, want) -> bool:
    """Same neighbours per (query, rank) once distances are rounded to
    0.1 mm, so float-noise ties break by neighbour id on both sides."""
    if len(got) != len(want):
        return False
    key = lambda rows: sorted((q, round(d, 4), n) for q, _, n, d in rows)  # noqa: E731
    return key(got) == key(want)


def raster_probe(spark, tr, con, points_dir, raster_dir, offset, seed) -> tuple[dict, list]:
    from pyspark.sql import functions as F

    from gdal_spark.operators.tiles import sample_bilinear

    raster = spark.read.parquet(raster_dir)
    pts = probe_slice(spark, points_dir, offset).select("doc_id", "lon", "lat")
    cols = inputs.read_points(points_dir)
    in_slice = cols["doc_id"] < offset + PROBE_ROWS
    tiles = _bilinear_tiles(cols["lon"][in_slice], cols["lat"][in_slice],
                            inputs.RASTER_ZOOM, inputs.RASTER_TILE)
    where = f"doc_id < {offset + PROBE_ROWS} AND doc_id % 97 = {seed % 97}"
    sample = sample_bilinear(pts.filter(F.expr(where)), raster, inputs.RASTER_ZOOM, band=1,
                             point_id="doc_id")
    got = {r["doc_id"]: r["bilinear_val"] for r in sample.collect()}
    want = oracles.bilinear(con, points_dir, where, inputs.RASTER_ZOOM, inputs.raster_coeffs(seed))
    ok = bool(want) and got.keys() == want.keys() and all(
        abs(got[k] - want[k]) <= 1e-9 * max(1.0, abs(want[k])) for k in want)
    # timed after the sampled check, which warms the same plan
    exec_s, _ = timed(tr, "raster.exec", lambda: noop(sample_bilinear(
        pts, raster, inputs.RASTER_ZOOM, band=1, point_id="doc_id")))
    return ({"raster.exec_s": exec_s, "raster.tiles_joined": tiles},
            [("raster_bilinear", ok, f"{len(want)} sampled points")])


def _bilinear_tiles(lon, lat, zoom, ts) -> int:
    """Distinct raster tiles the 4-corner bilinear requests touch."""
    res = 2 * ORIGIN_SHIFT / ((1 << zoom) * ts)
    mx, my = _mercator_m(lon, lat)
    gx, gy = (mx + ORIGIN_SHIFT) / res, (ORIGIN_SHIFT - my) / res
    maxpx = (1 << zoom) * ts - 1
    keys = set()
    for dx in (0, 1):
        for dy in (0, 1):
            cx = np.clip(np.floor(gx - 0.5).astype(np.int64) + dx, 0, maxpx) // ts
            cy = np.clip(np.floor(gy - 0.5).astype(np.int64) + dy, 0, maxpx) // ts
            keys.update(np.unique(cx * (1 << zoom) + cy).tolist())
    return len(keys)


def arrow_bytes_per_row(path: str) -> float:
    """Arrow buffer bytes per row of the table a mapInPandas ships."""
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    return t.nbytes / max(t.num_rows, 1)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def digest(df, cols) -> tuple[int, int]:
    """(row count, wrap-free sum of 44-bit row hashes) over ``cols``."""
    from pyspark.sql import functions as F

    r = df.select(F.count(F.lit(1)), F.sum(F.shiftright(
        F.xxhash64(*[F.col(c) for c in cols]), 20))).first()
    return int(r[0]), int(r[1] or 0)


def lineage_probe(spark, tr, points_dir, polygons_dir, offset, work) -> tuple[dict, list]:
    """Two-stage Pipeline ("pip", then "tiles") into a fresh root, the same
    output through a plain parquet write, a resume after deleting the last
    stage's _COMMIT, and a re-run that skips every stage."""
    from gdal_spark.operators.pip_join import pip_join
    from gdal_spark.operators.tiles import assign_tiles
    from gdal_spark.plans.lineage import Pipeline

    polys = spark.read.parquet(polygons_dir)
    src = probe_slice(spark, points_dir, offset)
    root = os.path.join(work, "lineage")
    plain = os.path.join(work, "plain")
    shutil.rmtree(root, ignore_errors=True)
    shutil.rmtree(plain, ignore_errors=True)

    def pipeline():
        return (Pipeline(root)
                .stage("pip", lambda df: pip_join(df, polys, how="left", first_match=True))
                .stage("tiles", lambda df: assign_tiles(df, ZOOM)))

    run_s, _ = timed(tr, "lineage.run", lambda: pipeline().run(spark, src))
    plain_s, _ = timed(tr, "lineage.plain_write", lambda: assign_tiles(
        pip_join(src, polys, how="left", first_match=True), ZOOM).write.parquet(plain))
    cols = spark.read.parquet(plain).columns
    want = digest(spark.read.parquet(plain), cols)
    out_dir = os.path.join(root, "tiles", "data")
    first = digest(spark.read.parquet(out_dir), cols)
    written = _dir_bytes(root)
    metrics_bytes = _dir_bytes(os.path.join(root, "_metrics"))
    os.remove(os.path.join(root, "tiles", "_COMMIT"))
    resume_s, res = timed(tr, "lineage.resume", lambda: pipeline().run(spark, src))
    resumed = digest(spark.read.parquet(out_dir), cols)
    skip_s, skipped = timed(tr, "lineage.skip_all", lambda: pipeline().run(spark, src))
    checks = [
        ("lineage_commit_digest", first == want, f"{first} vs {want}"),
        ("lineage_resume_digest", resumed == want and [r.skipped for r in res] == [True, False],
         f"{resumed} vs {want}"),
        ("lineage_skip_all", all(r.skipped for r in skipped), "every stage skipped"),
    ]
    return {
        "lineage.run_s": run_s,
        "lineage.plain_write_s": plain_s,
        "lineage.overhead_ratio": run_s / plain_s,
        "lineage.resume_s": resume_s,
        "lineage.skip_all_s": skip_s,
        "lineage.bytes_written_per_doc": written / max(want[0], 1),
        "lineage.metrics_bytes": metrics_bytes,
    }, checks
