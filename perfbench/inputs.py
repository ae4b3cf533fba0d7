"""Seeded input generators, cached on disk by (kind, seed, size).

The seed offsets the row-id range fed to ``gdal_spark.data.geotag``'s
derivation rules and shifts the diamond polygon grid, so the same seed
always gives the same tables. Tables are written once into the cache and
reused by later runs with the same seed; generation is never timed.
"""

from __future__ import annotations

import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from oracles import connect

GEN_VERSION = "g3"
KEEP_PER_KIND = 3
MAX_SEED = 100_000
ROW_STRIDE = 10_000_000  # doc_id range of seed s starts at s * ROW_STRIDE

WORDS = [
    "data", "spark", "tile", "mercator", "polygon", "join", "raster",
    "vector", "index", "shuffle", "batch", "arrow", "quadkey", "zoom",
    "page", "crawl", "engine", "kernel", "lineage", "checkpoint",
    "river", "market", "city", "harbour", "museum", "station", "forest",
]
LANGS = ["en", "de", "fr", "es", "pt", "zh", "ru", "ja", "ar", "hi"]

# Diamond grid: squares rotated 45 degrees with half-diagonal H, centred on
# the even-parity points of an H-spaced lattice, which tiles the plane.
# H is a multiple of 1e-4 and the centres sit 3.1e-6 / 4.7e-6 off the
# 1e-4 lattice every derived geotag lies on, so |dx|+|dy| never equals H
# for a generated point: no point falls on a diamond edge.
DIAMOND_H = 0.0625
DIAMOND_SPAN = 16  # lattice index range per blob: -16..16, the blob's +-1 degree
HOT_SPAN = 4       # a small patch over the hot cell
EDGE_SUBDIV = 8    # vertices per diamond edge
FILES = 4  # one parquet file per core: the scan splits into 4 equal tasks
RASTER_ZOOM = 3
RASTER_TILE = 256


def row_offset(seed: int) -> int:
    return seed * ROW_STRIDE


def _cached(root: str, kind: str, seed: int, n: int, build) -> str:
    path = os.path.join(root, f"{kind}-{GEN_VERSION}-n{n}-s{seed}")
    if os.path.exists(os.path.join(path, "_DONE")):
        os.utime(path)
        return path
    _evict(root, kind)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    build(path)
    open(os.path.join(path, "_DONE"), "w").close()
    return path


def _evict(root: str, kind: str) -> None:
    """Keep the KEEP_PER_KIND - 1 most recently used entries of a kind."""
    os.makedirs(root, exist_ok=True)
    entries = [os.path.join(root, d) for d in os.listdir(root)
               if d.startswith(kind + "-")]
    entries.sort(key=os.path.getmtime, reverse=True)
    for old in entries[KEEP_PER_KIND - 1:]:
        shutil.rmtree(old, ignore_errors=True)


# ---------------------------------------------------------------------------
# Wide pages (doc_id, url, warc_ts, html, text, lang, lon, lat) and narrow
# clustered points (doc_id, lon, lat): DuckDB SQL over a row-id range, with
# lon/lat from geotag's SQL form of the derivation rules. No Spark job, so
# generation neither needs nor warms the engine's JVM.
# ---------------------------------------------------------------------------

def _copy_parquet(path: str, n: int, seed: int, select_sql: str, con) -> None:
    """FILES equal parquet files, one per quarter of the row-id range."""
    os.makedirs(path)
    base = row_offset(seed)
    step = -(-n // FILES)
    for k in range(FILES):
        lo, hi = base + k * step, base + min(n, (k + 1) * step)
        con.execute(f"COPY ({select_sql.format(lo=lo, hi=hi)}) TO "
                    f"'{os.path.join(path, f'part-{k}.parquet')}' (FORMAT PARQUET)")


def _paragraphs(seed: int, count: int = 1024) -> list[str]:
    rng = random.Random(seed)
    return [" ".join(rng.choice(WORDS) for _ in range(rng.randint(14, 22)))
            for _ in range(count)]


def pages(root: str, seed: int, n: int) -> str:
    """~400 B of payload per row: the body is picked from a seeded pool of
    paragraphs by a hash of doc_id and prefixed with a per-row title, so
    every html/text value is distinct. Also writes the 75-polygon layer."""
    from gdal_spark.data.geotag import sql_lat, sql_lon
    from gdal_spark.data.pages import polygon_records

    def build(path):
        con = connect()
        pool = _paragraphs(seed)
        con.execute("CREATE TABLE pool AS SELECT unnest(range(?)) AS k, unnest(?) AS body",
                    [len(pool), pool])
        langs = "[" + ", ".join(f"'{x}'" for x in LANGS) + "]"
        _copy_parquet(os.path.join(path, "pages"), n, seed, f"""
SELECT doc_id,
  'https://site' || CAST(doc_id % 1000 AS VARCHAR) || '.example/'
    || md5(CAST(doc_id AS VARCHAR) || ':{seed}')[1:16] AS url,
  to_timestamp(1704067200 + doc_id % 31536000) AS warc_ts,
  encode('<html><head><title>T' || CAST(doc_id AS VARCHAR)
    || '</title></head><body><p>' || body || '</p></body></html>') AS html,
  'T' || CAST(doc_id AS VARCHAR) || chr(10) || body AS text,
  {langs}[doc_id % {len(LANGS)} + 1] AS lang,
  CAST({sql_lon('doc_id')} AS DOUBLE) AS lon,
  CAST({sql_lat('doc_id')} AS DOUBLE) AS lat
FROM (SELECT range AS doc_id FROM range({{lo}}, {{hi}})) r
JOIN pool ON pool.k = hash(r.doc_id) % {len(pool)}
ORDER BY doc_id""", con)
        con.close()
        recs = polygon_records()
        os.makedirs(os.path.join(path, "polygons"))
        pq.write_table(pa.table({
            "poly_id": pa.array([r["poly_id"] for r in recs], pa.int64()),
            "rings": pa.array([r["rings"] for r in recs],
                              pa.list_(pa.list_(pa.list_(pa.float64())))),
        }), os.path.join(path, "polygons", "part-0.parquet"))

    return _cached(root, "pages", seed, n, build)


def clustered_points(root: str, seed: int, n: int) -> str:
    """1% of rows in the hot cell, 10% in the 8 blobs, the rest on the
    uniform derived lattice (geotag's clustered rule); plus the diamonds."""
    from gdal_spark.data.geotag import sql_clustered_lat, sql_clustered_lon

    def build(path):
        con = connect()
        _copy_parquet(os.path.join(path, "points"), n, seed, f"""
SELECT doc_id, CAST({sql_clustered_lon('doc_id')} AS DOUBLE) AS lon,
       CAST({sql_clustered_lat('doc_id')} AS DOUBLE) AS lat
FROM (SELECT range AS doc_id FROM range({{lo}}, {{hi}})) ORDER BY doc_id""", con)
        con.close()
        _write_diamonds(path, seed)

    return _cached(root, "hotspot", seed, n, build)


def diamond_centres(seed: int) -> tuple[np.ndarray, np.ndarray]:
    from gdal_spark.data.geotag import ANCHORS, HOT_LAT, HOT_LON

    ox = 3.1e-6 + ((seed * 37) % 625) * 1e-4
    oy = 4.7e-6 + ((seed * 53) % 625) * 1e-4
    cx, cy = [], []
    groups = [(ax, ay, DIAMOND_SPAN) for ax, ay in ANCHORS]
    groups.append((HOT_LON, HOT_LAT, HOT_SPAN))
    for ax, ay, span in groups:
        i, j = np.meshgrid(np.arange(-span, span + 1), np.arange(-span, span + 1))
        keep = (i + j) % 2 == 0
        cx.append(ax + ox + i[keep] * DIAMOND_H)
        cy.append(ay + oy + j[keep] * DIAMOND_H)
    return np.concatenate(cx), np.concatenate(cy)


def _write_diamonds(path: str, seed: int) -> None:
    cx, cy = diamond_centres(seed)
    t = np.arange(EDGE_SUBDIV) / EDGE_SUBDIV
    vx = np.array([1.0, 0.0, -1.0, 0.0, 1.0])
    vy = np.array([0.0, 1.0, 0.0, -1.0, 0.0])
    ex = np.concatenate([vx[k] + (vx[k + 1] - vx[k]) * t for k in range(4)] + [[1.0]])
    ey = np.concatenate([vy[k] + (vy[k + 1] - vy[k]) * t for k in range(4)] + [[0.0]])
    nv = ex.shape[0]
    xs = cx[:, None] + DIAMOND_H * ex[None, :]
    ys = cy[:, None] + DIAMOND_H * ey[None, :]
    xy = np.stack([xs, ys], axis=2).reshape(-1)  # (P * nv * 2,)
    p = cx.shape[0]
    points = pa.FixedSizeListArray.from_arrays(pa.array(xy), 2).cast(pa.list_(pa.float64()))
    ring = pa.ListArray.from_arrays(pa.array(np.arange(p + 1) * nv, pa.int32()), points)
    rings = pa.ListArray.from_arrays(pa.array(np.arange(p + 1), pa.int32()), ring)
    ids = pa.array(np.arange(p), pa.int64())
    os.makedirs(os.path.join(path, "diamonds"))
    pq.write_table(pa.table({"poly_id": ids, "rings": rings}),
                   os.path.join(path, "diamonds", "part-0.parquet"))
    # oracle-only side table: the program never reads it
    pq.write_table(pa.table({"poly_id": ids, "cx": cx, "cy": cy,
                             "r": np.full(p, DIAMOND_H)}),
                   os.path.join(path, "diamond_centres.parquet"))


# ---------------------------------------------------------------------------
# Synthetic world raster (zoom, tx, ty, band, data, width, height)
# ---------------------------------------------------------------------------

def raster_coeffs(seed: int) -> tuple[int, int]:
    return 29 + 2 * (seed % 5), 17


def raster(root: str, seed: int) -> str:
    """One band over the whole world at RASTER_ZOOM; pixel value is the
    closed form ((gx*a + gy*b) % 256) of the global pixel (gx, gy), so the
    sampling oracle needs no raster table."""
    a, b = raster_coeffs(seed)

    def build(path):
        n = 1 << RASTER_ZOOM
        ts = RASTER_TILE
        yy, xx = np.mgrid[0:ts, 0:ts]
        tx, ty, data = [], [], []
        for ty_ in range(n):
            for tx_ in range(n):
                gx = tx_ * ts + xx
                gy = ty_ * ts + yy
                data.append(((gx * a + gy * b) % 256).astype(np.float64).ravel())
                tx.append(tx_)
                ty.append(ty_)
        values = pa.array(np.concatenate(data))
        offsets = pa.array(np.arange(len(data) + 1) * ts * ts, pa.int32())
        k = len(data)
        table = pa.table({
            "zoom": pa.array([RASTER_ZOOM] * k, pa.int32()),
            "tx": pa.array(tx, pa.int32()), "ty": pa.array(ty, pa.int32()),
            "band": pa.array([1] * k, pa.int32()),
            "data": pa.ListArray.from_arrays(offsets, values),
            "width": pa.array([ts] * k, pa.int32()),
            "height": pa.array([ts] * k, pa.int32()),
        })
        os.makedirs(os.path.join(path, "raster"))
        pq.write_table(table, os.path.join(path, "raster", "part-0.parquet"))

    return _cached(root, "raster", seed, 0, build)


def read_points(path: str) -> dict[str, np.ndarray]:
    """doc_id, lon and lat of a generated table as numpy arrays, read
    without Spark (for the single-thread kernel probe and the counts)."""
    t = pq.read_table(path, columns=["doc_id", "lon", "lat"])
    return {c: t.column(c).to_numpy() for c in t.column_names}
