"""Independent DuckDB oracles for the benchmark's output checks.

Each oracle recomputes an answer from the generated input files with SQL
written here, never with the engine's own helpers: crossing-number
point-in-polygon, gdal2tiles XYZ tile math and quadkeys, the closed-form
|dx|+|dy| < r diamond test, exact great-circle kNN and bilinear sampling
of the closed-form raster. They are the SQL of the registry's
``pip_broadcast`` / ``tile_assign`` / ``knn_exact`` /
``raster_sample_bilinear`` gates, restated over these tables.
"""

from __future__ import annotations

import math

import duckdb

EARTH_RADIUS = 6378137.0
ORIGIN_SHIFT = math.pi * EARTH_RADIUS
TILE = 256


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET memory_limit = '1GB'")
    return con


def _pq(path: str) -> str:
    return "read_parquet('" + path.replace("'", "''") + "/**/*.parquet')"


def tile_sql(lon: str, lat: str, zoom: int) -> tuple[str, str]:
    """gdal2tiles LatLonToMeters -> MetersToPixels -> PixelsToTile, then the
    TMS -> XYZ flip."""
    res = 2 * math.pi * EARTH_RADIUS / TILE / (1 << zoom)
    mx = f"(CAST({lon} AS DOUBLE) * {ORIGIN_SHIFT / 180.0!r})"
    my = (f"(ln(tan((90.0 + CAST({lat} AS DOUBLE)) * pi() / 360.0)) / (pi() / 180.0)"
          f" * {ORIGIN_SHIFT / 180.0!r})")
    tx = f"(ceil(({mx} + {ORIGIN_SHIFT!r}) / {res!r} / {float(TILE)}) - 1)::BIGINT"
    ty_tms = f"(ceil(({my} + {ORIGIN_SHIFT!r}) / {res!r} / {float(TILE)}) - 1)::BIGINT"
    return tx, f"({(1 << zoom) - 1} - {ty_tms})"


def quadkey_sql(tx: str, ty: str, zoom: int) -> str:
    digits = [f"((({tx}) >> {i - 1}) & 1) + 2 * ((({ty}) >> {i - 1}) & 1)"
              for i in range(zoom, 0, -1)]
    return " || ".join(f"CAST({d} AS VARCHAR)" for d in digits)


def pip_tiles(con, pages_dir: str, polygons_dir: str, where: str, zoom: int) -> dict:
    """doc_id -> (poly_id or None, tx, ty, quadkey) for the rows of the
    pages table matching ``where``; poly_id is the lowest id whose rings
    (outer and holes together) the point crosses an odd number of times."""
    tx, ty = tile_sql("lon", "lat", zoom)
    sql = f"""
WITH pts AS (SELECT doc_id, lon, lat FROM {_pq(pages_dir)} WHERE {where}),
rr AS (SELECT poly_id, unnest(rings) AS ring FROM {_pq(polygons_dir)}),
vi AS (SELECT poly_id, ring, unnest(range(1, len(ring))) AS i FROM rr),
seg AS (SELECT poly_id, ring[i][1] AS x1, ring[i][2] AS y1,
               ring[i + 1][1] AS x2, ring[i + 1][2] AS y2 FROM vi),
crossings AS (
  SELECT p.doc_id, s.poly_id,
         sum(CASE WHEN ((s.y1 > p.lat) <> (s.y2 > p.lat))
                   AND s.x1 + (p.lat - s.y1) * (s.x2 - s.x1) / (s.y2 - s.y1) > p.lon
             THEN 1 ELSE 0 END) AS n
  FROM pts p CROSS JOIN seg s GROUP BY p.doc_id, s.poly_id),
hit AS (SELECT doc_id, min(poly_id) AS poly_id FROM crossings
        WHERE n % 2 = 1 GROUP BY doc_id),
t AS (SELECT doc_id, {tx} AS tx, {ty} AS ty FROM pts)
SELECT t.doc_id, hit.poly_id, t.tx, t.ty, {quadkey_sql('t.tx', 't.ty', zoom)}
FROM t LEFT JOIN hit USING (doc_id)"""
    return {r[0]: tuple(r[1:]) for r in con.execute(sql).fetchall()}


def diamond_matches(con, points_dir: str, centres_file: str) -> dict:
    """doc_id -> lowest poly_id of a diamond with |dx| + |dy| < r."""
    sql = f"""
SELECT p.doc_id, min(d.poly_id)
FROM {_pq(points_dir)} p JOIN read_parquet('{centres_file}') d
  ON p.lon > d.cx - d.r AND p.lon < d.cx + d.r
 AND p.lat > d.cy - d.r AND p.lat < d.cy + d.r
WHERE abs(p.lon - d.cx) + abs(p.lat - d.cy) < d.r
GROUP BY p.doc_id"""
    return dict(con.execute(sql).fetchall())


def great_circle_sql(lat_a, lon_a, lat_b, lon_b) -> str:
    r = "(pi() / 180.0)"
    return (f"(acos(least(1.0, greatest(-1.0, sin({lat_a} * {r}) * sin({lat_b} * {r})"
            f" + cos({lat_a} * {r}) * cos({lat_b} * {r}) * cos(({lon_b} - {lon_a}) * {r}))))"
            f" * {EARTH_RADIUS!r})")


def knn(con, points_dir: str, where: str, query_ids: list[int], k: int) -> list[tuple]:
    """(query_id, rank, neighbor_id, dist_m) of the exact k nearest other
    points, ties broken by neighbor id."""
    ids = ", ".join(str(int(i)) for i in query_ids)
    sql = f"""
WITH pts AS (SELECT doc_id, lon, lat FROM {_pq(points_dir)} WHERE {where}),
q AS (SELECT * FROM pts WHERE doc_id IN ({ids})),
d AS (SELECT q.doc_id AS qid, p.doc_id AS nid,
             {great_circle_sql('q.lat', 'q.lon', 'p.lat', 'p.lon')} AS dist
      FROM q CROSS JOIN pts p WHERE p.doc_id <> q.doc_id),
r AS (SELECT qid, nid, dist,
             row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS rk FROM d)
SELECT qid, rk, nid, dist FROM r WHERE rk <= {k} ORDER BY qid, rk"""
    return con.execute(sql).fetchall()


def bilinear(con, points_dir: str, where: str, zoom: int, coeffs: tuple[int, int]) -> dict:
    """doc_id -> bilinear sample of the closed-form raster
    ((gx*a + gy*b) % 256) at the point: i = floor(g - 0.5), weights from
    the fraction, corner indices clamped to the raster."""
    a, b = coeffs
    res = 2 * ORIGIN_SHIFT / ((1 << zoom) * TILE)
    maxpx = (1 << zoom) * TILE - 1
    mx = f"(lon * {ORIGIN_SHIFT / 180.0!r})"
    my = (f"(ln(tan((90.0 + lat) * pi() / 360.0)) / (pi() / 180.0)"
          f" * {ORIGIN_SHIFT / 180.0!r})")
    terms = []
    for dx in (0, 1):
        for dy in (0, 1):
            cx = f"least({maxpx}, greatest(0, ix + {dx}))"
            cy = f"least({maxpx}, greatest(0, iy + {dy}))"
            wx = "(1.0 - wx)" if dx == 0 else "wx"
            wy = "(1.0 - wy)" if dy == 0 else "wy"
            terms.append(f"{wx} * {wy} * CAST(({cx} * {a} + {cy} * {b}) % 256 AS DOUBLE)")
    sql = f"""
WITH g AS (SELECT doc_id, ({mx} + {ORIGIN_SHIFT!r}) / {res!r} AS gx,
                  ({ORIGIN_SHIFT!r} - {my}) / {res!r} AS gy
           FROM {_pq(points_dir)} WHERE {where}),
c AS (SELECT doc_id, floor(gx - 0.5)::BIGINT AS ix, floor(gy - 0.5)::BIGINT AS iy,
             gx - 0.5 - floor(gx - 0.5) AS wx, gy - 0.5 - floor(gy - 0.5) AS wy FROM g)
SELECT doc_id, {' + '.join(terms)} FROM c"""
    return dict(con.execute(sql).fetchall())
