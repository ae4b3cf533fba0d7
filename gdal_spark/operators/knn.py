"""k-nearest-neighbour search over geotagged rows.

Reference semantics: GDALGridNearestNeighbor / moving-window metrics search a
CPLQuadTree (bucket 8, depth 12) with an expanding window until enough
candidates are found (alg/gdalgrid.cpp:905+, port/cpl_quad_tree.cpp:138-231);
the refine metric is the spherical-law-of-cosines great-circle distance
(ogr/ogr_geo_utils.cpp:25-46).

Spark-first design, four strategies:

* ``knn_join`` — queries are broadcast-small (the common shape: a probe set
  against a planetary point table). Each partition computes distances of its
  points to ALL queries vectorized (M×Q numpy), keeps only its LOCAL top-k
  per query (map-side pruning — the shuffle carries at most
  partitions × Q × k rows, independent of table size), then a global
  ``row_number`` window takes the final top-k. This is the
  TakeOrderedAndProject pattern generalized per query key.

* ``knn_cell_join`` — both sides large: points bucketed by quadkey cell;
  each query probes its own cell plus ``ring`` rings of neighbours (the
  k-ring expansion analog of the quadtree's expanding window), equi-join on
  cell, exact refine, window top-k. Correct iff the k-th neighbour lies
  within the ring radius — callers choose ring from data density, or use
  ``knn_join`` for exactness.

* ``knn_cell_join_adaptive`` — the same cell join with the ring grown per
  query in O(log max_ring) rounds, then one provably sufficient final
  probe: exact without choosing a ring.

* ``knn_hex_kring_join`` — the fixed-ring join on a flat axial hex grid.

The cell strategies are plan shapes over one core: one pair of cell frames
(``_cell_frames``), one candidate equi-join (``_candidates``), one exact
metric (``_gc_dist_col``) and one top-k (``_partial_topk_batches`` +
``_top_k``). Ties break by (distance, id) ascending — deterministic,
matching the FIXTURES.md §6 oracle rule.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from gdal_spark.spatial import geometry as G
from gdal_spark.spatial import tilemath as TM


def _top_k(cand: DataFrame, k: int) -> DataFrame:
    """Rank (query_id, neighbor_id, dist_m) rows per query by (dist_m,
    neighbor_id) and keep ranks 1..k."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist_m").asc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dist_m")
    )


def knn_join(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    point_id: str = "i",
    query_id: str = "query_id",
    lon: str = "lon",
    lat: str = "lat",
    include_self: bool = False,
) -> DataFrame:
    """Exact kNN of each query against all points.

    Output: (query_id, neighbor_id, rank, dist_m) with rank 1..k by
    (dist_m, neighbor_id). ``include_self=False`` drops exact id matches
    (self-join convention when queries ⊂ points).
    """
    spark = points.sparkSession
    q_rows = queries.select(query_id, lon, lat).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_lon = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_lat = np.array([r[2] for r in q_rows], dtype=np.float64)
    bc = spark.sparkContext.broadcast((q_ids, q_lon, q_lat))

    out_schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("neighbor_id", LongType()),
            StructField("dist_m", DoubleType()),
        ]
    )
    id_i = points.columns.index(point_id)
    lon_i = points.columns.index(lon)
    lat_i = points.columns.index(lat)

    def local_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, qlon, qlat = bc.value
        nq = ids.shape[0]
        # Running per-partition top-k accumulators: (Q, ≤k) matrices — the
        # whole merge is vectorized over ALL queries at once (one (Q, P)
        # broadcasted distance evaluation per batch, no per-query loop).
        acc_d = np.full((nq, 0), np.inf)
        acc_i = np.full((nq, 0), -1, dtype=np.int64)
        # chunk the point axis so (Q, chunk) temporaries stay L2-resident —
        # a full (Q, 65536) float64 block costs ~6 temp arrays × 50 MB
        chunk = max(1, 262144 // max(nq, 1))
        for pdf in batches:
            if pdf.shape[0] == 0:
                continue
            p_id = pdf.iloc[:, id_i].to_numpy(dtype=np.int64)
            p_lon = pdf.iloc[:, lon_i].to_numpy(dtype=np.float64)
            p_lat = pdf.iloc[:, lat_i].to_numpy(dtype=np.float64)
            for s in range(0, p_id.shape[0], chunk):
                e = s + chunk
                d = G.great_circle_distance(
                    qlat[:, None], qlon[:, None],
                    p_lat[None, s:e], p_lon[None, s:e],
                )  # (Q, chunk) — same elementwise formula as the scalar path
                i = np.broadcast_to(p_id[None, s:e], d.shape)
                if not include_self:
                    d = np.where(i == ids[:, None], np.inf, d)
                cand_d = np.concatenate([acc_d, d], axis=1)
                cand_i = np.concatenate([acc_i, i], axis=1)
                if cand_d.shape[1] > k:
                    # exact (dist asc, id asc) top-k per row, tie-safe:
                    # duplicate coordinates (hot-cell 1e-4 quantization) make
                    # equal distances realizable, and argpartition keeps an
                    # arbitrary element among equals. Reorder columns by id
                    # first, then a STABLE argsort on dist — stability turns
                    # the id pre-order into the exact tiebreak.
                    idord = np.argsort(cand_i, axis=1, kind="stable")
                    cand_d = np.take_along_axis(cand_d, idord, axis=1)
                    cand_i = np.take_along_axis(cand_i, idord, axis=1)
                    dord = np.argsort(cand_d, axis=1, kind="stable")[:, :k]
                    cand_d = np.take_along_axis(cand_d, dord, axis=1)
                    cand_i = np.take_along_axis(cand_i, dord, axis=1)
                acc_d, acc_i = cand_d, cand_i
        keep = np.isfinite(acc_d)
        rows = {
            "query_id": np.repeat(ids, keep.sum(axis=1)),
            "neighbor_id": acc_i[keep],
            "dist_m": acc_d[keep],
        }
        yield pd.DataFrame(rows)

    partial = points.mapInPandas(local_topk, schema=out_schema)
    return _top_k(partial, k)


def _partial_topk_batches(cand: DataFrame, k: int) -> DataFrame:
    """Arrow-batch-level top-k per query over (query_id, neighbor_id,
    dist_m) — exact under the (dist, id) total order, pure numpy."""
    schema = "query_id long, neighbor_id long, dist_m double"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.shape[0] == 0:
                continue
            q = pdf["query_id"].to_numpy(dtype=np.int64)
            n = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            d = pdf["dist_m"].to_numpy(dtype=np.float64)
            order = np.lexsort((n, d, q))
            q, n, d = q[order], n[order], d[order]
            new_grp = np.empty(q.shape[0], dtype=bool)
            new_grp[0] = True
            new_grp[1:] = q[1:] != q[:-1]
            starts = np.nonzero(new_grp)[0]
            lens = np.diff(np.r_[starts, q.shape[0]])
            rank = np.arange(q.shape[0]) - np.repeat(starts, lens)
            keep = rank < k
            yield pd.DataFrame(
                {"query_id": q[keep], "neighbor_id": n[keep],
                 "dist_m": d[keep]}
            )

    return cand.mapInPandas(run, schema)


def _gc_dist_col() -> "F.Column":
    """Exact great-circle distance column over (_qlat,_qlon,_plat,_plon) —
    spherical law of cosines, same formula as ogr/ogr_geo_utils.cpp:25-46."""
    d2r = float(np.pi / 180.0)
    return F.acos(
        F.least(
            F.lit(1.0),
            F.greatest(
                F.lit(-1.0),
                F.sin(F.col("_qlat") * d2r) * F.sin(F.col("_plat") * d2r)
                + F.cos(F.col("_qlat") * d2r)
                * F.cos(F.col("_plat") * d2r)
                * F.cos((F.col("_plon") - F.col("_qlon")) * d2r),
            ),
        )
    ) * F.lit(G.EARTH_RADIUS)


def _tile_cells(lon_col, lat_col, zoom: int):
    """Cell columns of the quadkey strategies: the XYZ tile at ``zoom``
    with tx wrapped modulo 2^zoom (lon -180 is tile column 2^zoom - 1, as
    lon 180) and ty clamped into the grid (rows beyond the Mercator limit
    join the edge row), so every point sits in a cell the ring probe can
    reach."""
    n_cells = 1 << zoom
    tx, ty = TM.lonlat_to_tile(lon_col, lat_col, zoom)
    return (
        F.pmod(tx, F.lit(n_cells)),
        F.least(F.greatest(ty, F.lit(0)), F.lit(n_cells - 1)),
    )


def _cell_frames(points, queries, point_id, query_id, lon, lat, cx, cy):
    """The bucketed point side (neighbor_id, _plon, _plat, cell_x, cell_y)
    and the query side (query_id, _qlon, _qlat, _qx, _qy), both keyed by
    the same cell columns (cx, cy) over ``lon``/``lat``."""
    pts = points.select(
        F.col(point_id).alias("neighbor_id"),
        F.col(lon).alias("_plon"),
        F.col(lat).alias("_plat"),
        cx.alias("cell_x"),
        cy.alias("cell_y"),
    )
    qry = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(lon).alias("_qlon"),
        F.col(lat).alias("_qlat"),
        cx.alias("_qx"),
        cy.alias("_qy"),
    )
    return pts, qry


def _ring_probe(qry: DataFrame, rx, ry, inner, n_cells: int) -> DataFrame:
    """Explode each query to the tile cells (_qx+dx, _qy+dy) with |dx| <= rx,
    |dy| <= ry and Chebyshev ring max(|dx|, |dy|) > ``inner`` (all Column
    expressions). tx wraps at the antimeridian (pmod), ty outside the grid
    is dropped, and cells the wrap aliases (2·r+1 >= 2^zoom) are deduped so
    a neighbour is joined at most once per query."""
    return (
        qry.withColumn("_dx", F.explode(F.sequence(-rx, rx)))
        .withColumn("_dy", F.explode(F.sequence(-ry, ry)))
        .filter(F.greatest(F.abs("_dx"), F.abs("_dy")) > inner)
        .withColumn("cell_x", F.pmod(F.col("_qx") + F.col("_dx"), F.lit(n_cells)))
        .withColumn("cell_y", F.col("_qy") + F.col("_dy"))
        .filter((F.col("cell_y") >= 0) & (F.col("cell_y") < n_cells))
        .dropDuplicates(["query_id", "cell_x", "cell_y"])
        .select("query_id", "_qlon", "_qlat", "cell_x", "cell_y")
    )


def _candidates(probe: DataFrame, pts: DataFrame, include_self: bool) -> DataFrame:
    """(query, neighbour) pairs sharing a probed cell, with both positions."""
    cand = probe.join(pts, on=["cell_x", "cell_y"], how="inner").select(
        "query_id", "_qlon", "_qlat", "neighbor_id", "_plon", "_plat"
    )
    if not include_self:
        cand = cand.filter(F.col("neighbor_id") != F.col("query_id"))
    return cand


def _refine_top_k(cand: DataFrame, k: int) -> DataFrame:
    """Exact distance, then a map-side partial top-k BEFORE the rank
    shuffle: the global top-k under the TOTAL order (dist, neighbor_id)
    equals the top-k of per-batch top-k's, so the window's shuffle carries
    ≤ batches × queries × k rows instead of the full candidate set."""
    dist = cand.select("query_id", "neighbor_id", _gc_dist_col().alias("dist_m"))
    return _top_k(_partial_topk_batches(dist, k), k)


def knn_cell_join(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    zoom: int = 7,
    ring: int = 1,
    point_id: str = "i",
    query_id: str = "query_id",
    lon: str = "lon",
    lat: str = "lat",
    include_self: bool = False,
) -> DataFrame:
    """Cell-bucketed approximate-window kNN (exact within ``ring`` rings).

    Points carry (tx, ty) at ``zoom``; each query explodes to the
    (2·ring+1)² neighbouring cells (k-ring expansion on the tile grid, the
    quadkey analog of H3 k-ring), equi-joins, refines with the exact
    great-circle metric, and window-top-k's.
    """
    pts, qry = _cell_frames(
        points, queries, point_id, query_id, lon, lat,
        *_tile_cells(F.col(lon), F.col(lat), zoom),
    )
    r = F.lit(ring)
    probe = _ring_probe(qry, r, r, F.lit(-1), 1 << zoom)
    return _refine_top_k(_candidates(probe, pts, include_self), k)


_MAXLAT_RAD = float(np.radians(85.05112878))  # WebMercator latitude limit


def knn_cell_join_adaptive(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    zoom: int = 7,
    max_ring: int = 64,
    point_id: str = "i",
    query_id: str = "query_id",
    lon: str = "lon",
    lat: str = "lat",
    include_self: bool = False,
    on_capped: str = "error",
) -> DataFrame:
    """Expanding k-ring kNN — the distributed analog of the reference's
    expanding quadtree window (alg/gdalgrid.cpp:905+, cpl_quad_tree.cpp:
    138-231), restructured for scale as O(log max_ring) Spark jobs:

    Phase 1 (geometric ring batching): probe Chebyshev ring *batches*
    [0..1], [2..3], [4..7], ... doubling the radius each round, joining
    only still-unsatisfied queries against the cell-bucketed point table,
    until every query has >= k distinct candidates (or max_ring is hit).
    Each batch is one join + one count — not one job per ring.

    Phase 2 (guaranteed completion): the k-th candidate's *actual*
    great-circle distance d_k is an upper bound on the true k-th-neighbor
    distance. Convert d_k to a provably sufficient cell rectangle:
      |dlat| <= d_k/Re  (meridional arc can't exceed total arc), and from
      haversine  sin(d/2Re) >= cos(lat_max)*sin(dlon/2), so
      dlon <= 2*asin(min(1, sin(d_k/2Re)/cos(lat_max)))  with
      lat_max = min(|lat_q| + d_k/Re, 85.051...) the worst reachable
      latitude. Map both to Mercator meters -> cell counts (+1 for the
      query's in-cell offset) and probe every not-yet-probed cell in that
      rectangle. The final window top-k over the union is therefore EXACT
      (Mercator's sec(lat) anisotropy is handled by construction, not by a
      heuristic additive margin). Queries that never reach k candidates
      within max_ring get no phase-2 exactness guarantee; ``on_capped``
      controls what happens to them: ``"error"`` (default) raises so a
      silent best-effort result can never masquerade as exact, ``"flag"``
      returns them with a boolean ``exact`` column (False for capped
      queries, True otherwise — the column is always present in flag mode
      so the schema is deterministic).

    The rounds' intermediate frames are persisted for the call only; the
    returned frame is local-checkpointed and is the only storage left.
    """
    if on_capped not in ("error", "flag"):
        raise ValueError("on_capped must be 'error' or 'flag'")
    n_cells = 1 << zoom
    cell_m = 2.0 * TM.ORIGIN_SHIFT / n_cells  # Mercator meters per cell
    held: list[DataFrame] = []

    def hold(df: DataFrame) -> DataFrame:
        held.append(df.persist())
        return df

    try:
        pts, todo = _cell_frames(
            points, queries, point_id, query_id, lon, lat,
            *_tile_cells(F.col(lon), F.col(lat), zoom),
        )
        pts, todo = hold(pts), hold(todo)
        collected = None
        done_parts: list[DataFrame] = []
        lo, hi = 0, 1
        n_todo = todo.count()
        while n_todo > 0 and lo <= max_ring:
            hi = min(hi, max_ring)
            probe = _ring_probe(todo, F.lit(hi), F.lit(hi), F.lit(lo - 1), n_cells)
            found = _candidates(probe, pts, include_self)
            collected = hold(found if collected is None else collected.unionAll(found))
            counts = (
                collected.dropDuplicates(["query_id", "neighbor_id"])
                .groupBy("query_id")
                .agg(F.count(F.lit(1)).alias("_n"))
            )
            merged = todo.join(counts, "query_id", "left").withColumn(
                "_probed", F.lit(hi)
            )
            done_parts.append(
                merged.filter(F.coalesce("_n", F.lit(0)) >= k).drop("_n")
            )
            todo = hold(
                merged.filter(F.coalesce("_n", F.lit(0)) < k).drop("_n", "_probed")
            )
            n_todo = todo.count()
            lo, hi = hi + 1, hi * 2 + 1

        if collected is None:  # empty query set
            schema = "query_id long, neighbor_id long, rank long, dist_m double"
            if on_capped == "flag":
                schema += ", exact boolean"
            return points.sparkSession.createDataFrame([], schema)

        # stragglers that hit the max_ring cap have no phase-2 exactness
        # bound: raise (default) or mark them, never return silent
        # best-effort rows
        if n_todo > 0 and on_capped == "error":
            raise RuntimeError(
                f"{n_todo} queries did not reach k={k} candidates within "
                f"max_ring={max_ring}; their results would be best-effort. "
                "Raise max_ring/lower zoom, or pass on_capped='flag' to get "
                "them with exact=false."
            )
        qstate = todo.withColumn("_probed", F.lit(min(max(hi // 2, 1), max_ring)))
        for part in done_parts:
            qstate = qstate.unionByName(part)

        # ---- phase 2: probe the d_k-derived rectangle beyond the probed square
        dk = (
            _top_k(
                collected.dropDuplicates(["query_id", "neighbor_id"])
                .withColumn("dist_m", _gc_dist_col()),
                k,
            )
            .filter(F.col("rank") == k)
            .select("query_id", F.col("dist_m").alias("_dk"))
        )
        re_ = G.EARTH_RADIUS
        phi = F.radians(F.col("_qlat"))
        dphi = F.col("_dk") / F.lit(re_)
        y_of = lambda p: F.lit(re_) * F.log(
            F.tan(F.lit(float(np.pi / 4.0)) + p / 2.0)
        )
        phi_hi = F.least(phi + dphi, F.lit(_MAXLAT_RAD))
        phi_lo = F.greatest(phi - dphi, F.lit(-_MAXLAT_RAD))
        dy_max = F.greatest(y_of(phi_hi) - y_of(phi), y_of(phi) - y_of(phi_lo))
        cos_max = F.cos(F.least(F.abs(phi) + dphi, F.lit(_MAXLAT_RAD)))
        dlam = 2.0 * F.asin(
            F.least(F.lit(1.0), F.sin(F.col("_dk") / F.lit(2.0 * re_)) / cos_max)
        )
        dx_merc = F.lit(re_) * dlam
        r_y = (F.ceil(dy_max / F.lit(cell_m)) + 1).cast("int")
        r_x = F.least(
            (F.ceil(dx_merc / F.lit(cell_m)) + 1).cast("int"),
            F.lit(n_cells // 2),  # x wraps: half the world covers every cell
        )
        ext = qstate.join(dk, "query_id", "inner").filter(
            F.greatest(r_x, r_y) > F.col("_probed")
        )
        found = _candidates(
            _ring_probe(ext, r_x, r_y, F.col("_probed"), n_cells), pts, include_self
        )
        out = _top_k(
            collected.unionAll(found)
            .dropDuplicates(["query_id", "neighbor_id"])
            .withColumn("dist_m", _gc_dist_col()),
            k,
        )
        if on_capped == "flag":
            capped = todo.select("query_id").withColumn("_capped", F.lit(True))
            out = (
                out.join(F.broadcast(capped), "query_id", "left")
                .withColumn("exact", F.col("_capped").isNull())
                .drop("_capped")
            )
        # materialize before releasing the frames the plan references
        return out.localCheckpoint(eager=True)
    finally:
        for df in held:
            df.unpersist()


def _hex_axial_cells(lon_col, lat_col, size: float):
    """Axial hex-cell (q, r) columns of a pointy-top hexagonal grid with
    circumradius ``size`` (degrees, planar): fractional axial coords +
    the standard cube-rounding CASE chain (Patel's hex-grid reference,
    public) — pure JVM column math.  The hex binning is ENGINE-INTERNAL
    (candidate generation only); correctness comes from the exact refine,
    so no cross-engine rounding parity is required."""
    s3 = float(np.sqrt(3.0))
    qf = (lon_col * F.lit(s3 / 3.0) - lat_col / F.lit(3.0)) / F.lit(size)
    rf = (lat_col * F.lit(2.0 / 3.0)) / F.lit(size)
    xf, zf = qf, rf
    yf = -xf - zf
    rx, ry, rz = F.round(xf, 0), F.round(yf, 0), F.round(zf, 0)
    dx, dy, dz = F.abs(rx - xf), F.abs(ry - yf), F.abs(rz - zf)
    # exactly one coordinate is corrected to restore x+y+z=0: the one
    # with the largest rounding error (x -> q, z -> r; y is implicit)
    cq = F.when((dx > dy) & (dx > dz), -ry - rz).otherwise(rx)
    cr = F.when((dx > dy) & (dx > dz), rz).when(dy > dz, rz).otherwise(
        -rx - ry)
    return cq.cast("long"), cr.cast("long")


def knn_hex_kring_join(
    points: DataFrame, queries: DataFrame, k: int, ring: int,
    size: float, point_id: str = "o_orderkey",
) -> DataFrame:
    """kNN by HEX k-ring expansion + exact great-circle refine (the
    north-star H3-style shape on a flat axial hex grid): base points
    bucket to hex cells once; each query explodes its radius-``ring``
    hex k-ring (the axial-coordinate disk |dq|<=k, max(-k,-dq-k)<=dr<=
    min(k,-dq+k) — (3k^2+3k+1) cells, closed form), candidates come from
    ONE equi-join on the (q, r) cell key, and the exact spherical
    law-of-cosines distance (ogr/ogr_geo_utils.cpp:25-46 parity) refines
    to the top-k with deterministic (dist, neighbor_id) tie-break.
    With ``ring`` covering the populated grid the result is exact (the
    demo gate's contract, like the zoom-2 quadkey variant); production
    sizes trade ring radius for recall."""
    pts, qry = _cell_frames(
        points, queries, point_id, "query_id", "lon", "lat",
        *_hex_axial_cells(F.col("lon"), F.col("lat"), size),
    )
    probe = (
        qry.withColumn("_dq", F.explode(F.sequence(F.lit(-ring), F.lit(ring))))
        .withColumn("_dr", F.explode(F.sequence(
            F.greatest(F.lit(-ring), -F.col("_dq") - ring),
            F.least(F.lit(ring), -F.col("_dq") + ring))))
        .select(
            "query_id", "_qlon", "_qlat",
            (F.col("_qx") + F.col("_dq")).alias("cell_x"),
            (F.col("_qy") + F.col("_dr")).alias("cell_y"),
        )
    )
    return _refine_top_k(_candidates(probe, pts, include_self=False), k)
