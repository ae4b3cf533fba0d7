"""Point-in-polygon spatial join — the north-rule operator.

Reference semantics: GDAL's 3-stage spatial filter (ogrlayer.cpp:4005-4076
``FilterGeometry``: envelope prefilter → envelope-containment shortcut →
exact predicate) with the exact predicate being strict-interior ray casting
(ogrlinearring.cpp:452-521, holes via ogrcurvepolygon.cpp:810-867) — and the
prepared-geometry reuse pattern of ogrgeometry.cpp:7530-7665 (build the
polygon-side index ONCE, probe many points).

Spark-first execution, three physical strategies:

1. ``pip_join`` (broadcast) — the polygon side is a small dimension
   (thousands of polygons): pack rings into numpy ONCE on the driver,
   broadcast, and stream the point side through ``mapInPandas``. ZERO
   shuffle: the plan is scan → mapInPandas → (anything downstream). At
   100 TB of points this is a map-only stage that scales linearly with
   executors — the polygon index plays the role of GDAL's prepared
   geometries, the per-polygon bbox array plays the quadtree.

2. ``pip_join_cells`` (cell-key equi-join) — cover every polygon with
   WebMercator tiles at a chosen zoom (the rasterize-lite of
   llrasterize.cpp:58 semantics) and equi-join on the cell key, either
   against a broadcast cover or shuffling both sides. On the shuffle path
   hot cells (dense geotag clusters) are salted: the point side gets a
   deterministic salt, the polygon-cover side is replicated per salt — a
   standard two-sided skew fix the reference never needed single-node
   (SURVEY.md §4 "salting: absent").

3. ``pip_join_cells_compact`` — the same join against quadtree-compacted
   covers, each point exploded to its ancestor cell at every level.

The cell strategies are plan shapes over one core: one envelope cover
(``_cover_cells``), one exact filter (``PolygonIndex.contains``) and one
first-match reduction on a compact row id (``_exact_matches``). Every path
ends in the same ray-cast kernel, so results are identical; only the
physical plan differs.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gdal_spark.spatial import geometry as G
from gdal_spark.spatial import tilemath as TM


# ---------------------------------------------------------------------------
# Packed polygon index (broadcast payload)
# ---------------------------------------------------------------------------

def _feature_parts(rings_obj) -> list:
    """Normalize a geometry payload to polygon PARTS: a Polygon (depth-3
    nesting: rings → points → xy) becomes [rings]; a MultiPolygon (depth-4:
    parts → rings → points → xy) explodes to its parts — the internal
    explode of ogrmultipolygon parts with per-part ring tests
    (ogrcurvepolygon.cpp:810-867 applied per part)."""
    probe = rings_obj[0][0][0]
    if np.isscalar(probe) or isinstance(probe, (int, float, np.floating)):
        return [G.rings_to_numpy(rings_obj)]  # Polygon
    return [G.rings_to_numpy(part) for part in rings_obj]  # MultiPolygon


class PolygonIndex:
    """Driver-built, broadcast-able polygon index.

    One entry per polygon PART (multipolygon features explode internally,
    keeping their feature id — so first-match stays per-feature). Bbox
    arrays give the vectorized envelope prefilter; rings are numpy arrays
    parsed once (the "prepared geometry"). Entries are held in poly_id
    order so first-match (min poly_id) is a stable rule.
    """

    def __init__(self, poly_ids, rings_list, boxes):
        self.poly_ids = np.asarray(poly_ids, dtype=np.int64)
        self.rings_list = rings_list  # list[list[np.ndarray(n,2)]] (one part each)
        self.boxes = np.asarray(boxes, dtype=np.float64)  # (P, 4) xmin ymin xmax ymax
        self._by_id = None

    def rings_by_id(self) -> dict:
        """Lazy poly_id → list-of-parts lookup (built once per executor)."""
        if self._by_id is None:
            self._by_id = {}
            for pid, rings in zip(self.poly_ids, self.rings_list):
                self._by_id.setdefault(int(pid), []).append(rings)
        return self._by_id

    @classmethod
    def from_rows(cls, rows):
        poly_ids, rings_list, boxes = [], [], []
        for r in rows:
            for part in _feature_parts(r["rings"]):
                poly_ids.append(r["poly_id"])
                rings_list.append(part)
                boxes.append(G.rings_envelope(part))
        order = np.argsort(np.asarray(poly_ids), kind="stable")
        return cls(
            [poly_ids[i] for i in order],
            [rings_list[i] for i in order],
            [boxes[i] for i in order],
        )

    def contains(self, px: np.ndarray, py: np.ndarray, poly_id: np.ndarray) -> np.ndarray:
        """Exact test of point i against polygon ``poly_id[i]`` (OR over the
        feature's parts), one vectorized ray cast per distinct poly_id."""
        out = np.zeros(px.shape[0], dtype=bool)
        if px.shape[0] == 0:
            return out
        rings_by_id = self.rings_by_id()
        order = np.argsort(poly_id, kind="stable")
        for pos in np.split(order, np.flatnonzero(np.diff(poly_id[order])) + 1):
            for part in rings_by_id[int(poly_id[pos[0]])]:
                out[pos] |= G.points_in_polygon(px[pos], py[pos], part)
        return out

    NODE_SIZE = 16

    def _build_str_blocks(self):
        """STR (sort-tile-recursive) bulk load, FlatGeobuf packed-R-tree
        style (reference packedrtree.cpp:73-132): sort entries into
        √(P/ns) vertical slices by x-center, within a slice by y-center,
        pack runs of NODE_SIZE into blocks, store each block's union bbox.
        Lazily built once per executor."""
        ns = self.NODE_SIZE
        p = self.boxes.shape[0]
        cx = (self.boxes[:, 0] + self.boxes[:, 2]) / 2.0
        cy = (self.boxes[:, 1] + self.boxes[:, 3]) / 2.0
        n_blocks = max((p + ns - 1) // ns, 1)
        n_slices = max(int(np.ceil(np.sqrt(n_blocks))), 1)
        per_slice = n_slices * ns
        xorder = np.argsort(cx, kind="stable")
        order_parts = []
        for s in range(0, p, per_slice):
            sl = xorder[s:s + per_slice]
            order_parts.append(sl[np.argsort(cy[sl], kind="stable")])
        order = np.concatenate(order_parts)
        blocks = []
        for s in range(0, p, ns):
            idx = order[s:s + ns]
            bb = self.boxes[idx]
            blocks.append(
                (idx, (bb[:, 0].min(), bb[:, 1].min(),
                       bb[:, 2].max(), bb[:, 3].max()))
            )
        self._str_blocks = blocks

    def probe(self, px: np.ndarray, py: np.ndarray, first_match: bool):
        """Return (point_idx, poly_id) match pairs for a batch of points.

        Candidate generation walks the STR blocks: one vectorized bbox mask
        per block prunes whole groups of NODE_SIZE parts at once; per-entry
        bbox + exact ray-cast tests run only on the block's surviving point
        subset. first_match (min poly_id per point) is reduced at the end —
        tree order is spatial, not id order."""
        if getattr(self, "_str_blocks", None) is None:
            self._build_str_blocks()
        out_pt: list[np.ndarray] = []
        out_poly: list[np.ndarray] = []
        for idxs, (bxmin, bymin, bxmax, bymax) in self._str_blocks:
            bmask = (px >= bxmin) & (px <= bxmax) & (py >= bymin) & (py <= bymax)
            bidx = np.nonzero(bmask)[0]
            if bidx.size == 0:
                continue
            bpx, bpy = px[bidx], py[bidx]
            for k in idxs:
                xmin, ymin, xmax, ymax = self.boxes[k]
                cand = (bpx >= xmin) & (bpx <= xmax) & (bpy >= ymin) & (bpy <= ymax)
                sub = np.nonzero(cand)[0]
                if sub.size == 0:
                    continue
                inside = G.points_in_polygon(
                    bpx[sub], bpy[sub], self.rings_list[k]
                )
                hit = bidx[sub[inside]]
                if hit.size:
                    out_pt.append(hit)
                    out_poly.append(
                        np.full(hit.shape[0], self.poly_ids[k], dtype=np.int64)
                    )
        if not out_pt:
            empty = np.empty(0, dtype=np.int64)
            return empty, empty
        pt = np.concatenate(out_pt)
        poly = np.concatenate(out_poly)
        if first_match:
            order = np.lexsort((poly, pt))
            pt, poly = pt[order], poly[order]
            _, first = np.unique(pt, return_index=True)
            pt, poly = pt[first], poly[first]
        return pt, poly


def build_polygon_index(polygons: DataFrame) -> PolygonIndex:
    rows = polygons.select("poly_id", "rings").collect()
    return PolygonIndex.from_rows(rows)


# ---------------------------------------------------------------------------
# Strategy 1: broadcast map-only join
# ---------------------------------------------------------------------------

def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    how: str = "inner",
    first_match: bool = False,
) -> DataFrame:
    """Join points to containing polygons. Output = point columns + poly_id.

    ``how='left'`` keeps unmatched points with null poly_id (GDAL LEFT JOIN);
    ``first_match=True`` keeps only the lowest poly_id per point (GDAL's
    first-match 1-row join semantics, ogr_gensql.cpp:1516-1546 — FID order).
    """
    spark = points.sparkSession
    index = build_polygon_index(polygons)
    bc = spark.sparkContext.broadcast(index)

    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        list(points.schema.fields) + [StructField("poly_id", LongType(), True)]
    )
    left = how == "left"
    lon_i = points.columns.index(lon)
    lat_i = points.columns.index(lat)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = bc.value
        for pdf in batches:
            if pdf.shape[0] == 0:
                continue
            px = pdf.iloc[:, lon_i].to_numpy(dtype=np.float64)
            py = pdf.iloc[:, lat_i].to_numpy(dtype=np.float64)
            pt_idx, poly_id = idx.probe(px, py, first_match)
            out = pdf.iloc[pt_idx].copy()
            out["poly_id"] = poly_id
            if left:
                unmatched = np.ones(pdf.shape[0], dtype=bool)
                unmatched[pt_idx] = False
                miss = pdf.iloc[np.nonzero(unmatched)[0]].copy()
                miss["poly_id"] = pd.array([None] * miss.shape[0], dtype="Int64")
                out = pd.concat([out, miss], ignore_index=True)
            yield out

    return points.mapInPandas(run, schema=out_schema)


# ---------------------------------------------------------------------------
# Cell strategies: one cover, one exact filter, one first-match reduction
# ---------------------------------------------------------------------------

def _cover_cells(index: PolygonIndex, zoom: int) -> dict:
    """poly_id → set of XYZ (tx, ty) tiles at ``zoom`` intersecting any of
    its part ENVELOPES (the prefilter contract; the exact test runs after
    the join). Latitudes clamp to the Mercator limit, and the tile math is
    the point side's, so edges agree."""
    cells: dict = {}
    for pid, (xmin, ymin, xmax, ymax) in zip(index.poly_ids, index.boxes):
        tx0, ty0 = TM.py_lonlat_to_tile(xmin, min(ymax, TM.MAX_LAT), zoom)
        tx1, ty1 = TM.py_lonlat_to_tile(xmax, max(ymin, -TM.MAX_LAT), zoom)
        cells.setdefault(int(pid), set()).update(
            (tx, ty) for ty in range(ty0, ty1 + 1) for tx in range(tx0, tx1 + 1)
        )
    return cells


def _cover_rows(index: PolygonIndex, zoom: int) -> list:
    return sorted(
        (pid, tx, ty) for pid, cells in _cover_cells(index, zoom).items()
        for tx, ty in cells
    )


_COVER_SCHEMA = "poly_id long, cell_tx int, cell_ty int"


def polygon_cell_cover(polygons: DataFrame, zoom: int) -> DataFrame:
    """Explode polygons to their covering XYZ tiles at ``zoom`` (envelope
    cover, see ``_cover_cells``), distributed: each batch of polygons is
    indexed and covered on an executor."""

    def cover(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            index = PolygonIndex.from_rows(pdf.to_dict("records"))
            yield pd.DataFrame(
                _cover_rows(index, zoom), columns=["poly_id", "cell_tx", "cell_ty"]
            )

    # cover rows carry ONLY (poly_id, cell) — at scale the shuffle never
    # moves ring geometry; the exact test resolves rings from a broadcast
    # index (the prepared-geometry pattern, ogrgeometry.cpp:7530-7665)
    return polygons.select("poly_id", "rings").mapInPandas(cover, _COVER_SCHEMA)


def _with_rid(points: DataFrame, first_match: bool) -> DataFrame:
    """Tag each point row with ``_pip_rid`` for the first-match reduction.
    Grouping on every point column would shuffle-key the full row
    (text/html-width columns at 100 TB); a 64-bit id keeps the aggregate
    key 8 bytes. Tag BEFORE any explode so all of a row's candidates share
    one id."""
    if not first_match:
        return points
    return points.withColumn("_pip_rid", F.monotonically_increasing_id())


def _exact_matches(
    joined: DataFrame, index: PolygonIndex, point_cols: list,
    lon: str, lat: str, first_match: bool,
) -> DataFrame:
    """Exact ray-cast filter over (point, candidate poly_id) pairs, then the
    output shape: point columns + poly_id, reduced to min(poly_id) per
    ``_pip_rid`` when ``first_match``. Rings come from a broadcast index
    (the prepared-geometry reuse pattern), NOT through the shuffle — the
    join only ever moves (point cols, poly_id, cell key)."""
    bc = joined.sparkSession.sparkContext.broadcast(index)

    @F.pandas_udf("boolean")
    def contains(lon_s: pd.Series, lat_s: pd.Series, poly_id: pd.Series) -> pd.Series:
        return pd.Series(bc.value.contains(
            lon_s.to_numpy(dtype=np.float64), lat_s.to_numpy(dtype=np.float64),
            poly_id.to_numpy(dtype=np.int64),
        ))

    hits = joined.filter(contains(F.col(lon), F.col(lat), F.col("poly_id")))
    if not first_match:
        return hits.select(*point_cols, "poly_id")
    # payload columns ride as first() aggs (identical within a group by
    # construction) and collapse map-side before the exchange
    aggs = [F.first(c).alias(c) for c in point_cols]
    aggs.append(F.min("poly_id").alias("poly_id"))
    return hits.groupBy("_pip_rid").agg(*aggs).select(*point_cols, "poly_id")


def pip_join_cells(
    points: DataFrame,
    polygons: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    zoom: int = 7,
    salt: int = 0,
    first_match: bool = False,
    broadcast_cover: bool = True,
) -> DataFrame:
    """Cell-cover equi-join PIP + exact kernel (inner join; output = point
    columns + poly_id).

    Every path collects the polygon layer to the driver once and broadcasts
    its ring index to the exact filter, so the driver must hold the whole
    polygon layer whichever path runs. ``broadcast_cover=True`` (default)
    also builds the (poly_id, cell) cover there and broadcasts it: a
    map-only candidate join. ``broadcast_cover=False`` builds the cover on
    executors and shuffles both sides on the cell key, so neither the cover
    nor the point side has to fit in one task; there ``salt`` > 1
    replicates each cover row ``salt`` times and spreads points
    deterministically across replicas, shrinking a hot cell's shuffle
    partition by the salt factor. Salting needs the shuffle path: ``salt``
    > 1 with ``broadcast_cover=True`` raises ``ValueError``.
    """
    if broadcast_cover and salt > 1:
        raise ValueError(
            "salt > 1 needs broadcast_cover=False: a broadcast cover has no "
            "shuffle partition to spread"
        )
    index = build_polygon_index(polygons)
    tx, ty = TM.lonlat_to_tile(F.col(lon), F.col(lat), zoom)
    pts = _with_rid(points, first_match).withColumn("cell_tx", tx).withColumn("cell_ty", ty)
    join_keys = ["cell_tx", "cell_ty"]
    if broadcast_cover:
        cover = points.sparkSession.createDataFrame(_cover_rows(index, zoom), _COVER_SCHEMA)
        joined = pts.join(F.broadcast(cover), on=join_keys, how="inner")
    else:
        cover = polygon_cell_cover(polygons, zoom)
        if salt > 1:
            pts = pts.withColumn(
                "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in points.columns]), F.lit(salt)).cast("int")
            )
            cover = cover.withColumn(
                "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
            )
            join_keys = join_keys + ["_salt"]
        # Force the at-scale plan: shuffle both sides on the cell key and
        # hash-build the cover. Without the hint, Catalyst broadcasts
        # whichever side is under the broadcast threshold — at test scale
        # that is the POINTS side, which turns the stream side into the
        # 1-partition cover and serializes the whole stage.
        joined = pts.join(cover.hint("shuffle_hash"), on=join_keys, how="inner")
    return _exact_matches(joined, index, points.columns, lon, lat, first_match)


def pip_join_cells_compact(
    points: DataFrame,
    polygons: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    zoom: int = 7,
    first_match: bool = False,
) -> DataFrame:
    """Compacted-cover PIP join (the north rule's "compacted covers", the
    H3 compact analog): each polygon's cell cover is quadtree-compacted
    (4 complete siblings → parent, recursively — cover size scales with
    polygon PERIMETER at the finest level instead of area), and each point
    explodes to its ancestor cell at every zoom ≤ base (one row per level,
    a fixed ×(zoom+1) flatMap). The equi-join key is (z, tx, ty); the exact
    ray-cast kernel then filters candidates exactly as pip_join_cells.
    """
    index = build_polygon_index(polygons)
    cover = points.sparkSession.createDataFrame(
        [
            (pid, z, tx, ty)
            for pid, cells in _cover_cells(index, zoom).items()
            for z, tx, ty in TM.py_compact_cells(cells, zoom)
        ],
        "poly_id long, cell_z int, cell_tx int, cell_ty int",
    )
    tx, ty = TM.lonlat_to_tile(F.col(lon), F.col(lat), zoom)
    pts = (
        _with_rid(points, first_match)
        .withColumn("_tx", tx)
        .withColumn("_ty", ty)
        .withColumn("cell_z", F.explode(F.sequence(F.lit(0), F.lit(zoom))))
        .withColumn(
            "cell_tx", F.expr(f"cast(shiftright(_tx, {zoom} - cell_z) as int)")
        )
        .withColumn(
            "cell_ty", F.expr(f"cast(shiftright(_ty, {zoom} - cell_z) as int)")
        )
    )
    joined = pts.join(
        F.broadcast(cover), on=["cell_z", "cell_tx", "cell_ty"], how="inner"
    )
    return _exact_matches(joined, index, points.columns, lon, lat, first_match)
