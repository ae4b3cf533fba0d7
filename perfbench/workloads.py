"""The benchmark's workloads: inputs, the timed operation, output checks.

pages_pip_tiles
    Wide Common-Crawl-style pages through broadcast ``pip_join`` (the
    75-polygon layer, left join, first match), ``assign_tiles`` at zoom 12
    with quadkey, into the ``noop`` sink: the paper's flagship. Arrow
    transfer of the payload and tile math dominate; the PIP kernel, driver
    work and shuffle are minor.
hotspot_broadcast_pip
    Narrow clustered points (1% in one hot cell, 10% in 8 blobs) through
    broadcast ``pip_join`` (inner, first match) against ~4.4k diamonds
    tiling the blobs and the hot cell. The driver-side index build of the
    large polygon layer and the ray-cast kernel dominate; Arrow payload and
    tile math are near zero. (The partitioned ``pip_join_cells`` pass over
    the same inputs spread by a fifth between runs, too much for an
    end-to-end bound; it is measured by the traced cells probe instead.)

Each operation is a whole pass as a user runs it: the driver-side join
call, the plan, and materialization of every output column. ``how`` and
``chain_end`` tell the layer chain which join the operation runs and
which prefix of the chain it ends at.
"""

from __future__ import annotations

import os

import inputs
import oracles
from layers import ZOOM, digest, noop
from tracing import Tracer

_NO_TRACE = Tracer("check", enabled=False)
PAYLOAD = ["doc_id", "url", "warc_ts", "html", "text", "lang", "lon", "lat"]
SAMPLE_MOD = 251


class PagesPipTiles:
    name = "pages_pip_tiles"
    rows = 200_000
    how = "left"
    chain_end = "tiles.quadkey"

    def __init__(self, cache: str, seed: int):
        self.seed = seed
        self.offset = inputs.row_offset(seed)
        base = inputs.pages(cache, seed, self.rows)
        self.points_dir = os.path.join(base, "pages")
        self.polygons_dir = os.path.join(base, "polygons")

    def plan(self, spark, tr):
        from gdal_spark.operators.pip_join import pip_join
        from gdal_spark.operators.tiles import assign_tiles

        pages = spark.read.parquet(self.points_dir)
        polys = spark.read.parquet(self.polygons_dir)
        with tr.span("pip_join.call"):
            joined = pip_join(pages, polys, how=self.how, first_match=True)
        with tr.span("tiles.call"):
            return assign_tiles(joined, ZOOM)

    def op(self, spark, tr) -> None:
        out = self.plan(spark, tr)
        with tr.span("sink.noop"):
            noop(out)

    def check(self, spark, con) -> list[tuple[str, bool, str]]:
        """Row count and payload digest over the whole output, and
        poly_id / tx / ty / quadkey on every SAMPLE_MOD-th doc_id against
        the DuckDB crossing-number and tile-math oracle."""
        from pyspark.sql import functions as F

        out = self.plan(spark, _NO_TRACE)
        r = self.seed % SAMPLE_MOD
        sample = F.col("doc_id") % SAMPLE_MOD == r
        row = out.select(
            F.count(F.lit(1)),
            F.sum(F.shiftright(F.xxhash64(*[F.col(c) for c in PAYLOAD]), 20)),
            F.collect_list(F.when(sample, F.struct(
                "doc_id", "poly_id", "tx", "ty", "quadkey"))),
        ).first()
        n_in, payload_in = digest(spark.read.parquet(self.points_dir), PAYLOAD)
        got = {s["doc_id"]: (s["poly_id"], s["tx"], s["ty"], s["quadkey"]) for s in row[2]}
        want = oracles.pip_tiles(con, self.points_dir, self.polygons_dir,
                                 f"doc_id % {SAMPLE_MOD} = {r}", ZOOM)
        bad = [k for k in want if got.get(k) != want[k]]
        return [
            ("row_count", row[0] == n_in == self.rows, f"{row[0]} out, {n_in} in"),
            ("payload_digest", int(row[1] or 0) == payload_in, "payload columns unchanged"),
            ("pip_tiles_sample", bool(want) and not bad and got.keys() == want.keys(),
             f"{len(want)} sampled rows, {len(bad)} differ"),
        ]


class HotspotBroadcastPip:
    name = "hotspot_broadcast_pip"
    rows = 200_000
    how = "inner"
    chain_end = "pip_kernel"

    def __init__(self, cache: str, seed: int):
        self.seed = seed
        self.offset = inputs.row_offset(seed)
        base = inputs.clustered_points(cache, seed, self.rows)
        self.points_dir = os.path.join(base, "points")
        self.polygons_dir = os.path.join(base, "diamonds")
        self.centres_file = os.path.join(base, "diamond_centres.parquet")

    def plan(self, spark, tr):
        from gdal_spark.operators.pip_join import pip_join

        pts = spark.read.parquet(self.points_dir)
        polys = spark.read.parquet(self.polygons_dir)
        with tr.span("pip_join.call"):
            return pip_join(pts, polys, how=self.how, first_match=True)

    def op(self, spark, tr) -> None:
        out = self.plan(spark, tr)
        with tr.span("sink.noop"):
            noop(out)

    def check(self, spark, con) -> list[tuple[str, bool, str]]:
        """Every (doc_id, poly_id) match against the closed-form
        |dx| + |dy| < r diamond oracle over all points."""
        got = {r["doc_id"]: r["poly_id"]
               for r in self.plan(spark, _NO_TRACE).select("doc_id", "poly_id").collect()}
        want = oracles.diamond_matches(con, self.points_dir, self.centres_file)
        return [("diamond_matches", bool(want) and got == want,
                 f"{len(got)} engine vs {len(want)} oracle matches")]


WORKLOADS = {w.name: w for w in (PagesPipTiles, HotspotBroadcastPip)}
