"""The three workloads: one closed-loop pass each, their output checks,
and the per-layer measurements of a traced run.

A pass reads the generated tables, calls the engine's public functions
and consumes the result the way a job would (collect, or an eager
local checkpoint that the next stage reads).  Layer spans wrap both the
call that builds a DataFrame and the action that consumes it.
"""

from __future__ import annotations

import os
import pickle
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import checks as C
from harness import median

MB = 1024.0 * 1024.0


class Workload:
    name = ""
    warmup = 1  # untimed warm passes after the cold one
    # timed warm passes even when --seconds has run out: the median of
    # three is robust to one slow pass (a straggler task on 4 cores)
    min_warm = 3

    def __init__(self, spark, d: str, meta: dict, tracer):
        self.spark, self.d, self.meta, self.tr = spark, d, meta, tracer
        self.rows = meta["rows"]

    def path(self, name):
        return os.path.join(self.d, name)

    def read(self, name):
        return self.spark.read.parquet(self.path(name))

    def run_pass(self):
        """One pass; returns the consumed output for ``check``/``digest``."""
        raise NotImplementedError

    def check(self, out) -> list:
        raise NotImplementedError

    def digest(self, out):
        raise NotImplementedError

    def release(self, out):
        """Free what a pass materialized."""

    def layer_metrics(self, passes: list, cold_out) -> dict:
        raise NotImplementedError


def _span_of(pass_span, spans, name):
    return next((s for s in spans if s["parent"] == pass_span["id"] and s["name"] == name), None)


def _call_metrics(passes, spans, name, prefix, keys):
    """Median over traced passes of one layer span's wall time and Spark
    counters, named ``<prefix>.<key>``."""
    got = [_span_of(p, spans, name) for p in passes]
    got = [g for g in got if g is not None]
    pick = {
        "s": lambda s: s["wall_s"],
        "jobs": lambda s: s["total"]["jobs"],
        "stages": lambda s: s["total"]["stages"],
        "tasks": lambda s: s["total"]["tasks"],
        "task_s": lambda s: s["total"]["task_s"],
        "max_task_s": lambda s: s["total"]["max_task_s"],
        "driver_idle_s": lambda s: s["driver_idle_s"],
        "shuffle_write_mb": lambda s: s["total"]["shuffle_write_bytes"] / MB,
        "shuffle_write_records": lambda s: s["total"]["shuffle_write_records"],
        "spill_mb": lambda s: s["total"]["spill_bytes"] / MB,
    }
    return {f"{prefix}{k}": median([pick[k](s) for s in got]) for k in keys}


def _timed(fn, *a, **kw):
    t = time.perf_counter()
    out = fn(*a, **kw)
    return time.perf_counter() - t, out


def zoneindex_metrics(zones, px, py, res):
    """Direct calls on ``ZoneIndex``: build time, pickled (broadcast)
    size, candidates per point, share needing the exact test, probe
    throughput."""
    from osm_chordify_spark.operators.zoneindex import ZoneIndex

    build_s, idx = _timed(ZoneIndex.build, zones, res=res)
    _, (pts, _z, needs) = _timed(idx.candidates_for_points, px, py)
    probe_s = min(_timed(idx.assign_points, px, py)[0] for _ in range(3))
    return {
        "zoneindex.build_s": build_s,
        "zoneindex.index_mb": len(pickle.dumps(idx)) / MB,
        "zoneindex.cands_per_point": len(pts) / len(px),
        "zoneindex.exact_share": float(needs.mean()) if len(needs) else 0.0,
        "zoneindex.probe_pts_per_s": len(px) / probe_s,
    }


# ---------------------------------------------------------------------------


class PagesPip(Workload):
    """Crawl pages → text extraction → geo anchors → cells → zone PIP →
    per-zone rollup."""

    name = "pages_pip"
    # a pass is ~2 s and a few per cent of stolen vCPU time moves one
    # pass by ~15 %: the median of five timed passes
    min_warm = 5
    PIP_RES = 8
    CUT_ROUNDS = 3  # timings per prefix cut in a traced run

    def __init__(self, *a):
        super().__init__(*a)
        z = pq.read_table(self.path("zones.parquet")).to_pydict()
        self.zones = list(zip(z["zone_id"], z["geometry"]))

    def _chain(self, upto: str):
        from osm_chordify_spark.operators import pages as P

        df = P.with_extracted_text_arrow(self.read("pages.parquet"))
        if upto == "extract":
            return df
        df = P.with_cells(P.with_geo_anchors(df))
        if upto == "cells":
            return df
        df = P.pip_assign_arrow(
            df.select("url", "lon", "lat", "cell_r10",
                      (F.col("extracted_text") == F.col("text")).alias("text_match")),
            zones=self.zones, res=self.PIP_RES,
        )
        if upto == "pip":
            return df
        return df.groupBy("zone_id").agg(
            F.count(F.lit(1)).alias("pages"),
            F.sum(F.when(F.col("text_match"), 0).otherwise(1)).alias("mismatches"),
            F.approx_count_distinct("cell_r10").alias("cells"),
        )

    def run_pass(self):
        with self.tr.span("operators.pages"):
            return self._chain("rollup").toPandas()

    def check(self, out):
        return C.check_pages(out, self.meta)

    def digest(self, out):
        return tuple(sorted(zip(out["zone_id"], out["pages"], out["mismatches"])))

    def layer_metrics(self, passes, cold_out):
        # each prefix of the chain runs into a noop sink; the rounds
        # interleave the four prefixes so host drift hits them alike
        times = {upto: [] for upto in ("extract", "cells", "pip", "rollup")}
        for _ in range(self.CUT_ROUNDS):
            for upto, ts in times.items():
                ts.append(_timed(lambda: self._chain(upto).write.format("noop")
                                 .mode("overwrite").save())[0])
        cut = {upto: median(ts) for upto, ts in times.items()}
        m = {
            "pages.extract_s": cut["extract"],
            "cells.tile_s": cut["cells"] - cut["extract"],
            "pages.pip_s": cut["pip"] - cut["cells"],
            "pages.rollup_s": cut["rollup"] - cut["pip"],
            "pages.assigned_share": float(cold_out["pages"].sum()) / self.rows,
        }
        pts = np.load(self.path("sample_pts.npy"))
        m.update(zoneindex_metrics(self.zones, pts[:, 0], pts[:, 1], self.PIP_RES))
        return m


# ---------------------------------------------------------------------------


class TractsDist(Workload):
    """Road polylines × ~10⁴ tract zones through the distributed cell
    equi-join (zones arrive as a DataFrame above the broadcast limit)."""

    name = "tracts_dist"
    INDEX_RES = 10
    COLS = ["edge_osm_id", "zone_zone_id", "zone_link_length_m",
            "edge_link_length_m", "zone_edge_proportion"]

    def _join(self, edges, zones):
        from osm_chordify_spark.operators.intersect import intersect_lines_with_zones

        return intersect_lines_with_zones(edges, zones, keep_geometry=False,
                                          index_res=self.INDEX_RES).select(*self.COLS)

    def run_pass(self):
        with self.tr.span("operators.intersect_dist"):
            return self._join(self.read("edges.parquet"), self.read("zones.parquet")).toPandas()

    def digest(self, out):
        return (len(out), round(float(out["zone_link_length_m"].sum()), 6))

    def check(self, out):
        return C.check_tracts(out, np.load(self.path("edge_len.npy")),
                              np.load(self.path("inside.npy"))) + [self._same_as_broadcast(out)]

    def _same_as_broadcast(self, out):
        """On a zone window and an edge subsample, the dist output is
        hash-identical to the broadcast path (each row depends on one
        edge and one zone only, so the full output restricted to the
        subsample is what the dist path gives for the subsample)."""
        edges = self.read("edges.parquet").filter(F.col("osm_id") % 25 == 0)
        zones = self.read("zones.parquet").filter(
            F.substring("zone_id", 2, 3).cast("int").between(30, 69)
            & F.substring("zone_id", 6, 3).cast("int").between(20, 49))
        bc = self._join(edges, zones).toPandas()  # auto dispatch: the window broadcasts
        window = set(zones.toPandas()["zone_id"])
        dist = out[(out["edge_osm_id"] % 25 == 0) & out["zone_zone_id"].isin(window)]
        return ("tracts.dist_equals_broadcast",
                len(bc) > 0 and C.frame_hash(dist) == C.frame_hash(bc))

    def layer_metrics(self, passes, cold_out):
        from osm_chordify_spark import geom as G
        from osm_chordify_spark import geom_batch as GB
        from osm_chordify_spark.cellindex import WORLD

        spans = self.tr.spans
        m = _call_metrics(passes, spans, "operators.intersect_dist", "intersect_dist.",
                          ["s", "jobs", "tasks", "task_s", "driver_idle_s", "shuffle_write_mb",
                           "shuffle_write_records", "spill_mb"])
        m["intersect_dist.result_rows"] = float(len(cold_out))
        recs = m["intersect_dist.shuffle_write_records"]
        m["intersect_dist.result_per_shuffle_record"] = len(cold_out) / recs if recs else 0.0

        zt = pq.read_table(self.path("zones.parquet")).to_pydict()
        zid_of = {z: k for k, z in enumerate(zt["zone_id"])}
        polys = [G.geometry_polygons(bytes(g)) for g in zt["geometry"][:4000]]
        cover_s, (_zi, cells, full) = _timed(
            GB.zone_cover_cells_batch, polys, self.INDEX_RES, WORLD, 4096)
        m["geom_batch.cover_zones_per_s"] = len(polys) / cover_s
        m["geom_batch.cover_cells_per_zone"] = len(cells) / len(polys)
        m["geom_batch.cover_full_share"] = float(np.mean(full))

        et = pq.read_table(self.path("edges.parquet")).to_pydict()
        pairs = cold_out.iloc[: 20_000]
        ue, ec = np.unique(pairs["edge_osm_id"].to_numpy(), return_inverse=True)
        uz, zc = np.unique(pairs["zone_zone_id"].map(zid_of).to_numpy(), return_inverse=True)
        edge_lines = [G.geometry_lines(bytes(et["geometry"][int(e)])) for e in ue]
        zone_polys = [G.geometry_polygons(bytes(zt["geometry"][int(z)])) for z in uz]
        clip_s = min(_timed(GB.clip_pairs_totals, edge_lines, ec, zone_polys, zc)[0]
                     for _ in range(3))
        m["geom_batch.clip_pairs_per_s"] = len(pairs) / clip_s
        return m


# ---------------------------------------------------------------------------


class OsmPipeline(Workload):
    """Road graph → chordify → broadcast county intersect with piece
    geometry → k-nearest-segment match of GPS points."""

    name = "osm_pipeline"
    # a warm pass is ~12 s of mostly per-job overhead on 4 cores; one
    # timed pass and no warm-up keep the run inside its time budget
    warmup = 0
    min_warm = 1
    KNN_RES = 10
    # the default res 9 makes ZoneIndex.build ~3x slower on 800-vertex
    # counties; res 8 keeps the driver-side build inside the run budget
    INDEX_RES = 8

    def run_pass(self):
        from osm_chordify_spark.operators.graph import chordify
        from osm_chordify_spark.operators.intersect import intersect_lines_with_zones
        from osm_chordify_spark.operators.knn import knn_match_segments

        with self.tr.span("operators.graph"):
            chords = chordify(self.read("edges.parquet")).localCheckpoint(eager=True)
        with self.tr.span("operators.intersect", task_max=True):
            pieces = intersect_lines_with_zones(
                chords, self.read("counties.parquet"), keep_geometry=True,
                index_res=self.INDEX_RES,
            ).localCheckpoint(eager=True)
        with self.tr.span("operators.knn"):
            match = knn_match_segments(self.read("points.parquet"),
                                       self.read("segments.parquet"), k=1,
                                       res=self.KNN_RES).toPandas()
        return chords, pieces, match

    def check(self, out):
        chords, pieces, match = out
        cp = chords.select("osmid", "length", "geometry").toPandas()
        pp = pieces.select("edge_osmid", "geometry", "zone_link_length_m").toPandas()
        points = pd.read_parquet(self.path("points.parquet"))
        segs = pd.read_parquet(self.path("segments.parquet"))
        sample = np.random.default_rng(0).choice(len(points), 400, replace=False)
        sample = np.union1d(sample, np.arange(len(points) - self.meta["far_points"], len(points)))
        self.piece_mb = float(pp["geometry"].map(len).sum()) / MB
        self.piece_rows, self.chord_rows = len(pp), len(cp)
        return (C.check_chords(cp, self.meta) + C.check_pieces(pp, cp)
                + C.check_knn(match, points, segs, sample))

    def digest(self, out):
        chords, pieces, match = out
        return (chords.count(), pieces.count(), len(match), round(float(match["dist"].sum()), 9))

    def release(self, out):
        out[0].unpersist()
        out[1].unpersist()

    def layer_metrics(self, passes, cold_out):
        spans = self.tr.spans
        m = _call_metrics(passes, spans, "operators.graph", "graph.chordify_",
                          ["s", "jobs", "stages", "driver_idle_s", "shuffle_write_mb"])
        m["graph.chords_per_edge"] = self.chord_rows / self.rows
        m.update(_call_metrics(passes, spans, "operators.intersect", "intersect.",
                               ["s", "task_s", "max_task_s"]))
        m["intersect.result_rows"] = float(self.piece_rows)
        m["intersect.piece_mb"] = self.piece_mb
        m.update(_call_metrics(passes, spans, "operators.knn", "knn.",
                               ["s", "jobs", "driver_idle_s", "shuffle_write_mb"]))
        c = pq.read_table(self.path("counties.parquet")).to_pydict()
        pts = pd.read_parquet(self.path("points.parquet"))
        m.update(zoneindex_metrics(list(zip(c["county_id"], c["geometry"])),
                                   pts["x"].to_numpy(), pts["y"].to_numpy(), self.INDEX_RES))
        return m


WORKLOADS = {w.name: w for w in (PagesPip, TractsDist, OsmPipeline)}
