"""Raster ↔ vector operators over a tiled raster model.

The north-star scope names "raster↔vector" alongside the cell index,
PIP and kNN; the reference itself stays vector-only (GeoPandas frames,
reference: src/osm_chordify/osm/intersect.py — no raster path), so this
family is a beyond-reference Spark-first design rather than a port.

**Raster model.** A raster is a DataFrame of fixed-size tiles::

    (tile_x: long, tile_y: long, data: array<double>)

over a :class:`GridSpec` (origin, cell size, tile side T).  ``data`` is
row-major: index ``i`` holds cell ``(cx, cy)`` with
``cx = tile_x*T + i % T``, ``cy = tile_y*T + i // T``.  Cell value
``0.0`` is the no-data convention (absent tiles are implicitly zero).
Tiles are the unit of distribution: a continental 10 m raster is
billions of cells but only millions of 64×64 tiles, each an ~32 KB
Arrow array — partition counts stay sane, per-task work stays
vectorizable, and no single row approaches the 2 GB array limit.

Scale notes per operator:

* ``rasterize_points`` — one hash shuffle on (cx, cy) with map-side
  partial aggregation, then one on (tile_x, tile_y); tile assembly is
  a JVM-side ``map_from_entries`` + ``transform`` (no Python).
* ``zonal_stats`` — per-tile partial aggregates inside one Arrow batch
  kernel (broadcast cell→zone index, same one the PIP join uses), then
  a tiny final groupBy on zone id: the classic two-phase aggregate, so
  the shuffle carries O(zones × tiles) rows, never O(cells).
* ``vectorize_regions`` — two-phase connected-component labeling
  (tile-local union-find in NumPy, then a global label-graph CC via
  ``graph.connected_components`` over only the tile-border
  adjacencies).  The label graph is orders of magnitude smaller than
  the cell set, which is what makes region extraction feasible at
  lake scale.
* ``focal_stats`` — scatter-gather: present cells explode to their
  (2r+1)² targets, one map-side-combined aggregate; sparse-optimal.
* ``zonal_stats_dist`` — the non-broadcastable-zones path (DataFrame
  zone table → cell equi-join + salted exact refinement).
* ``sample_raster`` — point sampling (nearest/bilinear) as plain hash
  equi-joins; the raster is the big side, never broadcast.
* interchange: ``sources/geotiff.py`` writes/reads the tiles as a tiled
  single-band GeoTIFF (TIFF tiles = Spark tiles, 1:1).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from osm_chordify_spark import geom as G
from osm_chordify_spark.functions import materialize as MZ
from osm_chordify_spark.operators.zoneindex import ZoneIndex

# global cell ids (for region labels) encode (gx, gy) in one int64;
# |cell index| must stay below 2**29 — at 1 m cells that is a grid
# half-width of ~536,000 km, far beyond any earth raster.
_OFF = 1 << 29
_SPAN = 1 << 30


def _encode_cell(gx, gy):
    return (np.asarray(gy, dtype=np.int64) + _OFF) * _SPAN + (
        np.asarray(gx, dtype=np.int64) + _OFF
    )


@dataclass(frozen=True)
class GridSpec:
    """Origin-anchored regular grid: cell (cx, cy) covers the half-open
    box [x0 + cx*dx, x0 + (cx+1)*dx) × [y0 + cy*dy, y0 + (cy+1)*dy)."""

    x0: float
    y0: float
    dx: float
    dy: float
    tile: int = 64

    def cell_x(self, col) -> F.Column:
        return F.floor((col - F.lit(float(self.x0))) / F.lit(float(self.dx))).cast(
            "long"
        )

    def cell_y(self, col) -> F.Column:
        return F.floor((col - F.lit(float(self.y0))) / F.lit(float(self.dy))).cast(
            "long"
        )

    def center_x(self, cx):
        """Cell-center x for NumPy cx arrays."""
        return self.x0 + (np.asarray(cx, dtype=np.float64) + 0.5) * self.dx

    def center_y(self, cy):
        return self.y0 + (np.asarray(cy, dtype=np.float64) + 0.5) * self.dy

    def coarsen(self, factor: int) -> "GridSpec":
        return GridSpec(self.x0, self.y0, self.dx * factor, self.dy * factor, self.tile)


TILE_SCHEMA_FIELDS = [
    StructField("tile_x", LongType(), False),
    StructField("tile_y", LongType(), False),
    StructField("data", ArrayType(DoubleType()), False),
]


_STATS = {
    "count": lambda c: F.count(F.lit(1)),
    "sum": lambda c: F.sum(c),
    "mean": lambda c: F.avg(c),
    "min": lambda c: F.min(c),
    "max": lambda c: F.max(c),
}


def _assemble_tiles(cells: DataFrame, T: int) -> DataFrame:
    """(cx, cy, v) → tiles.  JVM-only: map_from_entries + transform keep
    the 4096-slot array build out of Python entirely."""
    m = (
        cells.withColumn("tile_x", F.floor(F.col("cx") / F.lit(T)).cast("long"))
        .withColumn("tile_y", F.floor(F.col("cy") / F.lit(T)).cast("long"))
        .withColumn(
            "idx",
            (F.pmod(F.col("cy"), F.lit(T)) * T + F.pmod(F.col("cx"), F.lit(T))).cast(
                "int"
            ),
        )
        .groupBy("tile_x", "tile_y")
        .agg(F.map_from_entries(F.collect_list(F.struct("idx", "v"))).alias("m"))
    )
    return m.select(
        "tile_x",
        "tile_y",
        F.transform(
            F.sequence(F.lit(0), F.lit(T * T - 1)),
            lambda i: F.coalesce(F.col("m")[i], F.lit(0.0)),
        ).alias("data"),
    )


def rasterize_points(
    df: DataFrame,
    grid: GridSpec,
    x_col: str = "x",
    y_col: str = "y",
    value_col: str | None = None,
    stat: str = "count",
) -> DataFrame:
    """Bin points into raster tiles (vector → raster).

    ``stat`` ∈ count/sum/mean/min/max over ``value_col`` per cell
    (count ignores ``value_col``).  Two-phase: the (cx, cy) groupBy gets
    Spark's map-side partial aggregation for free, so dense cells
    (mega-cell skew) never concentrate raw rows on one reducer."""
    if stat not in _STATS:
        raise ValueError(f"stat must be one of {sorted(_STATS)}")
    if stat != "count" and value_col is None:
        raise ValueError(f"stat={stat!r} requires value_col")
    vcol = F.col(value_col) if value_col else None
    cells = df.select(
        grid.cell_x(F.col(x_col)).alias("cx"),
        grid.cell_y(F.col(y_col)).alias("cy"),
        *( [vcol.alias("val")] if value_col else [] ),
    )
    per_cell = cells.groupBy("cx", "cy").agg(
        _STATS[stat](F.col("val") if value_col else None).cast("double").alias("v")
    )
    return _assemble_tiles(per_cell, grid.tile)


def raster_cells(tiles: DataFrame, grid: GridSpec, drop_zero: bool = True) -> DataFrame:
    """Tiles → long format (cell_x, cell_y, value): the raster→vector
    "unpivot".  Pure column arithmetic (posexplode), no Python."""
    T = grid.tile
    e = tiles.select(
        "tile_x", "tile_y", F.posexplode("data").alias("idx", "value")
    )
    if drop_zero:
        e = e.filter(F.col("value") != 0.0)
    return e.select(
        (F.col("tile_x") * T + F.col("idx") % T).alias("cell_x"),
        (F.col("tile_y") * T + F.floor(F.col("idx") / F.lit(T)).cast("long")).alias(
            "cell_y"
        ),
        "value",
    )


def _fold_cells(cells: DataFrame, stat: str, T: int) -> DataFrame:
    """Shared (cx, cy, val) → aggregate → tiles fold used by resample,
    regrid and raster_merge — one place owns the stat cast convention."""
    per_cell = cells.groupBy("cx", "cy").agg(
        _STATS[stat](F.col("val")).cast("double").alias("v")
    )
    return _assemble_tiles(per_cell, T)


def resample(tiles: DataFrame, grid: GridSpec, factor: int, stat: str = "sum"):
    """Coarsen the raster by an integer factor (raster → raster).

    Aggregates only *present* (non-zero) cells — absent tiles contribute
    nothing, matching the no-data convention.  Returns (tiles', grid')."""
    if factor < 1:
        raise ValueError("factor must be >= 1")
    cells = raster_cells(tiles, grid, drop_zero=True)
    coarse = cells.select(
        F.floor(F.col("cell_x") / F.lit(factor)).cast("long").alias("cx"),
        F.floor(F.col("cell_y") / F.lit(factor)).cast("long").alias("cy"),
        F.col("value").alias("val"),
    )
    return _fold_cells(coarse, stat, grid.tile), grid.coarsen(factor)


# ---------------------------------------------------------------------------
# raster × vector: zonal statistics


def zonal_stats(
    tiles: DataFrame,
    grid: GridSpec,
    zones,
    res: int = 7,
    include_zero: bool = False,
) -> DataFrame:
    """Per-zone aggregate of raster cell values whose cell CENTERS fall
    inside the zone polygon (the standard zonal-statistics contract) —
    (zone_id, n_cells, sum_value, min_value, max_value, mean_value).

    The cell→zone-candidate index is broadcast (same ZoneIndex as the
    PIP join); each Arrow batch of tiles emits at most one partial row
    per zone, so the final shuffle is O(zones × batches)."""
    index = ZoneIndex.build(zones, res=res)
    spark = tiles.sparkSession
    bidx = spark.sparkContext.broadcast(index)
    T = grid.tile

    part_schema = StructType(
        [
            StructField("zone_id", StringType(), False),
            StructField("n", LongType(), False),
            StructField("s", DoubleType(), False),
            StructField("mn", DoubleType(), False),
            StructField("mx", DoubleType(), False),
        ]
    )

    def partials(batches):
        idx = bidx.value
        zone_ids = np.asarray(idx.zone_ids, dtype=object)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            gxs, gys, vals = [], [], []
            for tx, ty, data in zip(pdf["tile_x"], pdf["tile_y"], pdf["data"]):
                a = np.asarray(data, dtype=np.float64)
                sel = np.arange(T * T) if include_zero else np.nonzero(a != 0.0)[0]
                if len(sel) == 0:
                    continue
                gxs.append(int(tx) * T + sel % T)
                gys.append(int(ty) * T + sel // T)
                vals.append(a[sel])
            if not gxs:
                continue
            gx = np.concatenate(gxs)
            gy = np.concatenate(gys)
            v = np.concatenate(vals)
            pts, zs = idx.assign_points(grid.center_x(gx), grid.center_y(gy))
            if len(pts) == 0:
                continue
            gb = (
                pd.DataFrame({"z": zs, "v": v[pts]})
                .groupby("z")["v"]
                .agg(n="count", s="sum", mn="min", mx="max")
                .reset_index()
            )
            yield pd.DataFrame(
                {
                    "zone_id": zone_ids[gb["z"].to_numpy()],
                    "n": gb["n"].astype(np.int64),
                    "s": gb["s"].astype(np.float64),
                    "mn": gb["mn"].astype(np.float64),
                    "mx": gb["mx"].astype(np.float64),
                }
            )

    return (
        tiles.mapInPandas(partials, schema=part_schema)
        .groupBy("zone_id")
        .agg(
            F.sum("n").alias("n_cells"),
            F.sum("s").alias("sum_value"),
            F.min("mn").alias("min_value"),
            F.max("mx").alias("max_value"),
            (F.sum("s") / F.sum("n")).alias("mean_value"),
        )
    )


# ---------------------------------------------------------------------------
# vector → raster: burn zones


def rasterize_zones(
    spark: SparkSession,
    zones,
    grid: GridSpec,
    bounds=None,
    res: int = 7,
) -> DataFrame:
    """Burn zone polygons into a raster (vector → raster): each cell
    whose center is inside a zone gets ``ordinal + 1`` (0 = no zone;
    overlaps resolve to the smallest ordinal, deterministically).

    Tiles are enumerated with ``spark.range`` over the bbox cover and
    rendered in an Arrow kernel against the broadcast index — the
    raster never exists driver-side."""
    index = ZoneIndex.build(zones, res=res)
    if bounds is None:
        xs, ys = [], []
        for polys in index.zone_rings:
            for rings in polys:
                x0, y0, x1, y1 = G.polygon_bbox(rings)
                xs += [x0, x1]
                ys += [y0, y1]
        bounds = (min(xs), min(ys), max(xs), max(ys))
    T = grid.tile
    tx0 = int(np.floor((bounds[0] - grid.x0) / grid.dx)) // T
    ty0 = int(np.floor((bounds[1] - grid.y0) / grid.dy)) // T
    # half-open upper edge: a bound exactly on a cell line owns no cell above it
    tx1 = int(np.ceil((bounds[2] - grid.x0) / grid.dx - 1)) // T
    ty1 = int(np.ceil((bounds[3] - grid.y0) / grid.dy - 1)) // T
    ntx = tx1 - tx0 + 1
    nty = ty1 - ty0 + 1
    bidx = spark.sparkContext.broadcast(index)

    grid_df = spark.range(ntx * nty).select(
        (F.lit(tx0) + F.col("id") % ntx).alias("tile_x"),
        (F.lit(ty0) + F.floor(F.col("id") / F.lit(ntx)).cast("long")).alias("tile_y"),
    )

    out_schema = StructType(TILE_SCHEMA_FIELDS)

    def render(batches):
        idx = bidx.value
        off = np.arange(T * T)
        oxs = off % T
        oys = off // T
        for pdf in batches:
            rows = []
            for tx, ty in zip(pdf["tile_x"], pdf["tile_y"]):
                gx = int(tx) * T + oxs
                gy = int(ty) * T + oys
                pts, zs = idx.assign_points(grid.center_x(gx), grid.center_y(gy))
                if len(pts) == 0:
                    continue
                a = np.zeros(T * T, dtype=np.float64)
                # overlaps → smallest ordinal wins: apply in descending order
                order = np.argsort(-zs, kind="stable")
                a[pts[order]] = zs[order] + 1.0
                rows.append((int(tx), int(ty), a))
            if rows:
                yield pd.DataFrame(rows, columns=["tile_x", "tile_y", "data"])

    return grid_df.mapInPandas(render, schema=out_schema)


# ---------------------------------------------------------------------------
# raster → vector: region extraction (distributed connected components)


def _tile_kernel(T: int):
    """Per-tile labeling kernel → unified row set:

    kind 0: region stats   (label, value, n, a=min_cx, b=min_cy, c=max_cx, d=max_cy)
    kind 1: border cell    (label, value, a=gx, b=gy)
    kind 2: boundary side  (label, value, a=sx, b=sy, c=ex, d=ey)  corner coords

    Labels are globally unique: the encoded id of each local root cell."""

    def label_tile(tx: int, ty: int, a: np.ndarray, want_sides: bool):
        grid2 = a.reshape(T, T)  # [row=cy offset, col=cx offset]
        mask = grid2 != 0.0
        n_cells = int(mask.sum())
        if n_cells == 0:
            return None
        parent = np.arange(T * T, dtype=np.int64)

        def find(i):
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        # neighbor merge pairs (4-connected, equal value)
        hm = mask[:, 1:] & mask[:, :-1] & (grid2[:, 1:] == grid2[:, :-1])
        vm = mask[1:, :] & mask[:-1, :] & (grid2[1:, :] == grid2[:-1, :])
        ry, rxp = np.nonzero(hm)
        for i, j in zip(ry * T + rxp, ry * T + rxp + 1):
            ri, rj = find(i), find(j)
            if ri != rj:
                parent[max(ri, rj)] = min(ri, rj)
        ryp, rx = np.nonzero(vm)
        for i, j in zip(ryp * T + rx, (ryp + 1) * T + rx):
            ri, rj = find(i), find(j)
            if ri != rj:
                parent[max(ri, rj)] = min(ri, rj)

        lin = np.nonzero(mask.ravel())[0]
        roots = np.array([find(i) for i in lin], dtype=np.int64)
        oxs = lin % T
        oys = lin // T
        gx = tx * T + oxs
        gy = ty * T + oys
        glabel = _encode_cell(tx * T + roots % T, ty * T + roots // T)
        vals = grid2.ravel()[lin]

        df = pd.DataFrame({"label": glabel, "value": vals, "gx": gx, "gy": gy})
        stats = (
            df.groupby(["label", "value"], sort=False)
            .agg(n=("gx", "size"), a=("gx", "min"), b=("gy", "min"),
                 c=("gx", "max"), d=("gy", "max"))
            .reset_index()
        )
        stats.insert(0, "kind", 0)

        on_border = (oxs == 0) | (oxs == T - 1) | (oys == 0) | (oys == T - 1)
        borders = df.loc[on_border, ["label", "value", "gx", "gy"]].rename(
            columns={"gx": "a", "gy": "b"}
        )
        borders.insert(0, "kind", 1)
        borders["c"] = 0
        borders["d"] = 0
        borders["n"] = 0
        stats["c"] = stats["c"].astype(np.int64)
        stats["d"] = stats["d"].astype(np.int64)

        frames = [stats[["kind", "label", "value", "n", "a", "b", "c", "d"]],
                  borders[["kind", "label", "value", "n", "a", "b", "c", "d"]]]

        if want_sides:
            # emit a cell side when the in-tile neighbor differs (definite
            # boundary) or the neighbor is outside the tile (resolved later
            # by cross-tile cancellation of duplicated shared sides)
            segs = []
            same = np.zeros((4, T, T), dtype=bool)  # W, E, S, N same-region?
            same[0, :, 1:] = hm
            same[1, :, :-1] = hm
            same[2, 1:, :] = vm
            same[3, :-1, :] = vm
            # np.nonzero(mask) and lin = np.nonzero(mask.ravel()) share
            # C row-major order, so glabel/vals are already aligned
            oy2, ox2 = np.nonzero(mask)
            cgx = tx * T + ox2
            cgy = ty * T + oy2
            lbl = glabel
            cval = vals
            # CCW sides: S (x,y)->(x+1,y), E, N, W
            sides = [
                (~same[2, oy2, ox2], cgx, cgy, cgx + 1, cgy),
                (~same[1, oy2, ox2], cgx + 1, cgy, cgx + 1, cgy + 1),
                (~same[3, oy2, ox2], cgx + 1, cgy + 1, cgx, cgy + 1),
                (~same[0, oy2, ox2], cgx, cgy + 1, cgx, cgy),
            ]
            for keep, sx, sy, ex, ey in sides:
                k = np.nonzero(keep)[0]
                if len(k):
                    segs.append(
                        pd.DataFrame(
                            {
                                "kind": 2,
                                "label": lbl[k],
                                "value": cval[k],
                                "n": 0,
                                "a": sx[k],
                                "b": sy[k],
                                "c": ex[k],
                                "d": ey[k],
                            }
                        )
                    )
            frames.extend(segs)
        return pd.concat(frames, ignore_index=True)

    return label_tile


_ROWS_SCHEMA = StructType(
    [
        StructField("kind", LongType(), False),
        StructField("label", LongType(), False),
        StructField("value", DoubleType(), False),
        StructField("n", LongType(), False),
        StructField("a", LongType(), False),
        StructField("b", LongType(), False),
        StructField("c", LongType(), False),
        StructField("d", LongType(), False),
    ]
)


def _stitch_rings(segs: np.ndarray):
    """Directed rectilinear segments (sx, sy, ex, ey) → oriented rings.
    Interior shared sides have already cancelled; what remains is a set
    of closed loops (CCW outer, CW holes by construction)."""
    start = {}
    for i in range(len(segs)):
        start.setdefault((segs[i, 0], segs[i, 1]), []).append(i)
    used = np.zeros(len(segs), dtype=bool)
    rings = []
    for s in range(len(segs)):
        if used[s]:
            continue
        ring = [(segs[s, 0], segs[s, 1])]
        cur = s
        used[s] = True
        while True:
            nxt_pt = (segs[cur, 2], segs[cur, 3])
            if nxt_pt == ring[0]:
                break
            ring.append(nxt_pt)
            cands = [i for i in start.get(nxt_pt, []) if not used[i]]
            if not cands:  # defensive: open chain (shouldn't happen)
                break
            # prefer continuing straight, else first unused — any choice
            # yields a valid decomposition into simple loops
            cur = cands[0]
            used[cur] = True
        # drop collinear midpoints
        out = []
        m = len(ring)
        for k in range(m):
            p0, p1, p2 = ring[k - 1], ring[k], ring[(k + 1) % m]
            if (p1[0] - p0[0]) * (p2[1] - p1[1]) != (p1[1] - p0[1]) * (p2[0] - p1[0]):
                out.append(p1)
        if len(out) >= 3:
            rings.append(np.asarray(out, dtype=np.float64))
    return rings


def _label_components(edges: DataFrame, distributed_cc, max_local: int = 2_000_000):
    """(src, dst) label pairs → (id, component): driver union-find when
    the edge list is small, else the distributed pointer-doubled CC."""
    local = edges.limit(max_local + 1).toPandas()
    if len(local) > max_local:
        return distributed_cc(edges)
    spark = edges.sparkSession
    if len(local) == 0:
        return spark.createDataFrame([], schema="id long, component long")
    parent: dict = {}

    def find(i):
        root = i
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(i, i) != i:
            parent[i], i = root, parent[i]
        return root

    for s, d in zip(local["src"], local["dst"]):
        rs, rd = find(int(s)), find(int(d))
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
    ids = sorted({int(v) for v in local["src"]} | {int(v) for v in local["dst"]})
    return spark.createDataFrame(
        pd.DataFrame({"id": ids, "component": [find(i) for i in ids]})
    )


def vectorize_regions(
    tiles: DataFrame,
    grid: GridSpec,
    boundary: bool = False,
    max_boundary_cells: int = 1_000_000,
) -> DataFrame:
    """Extract 4-connected constant-value regions (raster → vector).

    Returns one row per region: (region_id, value, n_cells, area,
    min_cell_x, min_cell_y, max_cell_x, max_cell_y[, geometry WKB]).

    Two-phase distributed labeling: tile-local union-find, then a
    global CC over the cross-tile border-adjacency label graph (reuses
    ``graph.connected_components``, the same pointer-doubled loop that
    powers chordify).  With ``boundary=True`` each region also gets an
    exact rectilinear boundary polygon (holes included) via cell-side
    cancellation + ring stitching — sides are emitted per cell, so the
    option is guarded by ``max_boundary_cells`` on the largest region."""
    from osm_chordify_spark.operators.graph import connected_components

    T = grid.tile
    kernel = _tile_kernel(T)

    def run(batches):
        for pdf in batches:
            out = []
            for tx, ty, data in zip(pdf["tile_x"], pdf["tile_y"], pdf["data"]):
                r = kernel(int(tx), int(ty), np.asarray(data, dtype=np.float64),
                           boundary)
                if r is not None:
                    out.append(r)
            if out:
                yield pd.concat(out, ignore_index=True)

    # materialize the kernel output once; stats/borders/sides all re-read
    # it, and the border self-joins plan on its measured size
    rows, _ = MZ.materialize(tiles.mapInPandas(run, schema=_ROWS_SCHEMA))

    stats = rows.filter(F.col("kind") == 0)
    borders = rows.filter(F.col("kind") == 1).select(
        "label", "value", F.col("a").alias("gx"), F.col("b").alias("gy")
    )

    # cross-tile adjacency: east + north neighbors among border cells.
    # Same-tile neighbors merged locally, so only pairs straddling a tile
    # line survive the label != label filter.
    right = borders.select(
        (F.col("gx") + 1).alias("gx"), "gy", "value", F.col("label").alias("lb")
    )
    up = borders.select(
        "gx", (F.col("gy") + 1).alias("gy"), "value", F.col("label").alias("lb")
    )
    edges = (
        borders.join(right, ["gx", "gy", "value"])
        .select(F.col("label").alias("src"), F.col("lb").alias("dst"))
        .union(
            borders.join(up, ["gx", "gy", "value"]).select(
                F.col("label").alias("src"), F.col("lb").alias("dst")
            )
        )
        .filter(F.col("src") != F.col("dst"))
    )

    # The label graph is tiny relative to the cell set (one node per
    # tile-local region, edges only where regions straddle a tile line).
    # Below a threshold, a driver-side union-find beats the iterative
    # distributed CC's per-round job overhead by ~10×; above it, fall
    # through to the pointer-doubled loop.  Same dispatch philosophy as
    # broadcast-vs-shuffle joins.
    comp = _label_components(edges, connected_components)
    resolved = stats.join(comp, stats["label"] == comp["id"], "left").select(
        F.coalesce(comp["component"], stats["label"]).alias("region_id"),
        "value",
        "n",
        "a",
        "b",
        "c",
        "d",
    )
    regions = resolved.groupBy("region_id", "value").agg(
        F.sum("n").alias("n_cells"),
        (F.sum("n") * float(grid.dx * grid.dy)).alias("area"),
        F.min("a").alias("min_cell_x"),
        F.min("b").alias("min_cell_y"),
        F.max("c").alias("max_cell_x"),
        F.max("d").alias("max_cell_y"),
    )
    if not boundary:
        return MZ.checkpoint(
            regions.withColumn("region_id", F.col("region_id").cast("long"))
        )[0]

    sides = (
        rows.filter(F.col("kind") == 2)
        .join(comp, F.col("label") == comp["id"], "left")
        .select(
            F.coalesce(comp["component"], F.col("label")).alias("region_id"),
            "a",
            "b",
            "c",
            "d",
        )
    )
    # cancel shared sides duplicated across a tile line: a side between two
    # same-region cells appears once per cell with opposite directions
    canon = sides.select(
        "region_id",
        F.least(
            F.col("a") * _SPAN + F.col("b"), F.col("c") * _SPAN + F.col("d")
        ).alias("k1"),
        F.greatest(
            F.col("a") * _SPAN + F.col("b"), F.col("c") * _SPAN + F.col("d")
        ).alias("k2"),
        "a",
        "b",
        "c",
        "d",
    )
    kept = (
        canon.groupBy("region_id", "k1", "k2")
        .agg(F.count(F.lit(1)).alias("cnt"), F.first("a").alias("a"),
             F.first("b").alias("b"), F.first("c").alias("c"),
             F.first("d").alias("d"))
        .filter(F.col("cnt") == 1)
        .select("region_id", "a", "b", "c", "d")
    )

    geom_schema = StructType(
        [
            StructField("region_id", LongType(), False),
            StructField("geometry", BinaryType(), True),
        ]
    )

    gx0, gy0, gdx, gdy = grid.x0, grid.y0, grid.dx, grid.dy

    def trace(key, pdf):
        if len(pdf) > 4 * max_boundary_cells:
            raise ValueError(
                f"region {key[0]} boundary has {len(pdf)} sides; raise "
                "max_boundary_cells or use boundary=False"
            )
        segs = pdf[["a", "b", "c", "d"]].to_numpy(dtype=np.int64)
        rings = _stitch_rings(segs)
        if not rings:
            return pd.DataFrame({"region_id": [key[0]], "geometry": [None]})
        world = []
        for r in rings:
            w = np.empty_like(r)
            w[:, 0] = gx0 + r[:, 0] * gdx
            w[:, 1] = gy0 + r[:, 1] * gdy
            world.append(w)
        # outer = largest |area| ring first; holes after
        world.sort(key=lambda rr: -abs(G.shoelace_area(rr)))
        return pd.DataFrame(
            {"region_id": [key[0]], "geometry": [G.wkb_polygon(world)]}
        )

    geoms = kept.groupBy("region_id").applyInPandas(trace, schema=geom_schema)
    return MZ.checkpoint(
        regions.withColumn("region_id", F.col("region_id").cast("long"))
        .join(geoms, "region_id", "left")
    )[0]


def focal_stats(
    tiles: DataFrame,
    grid: GridSpec,
    radius: int = 1,
    stat: str = "sum",
) -> DataFrame:
    """Focal (neighborhood) statistics — map algebra's fourth quadrant
    next to local (resample), zonal (zonal_stats) and global
    (vectorize_regions): each output cell aggregates the PRESENT input
    cells within Chebyshev radius ``radius`` (mean divides by present
    neighbors, the sparse-raster convention).

    Scatter-gather shape, fully codegen: every non-zero cell explodes
    to its (2r+1)² contribution targets (two sequence-explodes), one
    hash aggregate with map-side combine collapses them, and the
    standard tile assembly re-tiles.  For SPARSE rasters this beats
    halo exchange outright — shuffle volume is (2r+1)² × non-zero
    cells, zero for empty space; for fully dense rasters a halo-join
    variant would move ~(1 + 4r/T)× the data instead, a tradeoff worth
    revisiting only if dense float rasters become a workload."""
    if radius < 1:
        raise ValueError("radius must be >= 1")
    if stat not in _STATS:
        raise ValueError(f"stat must be one of {sorted(_STATS)}")
    cells = raster_cells(tiles, grid, drop_zero=True)
    span = F.sequence(F.lit(-radius), F.lit(radius))
    contrib = (
        cells.select(
            "cell_x", "cell_y", "value", F.explode(span).alias("dx")
        )
        .select(
            (F.col("cell_x") + F.col("dx")).alias("cx"),
            "cell_y",
            "value",
            F.explode(span).alias("dy"),
        )
        .select("cx", (F.col("cell_y") + F.col("dy")).alias("cy"), F.col("value").alias("val"))
    )
    per_cell = contrib.groupBy("cx", "cy").agg(
        _STATS[stat](F.col("val")).cast("double").alias("v")
    )
    return _assemble_tiles(per_cell, grid.tile)


# ---------------------------------------------------------------------------
# raster × vector at census-tract zone scale: the non-broadcastable path


def zonal_stats_dist(
    tiles: DataFrame,
    grid: GridSpec,
    zones_df: DataFrame,
    zone_id_col: str = "zone_id",
    geometry_col: str = "geometry",
    res: int = 7,
    world=None,
    max_cells_per_zone: int = 4096,
) -> DataFrame:
    """``zonal_stats`` over a DataFrame zone table too large to
    broadcast (the same dispatch story as
    ``intersect_dist.intersect_lines_with_zones_dist``): zones explode
    to (cell, zone, full) rows via the SAME ``zone_cover_cells``
    classification the broadcast index uses, raster cell centers map to
    index cells in pure codegen, candidates come from a cell equi-join,
    full cells skip the exact test, and only partial-cell candidates
    flow through a batched winding-number kernel.  Same output contract
    as ``zonal_stats`` — parity is pinned in pytest."""
    from osm_chordify_spark import cellindex as ci

    if world is None:
        world = ci.WORLD
    from osm_chordify_spark.functions.cells import cell_expr
    from osm_chordify_spark.operators import zoneindex as ZI

    zindexed = zones_df.select(
        F.monotonically_increasing_id().alias("__zid"),
        F.col(zone_id_col).alias("zone_id"),
        F.col(geometry_col).alias("__zgeom"),
    ).localCheckpoint(eager=False)

    # mixed-resolution covers (round 4): each zone's cover lives at its
    # own over-cover-guarded resolution — the same per-zone
    # classification ZoneIndex.build uses, so one continental zone no
    # longer coarsens every tract's cover
    def zone_cells(batches):
        # batched cover classification (geom_batch): one set of NumPy
        # passes per Arrow batch instead of ~0.3 ms/zone of small-array
        # dispatch — content-identical per-zone {cell: full} maps
        from osm_chordify_spark import geom_batch as GB

        for pdf in batches:
            polys_list = [G.geometry_polygons(bytes(g)) for g in pdf["__zgeom"]]
            zidx, cells, fulls = GB.zone_cover_cells_batch(
                polys_list, res, world, max_cells_per_zone
            )
            yield pd.DataFrame(
                {
                    "__zid": pdf["__zid"].to_numpy()[zidx],
                    "__icell": pd.Series(cells, dtype="int64"),
                    "full": pd.Series(fulls, dtype="bool"),
                }
            )

    zcells = zindexed.select("__zid", "__zgeom").mapInPandas(
        zone_cells, schema="__zid long, __icell long, full boolean"
    ).localCheckpoint(eager=False)
    from osm_chordify_spark.operators.intersect_dist import _parse_once, _zone_cover_stats

    res_list = _zone_cover_stats(zcells, "__icell")[0] or [res]

    # raster cells → index cell of the CENTER at each occupied
    # resolution, all codegen (a point matches a zone through exactly
    # one resolution, so the explode introduces no duplicate candidates)
    cells = raster_cells(tiles, grid, drop_zero=True)
    centers = cells.select(
        "value",
        (F.lit(grid.x0) + (F.col("cell_x") + F.lit(0.5)) * grid.dx).alias("__cx"),
        (F.lit(grid.y0) + (F.col("cell_y") + F.lit(0.5)) * grid.dy).alias("__cy"),
    ).withColumn(
        "__icell",
        F.explode(F.array(*[
            cell_expr(F.col("__cx"), F.col("__cy"), rr, world) for rr in res_list
        ])),
    )

    cand = centers.join(zcells, "__icell")
    accepted_full = cand.filter(F.col("full")).select("__zid", "value")

    partial = cand.filter(~F.col("full")).join(
        zindexed.select("__zid", "__zgeom"), "__zid"
    )
    part_schema = StructType(
        [
            StructField("__zid", LongType(), False),
            StructField("value", DoubleType(), False),
        ]
    )

    def refine_many(pdf: pd.DataFrame) -> pd.DataFrame:
        """Whole-group winding refinement: every (cell-center, zone) pair
        of the Arrow group in one geom_batch pass (each distinct zone's
        WKB parsed once) — inside flags bit-identical to the old
        per-zone point_in_polygon loop."""
        from osm_chordify_spark import geom_batch as GB

        zone_polys, inv = _parse_once(
            pdf["__zid"].to_numpy(), pdf["__zgeom"].to_numpy(), G.geometry_polygons
        )
        inside = GB.FlatZones(zone_polys).inside_points(
            inv,
            pdf["__cx"].to_numpy(np.float64),
            pdf["__cy"].to_numpy(np.float64),
        )
        # slicing keeps int64/float64 dtypes even when empty (an empty
        # literal dict would arrive as object columns and break Arrow)
        return pdf.loc[inside, ["__zid", "value"]]

    # (cell, zone) pairs are independent under the batched kernel — no
    # regroup exchange at all (intersect_dist._map_batches rationale)
    from osm_chordify_spark.operators.intersect_dist import _map_batches

    refined = _map_batches(partial, refine_many, part_schema)

    accepted = accepted_full.unionByName(refined.select("__zid", "value"))
    return (
        accepted.groupBy("__zid")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("value").alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            (F.sum("value") / F.count(F.lit(1))).alias("mean_value"),
        )
        .join(zindexed.select("__zid", "zone_id"), "__zid")
        .select("zone_id", "n_cells", "sum_value", "min_value", "max_value", "mean_value")
    )


def sample_raster(
    points: DataFrame,
    tiles: DataFrame,
    grid: GridSpec,
    x_col: str = "x",
    y_col: str = "y",
    method: str = "nearest",
    out_col: str = "sampled",
) -> DataFrame:
    """Sample the raster at point locations (raster × vector): each
    point gets the value of its cell (``nearest``) or the bilinear
    interpolation of the 4 surrounding cell CENTERS (``bilinear``;
    absent cells contribute 0, the no-data convention).

    Pure relational: points join the long-format cell table on cell id
    — one hash equi-join for nearest, one 4-way explode + equi-join +
    weighted aggregate for bilinear.  No Python, no broadcast of the
    raster (the raster is the big side; Catalyst/AQE pick the join
    strategy), so a 10^12-point table samples a continental raster with
    exactly one shuffle.

    Bilinear re-aggregates by ALL point columns, so point rows must be
    unique (give duplicates a distinct id column first).  Internal join
    keys are namespaced — user columns named ``value``/``cell_x``/… pass
    through untouched; only ``out_col`` may not already exist."""
    if method not in ("nearest", "bilinear"):
        raise ValueError("method must be 'nearest' or 'bilinear'")
    if out_col in points.columns:
        raise ValueError(f"out_col {out_col!r} already exists on points")
    cells = raster_cells(tiles, grid, drop_zero=True).select(
        F.col("cell_x").alias("__rcx"),
        F.col("cell_y").alias("__rcy"),
        F.col("value").alias("__rval"),
    )

    if method == "nearest":
        pts = points.withColumn("__pcx", grid.cell_x(F.col(x_col))).withColumn(
            "__pcy", grid.cell_y(F.col(y_col))
        )
        joined = pts.join(
            cells,
            (F.col("__pcx") == F.col("__rcx")) & (F.col("__pcy") == F.col("__rcy")),
            "left",
        )
        return joined.withColumn(
            out_col, F.coalesce(F.col("__rval"), F.lit(0.0))
        ).drop("__pcx", "__pcy", "__rcx", "__rcy", "__rval")

    # bilinear: fractional position relative to the CENTER lattice
    fx = (F.col(x_col) - F.lit(grid.x0)) / F.lit(grid.dx) - F.lit(0.5)
    fy = (F.col(y_col) - F.lit(grid.y0)) / F.lit(grid.dy) - F.lit(0.5)
    base = points.withColumn("__gx", F.floor(fx).cast("long")).withColumn(
        "__gy", F.floor(fy).cast("long")
    ).withColumn("__tx", fx - F.col("__gx")).withColumn("__ty", fy - F.col("__gy"))
    corners = base.select(
        "*",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("dx"), F.lit(0).alias("dy")),
                F.struct(F.lit(1).alias("dx"), F.lit(0).alias("dy")),
                F.struct(F.lit(0).alias("dx"), F.lit(1).alias("dy")),
                F.struct(F.lit(1).alias("dx"), F.lit(1).alias("dy")),
            )
        ).alias("__c"),
    ).select(
        "*",
        (F.col("__gx") + F.col("__c.dx")).alias("__pcx"),
        (F.col("__gy") + F.col("__c.dy")).alias("__pcy"),
        (
            (1 - F.abs(F.col("__tx") - F.col("__c.dx")))
            * (1 - F.abs(F.col("__ty") - F.col("__c.dy")))
        ).alias("__w"),
    )
    joined = corners.join(
        cells,
        (F.col("__pcx") == F.col("__rcx")) & (F.col("__pcy") == F.col("__rcy")),
        "left",
    )
    keys = [c for c in points.columns]
    return (
        joined.groupBy(*keys)
        .agg(
            F.sum(
                F.col("__w") * F.coalesce(F.col("__rval"), F.lit(0.0))
            ).alias(out_col)
        )
    )


def focal_stats_dense(
    tiles: DataFrame,
    grid: GridSpec,
    radius: int = 1,
    stat: str = "sum",
) -> DataFrame:
    """Halo-exchange focal statistics — same contract as
    :func:`focal_stats` (aggregate PRESENT cells within Chebyshev
    ``radius``; parity pinned in pytest), different physics: instead of
    exploding per cell, each target tile GATHERS its ≤9 neighbor tiles
    (shifted-key union → one grouped-map), and a strided NumPy window
    reduction computes all T² outputs per tile at once.

    Pick by density: shuffle volume here is ≤9 tile rows per tile
    (~(1 + 4r/T)× the raster) regardless of fill, vs (2r+1)² × non-zero
    cells for the scatter version — the dense-raster win, the sparse
    loss.  Requires ``radius < tile``."""
    T = grid.tile
    if not 0 < radius < T:
        raise ValueError("focal_stats_dense needs 0 < radius < tile")
    if stat not in _STATS:
        raise ValueError(f"stat must be one of {sorted(_STATS)}")

    # every tile contributes itself to the 9 neighbor targets
    shifted = tiles.select(
        F.explode(
            F.array(*[
                F.struct(
                    (F.col("tile_x") + dx).alias("tx"),
                    (F.col("tile_y") + dy).alias("ty"),
                    F.lit(dx).alias("dx"),
                    F.lit(dy).alias("dy"),
                )
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
            ])
        ).alias("__s"),
        "data",
    ).select("__s.tx", "__s.ty", "__s.dx", "__s.dy", "data")
    key = shifted.withColumn(
        "__gk", F.concat_ws("#", F.col("tx"), F.col("ty"))
    )

    r = radius

    def reduce_tile(pdf: pd.DataFrame) -> pd.DataFrame:
        pad = np.zeros((T + 2 * r, T + 2 * r), dtype=np.float64)
        tx = int(pdf["tx"].iloc[0])
        ty = int(pdf["ty"].iloc[0])
        for dx, dy, data in zip(pdf["dx"], pdf["dy"], pdf["data"]):
            a = np.asarray(data, dtype=np.float64).reshape(T, T)
            # this contributor is the tile at (tx - dx, ty - dy): its
            # cells land offset by (-dx*T, -dy*T) relative to the target
            ox = -int(dx) * T + r
            oy = -int(dy) * T + r
            x0, x1 = max(ox, 0), min(ox + T, T + 2 * r)
            y0, y1 = max(oy, 0), min(oy + T, T + 2 * r)
            if x0 >= x1 or y0 >= y1:
                continue
            pad[y0:y1, x0:x1] = a[y0 - oy : y1 - oy, x0 - ox : x1 - ox]
        k = 2 * r + 1
        from numpy.lib.stride_tricks import sliding_window_view

        win = sliding_window_view(pad, (k, k))  # (T, T, k, k)
        vals = win.reshape(T, T, k * k)
        mask = vals != 0.0
        cnt = mask.sum(axis=2)
        if stat == "count":
            out = cnt.astype(np.float64)
        elif stat == "sum":
            out = np.where(mask, vals, 0.0).sum(axis=2)
        elif stat == "mean":
            s = np.where(mask, vals, 0.0).sum(axis=2)
            out = np.divide(s, cnt, out=np.zeros_like(s), where=cnt > 0)
        elif stat == "min":
            out = np.where(
                cnt > 0, np.where(mask, vals, np.inf).min(axis=2), 0.0
            )
        else:  # max
            out = np.where(
                cnt > 0, np.where(mask, vals, -np.inf).max(axis=2), 0.0
            )
        return pd.DataFrame(
            {"tile_x": [tx], "tile_y": [ty], "data": [out.ravel()]}
        )

    from osm_chordify_spark.operators.graph import _grouped_map

    out = _grouped_map(key, "__gk", reduce_tile, StructType(TILE_SCHEMA_FIELDS))
    # drop all-zero output tiles (targets that only saw empty halo)
    return out.filter(F.exists("data", lambda v: v != 0.0))


def regrid(
    tiles: DataFrame,
    grid: GridSpec,
    target: GridSpec,
    stat: str = "sum",
) -> DataFrame:
    """Re-align the raster onto an arbitrary ``target`` grid (different
    origin and/or cell size — the general case :func:`resample` 's
    integer-factor fast path doesn't cover): every present source cell
    contributes its value to the target cell containing its CENTER,
    aggregated by ``stat``.

    Center-assignment semantics (the standard nearest-neighbor regrid):
    exact when the target is coarser or offset; for upsampling prefer
    :func:`sample_raster` at target cell centers (bilinear).  Pure
    codegen — unpivot, two floor expressions, one map-side-combined
    aggregate, tile assembly."""
    if stat not in _STATS:
        raise ValueError(f"stat must be one of {sorted(_STATS)}")
    cells = raster_cells(tiles, grid, drop_zero=True)
    centers = cells.select(
        (F.lit(grid.x0) + (F.col("cell_x") + F.lit(0.5)) * grid.dx).alias("__wx"),
        (F.lit(grid.y0) + (F.col("cell_y") + F.lit(0.5)) * grid.dy).alias("__wy"),
        F.col("value").alias("val"),
    )
    return _fold_cells(
        centers.select(
            target.cell_x(F.col("__wx")).alias("cx"),
            target.cell_y(F.col("__wy")).alias("cy"),
            "val",
        ),
        stat,
        target.tile,
    )


def raster_merge(a: DataFrame, b: DataFrame, grid: GridSpec, stat: str = "sum"):
    """Merge two rasters on the same grid cell-by-cell (``stat`` over
    present cells — the incremental-update fold: batch raster ⊕ closed
    streaming windows).  Unpivot both, one map-side-combined aggregate,
    re-tile; absent cells stay absent."""
    if stat not in _STATS:
        raise ValueError(f"stat must be one of {sorted(_STATS)}")
    cells = raster_cells(a, grid, drop_zero=True).unionByName(
        raster_cells(b, grid, drop_zero=True)
    )
    return _fold_cells(
        cells.select(
            F.col("cell_x").alias("cx"),
            F.col("cell_y").alias("cy"),
            F.col("value").alias("val"),
        ),
        stat,
        grid.tile,
    )


def contour_regions(
    tiles: DataFrame,
    grid: GridSpec,
    level: float,
    boundary: bool = True,
    **vectorize_kw,
) -> DataFrame:
    """Iso-level regions: threshold the raster at ``level`` (cells with
    value ≥ level) and extract the connected regions with their exact
    rectilinear boundary polygons — a composition of a codegen
    threshold map over the tile arrays and :func:`vectorize_regions`
    (the classic cell-resolution contour/hotspot extraction)."""
    thresh = tiles.select(
        "tile_x",
        "tile_y",
        F.transform(
            "data",
            lambda v: F.when(v >= F.lit(float(level)), F.lit(1.0)).otherwise(
                F.lit(0.0)
            ),
        ).alias("data"),
    ).filter(F.exists("data", lambda v: v != 0.0))
    return vectorize_regions(thresh, grid, boundary=boundary, **vectorize_kw)
