"""Mixed-resolution (per-zone) zone covers — the heterogeneous-zone-size
scale fix (VERDICT r3 item 1): one continental polygon in a tract table
must no longer coarsen every zone's cover to the global minimum
resolution.  Pins, per the round-3 'done' criteria:

* the index keeps small zones at the requested resolution while the
  continental zone coarsens only itself (candidate-pair count within
  ~2x of the homogeneous small-zones-only case);
* hash parity of the mixed-res run with a forced-homogeneous run
  (coarse index_res) on the SAME heterogeneous zone table — the cover
  only gates candidates, the exact kernels decide the rows;
* broadcast ↔ distributed path parity on heterogeneous zones
  (lines intersect, nearest-zone, raster zonal stats).
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osm_chordify_spark import geom as G
from osm_chordify_spark.operators import intersect as I
from osm_chordify_spark.operators import intersect_dist as ID
from osm_chordify_spark.operators.zoneindex import ZoneIndex


def _continental():
    # 160 deg span: res-9 bbox cover would be ~52k cells >> 4096, so the
    # per-zone guard coarsens this zone (and ONLY this zone) to res 7
    return {
        "zone_id": "CONTINENT",
        "geometry": [np.array(
            [[-80.0, -40.0], [80.0, -40.0], [80.0, 40.0], [-80.0, 40.0]]
        )],
    }


def _small_zones(n_side=32, cell=0.1):
    return [
        {
            "zone_id": f"S{i:02d}_{j:02d}",
            "geometry": [np.array(
                [[i * cell, j * cell], [(i + 1) * cell, j * cell],
                 [(i + 1) * cell, (j + 1) * cell], [i * cell, (j + 1) * cell]]
            )],
        }
        for i in range(n_side)
        for j in range(n_side)
    ]


def _zone_tuples(recs):
    return [(r["zone_id"], r["geometry"]) for r in recs]


def test_index_keeps_small_zones_at_requested_res():
    """1 continental + 1024 small zones: the small zones stay at res 9
    and their cover cells are IDENTICAL to the homogeneous
    (small-zones-only) index — the continental zone coarsens itself
    only."""
    small = _small_zones()
    hetero = ZoneIndex.build(_zone_tuples([_continental()] + small), res=9)
    homo = ZoneIndex.build(_zone_tuples(small), res=9)

    assert len(hetero.res_list) == 2
    assert hetero.zone_res[0] < 9          # the continental zone coarsened
    assert (hetero.zone_res[1:] == 9).all()  # small zones untouched
    assert homo.res_list.tolist() == [9]

    # per-small-zone cover-cell multiset identical across the two builds
    def cover_map(idx, skip_ordinal=None):
        out = {}
        for pos in range(len(idx.cells)):
            for k in range(idx.offsets[pos], idx.offsets[pos + 1]):
                z = int(idx.cand_zone[k])
                if z == skip_ordinal:
                    continue
                out.setdefault(idx.zone_ids[z], set()).add(int(idx.cells[pos]))
        return out

    got = cover_map(hetero, skip_ordinal=0)
    exp = cover_map(homo)
    assert got == exp

    # candidate-pair count for probe points in the small-zone area is
    # within the homogeneous count + one continental candidate per point
    rng = np.random.default_rng(11)
    px = rng.uniform(0.0, 3.2, 500)
    py = rng.uniform(0.0, 3.2, 500)
    _, zc_het, _ = hetero.candidates_for_points(px, py)
    _, zc_hom, _ = homo.candidates_for_points(px, py)
    assert len(zc_het) <= len(zc_hom) + 500
    assert len(zc_het) <= 2 * max(len(zc_hom), 1)


def _edges(spark, n=250):
    base = spark.range(0, n, 1, 4).select(
        F.col("id").alias("osm_id"),
        F.expr("((id * 7) % 30) / 1e1").alias("xs"),
        F.expr("((id * 13) % 33) / 1e1 + 5e-2").alias("y"),
    )

    @F.pandas_udf("binary")
    def mk(xs: pd.Series, y: pd.Series) -> pd.Series:
        return pd.Series(
            [G.wkb_linestring([[x, yy], [x + 0.25, yy]]) for x, yy in zip(xs, y)]
        )

    return base.select(
        "osm_id", F.lit(0.25).alias("edge_length"), mk("xs", "y").alias("geometry")
    )


COLS = ["edge_osm_id", "zone_zone_id", "zone_link_length_m",
        "edge_link_length_m", "zone_edge_proportion"]


def test_mixed_res_output_parity_with_forced_homogeneous(spark):
    """Same heterogeneous zones, index_res=9 (mixed covers) vs
    index_res=5 (everything homogeneous-coarse, the legacy global-min
    shape): identical rows including piece geometry — the cover only
    gates candidates, never the output."""
    edges = _edges(spark)
    zones = I.Zones.from_records([_continental()] + _small_zones())
    a = (
        I.intersect_lines_with_zones(edges, zones, index_res=9)
        .select(*COLS, "geometry").toPandas()
        .sort_values(COLS).reset_index(drop=True)
    )
    b = (
        I.intersect_lines_with_zones(edges, zones, index_res=5)
        .select(*COLS, "geometry").toPandas()
        .sort_values(COLS).reset_index(drop=True)
    )
    assert len(a) == len(b) > 0
    pd.testing.assert_frame_equal(a[COLS], b[COLS])
    assert all(bytes(x) == bytes(y) for x, y in zip(a["geometry"], b["geometry"]))
    # every edge lies inside the continent: the contained fast path must
    # have fired through the coarse cover
    cont = a[a["zone_zone_id"] == "CONTINENT"]
    assert len(cont) == 250
    assert (cont["zone_edge_proportion"] == 1.0).all()


def test_mixed_res_dist_parity_with_broadcast(spark):
    """Heterogeneous zones through the distributed cell-join path match
    the broadcast index path row-for-row (both now per-zone res)."""
    edges = _edges(spark)
    recs = [_continental()] + _small_zones(n_side=16)
    zones = I.Zones.from_records(recs)
    zdf = ID.zones_to_df(spark, zones)
    a = (
        I.intersect_lines_with_zones(edges, zones)
        .select(*COLS, "geometry").toPandas()
        .sort_values(COLS).reset_index(drop=True)
    )
    b = (
        I.intersect_lines_with_zones(edges, zdf, zone_dispatch="dist")
        .select(*COLS, "geometry").toPandas()
        .sort_values(COLS).reset_index(drop=True)
    )
    assert len(a) == len(b) > 0
    pd.testing.assert_frame_equal(a[COLS], b[COLS])
    assert all(bytes(x) == bytes(y) for x, y in zip(a["geometry"], b["geometry"]))


def test_mixed_res_nearest_parity(spark):
    """assign_points_nearest and nearest_zone_dist agree on a
    heterogeneous table (continental + small zones): per-resolution ring
    searches combine to the same (containment, min-distance, tie) answer
    in both paths."""
    from osm_chordify_spark.operators.intersect_dist import nearest_zone_dist

    recs = [_continental()] + _small_zones(n_side=4)
    zones = [(r["zone_id"], r["geometry"]) for r in recs]
    rng = np.random.default_rng(23)
    pdf = pd.DataFrame({
        "point_id": np.arange(200),
        # straddle: inside the continent, inside small zones, and outside
        # everything (beyond the continent's east edge)
        "x": rng.uniform(-2.0, 90.0, 200),
        "y": rng.uniform(-2.0, 45.0, 200),
    })
    idx = ZoneIndex.build(zones, res=9)
    assert len(idx.res_list) == 2
    zb, db = idx.assign_points_nearest(pdf["x"].to_numpy(), pdf["y"].to_numpy())
    keep = zb >= 0
    exp = pd.DataFrame({
        "point_id": pdf["point_id"][keep],
        "zone_id": [idx.zone_ids[z] for z in zb[keep]],
        "dist": db[keep],
    }).sort_values("point_id", ignore_index=True)

    zdf = spark.createDataFrame(pd.DataFrame({
        "zone_id": [z for z, _ in zones],
        "geometry": [G.wkb_polygon(r) for _, r in zones],
    }))
    got = (
        nearest_zone_dist(spark.createDataFrame(pdf), zdf, index_res=9)
        .toPandas().sort_values("point_id", ignore_index=True)
    )
    assert len(got) == len(exp) > 0
    assert (got["zone_id"].to_numpy() == exp["zone_id"].to_numpy()).all()
    assert np.allclose(got["dist"], exp["dist"], rtol=1e-12)


def test_mixed_res_zonal_stats_parity(spark):
    """Raster zonal stats, broadcast vs distributed, on a zone table
    mixing one huge zone with small triangles — the multi-resolution
    center probe (explode over occupied resolutions) stays exact."""
    from osm_chordify_spark.operators.raster import (
        GridSpec, rasterize_points, zonal_stats, zonal_stats_dist,
    )

    grid = GridSpec(x0=-10.0, y0=-5.0, dx=0.5, dy=0.5, tile=16)
    rng = np.random.default_rng(5)
    pts = pd.DataFrame({
        "x": rng.uniform(-9.9, 9.9, 4000),
        "y": rng.uniform(-4.9, 4.9, 4000),
        "v": rng.uniform(0.1, 2.0, 4000),
    })
    tiles = rasterize_points(
        spark.createDataFrame(pts), grid, "x", "y", value_col="v", stat="sum"
    )
    tri1 = np.array([[-9.0, -4.0], [9.0, -4.0], [0.0, 4.5]])
    tri2 = np.array([[-9.5, 0.0], [-2.0, 4.0], [-9.5, 4.5]])
    big = np.array([[-120.0, -60.0], [120.0, -60.0], [120.0, 60.0], [-120.0, 60.0]])
    zones = [("tri1", [tri1]), ("tri2", [tri2]), ("big", [big])]
    zdf = spark.createDataFrame(pd.DataFrame({
        "zone_id": [z for z, _ in zones],
        "geometry": [G.wkb_polygon(r) for _, r in zones],
    }))
    a = zonal_stats(tiles, grid, zones, res=9).toPandas() \
        .sort_values("zone_id", ignore_index=True)
    b = zonal_stats_dist(tiles, grid, zdf, res=9).toPandas() \
        .sort_values("zone_id", ignore_index=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_candidates_for_bboxes_equals_per_edge_probe():
    """The batch bbox probe of the broadcast operators equals a per-edge
    loop: ``ci.cover_bbox`` at each occupied resolution, then
    ``candidates_for_cells``, bbox misses dropped, contained = every hit
    full and hits == cover size.  Mixed-resolution index (the continent
    at res 7, 0.1° zones at res 9), with a bbox that shares a cover cell
    with zones it misses, a zero-length edge and a contained edge."""
    from osm_chordify_spark import cellindex as ci

    recs = [_continental()] + _small_zones(n_side=8)
    idx = ZoneIndex.build(_zone_tuples(recs), res=9)
    assert len(idx.res_list) == 2
    zbb = [G.polygon_bbox(polys[0]) for polys in idx.zone_rings]  # one polygon each
    boxes = np.array([
        (0.05, 0.05, 0.75, 0.35),      # many small zones + the continent
        (0.31, 0.31, 0.31, 0.31),      # zero-length edge
        (1.0, 0.05, 1.2, 0.3),         # shares a res-9 cell with S07_*, misses them
        (10.0, 10.0, 12.0, 11.0),      # deep inside the continent
        (100.0, 60.0, 101.0, 61.0),    # no zone at all
    ])

    def per_edge(b):
        out = {}
        for rr in idx.res_list:
            cover = ci.cover_bbox(*b, int(rr), idx.world, max_cells=1 << 20)
            _, zs, full = idx.candidates_for_cells(np.sort(cover))
            for z in np.unique(zs):
                zx0, zy0, zx1, zy1 = zbb[z]
                if b[0] <= zx1 and b[2] >= zx0 and b[1] <= zy1 and b[3] >= zy0:
                    m = zs == z
                    out[int(z)] = bool(full[m].all() and m.sum() == len(cover))
        return out

    row, zone, contained = idx.candidates_for_bboxes(*boxes.T)
    # a cell budget of the largest single cover probes box by box
    budget = int(ci.cover_grid(*boxes.T, idx.res_list, idx.world)[-1].sum(axis=1).max())
    for a, b in zip(idx.candidates_for_bboxes(*boxes.T, max_cells=budget),
                    (row, zone, contained)):
        np.testing.assert_array_equal(a, b)
    keys = list(zip(row.tolist(), zone.tolist()))
    assert keys == sorted(keys) and len(set(keys)) == len(keys)
    got = [{} for _ in boxes]
    for r, z, c in zip(row, zone, contained):
        got[r][int(z)] = bool(c)
    assert got == [per_edge(b) for b in boxes]
    ids = [{idx.zone_ids[z]: c for z, c in g.items()} for g in got]
    assert ids[1] == {"CONTINENT": True, "S03_03": False}
    assert ids[2] == {"CONTINENT": True}  # the S07_* cell-mates are dropped
    _, cellmates, _ = idx.candidates_for_cells(
        ci.cover_bbox(*boxes[2], 9, idx.world))
    assert len(set(cellmates.tolist())) > 1
    assert ids[3] == {"CONTINENT": True} and ids[4] == {}
    assert not all(ids[0].values()) and ids[0]["CONTINENT"]
