"""Distributed zone-intersection path: hash-parity with the broadcast
path, containment fast path, void rows — the non-broadcastable-zones
shape (SURVEY §2.3 J1 distributed variant; reference semantics
src/osm_chordify/osm/intersect.py:586-884)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osm_chordify_spark import geom as G
from osm_chordify_spark.operators import intersect as I
from osm_chordify_spark.operators import intersect_dist as ID


def _grid_zones(n=6):
    return [
        {
            "zone_id": f"G{i}_{j}",
            "geometry": [np.array(
                [[float(i), float(j)], [i + 1.0, float(j)],
                 [i + 1.0, j + 1.0], [float(i), j + 1.0]]
            )],
        }
        for i in range(n)
        for j in range(n)
    ]


def _wiggly_zone():
    """A 300-vertex zone over the grid: its pairs take the zone-by-zone
    clip branch (``geom_batch.BIG_ZONE_SEGMENTS``)."""
    ang = np.linspace(0, 2 * np.pi, 300, endpoint=False)
    rad = 2.0 + 0.2 * np.sin(17 * ang)
    return {"zone_id": "WIGGLY",
            "geometry": [np.stack([3.05 + rad * np.cos(ang), 2.95 + rad * np.sin(ang)], axis=1)]}


def _edges(spark, n=300):
    base = spark.range(0, n, 1, 4).select(
        F.col("id").alias("osm_id"),
        F.expr("((id * 7) % 40) / 1e1").alias("xs"),
        F.expr("((id * 13) % 55) / 1e1 + 25e-2").alias("y"),
    )

    @F.pandas_udf("binary")
    def mk(xs: pd.Series, y: pd.Series) -> pd.Series:
        return pd.Series(
            [G.wkb_linestring([[x, yy], [x + 2.5, yy]]) for x, yy in zip(xs, y)]
        )

    return base.select(
        "osm_id", F.lit(2.5).alias("edge_length"), mk("xs", "y").alias("geometry")
    )


METRIC_COLS = [
    "edge_osm_id", "zone_zone_id", "zone_link_length_m",
    "edge_link_length_m", "zone_edge_proportion",
]


def test_dist_path_hash_parity_with_broadcast(spark):
    """Both paths over 36 grid zones: identical rows, identical values,
    byte-identical piece geometry (they share the clip kernel and the
    cell classification by construction — this pins it).  The empty
    zone has no cover cells, so it is never a candidate on either path
    (the broadcast kernels read the index's parsed zone rings); the
    many-vertex zone's pairs take the zone-by-zone clip branch."""
    edges = _edges(spark)
    empty = {"zone_id": "EMPTY", "geometry": G.wkb_multipolygon([])}
    zones = I.Zones.from_records(_grid_zones() + [empty, _wiggly_zone()])
    assert zones.geoms[-2] == []
    zdf = ID.zones_to_df(spark, zones)
    a = (
        I.intersect_lines_with_zones(edges, zones)
        .select(*METRIC_COLS, "geometry").toPandas()
        .sort_values(METRIC_COLS).reset_index(drop=True)
    )
    b = (
        I.intersect_lines_with_zones(edges, zdf, zone_dispatch="dist")
        .select(*METRIC_COLS, "geometry").toPandas()
        .sort_values(METRIC_COLS).reset_index(drop=True)
    )
    assert len(a) == len(b) > 0
    pd.testing.assert_frame_equal(a[METRIC_COLS], b[METRIC_COLS])
    assert all(bytes(x) == bytes(y) for x, y in zip(a["geometry"], b["geometry"]))
    wig = a["zone_zone_id"] == "WIGGLY"
    assert wig.sum() > 10 and (a.loc[wig, "zone_edge_proportion"] < 1).any()


def test_dist_contained_fast_path_and_labels(spark):
    """An edge fully inside one big zone gets proportion exactly 1.0
    through the aggregate containment test; zone_label prefixing works."""
    line = G.wkb_linestring([[2.0, 2.0], [3.0, 2.0]])
    edges = spark.createDataFrame(
        pd.DataFrame({"osm_id": [7], "geometry": [line]})
    )
    big = [{"zone_id": "BIG",
            "geometry": [np.array([[0.0, 0.0], [9.0, 0.0], [9.0, 9.0], [0.0, 9.0]])]}]
    zdf = ID.zones_to_df(spark, I.Zones.from_records(big))
    out = I.intersect_lines_with_zones(
        edges, zdf, zone_label="TAZ", zone_dispatch="dist"
    ).toPandas()
    assert len(out) == 1
    assert out.iloc[0]["taz_zone_edge_proportion"] == 1.0
    assert out.iloc[0]["taz_zone_id"] == "BIG"


def test_dist_void_rows_by_zone_id_not_attrs(spark):
    """include_void_zones on the distributed path: bbox-kept-but-unmatched
    zones yield NULL-metric rows, keyed per zone id — identical-attr
    twins don't conflate (same contract as the broadcast path)."""
    bent = G.wkb_linestring([[0.0, 0.0], [10.0, 0.0], [10.0, 2.0]])
    edges = spark.createDataFrame(
        pd.DataFrame({"osm_id": [2], "geometry": [bent]})
    )
    matched_twin = {"zone_id": "dup",
                    "geometry": [np.array([[0.0, -1.0], [5.0, -1.0], [5.0, 1.0], [0.0, 1.0]])]}
    void_twin = {"zone_id": "dup",
                 "geometry": [np.array([[1.0, 1.0], [2.0, 1.0], [2.0, 1.9], [1.0, 1.9]])]}
    far = {"zone_id": "far",
           "geometry": [np.array([[50.0, 50.0], [60.0, 50.0], [60.0, 60.0], [50.0, 60.0]])]}
    zdf = ID.zones_to_df(spark, I.Zones.from_records([matched_twin, void_twin, far]))
    out = I.intersect_lines_with_zones(
        edges, zdf, include_void_zones=True, zone_dispatch="dist"
    ).toPandas()
    assert "__zid" not in out.columns
    assert "far" not in set(out["zone_zone_id"])
    dup = out[out["zone_zone_id"] == "dup"]
    assert len(dup) == 2
    assert dup["zone_edge_proportion"].notna().sum() == 1
    assert dup["zone_edge_proportion"].isna().sum() == 1


def test_dist_multipolygon_zone_and_boundary_touch_drop(spark):
    """A multipolygon zone aggregates both parts' overlap into one row;
    an edge that only touches the boundary produces no row."""
    hline = G.wkb_linestring([[0.5, 0.5], [7.5, 0.5]])   # crosses both parts
    touch = G.wkb_linestring([[0.0, 1.0], [1.0, 1.0]])   # runs along the top edge
    edges = spark.createDataFrame(
        pd.DataFrame({"osm_id": [1, 2], "geometry": [hline, touch]})
    )
    two_part = [{
        "zone_id": "MP",
        "geometry": G.wkb_multipolygon([
            [[[0.0, 0.0], [2.0, 0.0], [2.0, 1.0], [0.0, 1.0]]],
            [[[6.0, 0.0], [8.0, 0.0], [8.0, 1.0], [6.0, 1.0]]],
        ]),
    }]
    zdf = spark.createDataFrame(pd.DataFrame(two_part))
    out = I.intersect_lines_with_zones(edges, zdf, zone_dispatch="dist").toPandas()
    assert set(out["edge_osm_id"]) == {1}
    r = out[out["edge_osm_id"] == 1].iloc[0]
    assert r["zone_link_length_m"] == pytest.approx(3.0)  # 1.5 in each part


def test_dist_left_join_parity_and_unmatched(spark):
    """Distributed left join: row-for-row parity with the broadcast path
    including unmatched rows (NULL zone attrs) and k-match fan-out."""
    base = spark.range(0, 200, 1, 4).select(
        F.col("id").alias("osm_id"),
        F.expr("((id * 7) % 40) / 1e1").alias("xs"),
        F.expr(
            "((id * 13) % 55) / 1e1 + 25e-2 "
            "+ case when id % 17 = 0 then 100e0 else 0e0 end"
        ).alias("y"),
    )

    @F.pandas_udf("binary")
    def mk(xs: pd.Series, y: pd.Series) -> pd.Series:
        return pd.Series(
            [G.wkb_linestring([[x, yy], [x + 2.5, yy]]) for x, yy in zip(xs, y)]
        )

    edges = base.select("osm_id", mk("xs", "y").alias("geometry"))
    zones = I.Zones.from_records(_grid_zones())
    zdf = ID.zones_to_df(spark, zones)
    a = (
        I.spatial_left_join_with_zones(edges, zones)
        .select("osm_id", "zone_zone_id").toPandas()
    )
    b = (
        I.spatial_left_join_with_zones(edges, zdf, zone_dispatch="dist")
        .select("osm_id", "zone_zone_id").toPandas()
    )
    ka = sorted(map(tuple, a.fillna("N").itertuples(index=False)))
    kb = sorted(map(tuple, b.fillna("N").itertuples(index=False)))
    assert ka == kb
    assert a["zone_zone_id"].isna().sum() > 0  # off-grid rows kept with NULLs


def test_dist_polygon_subjects_parity(spark):
    """Distributed polygon-subject intersect: metric parity with the
    broadcast path (area proportions, surfaces, length_col scaling)."""
    base = spark.range(0, 150, 1, 4).select(
        F.col("id").alias("osm_id"),
        F.expr("((id * 11) % 45) / 1e1").alias("xs"),
        F.expr("((id * 13) % 40) / 1e1 + 25e-2").alias("ys"),
    )

    @F.pandas_udf("binary")
    def mk_rect(xs: pd.Series, ys: pd.Series) -> pd.Series:
        return pd.Series(
            [
                G.wkb_polygon([[[x, y], [x + 1.5, y], [x + 1.5, y + 1.5], [x, y + 1.5]]])
                for x, y in zip(xs, ys)
            ]
        )

    polys = base.select(
        "osm_id", F.lit(6.0).alias("edge_length"), mk_rect("xs", "ys").alias("geometry")
    )
    zones = I.Zones.from_records(_grid_zones() + [_wiggly_zone()])
    zdf = ID.zones_to_df(spark, zones)
    cols = ["edge_osm_id", "zone_zone_id", "zone_edge_proportion",
            "edge_surface_m2", "zone_surface_m2", "zone_link_length_m"]
    a = (
        I.intersect_polygons_with_zones(polys, zones, keep_geometry=False)
        .select(*cols).toPandas().sort_values(cols).reset_index(drop=True)
    )
    b = (
        I.intersect_polygons_with_zones(
            polys, zdf, keep_geometry=False, zone_dispatch="dist"
        )
        .select(*cols).toPandas().sort_values(cols).reset_index(drop=True)
    )
    assert len(a) == len(b) > 0
    pd.testing.assert_frame_equal(a, b)
    assert (a["zone_zone_id"] == "WIGGLY").sum() > 10


def test_dist_empty_zone_table_and_no_candidates(spark):
    """Degenerate inputs: an empty zone table yields an empty result
    with the full output schema; zones that overlap nothing yield
    nothing (and a left join still keeps every row)."""
    edges = _edges(spark, n=20)
    empty_zdf = spark.createDataFrame([], "zone_id string, geometry binary")
    out = I.intersect_lines_with_zones(
        edges, empty_zdf, keep_geometry=False, zone_dispatch="dist"
    )
    assert out.count() == 0
    assert "zone_zone_id" in out.columns
    far_zdf = ID.zones_to_df(
        spark,
        I.Zones.from_records(
            [{"zone_id": "far",
              "geometry": [np.array([[900.0, 900.0], [901.0, 900.0],
                                     [901.0, 901.0], [900.0, 901.0]])]}]
        ),
    )
    assert I.intersect_lines_with_zones(
        edges, far_zdf, zone_dispatch="dist").count() == 0
    lj = I.spatial_left_join_with_zones(edges, far_zdf, zone_dispatch="dist")
    pdf = lj.toPandas()
    assert len(pdf) == 20
    assert pdf["zone_zone_id"].isna().all()


def test_nearest_zone_dist_parity_with_broadcast(spark):
    """The distributed nearest-zone path matches the broadcast
    ZoneIndex.assign_points_nearest exactly (containment priority,
    minimum boundary distance, smallest-ordinal ties) on polygon zones."""
    import numpy as np
    import pandas as pd

    from osm_chordify_spark import geom as G2
    from osm_chordify_spark.operators.intersect_dist import nearest_zone_dist
    from osm_chordify_spark.operators.zoneindex import ZoneIndex

    tri_a = np.array([[0.0, 0.0], [4.0, 0.0], [0.0, 4.0]])
    tri_b = np.array([[10.0, 0.0], [14.0, 0.0], [14.0, 4.0]])
    zones = [("A", [tri_a]), ("B", [tri_b])]
    rng = np.random.default_rng(47)
    pdf = pd.DataFrame({
        "point_id": np.arange(300),
        "x": rng.uniform(-5.0, 19.0, 300),
        "y": rng.uniform(-5.0, 9.0, 300),
    })

    idx = ZoneIndex.build(zones, res=8)
    zb, db = idx.assign_points_nearest(
        pdf["x"].to_numpy(), pdf["y"].to_numpy()
    )
    exp = pd.DataFrame({
        "point_id": pdf["point_id"],
        "zone_id": [idx.zone_ids[z] for z in zb],
        "dist": db,
    })

    zdf = spark.createDataFrame(pd.DataFrame({
        "zone_id": [z for z, _ in zones],
        "geometry": [G2.wkb_polygon(r) for _, r in zones],
    }))
    got = (
        nearest_zone_dist(spark.createDataFrame(pdf), zdf, index_res=8)
        .toPandas()
        .sort_values("point_id", ignore_index=True)
    )
    assert len(got) == 300
    assert (got["zone_id"].to_numpy() == exp["zone_id"].to_numpy()).all()
    assert np.allclose(got["dist"], exp["dist"], rtol=1e-12)


def test_cogroup_reattach_parity_with_join_on_high_vertex_zone(spark, monkeypatch):
    """Megabyte-geometry dispatch (VERDICT r3 #6): a zone whose outer
    ring has 20k vertices (~320 KB WKB) must produce IDENTICAL output
    through the cogroup transport (geometry ships once per group) and
    the re-attach join (geometry repeats per candidate pair), and the
    automatic rule must pick cogroup for it.  The transports are forced
    through the module threshold."""
    edges = _edges(spark)
    # near-circular 20k-vertex polygon covering the edge extent, plus a
    # plain rectangle so multi-zone groups are exercised
    t = np.linspace(0.0, 2 * np.pi, 20_001)[:-1]
    ring = np.column_stack([3.0 + 3.2 * np.cos(t), 3.0 + 3.2 * np.sin(t)])
    zdf = spark.createDataFrame(
        pd.DataFrame(
            {
                "zone_id": ["BIG", "R"],
                "geometry": [
                    G.wkb_polygon([ring]),
                    G.wkb_polygon([[[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0]]]),
                ],
            }
        )
    )
    zone_fields = [f for f in zdf.schema.fields if f.name != "geometry"]
    *_, zwkb_mean = ID._build_candidates(
        edges, zdf, zone_fields, {"zone_id": "zone_zone_id"}, [],
        "geometry", 9, ID.ci.WORLD, 4096)
    assert zwkb_mean >= ID.COGROUP_WKB_BYTES
    outs = {}
    for mode, threshold in (("join", float("inf")), ("cogroup", 0)):
        monkeypatch.setattr(ID, "COGROUP_WKB_BYTES", threshold)
        out = ID.intersect_lines_with_zones_dist(edges, zdf, keep_geometry=True)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert ("FlatMapCoGroupsInPandas" in plan) == (mode == "cogroup")
        outs[mode] = (
            out.select(*METRIC_COLS, "geometry").toPandas()
            .sort_values(METRIC_COLS).reset_index(drop=True)
        )
    assert len(outs["join"]) > 100
    a, b = outs["join"], outs["cogroup"]
    pd.testing.assert_frame_equal(a[METRIC_COLS], b[METRIC_COLS])
    assert all(
        bytes(x) == bytes(y) for x, y in zip(a["geometry"], b["geometry"])
    )


def test_auto_dispatch_collects_small_zone_tables(spark, monkeypatch):
    """A small DataFrame zone table must AUTO-collect onto the
    broadcast path (dist fixed overhead dominates at few zones);
    zone_dispatch='dist' still forces the distributed path."""
    import osm_chordify_spark.operators.intersect_dist as IDm

    edges = _edges(spark, 50)
    zdf = ID.zones_to_df(spark, I.Zones.from_records(_grid_zones(3)))
    calls = {"n": 0}
    real = IDm.intersect_lines_with_zones_dist

    def spy(*a, **k):
        calls["n"] += 1
        return real(*a, **k)

    monkeypatch.setattr(IDm, "intersect_lines_with_zones_dist", spy)
    auto = (
        I.intersect_lines_with_zones(edges, zdf, keep_geometry=False)
        .select(*METRIC_COLS).toPandas().sort_values(METRIC_COLS)
        .reset_index(drop=True)
    )
    assert calls["n"] == 0  # 9 zones -> broadcast path
    forced = (
        I.intersect_lines_with_zones(
            edges, zdf, keep_geometry=False, zone_dispatch="dist"
        )
        .select(*METRIC_COLS).toPandas().sort_values(METRIC_COLS)
        .reset_index(drop=True)
    )
    assert calls["n"] == 1
    pd.testing.assert_frame_equal(auto, forced)


def test_nearest_zone_dist_far_outside_escalates(spark):
    """VERDICT r4 item 4: points ~100 index cells from every zone must
    resolve through the one-shot coarse escalation with IDENTICAL
    winners to the pure sequential-annulus path (escalate_after=10^9),
    and measurably faster (the escalated path runs escalate_after+1
    driver rounds instead of log2(max_ring))."""
    import time

    import numpy as np
    import pandas as pd

    from osm_chordify_spark import geom as G2
    from osm_chordify_spark.operators.intersect_dist import nearest_zone_dist

    world = (0.0, 0.0, 1024.0, 1024.0)
    rng = np.random.default_rng(11)
    # 300 zones packed into the [0,100]^2 corner
    zx = rng.uniform(0.0, 95.0, 300)
    zy = rng.uniform(0.0, 95.0, 300)
    zdf = spark.createDataFrame(pd.DataFrame({
        "zone_id": [f"z{i:03d}" for i in range(300)],
        "geometry": [
            G2.wkb_polygon([np.array(
                [[x, y], [x + 4.0, y], [x + 4.0, y + 4.0], [x, y + 4.0]]
            )])
            for x, y in zip(zx, zy)
        ],
    }))
    # 200 points 200-500 units away: ≥100 cells at res 9 (cell = 2)
    pts = pd.DataFrame({
        "point_id": np.arange(200),
        "x": rng.uniform(300.0, 500.0, 200),
        "y": rng.uniform(300.0, 500.0, 200),
    })
    kw = dict(index_res=9, max_ring=256, world=world)

    t0 = time.perf_counter()
    fast = (
        nearest_zone_dist(spark.createDataFrame(pts), zdf, **kw)
        .toPandas().sort_values("point_id", ignore_index=True)
    )
    t_fast = time.perf_counter() - t0
    t0 = time.perf_counter()
    slow = (
        nearest_zone_dist(
            spark.createDataFrame(pts), zdf, escalate_after=10**9, **kw
        )
        .toPandas().sort_values("point_id", ignore_index=True)
    )
    t_slow = time.perf_counter() - t0

    assert len(fast) == 200 and len(slow) == 200
    assert (fast["zone_id"].to_numpy() == slow["zone_id"].to_numpy()).all()
    assert np.allclose(fast["dist"], slow["dist"], rtol=1e-12)
    # distances really are the wide-area regime
    assert fast["dist"].min() > 200.0
    # escalation must not be slower; in practice it's ~2x+ faster
    # (4 driver rounds vs 9) — assert a loose floor to stay noise-proof
    assert t_fast < t_slow * 1.2, (t_fast, t_slow)


def _edge_cover_rows_loop(pdf, res_list, world):
    """The per-edge reference: one ``ci.cover_bbox`` per (edge, res)."""
    from osm_chordify_spark import cellindex as ci

    rows = []
    for eid, g in zip(pdf["__eid"], pdf["geometry"]):
        kind, _ = G.parse_wkb(bytes(g))
        if kind in ("polygon", "multipolygon"):
            polys = G.geometry_polygons(bytes(g))
            parts = [rings[0] for rings in polys]
            elen = round(sum(G.polygon_area(rings) for rings in polys), 2)
        else:
            parts = G.geometry_lines(bytes(g))
            elen = round(sum(G.polyline_length(ln) for ln in parts), 2)
        xs = np.concatenate([np.asarray(pt)[:, 0] for pt in parts])
        ys = np.concatenate([np.asarray(pt)[:, 1] for pt in parts])
        bb = (xs.min(), ys.min(), xs.max(), ys.max())
        for rr in res_list:
            cover = ci.cover_bbox(*bb, rr, world, max_cells=1 << 20)
            rows += [(eid, int(c), len(cover), elen, *bb) for c in cover]
    return rows


def test_batch_edge_covers_equal_per_edge_loop():
    """The batch-wide edge cover gives the same multiset of (eid, cell,
    n_cells, __elen, bbox) rows as the per-edge ``cover_bbox`` loop at two
    resolutions, on grid-line, clamped, zero-length, multi-part and
    polygon subjects; the void-row bbox path reads the same bboxes."""
    world = (0.0, 0.0, 16.0, 16.0)  # res 4 → unit cells, res 2 → 4-wide
    sq = [[3.0, 3.0], [7.0, 3.0], [7.0, 7.0], [3.0, 7.0]]
    hole = [[4.0, 4.0], [5.0, 4.0], [5.0, 5.0], [4.0, 5.0]]
    geoms = [
        G.wkb_linestring([[2.0, 0.0], [2.0, 5.0]]),            # on x = 2
        G.wkb_linestring([[0.0, 4.0], [8.0, 4.0], [8.0, 12.0]]),  # on grid
        G.wkb_linestring([[-3.0, 1.5], [5.5, 20.0]]),           # clamped
        G.wkb_linestring([[20.0, -4.0], [30.0, -2.0]]),         # outside
        G.wkb_linestring([[1.5, 1.5], [1.5, 1.5]]),             # zero length
        G.wkb_linestring([[16.0, 16.0], [16.0, 16.0]]),         # world corner
        G.wkb_multilinestring([[[0.5, 0.5], [1.5, 0.7]],
                               [[9.2, 9.9], [12.0, 15.99]]]),
        G.wkb_polygon([sq, hole]),
        G.wkb_multipolygon([[sq], [[[10.0, 1.0], [12.5, 1.0], [11.0, 3.3]]]]),
    ]
    pdf = pd.DataFrame({"__eid": np.arange(100, 100 + len(geoms)), "geometry": geoms})
    res_list = [2, 4]
    got = ID._edge_cover_rows(pdf, res_list, world)
    assert list(got.columns) == ["__eid", "cell", "n_cells", "__elen",
                                 "__ex0", "__ey0", "__ex1", "__ey1"]
    exp = _edge_cover_rows_loop(pdf, res_list, world)
    assert sorted(map(tuple, got.itertuples(index=False))) == sorted(exp)
    assert len(got) == len(exp) > len(geoms) * len(res_list)

    lines = pdf.iloc[:7]
    (bb,) = I._edge_bbox_batches([lines])
    exp_bb = [G.bbox(np.vstack(G.geometry_lines(bytes(g)))) for g in lines["geometry"]]
    assert [tuple(r) for r in bb.itertuples(index=False)] == exp_bb


def test_void_rows_use_polygon_bboxes_on_both_paths(spark):
    """The void-row prefilter keeps a zone when one of its polygons'
    bboxes overlaps the edge bbox (``GB.zones_touching``; reference
    intersect.py:447-486 keeps only zones that meet it): a two-part zone
    whose parts each miss the edge bbox, though its whole bbox overlaps
    it, gets no row on either transport; a zone inside the edge bbox that
    the edge misses gets a void row; a far zone gets none.  An empty edge
    table has no bbox: no zone is kept and no row is returned."""
    bent = G.wkb_linestring([[0.0, 0.0], [10.0, 0.0], [10.0, 2.0]])
    edges = spark.createDataFrame(pd.DataFrame({"osm_id": [2], "geometry": [bent]}))
    straddle = {"zone_id": "straddle", "geometry": G.wkb_multipolygon([
        [[[1.0, 3.0], [2.0, 3.0], [2.0, 4.0], [1.0, 4.0]]],      # above the edges
        [[[3.0, -4.0], [4.0, -4.0], [4.0, -3.0], [3.0, -3.0]]],  # below them
    ])}
    hit = {"zone_id": "hit",
           "geometry": [np.array([[4.0, -1.0], [6.0, -1.0], [6.0, 1.0], [4.0, 1.0]])]}
    near = {"zone_id": "near",
            "geometry": [np.array([[1.0, 1.0], [2.0, 1.0], [2.0, 1.9], [1.0, 1.9]])]}
    far = {"zone_id": "far",
           "geometry": [np.array([[50.0, 50.0], [60.0, 50.0], [60.0, 60.0], [50.0, 60.0]])]}
    zones = I.Zones.from_records([straddle, hit, near, far])
    for z in (zones, ID.zones_to_df(spark, zones)):
        out = I.intersect_lines_with_zones(
            edges, z, include_void_zones=True, zone_dispatch="dist"
        ).toPandas()
        got = {(r.zone_zone_id, pd.isna(r.zone_edge_proportion))
               for r in out.itertuples()}
        assert got == {("near", True), ("hit", False)}, type(z)
        assert len(out) == 2
        none = edges.limit(0)
        assert I.intersect_lines_with_zones(
            none, z, include_void_zones=True, zone_dispatch="dist").count() == 0


def test_empty_edge_geometry_is_skipped_on_both_paths(spark):
    """An edge whose geometry is empty (``MULTILINESTRING EMPTY``, or a
    ``LINESTRING`` with no points) has no bbox and no cover cell: both
    transports return exactly the rows of the table without it, void
    rows included."""
    edges = _edges(spark, n=60)
    empties = spark.createDataFrame(
        pd.DataFrame({
            "osm_id": [9001, 9002], "edge_length": [0.0, 0.0],
            "geometry": [G.wkb_multilinestring([]), G.wkb_linestring(np.zeros((0, 2)))],
        }),
        schema=edges.schema,
    )
    # inside the edge bbox, between two edge rows: a void row
    void = {"zone_id": "void",
            "geometry": [np.array([[0.1, 0.27], [0.2, 0.27], [0.2, 0.33], [0.1, 0.33]])]}
    zones = I.Zones.from_records(_grid_zones() + [void])
    cols = METRIC_COLS + ["geometry"]
    for z in (zones, ID.zones_to_df(spark, zones)):
        got, exp = (
            I.intersect_lines_with_zones(
                e, z, keep_geometry=True, include_void_zones=True, zone_dispatch="dist"
            ).select(*cols).toPandas().sort_values(METRIC_COLS).reset_index(drop=True)
            for e in (edges.unionByName(empties), edges)
        )
        assert len(exp) > 0 and "void" in set(exp["zone_zone_id"]), type(z)
        pd.testing.assert_frame_equal(got[METRIC_COLS], exp[METRIC_COLS])
        assert [bytes(g) if g is not None else None for g in got["geometry"]] == [
            bytes(g) if g is not None else None for g in exp["geometry"]]
