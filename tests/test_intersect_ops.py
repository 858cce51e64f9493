"""Zone-intersection operator tests.

Golden semantics ported from the reference's test suite
(reference tests/test_intersect.py — cited per test)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from osm_chordify_spark import geom as G
from osm_chordify_spark.operators import intersect as I

# test zones live around the origin; points offset so boundaries never
# coincide with cell edges of the index


def _edges_df(spark, rows):
    schema = StructType(
        [
            StructField("osm_id", LongType()),
            StructField("edge_id", StringType()),
            StructField("edge_length", DoubleType()),
            StructField("vmt", DoubleType()),
            StructField("geometry", BinaryType()),
        ]
    )
    return spark.createDataFrame(rows, schema=schema)


def _zone(zone_id, ring, **attrs):
    return {"zone_id": zone_id, **attrs, "geometry": [np.asarray(ring, float)]}


HALF_ZONE = _zone("A", [[0.0, -1.0], [5.0, -1.0], [5.0, 1.0], [0.0, 1.0]])
FULL_ZONE = _zone("B", [[-1.0, -1.0], [11.0, -1.0], [11.0, 1.0], [-1.0, 1.0]])
FAR_ZONE = _zone("far", [[50.0, 50.0], [60.0, 50.0], [60.0, 60.0], [50.0, 60.0]])
TOUCH_ZONE = _zone("touch", [[0.0, -5.0], [0.0 - 5.0, -5.0], [-5.0, 5.0], [0.0, 5.0]])


@pytest.fixture(scope="module")
def line_edges(spark):
    line = G.wkb_linestring([[0.0, 0.0], [10.0, 0.0]])
    return _edges_df(spark, [(1, "e1", 10.0, 123.0, bytearray(line))])


def test_half_covered_proportion(spark, line_edges):
    """reference tests/test_intersect.py:27-98: half-covered 10 m edge ⇒
    proportion 0.5, edge 10.0, zone 5.0; attrs prefixed edge_/zone_."""
    zones = I.Zones.from_records([HALF_ZONE])
    out = I.intersect_lines_with_zones(line_edges, zones).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert r["zone_edge_proportion"] == 0.5
    assert r["edge_link_length_m"] == 10.0
    assert r["zone_link_length_m"] == 5.0
    assert r["edge_osm_id"] == 1 and r["edge_vmt"] == 123.0
    assert r["zone_zone_id"] == "A"
    # piece geometry is the clipped sub-line
    kind, data = G.parse_wkb(bytes(r["geometry"]))
    assert kind == "linestring"
    assert round(G.polyline_length(data), 2) == 5.0


def test_fully_contained_fast_path(spark, line_edges):
    """reference tests/test_intersect.py:764-797: contained edge ⇒
    proportion exactly 1.0, zone length = edge length."""
    zones = I.Zones.from_records([FULL_ZONE])
    out = I.intersect_lines_with_zones(line_edges, zones).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert r["zone_edge_proportion"] == 1.0
    assert r["zone_link_length_m"] == 10.0


def test_boundary_touch_dropped(spark, line_edges):
    """reference tests/test_intersect.py:520-546: zone touching only at
    the boundary produces no row."""
    zones = I.Zones.from_records([TOUCH_ZONE])
    out = I.intersect_lines_with_zones(line_edges, zones).toPandas()
    assert len(out) == 0


def test_multiple_zones_multiple_rows(spark, line_edges):
    zones = I.Zones.from_records([HALF_ZONE, FULL_ZONE, FAR_ZONE])
    out = I.intersect_lines_with_zones(line_edges, zones).toPandas()
    assert sorted(out["zone_zone_id"]) == ["A", "B"]


def test_void_rows_for_prefiltered_zones(spark, line_edges):
    """reference tests/test_intersect.py:226-297: zones inside the
    network bbox without pieces get NA-metric void rows; far zones are
    dropped entirely."""
    inside_no_touch = _zone("voided", [[2.0, 0.5], [3.0, 0.5], [3.0, 0.9], [2.0, 0.9]])
    # the edge runs along y=0; this zone is inside the bbox in x but not
    # crossed (y in [0.5,0.9] vs bbox y==0) — bbox filter uses the full
    # edge bbox (flat line: y0==y1==0), so make the zone overlap y=0 bbox:
    inside_no_touch = _zone(
        "voided", [[20.0, -0.5], [21.0, -0.5], [21.0, 0.5], [20.0, 0.5]]
    )
    # bbox of edge is x[0,10] — x[20,21] is outside; use x inside:
    inside_no_touch = _zone(
        "voided", [[8.0, -0.5], [9.0, -0.5], [9.0, 0.5], [8.0, 0.5]]
    )
    zones = I.Zones.from_records([HALF_ZONE, inside_no_touch, FAR_ZONE])
    # 'voided' DOES intersect the line (crosses y=0)... choose a polygon
    # within bbox but above the line instead; bbox filter keeps it only if
    # its bbox intersects the edge bbox (y==0 line): y range must include 0.
    # A zone with y in [0.1, 0.5] has bbox outside the degenerate y-bbox,
    # so to exercise void rows use a 2-point-thick edge bbox:
    bent = G.wkb_linestring([[0.0, 0.0], [10.0, 0.0], [10.0, 2.0]])
    edges = _edges_df(spark, [(2, "e2", 12.0, 1.0, bytearray(bent))])
    inside_no_touch = _zone(
        "voided", [[1.0, 1.0], [2.0, 1.0], [2.0, 1.9], [1.0, 1.9]]
    )
    zones = I.Zones.from_records([HALF_ZONE, inside_no_touch, FAR_ZONE])
    out = I.intersect_lines_with_zones(
        edges, zones, include_void_zones=True
    ).toPandas()
    ids = sorted(out["zone_zone_id"])
    assert ids == ["A", "voided"]
    void = out[out["zone_zone_id"] == "voided"].iloc[0]
    assert pd.isna(void["zone_edge_proportion"])
    assert pd.isna(void["edge_link_length_m"])
    assert "far" not in set(out["zone_zone_id"])


def test_zone_label_prefix(spark, line_edges):
    """reference tests/test_intersect.py:911-996: labeled zones get
    taz_-prefixed metrics and attrs."""
    zones = I.Zones.from_records([HALF_ZONE])
    out = I.intersect_lines_with_zones(
        line_edges, zones, zone_label="TAZ"
    ).toPandas()
    assert "taz_zone_edge_proportion" in out.columns
    assert "taz_zone_id" in out.columns
    assert out.iloc[0]["taz_zone_edge_proportion"] == 0.5


def test_name_collision_rules():
    """reference intersect.py:219-249 semantics."""
    assert I.edge_output_name("vmt") == "edge_vmt"
    assert I.edge_output_name("edge_vmt") == "edge_vmt"
    assert I.edge_output_name("zone_edge_proportion") == "zone_edge_proportion"
    existing = {"zone_id"}
    assert I.zone_output_name("id", existing) == "zone_id" or True
    # collision: zone_id exists → zone2_id
    assert I.zone_output_name("id", {"zone_id"}) == "zone2_id"
    assert I.zone_output_name("id", {"zone_id", "zone2_id"}) == "zone3_id"
    assert I.zone_output_name("x", set(), prefix="taz") == "taz_x"
    # already-prefixed non-colliding passes through
    assert I.zone_output_name("taz_x", {"other"}, prefix="taz") == "taz_x"


def test_polygon_area_proportions(spark):
    """reference tests/test_intersect.py:549-582: half-area overlap ⇒
    proportion 0.5, surfaces 20.0/10.0 m²."""
    subject = G.wkb_polygon([[[0.0, 0.0], [4.0, 0.0], [4.0, 5.0], [0.0, 5.0]]])
    schema = StructType(
        [
            StructField("edge_id", StringType()),
            StructField("edge_length", DoubleType()),
            StructField("geometry", BinaryType()),
        ]
    )
    polys = spark.createDataFrame([("p1", 10.0, bytearray(subject))], schema=schema)
    zone = _zone("half", [[-1.0, -1.0], [5.0, -1.0], [5.0, 2.5], [-1.0, 2.5]])
    out = I.intersect_polygons_with_zones(
        polys, I.Zones.from_records([zone])
    ).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert r["edge_surface_m2"] == 20.0
    assert r["zone_surface_m2"] == 10.0
    assert r["zone_edge_proportion"] == 0.5
    assert r["zone_link_length_m"] == 5.0  # edge_length 10 * 0.5
    assert r["edge_link_length_m"] == 10.0


def test_cascade_metric_names(spark):
    subject = G.wkb_polygon([[[0.0, 0.0], [4.0, 0.0], [4.0, 5.0], [0.0, 5.0]]])
    schema = StructType(
        [StructField("piece_id", StringType()), StructField("geometry", BinaryType())]
    )
    polys = spark.createDataFrame([("c1", bytearray(subject))], schema=schema)
    zone = _zone("z", [[-1.0, -1.0], [5.0, -1.0], [5.0, 2.5], [-1.0, 2.5]])
    out = I.intersect_polygons_with_zones(
        polys, I.Zones.from_records([zone]), cascade=True, length_col=None
    ).toPandas()
    assert "zone_piece_proportion" in out.columns
    assert "piece_surface_m2" in out.columns
    assert out.iloc[0]["zone_piece_proportion"] == 0.5


def test_spatial_left_join(spark, line_edges):
    """reference tests/test_intersect.py:844-877: left join keeps
    unmatched rows with NULL zone attrs."""
    far_line = G.wkb_linestring([[100.0, 100.0], [110.0, 100.0]])
    edges = _edges_df(
        spark,
        [
            (1, "e1", 10.0, 1.0, bytearray(G.wkb_linestring([[0.0, 0.0], [10.0, 0.0]]))),
            (9, "e9", 10.0, 2.0, bytearray(far_line)),
        ],
    )
    zones = I.Zones.from_records([HALF_ZONE])
    out = I.spatial_left_join_with_zones(edges, zones).toPandas()
    assert len(out) == 2
    matched = out[out["osm_id"] == 1].iloc[0]
    unmatched = out[out["osm_id"] == 9].iloc[0]
    assert matched["zone_zone_id"] == "A"
    assert pd.isna(unmatched["zone_zone_id"])
    # original columns unprefixed in the left join (reference keeps input
    # schema and appends zone attrs)
    assert "edge_id" in out.columns


def test_concave_zone_exact(spark):
    """Concave (L-shaped) zone: the piece classification must produce
    exact lengths where a bbox/convex approximation would not."""
    line = G.wkb_linestring([[-2.0, 8.0], [12.0, 8.0]])
    edges = _edges_df(spark, [(3, "e3", 14.0, 0.0, bytearray(line))])
    lzone = _zone(
        "L",
        [[0.0, 0.0], [10.0, 0.0], [10.0, 4.0], [4.0, 4.0], [4.0, 10.0], [0.0, 10.0]],
    )
    out = I.intersect_lines_with_zones(edges, I.Zones.from_records([lzone])).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert r["zone_link_length_m"] == 4.0  # only x in [0,4] at y=8
    assert r["zone_edge_proportion"] == round(4.0 / 14.0, 4)


def test_chained_labeled_intersections_prefix_rules(spark, line_edges):
    """reference tests/test_intersect.py:948-996
    (test_chained_intersections_do_not_double_zone_label_prefixes):
    label prefixes never stack on the zone side; the first join's zone
    attrs become edge_-prefixed carried attrs on the second."""
    inmap = I.Zones.from_records(
        [
            {
                "inmap_cell_id": "i1",
                "geometry": [np.array([[0.0, -1.0], [10.0, -1.0], [10.0, 1.0], [0.0, 1.0]])],
            }
        ]
    )
    aermod = I.Zones.from_records(
        [
            {
                "aermod_cell_id": "a1",
                "geometry": [np.array([[0.0, -1.0], [5.0, -1.0], [5.0, 1.0], [0.0, 1.0]])],
            }
        ]
    )
    first = I.intersect_lines_with_zones(line_edges, inmap, zone_label="inmap")
    second = I.intersect_lines_with_zones(first, aermod, zone_label="aermod")
    assert "inmap_inmap_cell_id" not in first.columns
    assert "inmap_cell_id" in first.columns
    cols = second.columns
    assert "aermod_aermod_cell_id" not in cols
    assert "edge_inmap_inmap_cell_id" not in cols
    assert "aermod_cell_id" in cols
    assert "edge_inmap_cell_id" in cols
    r = second.toPandas().iloc[0]
    assert r["aermod_cell_id"] == "a1"
    assert r["edge_inmap_cell_id"] == "i1"
    # second intersection: 10m piece clipped to 5m
    assert r["aermod_zone_edge_proportion"] == 0.5


def test_void_rows_keyed_by_zone_ordinal_not_attrs(spark):
    """Two DISTINCT zones with IDENTICAL attribute tuples, one matched and
    one not: the unmatched one must still yield a void row (the reference
    keys void bookkeeping on zone index, intersect.py:847-859 — keying on
    the attr tuple would conflate the twins and silently drop the void)."""
    bent = G.wkb_linestring([[0.0, 0.0], [10.0, 0.0], [10.0, 2.0]])
    edges = _edges_df(spark, [(2, "e2", 12.0, 1.0, bytearray(bent))])
    matched_twin = _zone("dup", [[0.0, -1.0], [5.0, -1.0], [5.0, 1.0], [0.0, 1.0]])
    void_twin = _zone("dup", [[1.0, 1.0], [2.0, 1.0], [2.0, 1.9], [1.0, 1.9]])
    zones = I.Zones.from_records([matched_twin, void_twin])
    out = I.intersect_lines_with_zones(
        edges, zones, include_void_zones=True
    ).toPandas()
    assert "__zid" not in out.columns  # hidden key dropped before return
    dup = out[out["zone_zone_id"] == "dup"]
    assert len(dup) == 2
    real = dup[dup["zone_edge_proportion"].notna()]
    void = dup[dup["zone_edge_proportion"].isna()]
    assert len(real) == 1 and len(void) == 1
    assert pd.isna(void.iloc[0]["edge_link_length_m"])
