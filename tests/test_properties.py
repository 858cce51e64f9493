"""Property-based tests (hypothesis) for the pure-NumPy kernels."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from osm_chordify_spark import cellindex as ci
from osm_chordify_spark import geom as G

coords = st.floats(-170.0, 170.0, allow_nan=False, allow_infinity=False)
lats = st.floats(-85.0, 85.0, allow_nan=False, allow_infinity=False)
res_st = st.integers(1, 15)


@settings(max_examples=200, deadline=None)
@given(coords, lats, res_st)
def test_cell_contains_its_point(x, y, res):
    """Points map into their cell up to one ulp of the scaled fraction:
    a coordinate within ~1e-16 of a cell boundary may round into the
    neighboring cell.  That assignment is still deterministic and
    engine-identical (same IEEE ops), which is the actual contract."""
    c = ci.cell_at([x], [y], res)
    x0, y0, x1, y1 = ci.cell_bounds(c)
    tol_x = (x1[0] - x0[0]) * 1e-12 + 1e-12
    tol_y = (y1[0] - y0[0]) * 1e-12 + 1e-12
    assert x0[0] - tol_x <= x <= x1[0] + tol_x
    assert y0[0] - tol_y <= y <= y1[0] + tol_y


@settings(max_examples=200, deadline=None)
@given(coords, lats, res_st)
def test_parent_contains_child(x, y, res):
    c = ci.cell_at([x], [y], res)
    p = ci.parent(c)
    px0, py0, px1, py1 = ci.cell_bounds(p)
    cx0, cy0, cx1, cy1 = ci.cell_bounds(c)
    assert px0[0] <= cx0[0] and px1[0] >= cx1[0] - 1e-12
    assert py0[0] <= cy0[0] and py1[0] >= cy1[0] - 1e-12
    # the point's direct parent cell equals cell_at at res-1
    assert p[0] == ci.cell_at([x], [y], res - 1)[0]


rect = st.tuples(
    st.floats(-50, 40, allow_nan=False),
    st.floats(-50, 40, allow_nan=False),
    st.floats(0.5, 30.0, allow_nan=False),
    st.floats(0.5, 30.0, allow_nan=False),
)


@settings(max_examples=150, deadline=None)
@given(rect, st.lists(st.tuples(coords, lats), min_size=3, max_size=12))
def test_clip_length_bounded_by_line_length(r, pts):
    x0, y0, w, h = r
    ring = np.array([[x0, y0], [x0 + w, y0], [x0 + w, y0 + h], [x0, y0 + h]])
    line = np.array(pts, dtype=float)
    total = G.polyline_length(line)
    _, inside = G.clip_line_polygon(line, [ring])
    assert -1e-6 <= inside <= total + max(1e-6, total * 1e-9)


@settings(max_examples=150, deadline=None)
@given(rect, coords, lats)
def test_pip_agrees_with_rect_arithmetic(r, px, py):
    x0, y0, w, h = r
    ring = np.array([[x0, y0], [x0 + w, y0], [x0 + w, y0 + h], [x0, y0 + h]])
    # skip exact-boundary points (winding parity is unspecified there)
    on_edge = (
        abs(px - x0) < 1e-9 or abs(px - (x0 + w)) < 1e-9
        or abs(py - y0) < 1e-9 or abs(py - (y0 + h)) < 1e-9
    )
    if on_edge:
        return
    expected = (x0 < px < x0 + w) and (y0 < py < y0 + h)
    got = bool(G.point_in_polygon([px], [py], [ring])[0])
    assert got == expected


@settings(max_examples=100, deadline=None)
@given(rect, rect)
def test_rect_rect_area_matches_arithmetic(ra, rb):
    ax0, ay0, aw, ah = ra
    bx0, by0, bw, bh = rb
    A = [np.array([[ax0, ay0], [ax0 + aw, ay0], [ax0 + aw, ay0 + ah], [ax0, ay0 + ah]])]
    B = [np.array([[bx0, by0], [bx0 + bw, by0], [bx0 + bw, by0 + bh], [bx0, by0 + bh]])]
    expected = max(0.0, min(ax0 + aw, bx0 + bw) - max(ax0, bx0)) * max(
        0.0, min(ay0 + ah, by0 + bh) - max(ay0, by0)
    )
    got = G.poly_poly_area(A, B)
    assert abs(got - expected) <= max(1e-6, expected * 1e-9)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(coords, lats), min_size=3, max_size=20))
def test_convex_hull_contains_all_points(pts):
    arr = np.array(pts, dtype=float)
    hull = G.convex_hull(arr)
    if len(hull) < 3:
        return  # degenerate/collinear input
    # every point is inside or on the hull (within tolerance)
    inside = G.point_in_polygon(arr[:, 0], arr[:, 1], [hull])
    on_edge = G.point_on_ring(arr[:, 0], arr[:, 1], hull, eps=1e-6)
    assert bool(np.all(inside | on_edge))


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(coords, lats), min_size=2, max_size=10))
def test_wkb_roundtrip_property(pts):
    line = np.array(pts, dtype=float)
    kind, back = G.parse_wkb(G.wkb_linestring(line))
    assert kind == "linestring"
    assert np.allclose(back, line)


# ---------------------------------------------------------------------------
# OSM PBF wire codec (sources/osm_pbf.py) — pure-Python, no Spark needed

from osm_chordify_spark.sources import osm_pbf as B  # noqa: E402

i64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)
u64 = st.integers(min_value=0, max_value=2**64 - 1)


@settings(max_examples=300, deadline=None)
@given(u64)
def test_varint_roundtrip(n):
    buf = B.enc_varint(n)
    val, pos = B.dec_varint(buf, 0)
    assert val == n and pos == len(buf)


@settings(max_examples=300, deadline=None)
@given(i64)
def test_zigzag_roundtrip(n):
    assert B.zz_dec(B.zz_enc(n)) == n


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=-(2**40), max_value=2**40), max_size=50))
def test_packed_sint_delta_roundtrip(vals):
    enc = B.enc_packed_sint_delta(8, vals)
    fields = list(B.iter_fields(enc))
    assert len(fields) == 1 and fields[0][0] == 8
    assert B.dec_packed_sint_delta(fields[0][2]).tolist() == vals


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**40),     # id
            st.integers(min_value=-900000000, max_value=900000000),   # lat 1e-7
            st.integers(min_value=-1800000000, max_value=1800000000), # lon 1e-7
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda t: t[0],
    )
)
def test_dense_nodes_block_roundtrip(nodes):
    """Encode a DenseNodes PrimitiveBlock, decode it back: ids and
    quantized coordinates survive exactly."""
    st_tab = B._StringTable()
    ids = [n[0] for n in nodes]
    lats = [n[1] for n in nodes]
    lons = [n[2] for n in nodes]
    group = B._dense_nodes_group(ids, lats, lons, [[] for _ in nodes])
    blob = B._frame_blob("OSMData", B._block([group], st_tab))
    import struct as _s

    (hlen,) = _s.unpack(">I", blob[:4])
    payload = blob[4 + hlen:]
    df = B._decode_block(B._decode_blob(payload))
    assert df["id"].tolist() == ids
    got_lat = (df["lat"].to_numpy() * 1e7).round().astype(int).tolist()
    got_lon = (df["lon"].to_numpy() * 1e7).round().astype(int).tolist()
    assert got_lat == lats and got_lon == lons


_ROUND_SPECIALS = [0.125, 2.675, 1.005, 0.5, 2.5, -0.125, -2.675, -1.005, -0.5,
                   -2.5, 0.00005, 1.23455, -0.0, 0.0, 2.0 ** 50, 2.0 ** 50 + 0.5,
                   -(2.0 ** 52) - 2.0, 1e300, float("nan"), float("inf"),
                   float("-inf")]


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.floats(allow_nan=True, allow_infinity=True),
            st.floats(-1e6, 1e6),
            st.floats(2.0 ** 46, 2.0 ** 54).flatmap(lambda v: st.sampled_from([v, -v])),
            # decimal ties at the 3rd and 5th place: x.xx5 / x.xxxx5
            st.integers(-10 ** 9, 10 ** 9).map(lambda i: (10 * i + 5) / 1e3),
            st.integers(-10 ** 9, 10 ** 9).map(lambda i: (10 * i + 5) / 1e5),
        ),
        max_size=40,
    ),
    st.sampled_from([2, 4]),
)
def test_round_dp_equals_builtin_round(xs, k):
    """The vectorized rounding of the dist kernels is builtins.round bit
    for bit (sign of zero and NaN included), on ties, negatives, huge
    and non-finite values."""
    from osm_chordify_spark.geom_batch import round_dp

    vals = np.array(xs + _ROUND_SPECIALS, dtype=np.float64)
    got = round_dp(vals, k)
    exp = np.array([round(float(v), k) for v in vals])
    same = (got.view(np.int64) == exp.view(np.int64)) | (np.isnan(got) & np.isnan(exp))
    assert same.all(), list(zip(vals[~same], got[~same], exp[~same]))
