"""geom_batch parity: the CSR-expansion batch kernels must reproduce the
per-zone loops bit-for-bit (distances, inside flags, cover-cell
classification, clip totals) — the round-6 optimization contract."""

import numpy as np
import pandas as pd
import pytest

from osm_chordify_spark import cellindex as ci
from osm_chordify_spark import geom as G
from osm_chordify_spark import geom_batch as GB
from osm_chordify_spark.operators import zoneindex as ZI

rng = np.random.RandomState(42)


def _rand_poly(cx, cy, r, n=8, hole=False):
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    rad = r * rng.uniform(0.5, 1.0, n)
    ring = np.stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)], axis=1)
    rings = [ring]
    if hole:
        hang = np.sort(rng.uniform(0, 2 * np.pi, 5))
        rings.append(
            np.stack(
                [cx + 0.3 * r * np.cos(hang), cy + 0.3 * r * np.sin(hang)],
                axis=1,
            )
        )
    return rings


@pytest.fixture(scope="module")
def zones():
    zs = []
    for i in range(300):
        cx, cy = rng.uniform(-50, 50, 2)
        kind = i % 5
        if kind == 0:
            zs.append([_rand_poly(cx, cy, rng.uniform(0.5, 5))])
        elif kind == 1:
            zs.append([_rand_poly(cx, cy, rng.uniform(0.5, 5), hole=True)])
        elif kind == 2:
            zs.append([_rand_poly(cx, cy, 2), _rand_poly(cx + 8, cy, 1.5)])
        elif kind == 3:
            w = rng.uniform(0.1, 2)
            zs.append([[np.array(
                [[cx, cy], [cx + w, cy], [cx + w, cy + w], [cx, cy + w]]
            )]])
        else:
            zs.append([_rand_poly(cx, cy, 30, n=12)])
    zs.append([[np.array([[1.0, 1.0]])]])  # degenerate single-point ring
    zs.append([])  # empty zone
    return zs


def _score_one(polys, px, py):
    """The pre-round-6 per-zone scorer, verbatim."""
    inside = np.zeros(len(px), dtype=bool)
    for rings in polys:
        inside |= G.point_in_polygon(px, py, rings)
    best = np.full(len(px), np.inf)
    for rings in polys:
        for ring in rings:
            r = G.ring_close(ring)
            for i in range(len(r) - 1):
                d = G.point_segment_dist(
                    px, py, r[i, 0], r[i, 1], r[i + 1, 0], r[i + 1, 1]
                )
                best = np.minimum(best, np.asarray(d, dtype=np.float64))
    best[inside] = 0.0
    return best, inside


def test_min_dist_inside_bit_parity(zones):
    codes = rng.randint(0, len(zones), 5000)
    qx = rng.uniform(-60, 60, 5000)
    qy = rng.uniform(-60, 60, 5000)
    fz = GB.FlatZones(zones)
    best_b, inside_b = fz.min_dist_inside(codes, qx, qy)
    for z in np.unique(codes):
        m = codes == z
        b, ins = _score_one(zones[z], qx[m], qy[m])
        assert np.array_equal(inside_b[m], ins), f"inside mismatch zone {z}"
        assert np.array_equal(best_b[m], b), f"dist mismatch zone {z}"


def test_inside_points_bit_parity(zones):
    codes = rng.randint(0, len(zones), 3000)
    qx = rng.uniform(-60, 60, 3000)
    qy = rng.uniform(-60, 60, 3000)
    fz = GB.FlatZones(zones)
    got = fz.inside_points(codes, qx, qy)
    for z in np.unique(codes):
        m = codes == z
        ref = np.zeros(int(m.sum()), dtype=bool)
        for rings in zones[z]:
            ref |= G.point_in_polygon(qx[m], qy[m], rings)
        assert np.array_equal(got[m], ref), f"zone {z}"


def _assert_cover_parity(zones, res, world=ci.WORLD, mx=4096):
    """Batch covers ≡ per-zone ``zone_min_res`` + ``zone_cover_cells``,
    dict for dict."""
    zidx, cells, fulls, zres = GB.zone_cover_cells_batch(
        zones, res, world, mx, return_res=True
    )
    batch_map: dict = {}
    for z, c, f in zip(zidx, cells, fulls):
        batch_map.setdefault(int(z), {})[int(c)] = bool(f)
    for u, polys in enumerate(zones):
        if not polys:
            assert u not in batch_map
            continue
        zr = ZI.zone_min_res(polys, res, world, mx)
        assert int(zres[u]) == zr, (u, zres[u], zr)
        seen = {
            int(k): bool(v)
            for k, v in ZI.zone_cover_cells(polys, zr, world, mx).items()
        }
        assert batch_map.get(u, {}) == seen, f"zone {u}"
    return zres


def test_zone_cover_cells_batch_parity(zones):
    _assert_cover_parity(zones, 9)


@pytest.mark.parametrize("world", [ci.WORLD, (-180.0, -90.0, 180.3, 90.1)])
def test_zone_cover_cells_batch_grid_aligned_parity(world):
    """Zones whose edges and vertices sit exactly on res-9 cell lines —
    the inputs where the segment-driven crossing pass and the
    row-straddler winding pass would lose a cell if their cell ranges
    were not widened at grid lines.  The second world has non-dyadic
    cell sizes, so grid-line coordinates map to cell coordinates a few
    ulps off the integer."""
    wx0, wy0, wx1, wy1 = world
    w, h = (wx1 - wx0) / 512.0, (wy1 - wy0) / 512.0  # res-9 cell size

    def gx(i):  # the cellindex.cell_bounds expression
        return wx0 + i * w

    def gy(j):
        return wy0 + j * h

    def box(i0, j0, i1, j1):
        return np.array([[gx(i0), gy(j0)], [gx(i1), gy(j0)],
                         [gx(i1), gy(j1)], [gx(i0), gy(j1)]])

    ang = np.linspace(0, 2 * np.pi, 4000, endpoint=False)
    rad = 30 + 0.7 * np.sin(37 * ang)
    wiggly = np.stack([10 + rad * np.cos(ang), 5 + rad * np.sin(ang)], axis=1)
    zs = [
        # square with every side on a cell line
        [[box(300, 260, 304, 263)]],
        # vertex exactly on a cell corner, other vertices off-grid
        [[np.array([[gx(310), gy(270)], [gx(313) + 0.1, gy(271) + 0.05],
                    [gx(311) + 0.3, gy(274) + 0.2]])]],
        # horizontal edges on row y0 lines (bottom and an inner step)
        [[np.array([[gx(320) + 0.2, gy(250)], [gx(326) + 0.1, gy(250)],
                    [gx(326) + 0.1, gy(253)], [gx(323) + 0.3, gy(253)],
                    [gx(323) + 0.3, gy(256) + 0.1], [gx(320) + 0.2, gy(256) + 0.1]])]],
        # holed zone: off-grid outer, hole edges on cell lines
        [[np.array([[gx(330) - 0.2, gy(240) - 0.1], [gx(338) + 0.2, gy(240) - 0.1],
                    [gx(338) + 0.2, gy(248) + 0.1], [gx(330) - 0.2, gy(248) + 0.1]]),
          box(332, 242, 336, 246)]],
        # diagonal through cell corners, with a zero-length edge on one
        [[np.array([[gx(340), gy(230)], [gx(340), gy(230)], [gx(345), gy(235)],
                    [gx(340), gy(235)]])]],
        # two grid-aligned squares sharing an edge (dedupe, OR(full))
        [[box(350, 220, 352, 222)], [box(352, 220, 355, 222)]],
        # past the world's east edge (covers clip to the last column)
        [[np.array([[179.0, 10.0], [185.0, 10.0], [185.0, 12.0], [179.0, 12.0]])]],
        # ~4 000 wiggly vertices: the 4096-cell guard coarsens this zone
        [[wiggly]],
        [[np.array([[1.0, 1.0]])]],  # degenerate single-point ring
        [],  # empty zone
    ]
    zres = _assert_cover_parity(zs, 9, world)
    assert zres[7] < 9 and zres[0] == 9  # mixed resolution


def _piece_bytes(pieces):
    return None if pieces is None else [np.asarray(p).tobytes() for p in pieces]


def _clip_edges_vs_zone(lines_per_edge, zpolys, keep_geometry):
    """The per-zone reference clip: every edge's segments against each
    polygon of ONE zone with ``geom.clip_segments_batch``; line subtotals
    in (segment, t) order, edge totals in line order."""
    n_edges = len(lines_per_edge)
    p0s, p1s, rowidx, lineidx = [], [], [], []
    line_row: list[int] = []
    for cr, lines in enumerate(lines_per_edge):
        for ln in lines:
            if len(ln) < 2:
                continue
            k = len(ln) - 1
            p0s.append(ln[:-1])
            p1s.append(ln[1:])
            rowidx.append(np.full(k, cr, np.int64))
            lineidx.append(np.full(k, len(line_row), np.int64))
            line_row.append(cr)
    if not p0s:
        return np.zeros(n_edges), [None] * n_edges
    P0, P1 = np.vstack(p0s), np.vstack(p1s)
    srow, sline = np.concatenate(rowidx), np.concatenate(lineidx)
    seg_len = np.hypot(P1[:, 0] - P0[:, 0], P1[:, 1] - P0[:, 1])
    line_tot = np.zeros(len(line_row))
    per_poly_iv = []
    for rings in zpolys:
        sidx, t0, t1 = G.clip_segments_batch(P0, P1, rings)
        per_poly_iv.append((sidx, t0, t1))
        np.add.at(line_tot, sline[sidx], seg_len[sidx] * (t1 - t0))
    totals = np.zeros(n_edges)
    np.add.at(totals, np.asarray(line_row, np.int64), line_tot)
    pieces_per: list = [None] * n_edges
    if keep_geometry:
        for cr in range(n_edges):
            if totals[cr] <= 0:
                continue
            pieces = []
            for sidx, t0, t1 in per_poly_iv:
                m = srow[sidx] == cr
                pieces.extend(GB._assemble_pieces(P0, P1, sline, sidx[m], t0[m], t1[m]))
            pieces_per[cr] = pieces
    return totals, pieces_per


def test_clip_pairs_totals_bit_parity(zones, monkeypatch):
    """Both clip branches against the per-zone reference.  As is, the
    big-ring zone goes zone by zone and the rest flat in one call; with
    the cutoff at 1 every zone goes zone by zone, at 10⁹ every zone
    goes flat."""
    for cutoff in (GB.BIG_ZONE_SEGMENTS, 1, 10**9):
        monkeypatch.setattr(GB, "BIG_ZONE_SEGMENTS", cutoff)
        _check_clip_parity(zones)


def _check_clip_parity(zones):
    # a holed ring of 400 wiggly vertices: over the ring-size cutoff
    ang = np.linspace(0, 2 * np.pi, 400, endpoint=False)
    rad = 12 + 0.8 * np.sin(23 * ang)
    big = [np.stack([-70 + rad * np.cos(ang), 70 + rad * np.sin(ang)], axis=1),
           np.array([[-72.0, 68.0], [-68.0, 68.0], [-68.0, 72.0], [-72.0, 72.0]])]
    zones = zones + [[big]]
    zbig = len(zones) - 1
    rng = np.random.RandomState(11)  # local: the module stream stays as is
    # edges: random polylines (1-3 segments)
    edges = []
    for _ in range(120):
        n = rng.randint(2, 5)
        pts = np.cumsum(rng.uniform(-3, 3, (n, 2)), axis=0) + rng.uniform(
            -50, 50, 2
        )
        edges.append([pts])
    # multi-line edges (pieces never merge across source lines)
    for _ in range(30):
        edges.append([
            np.cumsum(rng.uniform(-3, 3, (rng.randint(2, 5), 2)), axis=0)
            + rng.uniform(-50, 50, 2)
            for _ in range(rng.randint(2, 4))
        ])
    ecodes = rng.randint(0, len(edges), 4000)
    zcodes = rng.randint(0, len(zones), 4000)
    # edges straight through a holed zone's hole and across both polygons
    # of a multipolygon zone
    for u in range(1, 60, 5):
        (hx0, hy0), (hx1, _hy) = zones[u][0][1].min(0), zones[u][0][1].max(0)
        (ox0, _oy), (ox1, _oy2) = zones[u][0][0].min(0), zones[u][0][0].max(0)
        y = (hy0 + _hy) / 2
        edges.append([np.array([[ox0 - 1.0, y], [(hx0 + hx1) / 2, y + 0.01],
                                [ox1 + 1.0, y]])])
        ecodes = np.append(ecodes, len(edges) - 1)
        zcodes = np.append(zcodes, u)
    for u in range(2, 60, 5):
        c0, c1 = zones[u][0][0].mean(0), zones[u][1][0].mean(0)
        edges.append([np.array([c0 - [3.0, 0.0], c1 + [3.0, 0.0]])])
        ecodes = np.append(ecodes, len(edges) - 1)
        zcodes = np.append(zcodes, u)
    # touch-only pairs: an edge along a square zone's top and right
    # borders (boundary points there classify outside) plus a corner touch
    # the big zone: crossing, contained (in the ring, off the hole) and
    # far-off edges
    for _ in range(40):
        c = np.array([-70.0, 70.0]) + rng.uniform(-16, 16, 2)
        edges.append([np.cumsum(rng.uniform(-4, 4, (rng.randint(2, 6), 2)), axis=0) + c])
        ecodes = np.append(ecodes, len(edges) - 1)
        zcodes = np.append(zcodes, zbig)
    edges.append([np.array([[-78.0, 70.0], [-75.0, 71.0]])])
    edges.append([np.array([[-90.0, 90.0], [-89.0, 91.0]])])
    ecodes = np.append(ecodes, [len(edges) - 2, len(edges) - 1])
    zcodes = np.append(zcodes, [zbig, zbig])
    for u in range(3, 53, 5):
        (x0, y0), (x1, _y), _c, (_x, y1) = zones[u][0][0]
        edges.append([np.array([[x0 - 1.0, y1], [x1 + 1.0, y1]]),
                      np.array([[x1, y0 - 1.0], [x1, y1 + 1.0]]),
                      np.array([[x0 - 1.0, y0 - 1.0], [x0, y0]])])
        ecodes = np.append(ecodes, len(edges) - 1)
        zcodes = np.append(zcodes, u)
    totals = GB.clip_pairs_totals(edges, ecodes, zones, zcodes)
    ptotals, pieces = GB.clip_pairs_pieces(edges, ecodes, zones, zcodes)
    assert np.array_equal(ptotals, totals)
    # reference: the per-zone batch clip over each zone's pairs
    for z in np.unique(zcodes):
        m = zcodes == z
        lines = [edges[e] for e in ecodes[m]]
        ref, _ = _clip_edges_vs_zone(lines, zones[z], False)
        assert np.array_equal(totals[m], ref), f"zone {z}"
        ref_t, ref_pieces = _clip_edges_vs_zone(lines, zones[z], True)
        assert np.array_equal(ref_t, ref)
        got = [_piece_bytes(pieces[i]) for i in np.nonzero(m)[0]]
        assert got == [_piece_bytes(p) for p in ref_pieces], f"zone {z}"
    # the input mix really holds each case
    assert any(len(zones[z]) > 1 and totals[i] > 0 for i, z in enumerate(zcodes))
    assert any(len(zones[z][0]) > 1 and totals[i] > 0
               for i, z in enumerate(zcodes) if zones[z])
    assert any(len(edges[e]) > 1 and totals[i] > 0 for i, e in enumerate(ecodes))
    assert all(totals[-10:] == 0) and all(p is None for p in pieces[-10:])
    assert sum(len(r) for r in big) >= 256
    assert (totals[zcodes == zbig] > 0).sum() > 10
    assert totals[-12] == pytest.approx(np.hypot(3.0, 1.0)) and totals[-11] == 0


def test_zone_cover_cells_batch_dedupes_after_empty_zone():
    """An empty zone plus one 2-polygon zone: polygon count == zone count,
    yet the second zone's polygons share a cell with conflicting full
    flags — the batch must emit each (zone, cell) once, OR-merged, like
    the per-zone reference."""
    world, res, mx = (0.0, 0.0, 1024.0, 1024.0), 4, 4096
    big = [np.array([[0.0, 0.0], [256.0, 0.0], [256.0, 256.0], [0.0, 256.0]])]
    small = [np.array([[70.0, 70.0], [80.0, 70.0], [80.0, 80.0], [70.0, 80.0]])]
    zs = [[], [big, small]]
    zidx, cells, fulls = GB.zone_cover_cells_batch(zs, res, world, mx)
    pairs = list(zip(zidx.tolist(), cells.tolist()))
    assert len(pairs) == len(set(pairs))
    ref = ZI.zone_cover_cells(zs[1], ZI.zone_min_res(zs[1], res, world, mx),
                              world, mx)
    assert set(zidx.tolist()) == {1}
    assert dict(zip(cells.tolist(), fulls.tolist())) == {
        int(k): bool(v) for k, v in ref.items()
    }
    assert ref[int(ci.make_cell(res, 1, 1))]  # the conflicting cell is full


def test_flatzones_degenerate_and_empty():
    zs = [[[np.array([[1.0, 1.0]])]], [], [[np.array([[0, 0], [1, 0], [1, 1], [0, 1]], float)]]]
    fz = GB.FlatZones(zs)
    codes = np.array([0, 1, 2, 2])
    best, inside = fz.min_dist_inside(codes, np.array([0.5, 0.5, 0.5, 5.0]),
                                      np.array([0.5, 0.5, 0.5, 0.5]))
    assert np.isinf(best[0]) and np.isinf(best[1])
    assert not inside[0] and not inside[1]
    assert inside[2] and best[2] == 0.0
    assert not inside[3] and best[3] == pytest.approx(4.0)
