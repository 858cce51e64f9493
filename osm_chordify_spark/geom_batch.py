"""Batched (CSR-expansion) geometry kernels over MANY zones at once.

The distributed zone operators (``operators/intersect_dist.py``,
``operators/raster.py``) run their exact-geometry refinement per zone:
a pandas ``groupby('__zid')`` whose per-group body is a handful of
small-array NumPy calls.  At 10⁵⁺ tiny zones the fixed per-call cost
(~0.3–0.5 ms of WKB parse + pandas slicing + small-array dispatch)
dominates the job by 10–30× (guide §4.2: hand whole batches to
vectorized kernels, don't loop rows in Python).

This module flattens a set of zones into contiguous segment arrays with
CSR offsets (zone → polygons → rings → segments) and evaluates
point-distance / point-in-polygon queries for MANY (query, zone) pairs
in single NumPy passes:

* each query row expands to its zone's segments via ``np.repeat`` +
  cumsum offsets (the classic CSR gather);
* per-element formulas are copied VERBATIM from ``geom.py``
  (``point_segment_dist``, ``winding_number``) so every float comparison
  is bit-identical to the per-zone path;
* per-query reductions use ``np.minimum.reduceat`` (min is exact, so
  reduction order cannot perturb results) and integer winding sums.

The cover classifier ``zone_cover_cells_batch`` is output-sensitive
instead: each segment meets only the cover cells of its own bbox (the
Liang–Barsky comparisons of ``geom._segs_intersect_rects``) and only the
cell rows whose y0 it straddles (the winding formula), so its cost
scales with boundary cells, not cover cells × ring segments.

Degenerate rings (< 2 distinct closed points ⇒ zero segments) are
represented by one sentinel segment at ``_FAR`` so every ring owns at
least one slot (``reduceat`` needs non-empty slices): the sentinel is
provably inert for winding (both endpoints above any query point) and
lies outside every cover, and a per-zone ``zone_has_real`` mask restores
the exact ``inf`` distance for all-degenerate zones.
"""

from __future__ import annotations

import numpy as np

from osm_chordify_spark import geom as G

_FAR = 1e308
# cap on the expanded (query, segment) / (segment, cell) arrays of one
# NumPy pass
_CHUNK = 4_000_000
# cell-width margin for "on a grid line"; see _cell_range
_GRID_EPS = 1e-6
# zones with at least this many ring segments clip zone by zone, not in
# the flat pair expansion (see clip_pairs_totals)
BIG_ZONE_SEGMENTS = 256


def _winding_contrib(X, Y, AX, AY, BX, BY):
    """Per (point, segment) winding-number contribution — the
    ``geom.winding_number`` element formula."""
    dx, dy = BX - AX, BY - AY
    upward = (AY <= Y) & (BY > Y)
    downward = (AY > Y) & (BY <= Y)
    cross = dx * (Y - AY) - (X - AX) * dy
    return (upward & (cross > 0)).astype(np.int64) - (
        downward & (cross < 0)
    ).astype(np.int64)


def _csr_chunks(cnt, chunk):
    """(start, end) item slices whose summed ``cnt`` stays within
    ``chunk`` (at least one item per slice)."""
    csum = np.cumsum(cnt)
    start = 0
    while start < len(cnt):
        base = csum[start - 1] if start else 0
        end = int(np.searchsorted(csum, base + chunk, side="left")) + 1
        end = min(max(end, start + 1), len(cnt))
        yield start, end
        start = end


def round_dp(x, k: int) -> np.ndarray:
    """``builtins.round(v, k)`` of every value, bit for bit, as array ops.
    Below 2⁵⁰ every half-integer is a double, so the rounded product
    ``v·10ᵏ`` can land on one but never cross it: ``rint(v·10ᵏ)/10ᵏ`` is
    exact off the near-tie band ``|frac − 0.5| < 1e-6``.  That band,
    larger and non-finite values fall back to ``builtins.round``."""
    x = np.asarray(x, dtype=np.float64)
    with np.errstate(over="ignore", invalid="ignore"):
        y = x * 10.0 ** k
        out = np.rint(y) / 10.0 ** k
        slow = ~(np.abs(y) <= 2.0 ** 50) | (np.abs(y - np.floor(y) - 0.5) < 1e-6)
    for i in np.flatnonzero(slow):
        out[i] = round(float(x[i]), k)
    return out


class FlatZones:
    """Flattened segment/ring/polygon structure for a list of zones.

    ``polys_list[u]`` is zone u's polygon list — each polygon a list of
    rings (outer first), each ring an (n, 2) float array — exactly the
    shape ``geom.geometry_polygons`` returns.
    """

    __slots__ = (
        "n", "seg_ax", "seg_ay", "seg_bx", "seg_by",
        "zone_seg_off", "zone_ring_off", "zone_poly_off",
        "ring_local_seg_off", "ring_is_outer",
        "poly_local_ring_off", "zone_has_real",
    )

    def __init__(self, polys_list):
        ax_parts, ay_parts, bx_parts, by_parts = [], [], [], []
        zone_seg_off = [0]
        zone_ring_off = [0]
        zone_poly_off = [0]
        ring_local_seg_off = []
        ring_is_outer = []
        poly_local_ring_off = []
        zone_has_real = []
        sentinel = np.array([_FAR])
        for polys in polys_list:
            zseg = 0
            zring = 0
            has_real = False
            if not polys:
                # empty zone: one sentinel polygon/ring/segment so every
                # CSR slice is non-empty; winding 0 ⇒ outside, distance
                # masked to inf by zone_has_real
                polys = [[np.empty((0, 2))]]
            for rings in polys:
                poly_local_ring_off.append(zring)
                for ri, ring in enumerate(rings):
                    r = G.ring_close(ring)
                    ring_local_seg_off.append(zseg)
                    ring_is_outer.append(ri == 0)
                    k = len(r) - 1
                    if k <= 0:
                        ax_parts.append(sentinel)
                        ay_parts.append(sentinel)
                        bx_parts.append(sentinel)
                        by_parts.append(sentinel)
                        zseg += 1
                    else:
                        ax_parts.append(r[:-1, 0])
                        ay_parts.append(r[:-1, 1])
                        bx_parts.append(r[1:, 0])
                        by_parts.append(r[1:, 1])
                        zseg += k
                        has_real = True
                    zring += 1
            zone_seg_off.append(zone_seg_off[-1] + zseg)
            zone_ring_off.append(zone_ring_off[-1] + zring)
            zone_poly_off.append(zone_poly_off[-1] + len(polys))
            zone_has_real.append(has_real)
        self.n = len(zone_has_real)
        self.seg_ax = np.concatenate(ax_parts) if ax_parts else np.empty(0)
        self.seg_ay = np.concatenate(ay_parts) if ay_parts else np.empty(0)
        self.seg_bx = np.concatenate(bx_parts) if bx_parts else np.empty(0)
        self.seg_by = np.concatenate(by_parts) if by_parts else np.empty(0)
        self.zone_seg_off = np.asarray(zone_seg_off, dtype=np.int64)
        self.zone_ring_off = np.asarray(zone_ring_off, dtype=np.int64)
        self.zone_poly_off = np.asarray(zone_poly_off, dtype=np.int64)
        self.ring_local_seg_off = np.asarray(ring_local_seg_off, dtype=np.int64)
        self.ring_is_outer = np.asarray(ring_is_outer, dtype=bool)
        self.poly_local_ring_off = np.asarray(poly_local_ring_off, dtype=np.int64)
        self.zone_has_real = np.asarray(zone_has_real, dtype=bool)

    # -- CSR expansion helpers ------------------------------------------

    def _expand(self, codes):
        """codes (per query: zone ordinal) → (seg_off, flat_seg_idx,
        rep_query_idx): each query's block is its zone's contiguous
        segment range."""
        cnt = self.zone_seg_off[codes + 1] - self.zone_seg_off[codes]
        off = np.concatenate(([0], np.cumsum(cnt)))
        total = int(off[-1])
        rep = np.repeat(np.arange(len(codes), dtype=np.int64), cnt)
        flat = (
            np.arange(total, dtype=np.int64)
            - np.repeat(off[:-1], cnt)
            + np.repeat(self.zone_seg_off[codes], cnt)
        )
        return off, flat, rep

    def _inside_from_contrib(self, codes, contrib, off):
        """Per-query inside flag from per-(query, segment) winding
        contributions: ring sums → ring ok (outer: wn != 0, hole:
        wn == 0) → AND per polygon → OR per zone."""
        nq = len(codes)
        rcnt = self.zone_ring_off[codes + 1] - self.zone_ring_off[codes]
        roff = np.concatenate(([0], np.cumsum(rcnt)))
        rtotal = int(roff[-1])
        ring_flat = (
            np.arange(rtotal, dtype=np.int64)
            - np.repeat(roff[:-1], rcnt)
            + np.repeat(self.zone_ring_off[codes], rcnt)
        )
        ring_bounds = (
            np.repeat(off[:-1], rcnt) + self.ring_local_seg_off[ring_flat]
        )
        wn_ring = np.add.reduceat(contrib, ring_bounds) if rtotal else np.empty(0, np.int64)
        ok_ring = np.where(self.ring_is_outer[ring_flat], wn_ring != 0, wn_ring == 0)

        pcnt = self.zone_poly_off[codes + 1] - self.zone_poly_off[codes]
        poff = np.concatenate(([0], np.cumsum(pcnt)))
        ptotal = int(poff[-1])
        poly_flat = (
            np.arange(ptotal, dtype=np.int64)
            - np.repeat(poff[:-1], pcnt)
            + np.repeat(self.zone_poly_off[codes], pcnt)
        )
        poly_bounds = (
            np.repeat(roff[:-1], pcnt) + self.poly_local_ring_off[poly_flat]
        )
        inside_poly = (
            np.logical_and.reduceat(ok_ring, poly_bounds)
            if ptotal
            else np.empty(0, bool)
        )
        inside = (
            np.logical_or.reduceat(inside_poly, poff[:-1])
            if nq
            else np.empty(0, bool)
        )
        return inside

    # -- public batch kernels -------------------------------------------

    def min_dist_inside(self, codes, qx, qy, chunk: int = _CHUNK):
        """Per (query point, its zone): (min distance to any ring
        segment, inside flag).  Distance is ``inf`` for zones with no
        real segments (matching the per-zone loop's untouched best).
        Formulas are element-for-element those of
        ``geom.point_segment_dist`` / ``geom.winding_number``."""
        codes = np.asarray(codes, dtype=np.int64)
        qx = np.asarray(qx, dtype=np.float64)
        qy = np.asarray(qy, dtype=np.float64)
        nq = len(codes)
        best = np.empty(nq, dtype=np.float64)
        inside = np.empty(nq, dtype=bool)
        cnt = self.zone_seg_off[codes + 1] - self.zone_seg_off[codes]
        # chunk queries so the expanded arrays stay bounded
        for start, end in _csr_chunks(cnt, chunk):
            sl = slice(start, end)
            off, flat, rep = self._expand(codes[sl])
            X, Y = qx[sl][rep], qy[sl][rep]
            AX, AY = self.seg_ax[flat], self.seg_ay[flat]
            BX, BY = self.seg_bx[flat], self.seg_by[flat]
            dx, dy = BX - AX, BY - AY
            L2 = dx * dx + dy * dy
            safe = np.where(L2 == 0, 1.0, L2)
            t = np.clip(((X - AX) * dx + (Y - AY) * dy) / safe, 0.0, 1.0)
            cx, cy = AX + t * dx, AY + t * dy
            d = np.hypot(X - cx, Y - cy)
            b = np.minimum.reduceat(d, off[:-1]) if len(d) else np.empty(0)
            contrib = _winding_contrib(X, Y, AX, AY, BX, BY)
            ins = self._inside_from_contrib(codes[sl], contrib, off)
            b = np.where(self.zone_has_real[codes[sl]], b, np.inf)
            b[ins] = 0.0
            best[sl] = b
            inside[sl] = ins
        return best, inside

    def inside_points(self, codes, qx, qy, chunk: int = _CHUNK):
        """Per (query point, its zone): point-in-polygon (OR over the
        zone's polygons, holes excluded) — ``geom.point_in_polygon``
        semantics, batched."""
        codes = np.asarray(codes, dtype=np.int64)
        qx = np.asarray(qx, dtype=np.float64)
        qy = np.asarray(qy, dtype=np.float64)
        nq = len(codes)
        inside = np.empty(nq, dtype=bool)
        cnt = self.zone_seg_off[codes + 1] - self.zone_seg_off[codes]
        for start, end in _csr_chunks(cnt, chunk):
            sl = slice(start, end)
            off, flat, rep = self._expand(codes[sl])
            X, Y = qx[sl][rep], qy[sl][rep]
            AX, AY = self.seg_ax[flat], self.seg_ay[flat]
            BX, BY = self.seg_bx[flat], self.seg_by[flat]
            contrib = _winding_contrib(X, Y, AX, AY, BX, BY)
            inside[sl] = self._inside_from_contrib(codes[sl], contrib, off)
        return inside


def clip_pairs_totals(edge_lines_list, ecodes, zone_polys_list, zcodes,
                      chunk: int = _CHUNK):
    """Exact inside length per (edge, zone) PAIR, batched across zones.

    ``edge_lines_list[e]``: edge e's polylines (lists of (n, 2) arrays);
    ``zone_polys_list[u]``: zone u's polygons; ``ecodes``/``zcodes``:
    per-pair indices into those lists.  Returns float64 totals aligned
    with the pairs.

    Two kernels, picked per pair by its zone's ring size.  Pairs of a
    zone with at least ``BIG_ZONE_SEGMENTS`` ring segments are clipped
    zone by zone (``_clip_zone``: ``geom.clip_segments_batch`` of all the
    zone's pair segments against each of its polygons); every other pair
    goes through one flat (pair × polygon, edge segment × ring segment)
    expansion (``_clip_chunk``).  The flat expansion pays for every ring
    segment once per edge segment, so it loses on big rings, and the
    per-zone calls lose on many small zones.  Measured on a 4-vCPU host
    (``BENCH/one_zone_kernel.md``, with the ring-size sweep): 5,000
    county pairs (801 vertices) clip in 0.48 s flat and 0.27 s routed;
    35k tract pairs (9–20 vertices) in 0.63 s flat and 2.2 s zone by
    zone.  The crossover falls between 16 and 350 vertices as pairs per
    zone fall from 100 to 1.

    Float parity: the per-zone kernel accumulates each line's subtotal
    polygon-major then in (segment, t-interval) order, and each edge's
    total in line order (``np.add.at`` over sorted interval arrays).
    The flat kernel sorts its global interval array by
    (pair, polygon, segment, t) and runs the same two ``np.add.at``
    passes, so every accumulator sees its additions in the identical
    sequence — totals are bit-identical on either branch, and no pair's
    total depends on the other pairs of the call.  Crossing extraction,
    exact-t dedup and midpoint classification are the element-for-element
    formulas of ``geom.clip_segments_batch``.
    """
    return _clip_pairs(edge_lines_list, ecodes, zone_polys_list, zcodes,
                       chunk, keep_geometry=False)[0]


def clip_pairs_pieces(edge_lines_list, ecodes, zone_polys_list, zcodes,
                      chunk: int = _CHUNK):
    """``clip_pairs_totals`` plus the inside sub-polylines per pair:
    returns (totals, pieces_per), pieces None where the total is ≤ 0.
    Both branches build pieces with ``_assemble_pieces`` over the same
    (segment, t) intervals, polygon by polygon, so their coordinates are
    byte-identical whichever kernel a pair takes."""
    return _clip_pairs(edge_lines_list, ecodes, zone_polys_list, zcodes,
                       chunk, keep_geometry=True)


def _assemble_pieces(P0, P1, sline, sidx, t0, t1):
    """Reconstruct inside sub-polylines from batch-clip intervals.

    Intervals arrive sorted by (segment, t); contiguous intervals of the
    same source line whose endpoints coincide merge into one piece
    (np.allclose on the junction point), never across distinct source
    lines."""
    pieces, current = [], []
    last_line = None
    for i in range(len(sidx)):
        s = sidx[i]
        ax, ay = P0[s]
        ex, ey = P1[s, 0] - ax, P1[s, 1] - ay
        p0 = np.array([ax + t0[i] * ex, ay + t0[i] * ey])
        p1 = np.array([ax + t1[i] * ex, ay + t1[i] * ey])
        ln = sline[s]
        if current and ln == last_line and np.allclose(current[-1], p0):
            current.append(p1)
        else:
            if len(current) >= 2:
                pieces.append(np.asarray(current))
            current = [p0, p1]
        last_line = ln
    if len(current) >= 2:
        pieces.append(np.asarray(current))
    return pieces


def _clip_zone(lines_per_edge, zpolys, keep_geometry):
    """The big-ring branch: many edges' polylines against ONE zone (list
    of polygons-with-holes), one ``geom.clip_segments_batch`` call per
    polygon over all their segments.  Per-line subtotals accumulate in
    (seg, t) order, then sum per edge in line order.  Returns (raw
    totals, pieces per edge or None where empty)."""
    n_edges = len(lines_per_edge)
    p0s, p1s, rowidx, lineidx = [], [], [], []
    line_row: list[int] = []  # global line ordinal → edge index
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
    P0 = np.vstack(p0s)
    P1 = np.vstack(p1s)
    srow = np.concatenate(rowidx)
    sline = np.concatenate(lineidx)
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
                pieces.extend(_assemble_pieces(P0, P1, sline, sidx[m], t0[m], t1[m]))
            pieces_per[cr] = pieces
    return totals, pieces_per


def _clip_pairs(edge_lines_list, ecodes, zone_polys_list, zcodes, chunk,
                keep_geometry):
    ecodes = np.asarray(ecodes, dtype=np.int64)
    zcodes = np.asarray(zcodes, dtype=np.int64)
    npairs = len(ecodes)
    totals = np.zeros(npairs, dtype=np.float64)
    pieces_per: list = [None] * npairs
    if npairs == 0:
        return totals, pieces_per

    # ---- flatten edges: segments + line structure ---------------------
    eseg_ax, eseg_ay, eseg_bx, eseg_by = [], [], [], []
    eseg_line = []  # global kept-line ordinal per segment
    edge_seg_off = [0]
    edge_line_off = [0]
    nline = 0
    for lines in edge_lines_list:
        k = 0
        for ln in lines:
            if len(ln) < 2:
                continue
            arr = np.asarray(ln, dtype=np.float64)
            eseg_ax.append(arr[:-1, 0])
            eseg_ay.append(arr[:-1, 1])
            eseg_bx.append(arr[1:, 0])
            eseg_by.append(arr[1:, 1])
            eseg_line.append(np.full(len(arr) - 1, nline, np.int64))
            k += len(arr) - 1
            nline += 1
        edge_seg_off.append(edge_seg_off[-1] + k)
        edge_line_off.append(nline)
    if edge_seg_off[-1] == 0:
        return totals, pieces_per
    eax = np.concatenate(eseg_ax)
    eay = np.concatenate(eseg_ay)
    ebx = np.concatenate(eseg_bx)
    eby = np.concatenate(eseg_by)
    eline = np.concatenate(eseg_line)
    edge_seg_off = np.asarray(edge_seg_off, dtype=np.int64)
    edge_line_off = np.asarray(edge_line_off, dtype=np.int64)
    eex = ebx - eax
    eey = eby - eay
    eseg_len = np.hypot(eex, eey)
    # segment endpoints in the (P0, P1) layout _assemble_pieces reads
    ends = (
        (np.column_stack((eax, eay)), np.column_stack((ebx, eby)))
        if keep_geometry else None
    )

    # ---- flatten zone polygons (one FlatZones "zone" per POLYGON) -----
    flat_polys = []
    zone_poly_off = [0]
    for polys in zone_polys_list:
        for rings in polys:
            flat_polys.append([rings])
        zone_poly_off.append(len(flat_polys))
    zone_poly_off = np.asarray(zone_poly_off, dtype=np.int64)
    if zone_poly_off[-1] == 0:
        return totals, pieces_per
    fzp = FlatZones(flat_polys)
    poly_nseg = fzp.zone_seg_off[1:] - fzp.zone_seg_off[:-1]

    # per-pair expansion cost → chunk boundaries
    pair_nseg = edge_seg_off[ecodes + 1] - edge_seg_off[ecodes]
    zone_nseg = np.add.reduceat(
        np.concatenate((poly_nseg, [0])), zone_poly_off[:-1]
    ) if len(poly_nseg) else np.zeros(len(zone_polys_list), np.int64)
    zone_nseg = np.where(
        zone_poly_off[1:] > zone_poly_off[:-1], zone_nseg, 0
    )
    is_big = zone_nseg[zcodes] >= BIG_ZONE_SEGMENTS
    big = np.flatnonzero(is_big)
    big = big[np.argsort(zcodes[big], kind="stable")]
    for idx in np.split(big, np.flatnonzero(np.diff(zcodes[big])) + 1):
        if not len(idx):
            continue
        totals[idx], zpieces = _clip_zone(
            [edge_lines_list[e] for e in ecodes[idx]],
            zone_polys_list[zcodes[idx[0]]], keep_geometry,
        )
        for k, p in zip(idx, zpieces):
            pieces_per[k] = p
    flat = np.flatnonzero(~is_big)
    cost = np.maximum(pair_nseg[flat] * zone_nseg[zcodes[flat]], 1)
    for start, end in _csr_chunks(cost, chunk):
        idx = flat[start:end]
        _clip_chunk(
            totals, idx, ecodes[idx], zcodes[idx],
            eax, eay, eex, eey, eline, eseg_len,
            edge_seg_off, edge_line_off, zone_poly_off, fzp,
            pieces_per if keep_geometry else None, ends,
        )
    return totals, pieces_per


def _clip_chunk(totals, idx, ec, zc, eax, eay, eex, eey, eline, eseg_len,
                edge_seg_off, edge_line_off, zone_poly_off, fzp,
                pieces_per, ends):
    """The flat branch for the pairs at positions ``idx``: build
    (task=pair×poly, seg×poly-edge) expansions, extract crossings, form
    intervals, classify midpoints, accumulate; with ``pieces_per``, also
    assemble each positive pair's pieces from its intervals."""
    P = len(ec)
    # tasks: one per (pair, polygon of its zone)
    tcnt = zone_poly_off[zc + 1] - zone_poly_off[zc]
    toff = np.concatenate(([0], np.cumsum(tcnt)))
    T = int(toff[-1])
    if T == 0:
        return
    task_pair = np.repeat(np.arange(P, dtype=np.int64), tcnt)
    task_poly = (
        np.arange(T, dtype=np.int64)
        - np.repeat(toff[:-1], tcnt)
        + np.repeat(zone_poly_off[zc], tcnt)
    )
    # task-segments: one per (task, edge segment)
    scnt = edge_seg_off[ec + 1] - edge_seg_off[ec]
    ts_cnt = scnt[task_pair]
    ks_off = np.concatenate(([0], np.cumsum(ts_cnt)))
    K = int(ks_off[-1])
    if K == 0:
        return
    ks_task = np.repeat(np.arange(T, dtype=np.int64), ts_cnt)
    ks_seg = (
        np.arange(K, dtype=np.int64)
        - np.repeat(ks_off[:-1], ts_cnt)
        + np.repeat(edge_seg_off[ec[task_pair]], ts_cnt)
    )
    AX, AY = eax[ks_seg], eay[ks_seg]
    EX, EY = eex[ks_seg], eey[ks_seg]
    # cross expansion: per (task-seg, poly ring edge)
    rcnt = (fzp.zone_seg_off[task_poly + 1] - fzp.zone_seg_off[task_poly])[ks_task]
    xoff = np.concatenate(([0], np.cumsum(rcnt)))
    X = int(xoff[-1])
    cross_k = np.repeat(np.arange(K, dtype=np.int64), rcnt)
    cross_pe = (
        np.arange(X, dtype=np.int64)
        - np.repeat(xoff[:-1], rcnt)
        + np.repeat(fzp.zone_seg_off[task_poly][ks_task], rcnt)
    )
    cx, cy = fzp.seg_ax[cross_pe], fzp.seg_ay[cross_pe]
    dxr = fzp.seg_bx[cross_pe] - cx
    dyr = fzp.seg_by[cross_pe] - cy
    axk, ayk = AX[cross_k], AY[cross_k]
    exk, eyk = EX[cross_k], EY[cross_k]
    denom = exk * dyr - eyk * dxr
    safe = np.where(denom == 0.0, 1.0, denom)
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        t = ((cx - axk) * dyr - (cy - ayk) * dxr) / safe
        u = ((cx - axk) * eyk - (cy - ayk) * exk) / safe
    ok = (denom != 0) & (t > 0.0) & (t < 1.0) & (u >= 0.0) & (u <= 1.0)
    hit_k = cross_k[ok]
    hit_t = t[ok]
    # sentinels t=0, t=1 per task-seg
    allk = np.concatenate((np.arange(K, dtype=np.int64),
                           np.arange(K, dtype=np.int64), hit_k))
    allt = np.concatenate((np.zeros(K), np.ones(K), hit_t))
    order = np.lexsort((allt, allk))
    allk, allt = allk[order], allt[order]
    keep = np.ones(len(allk), dtype=bool)
    keep[1:] = (allk[1:] != allk[:-1]) | (allt[1:] != allt[:-1])
    allk, allt = allk[keep], allt[keep]
    same = allk[1:] == allk[:-1]
    i0 = np.nonzero(same)[0]
    if len(i0) == 0:
        return
    iv_k = allk[i0]
    iv_t0 = allt[i0]
    iv_t1 = allt[i0 + 1]
    mids = (iv_t0 + iv_t1) / 2.0
    mx = AX[iv_k] + mids * EX[iv_k]
    my = AY[iv_k] + mids * EY[iv_k]
    inside = fzp.inside_points(task_poly[ks_task[iv_k]], mx, my)
    iv_k = iv_k[inside]
    iv_t0 = iv_t0[inside]
    iv_t1 = iv_t1[inside]
    if not len(iv_k):
        return
    # ---- accumulate: line subtotals (poly-major, (seg, t) order kept
    # by the lexsort), then per-pair totals in line order ---------------
    seg_global = ks_seg[iv_k]
    contrib = eseg_len[seg_global] * (iv_t1 - iv_t0)
    pair_of_iv = task_pair[ks_task[iv_k]]
    # per-pair line accumulators
    lcnt = edge_line_off[ec + 1] - edge_line_off[ec]
    loff = np.concatenate(([0], np.cumsum(lcnt)))
    line_acc = np.zeros(int(loff[-1]), dtype=np.float64)
    line_idx = (
        loff[pair_of_iv]
        + eline[seg_global]
        - edge_line_off[ec[pair_of_iv]]
    )
    np.add.at(line_acc, line_idx, contrib)
    pair_of_line = np.repeat(np.arange(P, dtype=np.int64), lcnt)
    sub = np.zeros(P, dtype=np.float64)
    np.add.at(sub, pair_of_line, line_acc)
    totals[idx] = sub
    if pieces_per is None:
        return
    # intervals are sorted by task (pair, polygon), then (segment, t):
    # one _assemble_pieces call per task, concatenated in polygon order
    # — the per-zone kernel's per-polygon loop
    iv_task = ks_task[iv_k]
    cut = np.flatnonzero(iv_task[1:] != iv_task[:-1]) + 1
    for a, b in zip(np.concatenate(([0], cut)), np.concatenate((cut, [len(iv_task)]))):
        p = int(task_pair[iv_task[a]])
        if sub[p] <= 0:
            continue
        k = idx[p]
        if pieces_per[k] is None:
            pieces_per[k] = []
        pieces_per[k].extend(_assemble_pieces(
            ends[0], ends[1], eline, seg_global[a:b], iv_t0[a:b], iv_t1[a:b]
        ))


def _cell_range(a, b, lo, span, n, g0, g1):
    """Per segment, the column (or row) range [i0, i1] of cells at ``n``
    per side that the closed interval between coordinates ``a`` and
    ``b`` can touch, clipped to the cover range [g0, g1] (empty when
    i0 > i1).

    The floor range is widened by one cell on a side whose end lies
    within ``_GRID_EPS`` (1e-6) cell widths of a grid line.  That keeps
    it a strict superset of every cell Liang–Barsky can hit and every
    row whose y0 the segment straddles: the rounding in this cell
    coordinate, in ``cellindex.cell_bounds`` and in the Liang–Barsky t
    values is a few ulps of the coordinates, i.e. about 4ε·2^res ≈
    1e-9 cells at res 20 (``cellindex.MAX_RES``) for coordinates and
    segment lengths of the order of the world span — far below 1e-6.
    Non-finite coordinates (NaN/inf segments, whose Liang–Barsky
    comparisons do not follow the bbox) take the whole cover range."""
    with np.errstate(invalid="ignore", over="ignore"):
        f0 = (np.minimum(a, b) - lo) / span * n
        f1 = (np.maximum(a, b) - lo) / span * n
        i0 = np.floor(f0)
        i1 = np.floor(f1)
        i0 = i0 - (f0 - i0 < _GRID_EPS)
        i1 = i1 + (i1 + 1 - f1 < _GRID_EPS)
        finite = np.isfinite(f0) & np.isfinite(f1)
        i0 = np.where(finite, np.clip(i0, g0, g1 + 1), g0).astype(np.int64)
        i1 = np.where(finite, np.clip(i1, g0 - 1, g1), g1).astype(np.int64)
    return i0, i1


def _cover_crossing(fz, sp, sx0, sx1, sy0, sy1, gx0, gy0, ncy, coff, bounds):
    """crossing[cover slot]: does any ring segment of the slot's polygon
    intersect the cell rect?  Each segment enumerates the cells of its
    own ``_cell_range`` box; the cover slot of cell (ix, iy) of polygon
    p is ``coff[p] + (ix - gx0[p])·ncy[p] + (iy - gy0[p])``.
    Liang–Barsky comparisons identical to ``geom._segs_intersect_rects``."""
    cx0, cy0, cx1, cy1 = bounds
    crossing = np.zeros(len(cx0), dtype=bool)
    nsy = np.maximum(sy1 - sy0 + 1, 0)
    cnt = np.maximum(sx1 - sx0 + 1, 0) * nsy
    segs = np.nonzero(cnt)[0]
    cnt = cnt[segs]
    for a, b in _csr_chunks(cnt, _CHUNK):
        c = cnt[a:b]
        s = np.repeat(segs[a:b], c)
        local = np.arange(len(s), dtype=np.int64) - np.repeat(np.cumsum(c) - c, c)
        ix = sx0[s] + local // nsy[s]
        iy = sy0[s] + local % nsy[s]
        p = sp[s]
        slot = coff[p] + (ix - gx0[p]) * ncy[p] + (iy - gy0[p])
        AX, AY = fz.seg_ax[s], fz.seg_ay[s]
        dx, dy = fz.seg_bx[s] - AX, fz.seg_by[s] - AY
        t0 = np.zeros(len(s))
        t1 = np.ones(len(s))
        ok = np.ones(len(s), dtype=bool)
        for p_, q in (
            (-dx, AX - cx0[slot]),
            (dx, cx1[slot] - AX),
            (-dy, AY - cy0[slot]),
            (dy, cy1[slot] - AY),
        ):
            zero = p_ == 0
            ok &= ~(zero & (q < 0))
            with np.errstate(divide="ignore", invalid="ignore"):
                t = q / np.where(zero, 1.0, p_)
            ent = (~zero) & (p_ < 0)
            ext = (~zero) & (p_ > 0)
            t0 = np.where(ent, np.maximum(t0, t), t0)
            t1 = np.where(ext, np.minimum(t1, t), t1)
        crossing[slot[ok & (t0 <= t1)]] = True
    return crossing


def _cover_full(fz, seg_ring, sp, sy0, sy1, gy0, roff, row_y, crow, X, Y):
    """Winding test of non-crossing cells' (X, Y) = (x0, y0) corners,
    rows ``crow``: the ``FlatZones.inside_points`` formula, evaluated
    only against the segments that straddle the row's y0 (``AY <= Y <
    BY`` or ``BY <= Y < AY``).  Every other segment contributes exactly
    0, so the per-ring integer winding numbers — and outer ``wn != 0``
    AND every hole ``wn == 0`` — are those of the full test."""
    # (segment, row) straddle records, grouped by row in segment order
    nrow = np.maximum(sy1 - sy0 + 1, 0)
    s = np.repeat(np.arange(len(nrow)), nrow)
    rec_row = (roff[sp[s]] + sy0[s] - gy0[sp[s]]
               + np.arange(len(s)) - np.repeat(np.cumsum(nrow) - nrow, nrow))
    AY, BY, Yr = fz.seg_ay[s], fz.seg_by[s], row_y[rec_row]
    keep = ((AY <= Yr) & (BY > Yr)) | ((AY > Yr) & (BY <= Yr))
    s, rec_row = s[keep], rec_row[keep]
    order = np.argsort(rec_row, kind="stable")
    rec_seg = s[order]
    rcnt = np.bincount(rec_row, minlength=len(row_y))
    rbeg = np.cumsum(rcnt) - rcnt

    full = np.zeros(len(crow), dtype=bool)
    k = rcnt[crow]
    for a, b in _csr_chunks(k, _CHUNK):
        kk = k[a:b]
        c = np.repeat(np.arange(a, b), kk)
        if not len(c):
            continue
        seg = rec_seg[np.repeat(rbeg[crow[a:b]] - (np.cumsum(kk) - kk), kk)
                      + np.arange(len(c))]
        contrib = _winding_contrib(X[c], Y[c], fz.seg_ax[seg], fz.seg_ay[seg],
                                   fz.seg_bx[seg], fz.seg_by[seg])
        # per-(cell, ring) sums: a cell's records are in segment order,
        # so each ring's records are contiguous
        ring = seg_ring[seg]
        first = np.ones(len(c), dtype=bool)
        first[1:] = (c[1:] != c[:-1]) | (ring[1:] != ring[:-1])
        wn = np.add.reduceat(contrib, np.nonzero(first)[0])
        gc, outer = c[first], fz.ring_is_outer[ring[first]]
        hit = wn != 0
        full[a:b] = (
            (np.bincount(gc[outer & hit] - a, minlength=b - a) > 0)
            & (np.bincount(gc[~outer & hit] - a, minlength=b - a) == 0)
        )
    return full


def zone_cover_cells_batch(polys_list, res: int, world, max_cells_per_zone: int,
                           return_bbox: bool = False, return_res: bool = False):
    """Batched equivalent of ``zoneindex.zone_min_res`` +
    ``zoneindex.zone_cover_cells`` over MANY zones: returns
    (zone_idx int64, cell int64, full bool) arrays whose per-zone
    {cell: full} content is identical to the per-zone loop (set-equal
    cells, OR-merged full flags across a zone's polygons).  With
    ``return_bbox`` the bbox side channel is appended: (zone_bbox
    (n_zones, 4), poly_zone, poly_bbox (n_polys, 4)) — outer-ring bboxes
    per zone (the candidate prefilter, inf for a zone without polygons)
    and per polygon with its zone (the void-row prefilter,
    ``zones_touching``).

    Steps (all NumPy passes; the only Python loop is the per-polygon
    ring flatten):

    1. per-polygon outer-ring bboxes;
    2. per-zone effective resolution: coarsest per-polygon
       ``pick_cover_res`` (replicating its floor arithmetic), min-reduced
       per zone;
    3. bbox cover enumeration at the zone resolution via CSR expansion;
    4. crossing classification, segment-driven: each ring segment
       enumerates only the cells of its own bbox at its polygon's cover
       resolution, clipped to the polygon's cover range, and Liang–Barsky
       runs on those (segment, cell) pairs only (``_cover_crossing``).
       The floor-based cell range is widened by one cell on a side whose
       end lies within 1e-6 cell widths of a grid line, which keeps it a
       superset of every cell Liang–Barsky can hit (``_cell_range``);
    5. full classification: winding test of the cell's (x0, y0) corner
       for non-crossing cells only — identical corner choice to
       ``zone_cover_cells``.  All cells of one (polygon, iy) row share
       y0, and only segments straddling that y0 can wind, so
       (segment, row) straddle records are built once and joined to the
       non-crossing cells by row (``_cover_full``); every skipped
       segment contributes exactly 0, so the integer winding numbers
       are those of ``FlatZones.inside_points``;
    6. (zone, cell) dedupe across a zone's polygons with OR(full).
    """
    from osm_chordify_spark import cellindex as ci

    wx0, wy0, wx1, wy1 = world
    # ---- flatten polygons; record poly → zone -------------------------
    poly_zone = []
    poly_rings = []
    for u, polys in enumerate(polys_list):
        for rings in polys:
            poly_zone.append(u)
            poly_rings.append(rings)
    n_zones = len(polys_list)

    def _empty():
        e = np.empty(0, dtype=np.int64)
        out = [e, e, np.empty(0, dtype=bool)]
        if return_bbox:
            out.append(zbbox)
        if return_res:
            out.append(np.full(n_zones, res, dtype=np.int64))
        return tuple(out)

    poly_zone = np.asarray(poly_zone, dtype=np.int64)

    # outer-ring bboxes (zone_min_res / zone_cover_cells use rings[0])
    outers = [np.asarray(rings[0], dtype=np.float64) for rings in poly_rings]
    lens = np.asarray([len(o) for o in outers], dtype=np.int64)
    allpts = (
        np.concatenate([o for o in outers if len(o)])
        if lens.sum()
        else np.empty((0, 2))
    )
    obnd = np.concatenate(([0], np.cumsum(lens)))
    nz = lens > 0
    bx0 = np.full(len(outers), np.inf)
    by0 = np.full(len(outers), np.inf)
    bx1 = np.full(len(outers), -np.inf)
    by1 = np.full(len(outers), -np.inf)
    if nz.any():
        starts = obnd[:-1][nz]
        bx0[nz] = np.minimum.reduceat(allpts[:, 0], starts)
        by0[nz] = np.minimum.reduceat(allpts[:, 1], starts)
        bx1[nz] = np.maximum.reduceat(allpts[:, 0], starts)
        by1[nz] = np.maximum.reduceat(allpts[:, 1], starts)
        # reduceat slices run to the NEXT start, which skips empty outers
        # between non-empty ones; recompute exactly per non-empty block
        if not nz.all():
            for i in np.nonzero(nz)[0]:
                o = outers[i]
                bx0[i], by0[i] = o[:, 0].min(), o[:, 1].min()
                bx1[i], by1[i] = o[:, 0].max(), o[:, 1].max()

    # ---- per-polygon cover res (pick_cover_res floor arithmetic) ------
    poly_res = np.full(len(outers), -1, dtype=np.int64)
    fx0 = np.zeros(len(outers), dtype=np.int64)
    fx1 = np.zeros(len(outers), dtype=np.int64)
    fy0 = np.zeros(len(outers), dtype=np.int64)
    fy1 = np.zeros(len(outers), dtype=np.int64)

    def _floors(vals, lo, span, n):
        f = np.floor((vals - lo) / span * n)
        return np.clip(f, 0, n - 1).astype(np.int64)

    for rr in range(res, -1, -1):
        todo = poly_res < 0
        if not todo.any():
            break
        n = 1 << rr
        tfx0 = _floors(bx0[todo], wx0, wx1 - wx0, n)
        tfx1 = _floors(bx1[todo], wx0, wx1 - wx0, n)
        tfy0 = _floors(by0[todo], wy0, wy1 - wy0, n)
        tfy1 = _floors(by1[todo], wy0, wy1 - wy0, n)
        count = (tfx1 - tfx0 + 1) * (tfy1 - tfy0 + 1)
        fits = (count <= max_cells_per_zone) | (rr == 0)
        idx = np.nonzero(todo)[0][fits]
        poly_res[idx] = rr
    # zone res = min over its polygons (empty-bbox polys get res as-is)
    zone_res = np.full(n_zones, res, dtype=np.int64)
    np.minimum.at(zone_res, poly_zone, poly_res)

    # ---- cover enumeration at the ZONE resolution ---------------------
    pres = zone_res[poly_zone]
    npow = (np.int64(1) << pres).astype(np.float64)
    # recompute floors at the zone res (exact pick_cover_res/cover_bbox math)
    gx0 = np.clip(np.floor((bx0 - wx0) / (wx1 - wx0) * npow), 0, npow - 1).astype(np.int64)
    gx1 = np.clip(np.floor((bx1 - wx0) / (wx1 - wx0) * npow), 0, npow - 1).astype(np.int64)
    gy0 = np.clip(np.floor((by0 - wy0) / (wy1 - wy0) * npow), 0, npow - 1).astype(np.int64)
    gy1 = np.clip(np.floor((by1 - wy0) / (wy1 - wy0) * npow), 0, npow - 1).astype(np.int64)
    empty_poly = ~nz
    ncx = np.where(empty_poly, 0, gx1 - gx0 + 1)
    ncy = np.where(empty_poly, 0, gy1 - gy0 + 1)
    counts = ncx * ncy
    coff = np.concatenate(([0], np.cumsum(counts)))
    total = int(coff[-1])
    if return_bbox:
        pbox = np.column_stack((bx0, by0, bx1, by1))
        zbox = np.tile([np.inf, np.inf, -np.inf, -np.inf], (n_zones, 1))
        for k, ufunc in enumerate((np.minimum, np.minimum, np.maximum, np.maximum)):
            ufunc.at(zbox[:, k], poly_zone, pbox[:, k])
        zbbox = (zbox, poly_zone, pbox)
    if total == 0:
        return _empty()
    cell_poly = np.repeat(np.arange(len(outers), dtype=np.int64), counts)
    local = np.arange(total, dtype=np.int64) - np.repeat(coff[:-1], counts)
    ny = ncy[cell_poly]
    ix = gx0[cell_poly] + local // ny
    iy = gy0[cell_poly] + local % ny
    cells = ci.make_cell(pres[cell_poly], ix, iy)

    # ---- classification ----------------------------------------------
    # FlatZones over the POLYGONS (each polygon classified independently,
    # exactly as zone_cover_cells' per-polygon loop).  Both passes are
    # output-sensitive: a segment only meets the cells of its own bbox
    # (crossing) and the rows its y-extent straddles (full), never the
    # whole cover.
    fz = FlatZones([[rings] for rings in poly_rings])
    bounds = ci.cell_bounds(cells, world)
    ring_poly = np.repeat(np.arange(fz.n), np.diff(fz.zone_ring_off))
    ring_start = fz.zone_seg_off[ring_poly] + fz.ring_local_seg_off
    seg_ring = np.repeat(np.arange(len(ring_poly)),
                         np.diff(np.append(ring_start, len(fz.seg_ax))))
    sp = ring_poly[seg_ring]
    # segments of polygons without a cover (empty outer ring) meet no cell
    live = counts[sp] > 0
    sx0, sx1 = _cell_range(fz.seg_ax, fz.seg_bx, wx0, wx1 - wx0, npow[sp],
                           gx0[sp], np.where(live, gx1[sp], gx0[sp] - 1))
    sy0, sy1 = _cell_range(fz.seg_ay, fz.seg_by, wy0, wy1 - wy0, npow[sp],
                           gy0[sp], np.where(live, gy1[sp], gy0[sp] - 1))
    crossing = _cover_crossing(fz, sp, sx0, sx1, sy0, sy1, gx0, gy0, ncy,
                               coff, bounds)
    full = np.zeros(total, dtype=bool)
    ncross = np.nonzero(~crossing)[0]
    if len(ncross):
        # rows: one id per (polygon, iy); every cell of a row shares its y0
        roff = np.concatenate(([0], np.cumsum(ncy)))
        cell_row = roff[cell_poly] + iy - gy0[cell_poly]
        row_y = np.empty(int(roff[-1]))
        row_y[cell_row] = bounds[1]
        full[ncross] = _cover_full(fz, seg_ring, sp, sy0, sy1, gy0, roff, row_y,
                                   cell_row[ncross], bounds[0][ncross],
                                   bounds[1][ncross])
    kept = crossing | full

    zidx = poly_zone[cell_poly[kept]]
    kcells = cells[kept]
    kfull = full[kept]
    # ---- per-zone (cell, full-OR) dedupe across polygons --------------
    # only a zone with more than one polygon can repeat a cell (a
    # polygon-count vs zone-count test misses this beside empty zones)
    if np.bincount(poly_zone, minlength=n_zones).max() > 1:
        order = np.lexsort((kcells, zidx))
        zidx, kcells, kfull = zidx[order], kcells[order], kfull[order]
        first = np.ones(len(zidx), dtype=bool)
        if len(zidx) > 1:
            first[1:] = (zidx[1:] != zidx[:-1]) | (kcells[1:] != kcells[:-1])
        grp = np.cumsum(first) - 1
        gfull = np.zeros(int(grp[-1]) + 1 if len(grp) else 0, dtype=bool)
        np.logical_or.at(gfull, grp, kfull)
        zidx = zidx[first]
        kcells = kcells[first]
        kfull = gfull
    out = [zidx, kcells, kfull]
    if return_bbox:
        out.append(zbbox)
    if return_res:
        out.append(zone_res)
    return tuple(out) if len(out) > 3 else (zidx, kcells, kfull)


def zones_touching(poly_zone, poly_bbox, bounds, n_zones: int) -> np.ndarray:
    """Zone mask: some polygon's outer-ring bbox (``zone_cover_cells_batch``
    side channel) overlaps ``bounds`` = (x0, y0, x1, y1) — the void-row
    zone prefilter (reference intersect.py:447-486).  Per polygon: a
    multipolygon whose parts all miss ``bounds`` is not kept even when
    its whole bbox overlaps."""
    x0, y0, x1, y1 = bounds
    ok = ((poly_bbox[:, 0] <= x1) & (poly_bbox[:, 2] >= x0)
          & (poly_bbox[:, 1] <= y1) & (poly_bbox[:, 3] >= y0))
    keep = np.zeros(n_zones, dtype=bool)
    keep[poly_zone[ok]] = True
    return keep
