"""Broadcast cell → zone-candidate index.

The Spark-first replacement for the reference's GeoPandas R-tree
(reference: src/osm_chordify/osm/intersect.py:471, :735 — sindex
candidate queries inside sjoin).  Zones are small relative to the fact
side (the reference's county fast-path gate assumes ≤100 polygons,
intersect.py:440-444), so we precompute, driver-side, a flat NumPy index
mapping every covering cell at a fixed resolution to its candidate zone
ids — with a *full* flag for cells entirely inside one zone (the
containment fast path, intersect.py:703-733: such rows skip the exact
geometry test).  The index is broadcast to executors and probed inside
Arrow-batched pandas UDFs: the spatial join becomes a map-side
broadcast lookup with NO shuffle at all.

Scale notes: at 1000 executors the index is shipped once per executor
(torrent broadcast); probe cost is a binary search per point.  Hot
cells (dense urban areas) cost nothing here — skew only matters for
the *output* distribution, which downstream groupBys handle via AQE.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from osm_chordify_spark import cellindex as ci
from osm_chordify_spark import geom as G
from osm_chordify_spark import geom_batch as GB


def parse_zone_polys(geom_):
    """Coerce WKB bytes / ring-lists / bare rings → [rings, ...] polygons."""
    if isinstance(geom_, (bytes, bytearray)):
        return G.geometry_polygons(bytes(geom_))
    if isinstance(geom_, list) and geom_ and isinstance(geom_[0], list):
        return geom_  # already a multipolygon: [[ring, ...], ...]
    if isinstance(geom_, list) and geom_ and getattr(geom_[0], "ndim", 0) == 2:
        return [geom_]  # one polygon as a rings list
    return [[np.asarray(geom_, dtype=np.float64)]]  # bare ring


def zone_min_res(polys, res: int, world=ci.WORLD, max_cells_per_zone: int = 4096) -> int:
    """Coarsest resolution any of THIS zone's polygon bboxes needs to keep
    its cover within ``max_cells_per_zone`` (the over-cover guard) —
    shared by the broadcast index and the distributed cell-join path so
    both compute the IDENTICAL per-zone effective resolution.  Since
    round 4 the guard is applied PER ZONE (mixed-resolution index): one
    continental polygon in a tract table coarsens only its own cover,
    not every zone's (the reference's loaders impose no size
    homogeneity, reference utils/data_collection.py:169-236)."""
    eff = res
    for rings in polys:
        x0, y0, x1, y1 = G.polygon_bbox(rings)
        r, _ = ci.pick_cover_res(x0, y0, x1, y1, eff, world, max_cells_per_zone)
        eff = min(eff, r)
    return eff


def zone_cover_cells(polys, res: int, world=ci.WORLD,
                     max_cells_per_zone: int = 4096) -> dict:
    """cell → full flag for ONE zone's polygons at ``res``: bbox cover,
    drop cells whose rect provably misses the polygon, mark cells whose
    rect is entirely inside (the containment fast path).  The single
    source of truth for candidate-cell classification — ZoneIndex.build
    and the distributed path both call this, so their candidate sets are
    byte-identical by construction.

    Classification is vectorized ACROSS the zone's cover cells (round
    4): one broadcast Liang–Barsky over (boundary-local segments ×
    cells) finds crossing cells, and one point-in-polygon over a
    SINGLE corner per non-crossing cell decides the rest — when no
    segment intersects a cell's rect, the winding number is constant
    over the whole rect, so one corner carries the original
    all-corners/any-corner semantics exactly.  This replaces the
    per-cell Python loop whose small-NumPy-call overhead (~2.3 ms/zone
    for a 4-vertex tract, ~9 cells) was the dominant fixed cost of the
    distributed zone operators at 10⁵ zones.  Cells are chunked so the
    (S × K) broadcast stays under ~2M entries; per-chunk segment-bbox
    prefiltering (inside segments_intersect_rects) keeps 10⁴⁺-vertex
    rings cheap.  Kept/full classification is identical to the old
    per-cell logic (parity pinned in tests)."""
    seen: dict = {}
    for rings in polys:
        x0, y0, x1, y1 = G.polygon_bbox(rings)
        cover = ci.cover_bbox(x0, y0, x1, y1, res, world, max_cells=max_cells_per_zone)
        bx0, by0, bx1, by1 = ci.cell_bounds(cover, world)
        n = len(cover)
        max_seg = max(max(len(rg) for rg in rings), 1)
        step = max(1, 2_000_000 // max_seg)
        for s in range(0, n, step):
            e = min(s + step, n)
            cx0, cy0, cx1, cy1 = bx0[s:e], by0[s:e], bx1[s:e], by1[s:e]
            k = e - s
            crossing = np.zeros(k, dtype=bool)
            for rg in rings:
                crossing |= G.segments_intersect_rects(rg, cx0, cy0, cx1, cy1)
            full = np.zeros(k, dtype=bool)
            nc = np.nonzero(~crossing)[0]
            if len(nc):
                # no boundary in the rect ⇒ insideness is constant on
                # it ⇒ one corner ≡ all four corners
                full[nc] = G.point_in_polygon(cx0[nc], cy0[nc], rings)
            kept = np.nonzero(full | crossing)[0]
            for i in kept:
                c = int(cover[s + i])
                seen[c] = bool(seen.get(c, False) or full[i])
    return seen


@dataclass
class ZoneIndex:
    """Flat searchable cell→candidates map (NumPy, pickle-friendly).

    Mixed-resolution since round 4: every zone's cover lives at ITS OWN
    effective resolution (``zone_res[ordinal]``), so one continental
    polygon no longer coarsens the whole index.  Cell ids carry their
    resolution in the high bits (cellindex encoding), so a single sorted
    array indexes all resolutions; probes look up the point/bbox cell at
    each OCCUPIED resolution (``res_list``, typically 1-3 values) and
    union the candidates — a zone matches through exactly one
    resolution, so no dedup is needed."""

    res: int  # coarsest occupied resolution (back-compat scalar)
    world: tuple
    # sorted unique covering cells + CSR-style offsets into candidates
    cells: np.ndarray  # int64, sorted
    offsets: np.ndarray  # int64, len(cells)+1
    cand_zone: np.ndarray  # int32 zone ordinal per candidate entry
    cand_full: np.ndarray  # bool per candidate entry
    zone_ids: list  # ordinal → user zone id
    zone_rings: list = field(repr=False)  # ordinal → list[rings]
    res_list: np.ndarray = None  # sorted unique occupied resolutions
    zone_res: np.ndarray = None  # ordinal → that zone's cover resolution
    # ordinal → (x0, y0, x1, y1) over the zone's outer rings (inf if empty)
    zone_bbox: np.ndarray = None
    # per polygon: its zone ordinal and outer-ring bbox (void-row filter)
    poly_zone: np.ndarray = None
    poly_bbox: np.ndarray = None

    def __post_init__(self):
        if self.res_list is None:
            self.res_list = np.array([self.res], dtype=np.int64)
        if self.zone_res is None:
            self.zone_res = np.full(len(self.zone_ids), self.res, dtype=np.int64)

    @staticmethod
    def build(zones, res: int = 9, world=ci.WORLD, max_cells_per_zone: int = 4096):
        """zones: iterable of (zone_id, rings) where rings is
        [outer, hole, ...] NumPy arrays, or (zone_id, wkb bytes).

        Each zone's resolution is coarsened INDEPENDENTLY until its bbox
        cover fits ``max_cells_per_zone`` (the per-zone over-cover
        guard); zones that fit at ``res`` stay at ``res``."""
        parsed = [(zid, parse_zone_polys(geom_)) for zid, geom_ in zones]

        zone_ids = [zid for zid, _ in parsed]
        zone_rings = [polys for _, polys in parsed]
        # batched cover classification (geom_batch): NumPy passes over
        # ALL zones whose cost follows the boundary, not the cover — each
        # ring segment meets only the cells of its own bbox (crossing)
        # and the cell rows it straddles (full).  Per-zone {cell: full}
        # content is pinned identical to zone_min_res + zone_cover_cells
        zone_arr32, cell_arr, full_arr, (zbox, pzone, pbox), zres = GB.zone_cover_cells_batch(
            zone_rings, res, world, max_cells_per_zone, return_bbox=True,
            return_res=True,
        )

        order = np.argsort(cell_arr, kind="stable")
        cell_arr = cell_arr[order]
        zone_arr = zone_arr32.astype(np.int32)[order]
        full_arr = np.asarray(full_arr, dtype=bool)[order]
        uniq, start = np.unique(cell_arr, return_index=True)
        offsets = np.append(start, len(cell_arr)).astype(np.int64)
        zone_res = np.asarray(zres, dtype=np.int64)
        return ZoneIndex(
            res=int(zone_res.min()) if len(zone_res) else res,
            world=world,
            cells=uniq,
            offsets=offsets,
            cand_zone=zone_arr,
            cand_full=full_arr,
            zone_ids=zone_ids,
            zone_rings=zone_rings,
            res_list=np.unique(zone_res) if len(zone_res) else np.array([res], dtype=np.int64),
            zone_res=zone_res,
            zone_bbox=zbox,
            poly_zone=pzone,
            poly_bbox=pbox,
        )

    # -- probes ------------------------------------------------------------

    def _expand(self, keys: np.ndarray):
        """Exact-match CSR lookup: keys (cell ids) → (key_idx, flat
        candidate positions) via the repeat/cumsum trick — the shared
        core of every probe (no Python loop)."""
        empty = np.empty(0, dtype=np.int64)
        if len(self.cells) == 0 or len(keys) == 0:
            return empty, empty
        pos = np.clip(np.searchsorted(self.cells, keys), 0, len(self.cells) - 1)
        valid = self.cells[pos] == keys
        idx = np.nonzero(valid)[0]
        starts = self.offsets[pos[idx]]
        counts = self.offsets[pos[idx] + 1] - starts
        total = int(counts.sum())
        if total == 0:
            return empty, empty
        out_i = np.repeat(idx, counts)
        offs = np.concatenate(([0], np.cumsum(counts)[:-1]))
        flat = np.arange(total, dtype=np.int64) + np.repeat(starts - offs, counts)
        return out_i, flat

    def candidates_for_points(self, x: np.ndarray, y: np.ndarray):
        """Fully vectorized: point arrays → (point_idx, zone_ordinal,
        needs_exact) candidate triples as flat arrays.  The point cell is
        computed at each occupied resolution and the lookups union —
        each zone is indexed at exactly one resolution, so the union is
        duplicate-free by construction."""
        pts_parts, zone_parts, need_parts = [], [], []
        for rr in self.res_list:
            pc = ci.cell_at(x, y, int(rr), self.world)
            pts, flat = self._expand(np.asarray(pc, dtype=np.int64))
            if len(pts):
                pts_parts.append(pts)
                zone_parts.append(self.cand_zone[flat])
                need_parts.append(~self.cand_full[flat])
        if not pts_parts:
            empty = np.empty(0, dtype=np.int64)
            return empty, empty.astype(np.int32), empty.astype(bool)
        return (
            np.concatenate(pts_parts),
            np.concatenate(zone_parts),
            np.concatenate(need_parts),
        )

    def assign_points(self, x: np.ndarray, y: np.ndarray):
        """Point-in-polygon assignment (possibly multiple zones per point).

        Returns (point_idx, zone_ordinal) pairs after exact winding-number
        refinement of partial cells.  Fully-inside cells skip the exact
        test (the reference's proportion=1.0 fast path, intersect.py:703-733)."""
        pts, zones, needs = self.candidates_for_points(x, y)
        if len(pts) == 0:
            return pts, zones
        keep = np.ones(len(pts), dtype=bool)
        exact_idx = np.nonzero(needs)[0]
        # group exact tests by zone ordinal → one vectorized PIP per zone
        for z in np.unique(zones[exact_idx]):
            sel = exact_idx[zones[exact_idx] == z]
            px, py = x[pts[sel]], y[pts[sel]]
            inside = np.zeros(len(sel), dtype=bool)
            for rings in self.zone_rings[z]:
                inside |= G.point_in_polygon(px, py, rings)
            keep[sel] = inside
        return pts[keep], zones[keep]

    def candidates_for_cells(self, cells: np.ndarray):
        """cells (exact ids, resolution in the high bits) → (cell_pos_idx,
        zone_ordinal, full) — matches only zones indexed at the cells'
        own resolution (exact-id lookup); callers probing a
        mixed-resolution index should loop ``res_list`` or use
        :meth:`candidates_for_bboxes`."""
        out_i, flat = self._expand(np.asarray(cells, dtype=np.int64))
        if len(out_i) == 0:
            empty = np.empty(0, dtype=np.int64)
            return empty, empty.astype(np.int32), empty.astype(bool)
        return out_i, self.cand_zone[flat], self.cand_full[flat]

    def candidates_for_bboxes(self, x0, y0, x1, y1, max_cells: int = 1 << 20):
        """Batch geometry-bbox probe: bbox arrays → (row, zone_ordinal,
        contained) per candidate pair, sorted by (row, zone).  Each bbox
        is covered at every occupied resolution (``ci.cover_bboxes``) and
        looked up; pairs whose bboxes do not overlap are dropped (the
        dist path's exact prefilter: no overlap, no intersection).  A
        pair is contained — the fast path — when every cell of the
        bbox's cover at the zone's resolution is a full cell of the
        zone: hits == cover size and all hits full.  The bboxes are
        probed in slices of at most ``max_cells`` cover cells (one bbox's
        own cap), so a batch of large bboxes never holds all its covers
        at once."""
        b = np.column_stack([np.asarray(v, dtype=np.float64) for v in (x0, y0, x1, y1)])
        ncells = ci.cover_grid(*b.T, self.res_list, self.world)[-1].sum(axis=1)
        parts = [self._bbox_pairs(b[s:e], s, max_cells)
                 for s, e in GB._csr_chunks(ncells, max_cells)]
        return tuple(np.concatenate(p) for p in zip(*parts or [self._bbox_pairs(b, 0, max_cells)]))

    def _bbox_pairs(self, b, row0: int, max_cells: int):
        """``candidates_for_bboxes`` of one slice of bboxes (rows offset
        by ``row0``)."""
        row, cells, ncells = ci.cover_bboxes(*b.T, self.res_list, self.world,
                                             max_cells=max_cells)
        key, flat = self._expand(cells)
        row, zone = row[key], self.cand_zone[flat].astype(np.int64)
        eb, zb = b[row], self.zone_bbox[zone]
        ok = ((eb[:, 0] <= zb[:, 2]) & (eb[:, 2] >= zb[:, 0])
              & (eb[:, 1] <= zb[:, 3]) & (eb[:, 3] >= zb[:, 1]))
        nz = len(self.zone_ids)
        pair, inv, hits = np.unique(row[ok] * nz + zone[ok], return_inverse=True,
                                    return_counts=True)
        nfull = np.bincount(inv, weights=self.cand_full[flat][ok], minlength=len(pair))
        # every hit of a pair is at the zone's one resolution: one cover size
        cover = np.zeros(len(pair), dtype=np.int64)
        cover[inv] = ncells[key][ok]
        return (row0 + pair // nz, (pair % nz).astype(np.int32),
                (hits == cover) & (nfull == hits))

    def assign_points_nearest(self, x: np.ndarray, y: np.ndarray,
                              max_ring: int = 64):
        """PIP assignment with nearest-zone fallback: every point gets
        exactly one zone — its containing zone (ties → smallest
        ordinal), else the zone with the minimum exact distance to its
        boundary (point-to-segment over the zone rings).

        Returns (zone_ordinal int32 array aligned with x, dist float64
        array; dist is 0 for contained points).  Ordinal is -1 for
        non-finite coordinates and for points with no zone within
        ``max_ring`` index cells (callers wanting a hard every-point
        guarantee should size max_ring to their domain — the default
        covers 64 cells ≈ half the world at res 7).  The candidate
        search expands cell-ring SHELLS over the covering-cell index;
        the ring-r stop bound holds because any zone with no cover cell
        inside ring r has its whole boundary ≥ (r-1)·cell_min away, and
        the loop exits early once every zone has been scored."""
        x = np.asarray(x, dtype=np.float64)
        y = np.asarray(y, dtype=np.float64)
        out_zone = np.full(len(x), -1, dtype=np.int32)
        out_dist = np.zeros(len(x), dtype=np.float64)
        finite = np.isfinite(x) & np.isfinite(y)
        pts, zs = self.assign_points(
            np.where(finite, x, 0.0), np.where(finite, y, 0.0)
        )
        if len(pts):
            keep = finite[pts]
            pts, zs = pts[keep], zs[keep]
        if len(pts):
            # smallest ordinal wins for points in multiple zones
            order = np.argsort(zs, kind="stable")[::-1]
            out_zone[pts[order]] = zs[order]
        todo = np.nonzero((out_zone < 0) & finite)[0]
        if len(todo) == 0:
            return out_zone, out_dist

        x0, y0, x1, y1 = self.world

        def zone_dist(px, py, ordinal):
            best = np.inf
            for rings in self.zone_rings[ordinal]:
                for ring in rings:
                    r = G.ring_close(ring)
                    d = G.point_segment_dist(
                        px, py, r[:-1, 0], r[:-1, 1], r[1:, 0], r[1:, 1]
                    )
                    best = min(best, float(np.min(d)))
            return best

        # mixed-resolution index: each occupied resolution is searched
        # with ITS OWN ring loop and (r-1)*cell_min stop bound (the bound
        # argument only holds per resolution: a zone indexed at res ρ
        # with no cover cell inside ring r has its boundary ≥
        # (r-1)·cell_min(ρ) away).  Per-resolution bests combine by
        # (distance, ordinal) — same global tie-break as before.
        zones_per_res = {
            int(rr): int((self.zone_res == rr).sum()) for rr in self.res_list
        }
        for i in todo:
            best_z, best_d = -1, np.inf
            for rr in self.res_list:
                rr = int(rr)
                n = 1 << rr
                cell_min = min((x1 - x0) / n, (y1 - y0) / n)
                pc = ci.cell_at(x[i], y[i], rr, self.world)
                seen: set = set()
                sub_z, sub_d = -1, np.inf
                for r in range(0, max_ring + 1):
                    # incremental shell, not the full disk re-probed
                    cells = ci.ring_only(pc, r)
                    _pos, zcand, _full = self.candidates_for_cells(
                        np.unique(cells)
                    )
                    fresh = [z for z in np.unique(zcand) if z not in seen]
                    for z in fresh:
                        seen.add(int(z))
                        d = zone_dist(x[i], y[i], int(z))
                        if d < sub_d or (d == sub_d and z < sub_z):
                            sub_z, sub_d = int(z), d
                    if len(seen) == zones_per_res[rr]:
                        break  # every zone at this res scored exactly
                    # stop once no unseen zone at this res can beat the
                    # best: zones with no cover cell within ring r are
                    # >= (r-1)*cell_min away
                    if sub_z >= 0 and sub_d <= max(r - 1, 0) * cell_min:
                        break
                if sub_z >= 0 and (
                    sub_d < best_d or (sub_d == best_d and sub_z < best_z)
                ):
                    best_z, best_d = sub_z, sub_d
            out_zone[i] = best_z
            out_dist[i] = best_d if np.isfinite(best_d) else 0.0
        return out_zone, out_dist
