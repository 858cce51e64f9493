"""Seeded input generators for the three workloads, with an on-disk cache.

Everything here is NumPy/pyarrow only: the engine never sees the seed,
only the tables written under ``.bench_cache/perfbench/``.  Equal
(workload, seed, size) keys give byte-identical files; another seed
changes coordinates, bodies and attributes but keeps every size and
property distribution (row counts, hot-spot share, chain-length cap).

Geometry is plain WKB (little endian), written by the small encoders
below so the generators and the output checks stay independent of the
engine's own codec.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CACHE_ROOT = os.path.join(".bench_cache", "perfbench")
# page bodies: the ``text`` column of the sf0.1 ``documents`` test table
# (5 000 documents, 44–577 characters), kept next to the benchmark
BODIES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "bodies.parquet")

# ---------------------------------------------------------------------------
# sizes (one place; the README quotes them)

SIZES = {
    "pages_pip": {"pages": 150_000, "zones_x": 20, "zones_y": 10, "hot_share": 0.30},
    "tracts_dist": {"zones_x": 120, "zones_y": 80, "edges": 8_000,
                    "islands": 12, "hot_share": 0.40},
    "osm_pipeline": {"edges": 8_000, "max_chain": 64, "points": 16_000,
                     "far_points": 6, "counties_x": 15, "counties_y": 10,
                     "county_side_pts": 199, "two_way_share": 0.3},
}


def size_key(workload: str) -> str:
    """Cache key of the sizes, this generator's own source and the page
    bodies, so a changed generator never reads a stale cache."""
    h = hashlib.sha1(json.dumps(SIZES[workload], sort_keys=True).encode())
    for path in (__file__, BODIES):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:10]


# ---------------------------------------------------------------------------
# WKB encoders


def wkb_linestring(coords) -> bytes:
    c = np.ascontiguousarray(np.asarray(coords, dtype="<f8"))
    return struct.pack("<BII", 1, 2, len(c)) + c.tobytes()


def _ring_bytes(ring) -> bytes:
    r = np.asarray(ring, dtype="<f8")
    if not np.array_equal(r[0], r[-1]):
        r = np.vstack([r, r[:1]])
    r = np.ascontiguousarray(r)
    return struct.pack("<I", len(r)) + r.tobytes()


def wkb_polygon(ring) -> bytes:
    return struct.pack("<BII", 1, 3, 1) + _ring_bytes(ring)


def wkb_multipolygon(rings) -> bytes:
    parts = [struct.pack("<BII", 1, 3, 1) + _ring_bytes(r) for r in rings]
    return struct.pack("<BII", 1, 6, len(parts)) + b"".join(parts)


def polyline_length(c: np.ndarray) -> float:
    return float(np.hypot(*np.diff(c, axis=0).T).sum()) if len(c) > 1 else 0.0


# ---------------------------------------------------------------------------
# shared-border tilings


def tiling(rng, nx, ny, bounds, side_pts, jitter, wiggle):
    """Rings of an ``nx × ny`` tiling of ``bounds`` whose neighbours share
    their border polylines exactly (so the zones cover the rectangle
    once).  Interior corners move by up to ``jitter`` of a cell; each
    side gets ``side_pts(rng)`` interior points offset perpendicular by
    up to ``wiggle`` of a cell, tapered to zero at the corners so no
    ring self-intersects.  Domain-boundary sides stay straight.

    Returns ``rings[i][j]`` as closed (n, 2) arrays, counter-clockwise."""
    x0, y0, x1, y1 = bounds
    cw, ch = (x1 - x0) / nx, (y1 - y0) / ny
    gx = x0 + cw * np.arange(nx + 1)[:, None] + np.zeros((1, ny + 1))
    gy = y0 + ch * np.arange(ny + 1)[None, :] + np.zeros((nx + 1, 1))
    inner = np.zeros((nx + 1, ny + 1), dtype=bool)
    inner[1:-1, 1:-1] = True
    gx = gx + np.where(inner, rng.uniform(-jitter, jitter, gx.shape) * cw, 0.0)
    gy = gy + np.where(inner, rng.uniform(-jitter, jitter, gy.shape) * ch, 0.0)
    scale = min(cw, ch)

    def side(a, b, straight):
        k = side_pts(rng)
        t = (np.arange(1, k + 1) + rng.uniform(-0.3, 0.3, k)) / (k + 1)
        d = b - a
        pts = a + t[:, None] * d
        if not straight:
            normal = np.array([-d[1], d[0]]) / np.hypot(*d)
            phase = rng.uniform(0, 2 * np.pi)
            freq = rng.uniform(1.0, 3.0)
            off = (0.7 * np.sin(2 * np.pi * freq * t + phase)
                   + 0.3 * rng.uniform(-1, 1, k))
            pts = pts + (wiggle * scale * np.sin(np.pi * t) * off)[:, None] * normal
        return pts

    corner = lambda i, j: np.array([gx[i, j], gy[i, j]])  # noqa: E731
    hs = {(i, j): side(corner(i, j), corner(i + 1, j), j in (0, ny))
          for i in range(nx) for j in range(ny + 1)}
    vs = {(i, j): side(corner(i, j), corner(i, j + 1), i in (0, nx))
          for i in range(nx + 1) for j in range(ny)}
    rings = [[None] * ny for _ in range(nx)]
    for i in range(nx):
        for j in range(ny):
            ring = np.vstack([
                corner(i, j)[None], hs[i, j],
                corner(i + 1, j)[None], vs[i + 1, j],
                corner(i + 1, j + 1)[None], hs[i, j + 1][::-1],
                corner(i, j + 1)[None], vs[i, j][::-1],
                corner(i, j)[None],
            ])
            rings[i][j] = ring
    return rings


def even_odd_inside(px, py, ring) -> np.ndarray:
    """Crossing-number point-in-ring test (the checks' own oracle)."""
    inside = np.zeros(len(px), dtype=bool)
    ax, ay = ring[:-1, 0], ring[:-1, 1]
    bx, by = ring[1:, 0], ring[1:, 1]
    for k in range(len(ax)):
        cond = (ay[k] > py) != (by[k] > py)
        if not cond.any():
            continue
        xc = ax[k] + (py - ay[k]) * (bx[k] - ax[k]) / np.where(by[k] == ay[k], 1.0, by[k] - ay[k])
        inside ^= cond & (px < xc)
    return inside


# ---------------------------------------------------------------------------
# cache


def _write_table(path, cols: dict):
    # small row groups, so every scan split holds data on a 4-core host
    pq.write_table(pa.table(cols), path, compression="snappy",
                   row_group_size=16_000)


def cached(workload: str, seed: int) -> str:
    """Directory holding the workload's inputs for ``seed``; generated on
    first use.  ``meta.json`` is written last, so a half-written
    directory from an interrupted run is regenerated."""
    d = os.path.join(CACHE_ROOT, f"{workload}-s{seed}-{size_key(workload)}")
    if os.path.exists(os.path.join(d, "meta.json")):
        return d
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = GENERATORS[workload](np.random.default_rng([seed, _WL_SALT[workload]]), tmp,
                                SIZES[workload])
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f, sort_keys=True)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d


def load_meta(d: str) -> dict:
    with open(os.path.join(d, "meta.json")) as f:
        return json.load(f)


def digest(d: str) -> str:
    """sha1 over every input file (seed-determinism check)."""
    h = hashlib.sha1()
    for name in sorted(os.listdir(d)):
        h.update(name.encode())
        with open(os.path.join(d, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


# ---------------------------------------------------------------------------
# pages_pip

PAGES_BOUNDS = (-125.0, 25.0, -65.0, 50.0)
HTML_PRE = '<html><head><meta name="geo.position" content="'
HTML_MID = '"/><title>doc</title></head><body><p data-main>'
HTML_POST = "</p></body></html>"


def _gen_pages(rng, out, sz):
    nx, ny = sz["zones_x"], sz["zones_y"]
    rings = tiling(rng, nx, ny, PAGES_BOUNDS, lambda r: 10,
                   jitter=0.2, wiggle=0.12)
    zone_ids = [f"Z{i:02d}_{j:02d}" for i in range(nx) for j in range(ny)]
    flat_rings = [rings[i][j] for i in range(nx) for j in range(ny)]
    _write_table(os.path.join(out, "zones.parquet"), {
        "zone_id": pa.array(zone_ids),
        "geometry": pa.array([wkb_polygon(r) for r in flat_rings], pa.binary()),
    })

    n = sz["pages"]
    x0, y0, x1, y1 = PAGES_BOUNDS
    cw, ch = (x1 - x0) / nx, (y1 - y0) / ny
    # hot metro box straddles an interior corner, so its pages need the
    # exact winding test against several zones
    ci_, cj = int(rng.integers(1, nx)), int(rng.integers(1, ny))
    hx, hy = x0 + ci_ * cw, y0 + cj * ch
    hot = rng.random(n) < sz["hot_share"]
    lon = np.where(hot, hx + rng.uniform(-0.4, 0.4, n) * cw, rng.uniform(x0, x1, n))
    lat = np.where(hot, hy + rng.uniform(-0.4, 0.4, n) * ch, rng.uniform(y0, y1, n))
    lon = np.clip(lon, x0 + 1e-6, x1 - 1e-6)
    lat = np.clip(lat, y0 + 1e-6, y1 - 1e-6)

    # expected zone per page from the checks' own crossing test
    zone_of = np.full(n, -1, dtype=np.int64)
    hits = np.zeros(n, dtype=np.int64)
    gi = np.floor((lon - x0) / cw).astype(np.int64)
    gj = np.floor((lat - y0) / ch).astype(np.int64)
    for i in range(nx):
        for j in range(ny):
            sel = np.nonzero((np.abs(gi - i) <= 1) & (np.abs(gj - j) <= 1))[0]
            inside = even_odd_inside(lon[sel], lat[sel], rings[i][j])
            zone_of[sel[inside]] = i * ny + j
            hits[sel[inside]] += 1
    if not (hits == 1).all():
        raise RuntimeError("generated page not in exactly one zone")
    counts = np.bincount(zone_of, minlength=nx * ny)
    np.save(os.path.join(out, "sample_pts.npy"), np.stack([lon, lat], 1)[:50_000])

    bodies = pq.read_table(BODIES).column("text").to_pylist()
    text = [bodies[k] for k in rng.integers(0, len(bodies), n)]
    html = [
        (HTML_PRE + repr(float(la)) + ";" + repr(float(lo)) + HTML_MID + t + HTML_POST).encode()
        for la, lo, t in zip(lat, lon, text)
    ]
    _write_table(os.path.join(out, "pages.parquet"), {
        "url": pa.array([f"https://example.org/p/{k}" for k in range(n)]),
        "html": pa.array(html, pa.binary()),
        "text": pa.array(text),
    })
    return {
        "rows": n,
        "zone_counts": {zone_ids[k]: int(c) for k, c in enumerate(counts)},
        "hot_share": float(hot.mean()),
    }


# ---------------------------------------------------------------------------
# tracts_dist

TRACT_W = 0.25


def _gen_tracts(rng, out, sz):
    nx, ny = sz["zones_x"], sz["zones_y"]
    bounds = (-20.0, -12.5, -20.0 + nx * TRACT_W, -12.5 + ny * TRACT_W)
    x0, y0, x1, y1 = bounds
    rings = tiling(rng, nx, ny, bounds, lambda r: int(r.integers(1, 3)),
                   jitter=0.2, wiggle=0.12)
    zone_ids, geoms, nverts = [], [], []
    island_of = set(rng.choice(nx * ny, sz["islands"], replace=False).tolist())
    for i in range(nx):
        for j in range(ny):
            k = i * ny + j
            ring = rings[i][j]
            zone_ids.append(f"T{i:03d}_{j:03d}")
            nverts.append(len(ring) - 1)
            if k in island_of:
                # offshore island east of the tiled region: the zone
                # becomes a multipolygon without overlapping any tract
                cx = x1 + rng.uniform(0.5, 3.0)
                cy = rng.uniform(y0 + 1, y1 - 1)
                ang = np.sort(rng.uniform(0, 2 * np.pi, 7))
                rad = TRACT_W * rng.uniform(0.3, 0.6, 7)
                isl = np.stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)], 1)
                geoms.append(wkb_multipolygon([ring, np.vstack([isl, isl[:1]])]))
            else:
                geoms.append(wkb_polygon(ring))
    _write_table(os.path.join(out, "zones.parquet"), {
        "zone_id": pa.array(zone_ids), "geometry": pa.array(geoms, pa.binary()),
    })

    n = sz["edges"]
    hot = rng.random(n) < sz["hot_share"]
    hcx, hcy = rng.uniform(x0 + 0.3 * (x1 - x0), x0 + 0.7 * (x1 - x0)), rng.uniform(
        y0 + 0.3 * (y1 - y0), y0 + 0.7 * (y1 - y0))
    sx = np.where(hot, hcx + rng.normal(0, 3 * TRACT_W, n), rng.uniform(x0, x1 + 1.5, n))
    sy = np.where(hot, hcy + rng.normal(0, 3 * TRACT_W, n), rng.uniform(y0, y1, n))
    nseg = rng.integers(1, 21, n)
    length = TRACT_W * np.exp(rng.uniform(np.log(0.2), np.log(5.0), n))
    heading = rng.uniform(0, 2 * np.pi, n)
    lines, elen, inside = [], [], np.zeros(n, dtype=bool)
    for k in range(n):
        m = int(nseg[k])
        th = heading[k] + np.cumsum(rng.normal(0, 0.4, m))
        w = rng.uniform(0.5, 1.5, m)
        seg = length[k] * w / w.sum()
        pts = np.empty((m + 1, 2))
        pts[0] = sx[k], sy[k]
        pts[1:, 0] = sx[k] + np.cumsum(seg * np.cos(th))
        pts[1:, 1] = sy[k] + np.cumsum(seg * np.sin(th))
        lines.append(wkb_linestring(pts))
        elen.append(polyline_length(pts))
        inside[k] = (pts[:, 0].min() > x0 and pts[:, 0].max() < x1
                     and pts[:, 1].min() > y0 and pts[:, 1].max() < y1)
    _write_table(os.path.join(out, "edges.parquet"), {
        "osm_id": pa.array(np.arange(n, dtype=np.int64)),
        "geometry": pa.array(lines, pa.binary()),
    })
    np.save(os.path.join(out, "inside.npy"), inside)
    np.save(os.path.join(out, "edge_len.npy"), np.asarray(elen))
    return {"rows": n, "zones": nx * ny, "bounds": list(bounds),
            "inside_edges": int(inside.sum()), "mean_zone_vertices": float(np.mean(nverts))}


# ---------------------------------------------------------------------------
# osm_pipeline

OSM_BOUNDS = (-60.0, -40.0, 60.0, 40.0)
HIGHWAYS = ["primary", "secondary", "tertiary", "residential", "service", "trunk"]


def _roads(rng, sz):
    """``(chain lengths, two_way)`` per road.  Chain lengths are heavy
    tailed with exactly one chain of ``max_chain`` edges, so every seed
    needs the same number of list-ranking rounds, and the roads hold
    exactly ``edges`` directed edges: a last one-way road takes the
    remainder in chains no longer than the tail cap."""
    target, cap = sz["edges"], sz["max_chain"] // 2
    roads, rows = [], 0
    while True:
        lens = np.minimum(1 + np.floor(rng.pareto(1.1, int(rng.integers(1, 6))) * 4),
                          cap).astype(np.int64)
        two_way = bool(roads) and rng.random() < sz["two_way_share"]
        if not roads:
            lens[0] = sz["max_chain"]
        n = int(lens.sum()) * (2 if two_way else 1)
        if rows + n > target:
            break
        roads.append((lens, two_way))
        rows += n
    rest = target - rows
    if rest:
        roads.append((np.array([cap] * (rest // cap) + [rest % cap] * bool(rest % cap),
                               dtype=np.int64), False))
    return roads


def _gen_osm(rng, out, sz):
    x0, y0, x1, y1 = OSM_BOUNDS
    step = 0.12
    us, vs, osmids, lens_, hws, lanes, oneway, geoms = [], [], [], [], [], [], [], []
    seg_rows = []
    node = 0
    planted = 0
    for road_chains, two_way in _roads(rng, sz):
        m = int(road_chains.sum())
        pts = np.empty((m + 1, 2))
        pts[0] = rng.uniform(x0 + 1, x1 - 1), rng.uniform(y0 + 1, y1 - 1)
        th = rng.uniform(0, 2 * np.pi)
        for k in range(m):
            th += rng.normal(0, 0.25)
            nxt = pts[k] + step * rng.uniform(0.6, 1.4) * np.array([np.cos(th), np.sin(th)])
            if not (x0 + 0.5 < nxt[0] < x1 - 0.5 and y0 + 0.5 < nxt[1] < y1 - 0.5):
                th += np.pi  # turn back at the domain edge
                nxt = pts[k] + step * np.array([np.cos(th), np.sin(th)])
            pts[k + 1] = nxt
        ids = node + np.arange(m + 1)
        node += m + 1
        hw_start = int(rng.integers(0, len(HIGHWAYS)))
        k = 0
        for c, clen in enumerate(road_chains):
            hw = HIGHWAYS[(hw_start + c) % len(HIGHWAYS)]
            ln = int(rng.integers(1, 4))
            planted += 2 if two_way else 1
            for _ in range(int(clen)):
                a, b = pts[k], pts[k + 1]
                d = float(np.hypot(*(b - a)))
                dirs = [(k, k + 1)] + ([(k + 1, k)] if two_way else [])
                seg_rows.append((len(osmids), a[0], a[1], b[0], b[1]))
                for s, t in dirs:
                    us.append(int(ids[s]))
                    vs.append(int(ids[t]))
                    osmids.append(len(osmids))
                    lens_.append(d)
                    hws.append(hw)
                    lanes.append(ln)
                    oneway.append("no" if two_way else "yes")
                    geoms.append(wkb_linestring(np.stack([pts[s], pts[t]])))
                k += 1
    n = len(us)
    _write_table(os.path.join(out, "edges.parquet"), {
        "u": pa.array(us, pa.int64()), "v": pa.array(vs, pa.int64()),
        "key": pa.array(np.zeros(n, dtype=np.int64)),
        "osmid": pa.array(osmids, pa.int64()), "length": pa.array(lens_, pa.float64()),
        "highway": pa.array(hws), "lanes": pa.array(lanes, pa.int64()),
        "oneway": pa.array(oneway), "geometry": pa.array(geoms, pa.binary()),
    })
    # isolated road stubs east of the county area, each with one GPS fix
    # 0.55–0.65 units west of it: these fixes resolve only at the widest
    # ring of the search, so every seed needs the same number of rounds
    nfar = sz["far_points"]
    fy = y0 + (y1 - y0) * (np.arange(nfar) + 0.5) / nfar
    stub_x = x1 + 6.0
    for k in range(nfar):
        seg_rows.append((len(osmids) + k, stub_x, fy[k] - 0.3, stub_x, fy[k] + 0.3))
    seg = np.asarray(seg_rows, dtype=np.float64)
    _write_table(os.path.join(out, "segments.parquet"), {
        "seg_id": pa.array(seg[:, 0].astype(np.int64)),
        "ax": pa.array(seg[:, 1]), "ay": pa.array(seg[:, 2]),
        "bx": pa.array(seg[:, 3]), "by": pa.array(seg[:, 4]),
    })

    cx, cy = sz["counties_x"], sz["counties_y"]
    side = sz["county_side_pts"]
    rings = tiling(rng, cx, cy, OSM_BOUNDS, lambda r: side, jitter=0.2, wiggle=0.1)
    _write_table(os.path.join(out, "counties.parquet"), {
        "county_id": pa.array([f"C{i:02d}_{j:02d}" for i in range(cx) for j in range(cy)]),
        "geometry": pa.array([wkb_polygon(rings[i][j]) for i in range(cx) for j in range(cy)],
                             pa.binary()),
    })

    npts = sz["points"]
    road = seg[:-nfar]
    pick = rng.integers(0, len(road), npts - nfar)
    t = rng.uniform(0, 1, len(pick))
    px = road[pick, 1] + t * (road[pick, 3] - road[pick, 1]) + rng.normal(0, 0.01, len(pick))
    py = road[pick, 2] + t * (road[pick, 4] - road[pick, 2]) + rng.normal(0, 0.01, len(pick))
    fx = stub_x - rng.uniform(0.55, 0.65, nfar)
    _write_table(os.path.join(out, "points.parquet"), {
        "point_id": pa.array(np.arange(npts, dtype=np.int64)),
        "x": pa.array(np.concatenate([px, fx])), "y": pa.array(np.concatenate([py, fy])),
    })
    return {"rows": n, "planted_chains": planted, "total_length": float(np.sum(lens_)),
            "segments": len(seg), "points": npts, "far_points": nfar}


GENERATORS = {"pages_pip": _gen_pages, "tracts_dist": _gen_tracts,
              "osm_pipeline": _gen_osm}
_WL_SALT = {"pages_pip": 1, "tracts_dist": 2, "osm_pipeline": 3}
