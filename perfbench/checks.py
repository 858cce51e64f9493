"""Output checks, as pure functions over pandas/NumPy data.

Each returns a list of ``(name, ok)`` pairs; every False counts as one
failure in the result line.  The checks use their own WKB reader and
their own geometry so they never share code with the engine they check.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd

from gen import polyline_length

# 2-dp output rounding: each rounded length is within 0.005 of its exact
# value; the float slack covers summation order.  A piece that rounds to
# 0.00 is dropped by the operator, so sums over an edge's pieces also
# allow a few such corner slivers.
ROUND = 0.005
SLACK = 1e-6
SLIVERS = 3 * ROUND


def wkb_lines(buf: bytes) -> list[np.ndarray]:
    """LineString (2) or MultiLineString (5) WKB → list of (n, 2) arrays."""
    kind = struct.unpack_from("<I", buf, 1)[0]
    if kind == 2:
        n = struct.unpack_from("<I", buf, 5)[0]
        return [np.frombuffer(buf, "<f8", 2 * n, 9).reshape(n, 2)]
    if kind != 5:
        raise ValueError(f"unexpected WKB type {kind}")
    (parts,) = struct.unpack_from("<I", buf, 5)
    off, out = 9, []
    for _ in range(parts):
        n = struct.unpack_from("<I", buf, off + 5)[0]
        out.append(np.frombuffer(buf, "<f8", 2 * n, off + 9).reshape(n, 2))
        off += 9 + 16 * n
    return out


def lines_length(buf: bytes) -> float:
    return sum(polyline_length(ln) for ln in wkb_lines(bytes(buf)))


# ---------------------------------------------------------------------------
# pages_pip


def check_pages(rollup: pd.DataFrame, meta: dict) -> list:
    """``rollup``: zone_id, pages, mismatches.  Every page lands in
    exactly one zone (per-zone counts equal the generator's own PIP and
    sum to the page count), and extraction reproduces every body."""
    got = dict(zip(rollup["zone_id"], rollup["pages"].astype(int)))
    want = {z: c for z, c in meta["zone_counts"].items() if c}
    return [
        ("pages.one_zone_each", got == want and sum(got.values()) == meta["rows"]),
        ("pages.text_match", int(rollup["mismatches"].sum()) == 0),
    ]


# ---------------------------------------------------------------------------
# tracts_dist


def check_tracts(out: pd.DataFrame, edge_len: np.ndarray, inside: np.ndarray) -> list:
    """Per inside edge, the per-zone lengths sum to the edge length
    within the rounding bound (the tracts tile the region), and every
    inside edge long enough to survive rounding has rows.

    ``edge_len``: exact generated length per edge id."""
    g = out.groupby("edge_osm_id").agg(
        zsum=("zone_link_length_m", "sum"), n=("zone_link_length_m", "size"),
        elen=("edge_link_length_m", "first"))
    ids = np.nonzero(inside & (edge_len >= 0.02))[0]
    present = np.isin(ids, g.index.to_numpy())
    g = g.reindex(ids)
    tol = ROUND * (g["n"].to_numpy() + 1) + SLIVERS
    sums_ok = bool(present.all()) and bool(
        (np.abs(g["zsum"].to_numpy() - edge_len[ids]) <= tol).all())
    elen_ok = bool(present.all()) and bool(
        (np.abs(g["elen"].to_numpy() - edge_len[ids]) <= ROUND + SLACK).all())
    return [("tracts.zone_sums", sums_ok), ("tracts.edge_length", elen_ok)]


def frame_hash(df: pd.DataFrame) -> int:
    cols = sorted(df.columns)
    rows = sorted(map(tuple, df[cols].itertuples(index=False)))
    return hash(tuple(rows))


# ---------------------------------------------------------------------------
# osm_pipeline


def check_chords(chords: pd.DataFrame, meta: dict) -> list:
    """``chords``: length, geometry.  One chord per planted directed
    chain, and chordify neither loses nor adds road length."""
    geo_total = sum(lines_length(g) for g in chords["geometry"])
    n = len(chords)
    return [
        ("graph.chord_count", n == meta["planted_chains"]),
        ("graph.length_sum", abs(chords["length"].sum() - meta["total_length"])
         <= 0.0005 * n + SLACK),
        ("graph.geometry_length", abs(geo_total - meta["total_length"])
         <= 1e-9 * meta["total_length"] + SLACK),
    ]


def check_pieces(out: pd.DataFrame, chords: pd.DataFrame) -> list:
    """``out``: edge_osmid, geometry, zone_link_length_m.  Each piece's
    WKB length matches its rounded metric, and each chord's pieces add
    up to the chord (the counties tile the road domain)."""
    plen = np.array([lines_length(g) for g in out["geometry"]])
    piece_ok = bool((np.abs(plen - out["zone_link_length_m"].to_numpy()) <= ROUND + SLACK).all())
    clen = {o: lines_length(g) for o, g in zip(chords["osmid"], chords["geometry"])}
    by = out.groupby("edge_osmid")["zone_link_length_m"].agg(["sum", "size"])
    want = np.array([clen.get(o, np.nan) for o in by.index])
    cover_ok = len(by) == len(clen) and bool(
        (np.abs(by["sum"].to_numpy() - want) <= ROUND * (by["size"].to_numpy() + 1) + SLIVERS).all())
    return [("intersect.piece_length", piece_ok), ("intersect.chord_cover", cover_ok)]


def brute_nearest(px, py, seg: np.ndarray):
    """Clamped-projection distance from each point to every segment;
    returns (min distance, argmin segment row)."""
    ax, ay, bx, by = (seg[:, k][None, :] for k in range(4))
    ex, ey = bx - ax, by - ay
    t = np.clip(((px[:, None] - ax) * ex + (py[:, None] - ay) * ey)
                / np.maximum(ex * ex + ey * ey, 1e-300), 0.0, 1.0)
    d = np.hypot(px[:, None] - (ax + t * ex), py[:, None] - (ay + t * ey))
    return d.min(axis=1), d.argmin(axis=1), d


def check_knn(res: pd.DataFrame, points: pd.DataFrame, segs: pd.DataFrame,
              sample: np.ndarray) -> list:
    """One winner per point; on a point sample the winner's distance is
    the brute-force minimum (ties between segments sharing a vertex are
    equal-distance, so the distance is compared, not the id).  A point
    with two winners fails ``knn.one_each``; its first winner is the one
    checked."""
    one_each = len(res) == len(points) and res["point_id"].is_unique
    r = (res.drop_duplicates("point_id").set_index("point_id")
         .reindex(points["point_id"].to_numpy()[sample]))
    p = points.iloc[sample]
    seg = segs[["ax", "ay", "bx", "by"]].to_numpy()
    dmin, _, d = brute_nearest(p["x"].to_numpy(), p["y"].to_numpy(), seg)
    row_of = pd.Series(np.arange(len(segs)), index=segs["seg_id"].to_numpy())
    won = row_of.reindex(r["seg_id"].to_numpy())
    scale = 1e-9 * np.maximum(1.0, dmin)
    dist_ok = bool((np.abs(r["dist"].to_numpy() - dmin) <= scale).all())
    winner_ok = not won.isna().any() and bool(
        (np.abs(d[np.arange(len(sample)), won.to_numpy(dtype=np.int64)] - dmin) <= scale).all())
    return [("knn.one_each", bool(one_each)), ("knn.distance", dist_ok),
            ("knn.winner", winner_ok)]
