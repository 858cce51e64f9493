"""Tiny-size tests of the benchmark itself: seeded inputs are
deterministic, and every output check rejects a planted wrong answer.

    python3 -m pytest perfbench/tests -q

No Spark session is started; the checks are pure functions.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks as C  # noqa: E402
import gen  # noqa: E402
import harness as H  # noqa: E402

TINY = {
    "pages_pip": {"pages": 3000, "zones_x": 6, "zones_y": 4, "hot_share": 0.30},
    "tracts_dist": {"zones_x": 12, "zones_y": 8, "edges": 200, "islands": 2,
                    "hot_share": 0.40},
    "osm_pipeline": {"edges": 300, "max_chain": 16, "points": 200, "far_points": 2,
                     "counties_x": 3, "counties_y": 2, "county_side_pts": 20,
                     "two_way_share": 0.3},
}


@pytest.fixture
def tiny(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    monkeypatch.setattr(gen, "SIZES", TINY)
    monkeypatch.setattr(gen, "CACHE_ROOT", str(tmp_path / "cache"))
    return tmp_path


@pytest.mark.parametrize("workload", sorted(TINY))
def test_same_seed_same_bytes_other_seed_other_data(tiny, workload):
    a = gen.digest(gen.cached(workload, 7))
    # regenerate from scratch: the cache must not be what makes it equal
    d = gen.cached(workload, 7)
    os.remove(os.path.join(d, "meta.json"))
    assert gen.digest(gen.cached(workload, 7)) == a
    b = gen.cached(workload, 8)
    assert gen.digest(b) != a
    assert gen.load_meta(b)["rows"] == gen.load_meta(gen.cached(workload, 7))["rows"]


def test_tiling_covers_each_point_once(tiny):
    rng = np.random.default_rng(3)
    rings = gen.tiling(rng, 4, 3, (0.0, 0.0, 4.0, 3.0), lambda r: 8, jitter=0.2, wiggle=0.12)
    px, py = rng.uniform(0, 4, 5000), rng.uniform(0, 3, 5000)
    hits = sum(gen.even_odd_inside(px, py, r).astype(int) for row in rings for r in row)
    assert (hits == 1).all()


def _failed(results):
    return sorted(name for name, ok in results if not ok)


def test_pages_checks(tiny):
    meta = gen.load_meta(gen.cached("pages_pip", 1))
    counts = {z: c for z, c in meta["zone_counts"].items() if c}
    good = pd.DataFrame({"zone_id": list(counts), "pages": list(counts.values()),
                         "mismatches": 0})
    assert _failed(C.check_pages(good, meta)) == []
    moved = good.copy()
    moved.loc[0, "pages"] -= 1
    moved.loc[1, "pages"] += 1  # one page in the wrong zone, total unchanged
    assert _failed(C.check_pages(moved, meta)) == ["pages.one_zone_each"]
    bad_text = good.copy()
    bad_text.loc[2, "mismatches"] = 1
    assert _failed(C.check_pages(bad_text, meta)) == ["pages.text_match"]


def test_tracts_checks():
    edge_len = np.array([1.0, 0.5, 2.0])
    inside = np.array([True, True, False])
    out = pd.DataFrame({
        "edge_osm_id": [0, 0, 1, 2],
        "zone_zone_id": ["a", "b", "a", "c"],
        "zone_link_length_m": [0.4, 0.6, 0.5, 1.2],
        "edge_link_length_m": [1.0, 1.0, 0.5, 2.0],
    })
    assert _failed(C.check_tracts(out, edge_len, inside)) == []
    dropped = out.drop(index=1)  # one dropped piece
    assert _failed(C.check_tracts(dropped, edge_len, inside)) == ["tracts.zone_sums"]
    missing = out[out["edge_osm_id"] != 1]
    assert set(_failed(C.check_tracts(missing, edge_len, inside))) == {
        "tracts.zone_sums", "tracts.edge_length"}


def _line(*pts):
    return gen.wkb_linestring(np.asarray(pts, dtype=float))


def _multi(*lines):
    import struct

    parts = [gen.wkb_linestring(np.asarray(ln, dtype=float)) for ln in lines]
    return struct.pack("<BII", 1, 5, len(parts)) + b"".join(parts)


def test_chord_and_piece_checks():
    chords = pd.DataFrame({
        "osmid": [10, 20],
        "length": [3.0, 1.0],
        "geometry": [_line((0, 0), (1, 0), (3, 0)), _line((0, 1), (1, 1))],
    })
    meta = {"planted_chains": 2, "total_length": 4.0}
    assert _failed(C.check_chords(chords, meta)) == []
    dup = pd.concat([chords, chords.iloc[[0]]], ignore_index=True)  # one duplicated chord
    assert _failed(C.check_chords(dup, meta)) == [
        "graph.chord_count", "graph.geometry_length", "graph.length_sum"]

    pieces = pd.DataFrame({
        "edge_osmid": [10, 10, 20],
        "geometry": [_multi([(0, 0), (0.5, 0)], [(2.5, 0), (3, 0)]),
                     _line((0.5, 0), (2.5, 0)), _line((0, 1), (1, 1))],
        "zone_link_length_m": [1.0, 2.0, 1.0],
    })
    assert _failed(C.check_pieces(pieces, chords)) == []
    dropped = pieces.drop(index=1)  # one dropped piece
    assert _failed(C.check_pieces(dropped, chords)) == ["intersect.chord_cover"]
    short = pieces.copy()
    short.loc[0, "geometry"] = _line((0, 0), (0.5, 0))  # one sub-line lost from the WKB
    assert _failed(C.check_pieces(short, chords)) == ["intersect.piece_length"]


def test_knn_checks():
    rng = np.random.default_rng(5)
    segs = pd.DataFrame({"seg_id": np.arange(50) + 100,
                         "ax": rng.uniform(0, 10, 50), "ay": rng.uniform(0, 10, 50)})
    segs["bx"] = segs["ax"] + rng.uniform(-1, 1, 50)
    segs["by"] = segs["ay"] + rng.uniform(-1, 1, 50)
    points = pd.DataFrame({"point_id": np.arange(30), "x": rng.uniform(0, 10, 30),
                           "y": rng.uniform(0, 10, 30)})
    dmin, arg, _ = C.brute_nearest(points["x"].to_numpy(), points["y"].to_numpy(),
                                   segs[["ax", "ay", "bx", "by"]].to_numpy())
    res = pd.DataFrame({"point_id": points["point_id"], "seg_id": segs["seg_id"].to_numpy()[arg],
                        "dist": dmin, "rank": 1})
    sample = np.arange(30)
    assert _failed(C.check_knn(res, points, segs, sample)) == []
    wrong = res.copy()
    wrong.loc[3, "seg_id"] = segs["seg_id"].to_numpy()[(arg[3] + 1) % 50]  # a farther winner
    assert _failed(C.check_knn(wrong, points, segs, sample)) == ["knn.winner"]
    lost = res.drop(index=4)
    assert "knn.one_each" in _failed(C.check_knn(lost, points, segs, np.arange(4)))
    twice = pd.concat([res, res.iloc[[5]]], ignore_index=True)  # a duplicated winner
    assert _failed(C.check_knn(twice, points, segs, sample)) == ["knn.one_each"]


def test_union_len_merges_overlaps_and_clips():
    # driver idle time is a span's wall minus this union of stage intervals
    assert H.union_len([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert H.union_len([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2
    assert H.union_len([], 0, 1) == 0
