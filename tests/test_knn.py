"""kNN match tests: exactness vs brute force, tie-breaks, escalation."""

import numpy as np
import pandas as pd

from osm_chordify_spark.operators.knn import knn_match, segment_midpoints
from osm_chordify_spark import geom as G


def _brute(points, segs, k):
    rows = []
    for pid, px, py in points:
        d = [
            (float(np.hypot(px - sx, py - sy)), sid)
            for sid, sx, sy in segs
        ]
        d.sort()
        for rank, (dist, sid) in enumerate(d[:k], 1):
            rows.append((pid, sid, rank))
    return sorted(rows)


def test_knn_exact_vs_brute_force(spark):
    rng = np.random.default_rng(11)
    pts = [(i, float(x), float(y)) for i, (x, y) in enumerate(rng.uniform(0, 10, (300, 2)))]
    segs = [(i, float(x), float(y)) for i, (x, y) in enumerate(rng.uniform(0, 10, (50, 2)))]
    pdf = spark.createDataFrame(pd.DataFrame(pts, columns=["point_id", "x", "y"]))
    sdf = spark.createDataFrame(pd.DataFrame(segs, columns=["seg_id", "mx", "my"]))
    out = knn_match(pdf, sdf, k=3, res=10).toPandas()
    got = sorted(map(tuple, out[["point_id", "seg_id", "rank"]].itertuples(index=False)))
    assert got == _brute(pts, segs, 3)


def test_knn_sparse_segments_escalates_rings(spark):
    """One far-away segment: escalation must still find it."""
    pts = [(0, 0.0, 0.0), (1, 9.0, 9.0)]
    segs = [(77, 5.0, 5.0)]
    pdf = spark.createDataFrame(pd.DataFrame(pts, columns=["point_id", "x", "y"]))
    sdf = spark.createDataFrame(pd.DataFrame(segs, columns=["seg_id", "mx", "my"]))
    out = knn_match(pdf, sdf, k=1, res=12).toPandas()
    assert len(out) == 2
    assert set(out["seg_id"]) == {77}


def test_segment_midpoints(spark):
    line = G.wkb_linestring([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0]])
    df = spark.createDataFrame(
        pd.DataFrame({"seg_id": [1], "geometry": [line]})
    )
    out = segment_midpoints(df).toPandas()
    assert (out.iloc[0]["mx"], out.iloc[0]["my"]) == (4.0, 0.0)


def test_within_distance_join_brute_force(spark):
    """Range join matches the O(n·m) brute force, including the
    inclusive boundary and a forced-fine resolution (multi-cell cover)."""
    import numpy as np
    import pandas as pd

    from osm_chordify_spark.operators.knn import within_distance_join

    rng = np.random.default_rng(9)
    pts = pd.DataFrame({
        "point_id": np.arange(200),
        "x": rng.uniform(-179, 179, 200),
        "y": rng.uniform(-89, 89, 200),
    })
    segs = pd.DataFrame({
        "seg_id": np.arange(300),
        "mx": rng.uniform(-179, 179, 300),
        "my": rng.uniform(-89, 89, 300),
    })
    # exact boundary pair: dist == radius must be INCLUDED
    pts.loc[0, ["x", "y"]] = (0.0, 0.0)
    segs.loc[0, ["mx", "my"]] = (3.0, 4.0)  # dist 5 == radius

    radius = 5.0
    for res in (None, 12):  # default coarse pick and a forced-fine cover
        out = within_distance_join(
            spark.createDataFrame(pts), spark.createDataFrame(segs),
            radius=radius, res=res,
        ).toPandas()
        d = np.sqrt(
            (pts["x"].to_numpy()[:, None] - segs["mx"].to_numpy()) ** 2
            + (pts["y"].to_numpy()[:, None] - segs["my"].to_numpy()) ** 2
        )
        exp = {(int(i), int(j)) for i, j in zip(*np.nonzero(d <= radius))}
        got = {(int(r.point_id), int(r.seg_id)) for r in out.itertuples()}
        assert got == exp, f"res={res}"
        assert (0, 0) in got

    import pytest

    with pytest.raises(ValueError, match="radius"):
        within_distance_join(
            spark.createDataFrame(pts), spark.createDataFrame(segs), radius=0.0
        )


def test_knn_true_segments_vs_brute_force(spark):
    """True-segment kNN matches brute force — includes a long diagonal
    segment whose MIDPOINT is far but whose body is nearest, the case
    midpoint matching gets wrong."""
    import numpy as np
    import pandas as pd

    from osm_chordify_spark.operators.knn import knn_match_segments

    rng = np.random.default_rng(51)
    segs = pd.DataFrame({
        "seg_id": np.arange(120),
        "ax": rng.uniform(-50, 50, 120),
        "ay": rng.uniform(-30, 30, 120),
    })
    segs["bx"] = segs["ax"] + rng.uniform(-8, 8, 120)
    segs["by"] = segs["ay"] + rng.uniform(-8, 8, 120)
    # the adversarial case: a very long segment passing near the origin
    segs.loc[0, ["ax", "ay", "bx", "by"]] = (-40.0, -40.0, 40.0, 40.0)
    pts = pd.DataFrame({
        "point_id": np.arange(80),
        "x": rng.uniform(-45, 45, 80),
        "y": rng.uniform(-28, 28, 80),
    })
    pts.loc[0, ["x", "y"]] = (0.5, -0.5)  # 0.707 from segment 0's body

    out = knn_match_segments(
        spark.createDataFrame(pts), spark.createDataFrame(segs), k=3, res=9
    ).toPandas()

    def seg_dist(p, s):
        ex, ey = s.bx - s.ax, s.by - s.ay
        t = np.clip(((p.x - s.ax) * ex + (p.y - s.ay) * ey)
                    / max(ex * ex + ey * ey, 1e-300), 0.0, 1.0)
        return float(np.hypot(p.x - (s.ax + t * ex), p.y - (s.ay + t * ey)))

    for p in pts.itertuples():
        d = sorted(
            ((seg_dist(p, s), s.seg_id) for s in segs.itertuples())
        )[:3]
        got = out[out["point_id"] == p.point_id].sort_values("rank")
        assert list(got["seg_id"]) == [sid for _d, sid in d], p.point_id
        assert np.allclose(sorted(got["dist"]), [x for x, _ in d], rtol=1e-9)
    # the adversarial point's rank-1 is the long diagonal
    got0 = out[(out["point_id"] == 0) & (out["rank"] == 1)]
    assert int(got0["seg_id"].iloc[0]) == 0


# Two-round search routes on a 64×64 world of unit cells (res 6,
# cell_min 1, max_ring 8).  Tiny horizontal targets (length 0.02) sit in
# one cell each, so midpoint and segment kNN see the same layout.
_WORLD = (0.0, 0.0, 64.0, 64.0)
_TARGETS = [  # (id, centre x, centre y, vertical)
    (7, 8.95, 10.5, False),   # ring 2 of point 0, nearer than its ring-1 pair
    (3, 10.05, 11.9, False),  # ring 1 of point 0, at 1.4 > cell_min
    (5, 11.95, 10.5, False),  # ring 1 of point 0, at 1.9
    (11, 30.5, 33.5, False),  # point 1 has nothing in ring 1: these two
    (12, 31.5, 32.6, False),  # share a coarse cell at ring 2-3
    (22, 45.5, 11.5, False),  # three targets exactly 1.0 from point 3,
    (21, 45.5, 9.5, False),   # listed high id first: ranks fall to the
    (20, 46.5, 10.5, True),   # lowest ids (sid tie-break)
]
_POINTS = [(0, 10.05, 10.5), (1, 30.5, 30.5), (2, 55.5, 55.5), (3, 45.5, 10.5)]


def _route_frames(spark, targets):
    rows = []
    for sid, cx, cy, vertical in targets:
        dx, dy = (0.0, 0.01) if vertical else (0.01, 0.0)
        rows.append((sid, cx, cy, cx - dx, cy - dy, cx + dx, cy + dy))
    segs = pd.DataFrame(rows, columns=["seg_id", "mx", "my", "ax", "ay", "bx", "by"])
    pts = pd.DataFrame(_POINTS, columns=["point_id", "x", "y"])
    return pts, segs, spark.createDataFrame(pts), spark.createDataFrame(segs)


def _brute_ranked(pts, segs, k, segment):
    rows = []
    for p in pts.itertuples():
        d = []
        for s in segs.itertuples():
            if segment:
                ex, ey = s.bx - s.ax, s.by - s.ay
                t = min(max(((p.x - s.ax) * ex + (p.y - s.ay) * ey)
                            / max(ex * ex + ey * ey, 1e-300), 0.0), 1.0)
                qx, qy = s.ax + t * ex, s.ay + t * ey
            else:
                qx, qy = s.mx, s.my
            d.append((float(np.sqrt((p.x - qx) ** 2 + (p.y - qy) ** 2)), s.seg_id))
        rows += [(p.point_id, sid, r, dist) for r, (dist, sid) in enumerate(sorted(d)[:k], 1)]
    return sorted(rows)


def _run_routes(spark, monkeypatch, targets, k):
    """(operator name, brute-force rows, result rows, point ids that
    reached the coarser-resolution recursion) for both operators."""
    from osm_chordify_spark.operators import knn as K

    pts, segs, pdf, sdf = _route_frames(spark, targets)
    out = []
    for name in ("knn_match", "knn_match_segments"):
        real = getattr(K, name)
        coarsened = set()

        def spy(points, *a, res=6, **kw):
            if res < 6:
                coarsened.update(r[0] for r in points.select("point_id").collect())
            return real(points, *a, res=res, **kw)

        monkeypatch.setattr(K, name, spy)
        got = getattr(K, name)(pdf, sdf, k=k, res=6, max_ring=8, world=_WORLD).toPandas()
        monkeypatch.setattr(K, name, real)
        rows = sorted((int(r.point_id), int(r.seg_id), int(r.rank), float(r.dist))
                      for r in got.itertuples())
        out.append((name, _brute_ranked(pts, segs, k, name.endswith("segments")),
                    rows, coarsened))
    return out


def test_knn_two_round_routes_vs_brute_force(spark, monkeypatch):
    """Each round-2 route against brute force, k = 1 and 2, for midpoint
    and segment targets: point 0 has k ring-1 candidates but its kth is
    beyond cell_min (round 2 from its carried kth distance; its ring-2
    target wins); point 1 has no ring-1 candidate and resolves from the
    coarse occupancy bound, inside max_ring; point 2 is beyond max_ring
    and is finished by the coarser recursion; point 3's k ranks are
    decided by the id tie-break among three equidistant targets."""
    for k in (1, 2):
        for name, exp, got, coarsened in _run_routes(spark, monkeypatch, _TARGETS, k):
            assert [r[:3] for r in got] == [r[:3] for r in exp], (name, k)
            assert np.allclose([r[3] for r in got], [r[3] for r in exp], rtol=1e-12)
            assert coarsened == {2}, (name, k)
    winners = {r[0]: r[1] for r in exp if r[2] == 1}
    assert winners[0] == 7 and winners[3] == 20 and winners[1] == 12


def test_knn_k_above_target_count(spark, monkeypatch):
    """k larger than the number of targets: every point gets all of
    them, ranked, after the recursion reaches the single world cell."""
    few = _TARGETS[:3]
    for name, exp, got, coarsened in _run_routes(spark, monkeypatch, few, k=4):
        assert [r[:3] for r in got] == [r[:3] for r in exp], name
        assert len(got) == 3 * len(_POINTS)
        assert coarsened == {0, 1, 2, 3}, name
