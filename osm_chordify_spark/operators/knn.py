"""kNN map-matching via cell neighbor-ring search.

The reference specs this API but never implements it
(reference: src/osm_chordify/main.py:219-265
``match_road_network_geometries`` → NotImplementedError).  The
north_star requires it for real: match page points to chordified
segment midpoints with an R-tree-free expanding cell-ring search.

Algorithm (exact kNN, not approximate), two rounds and a fallback:
1. segments → the cells they index under at resolution ``res`` (pure
   column math);
2. round 1: every point probes ring 1 (its 3×3 cell disk) with a LEFT
   join, so points without a candidate stay in the ranked set, and is
   ranked by (distance, id) in one exchange on the point id: a rank ≤ k
   filter (``dense_rank`` for segments, so a duplicate pair takes one
   rank) is cut to k rows map-side, then a ``groupBy`` on the same
   partitioning folds them into ``slice(array_sort(collect(struct(dist,
   id))), 1, k)``.  A point finalizes when it has ≥ k candidates AND its
   kth distance ≤ r·cell_min: every unseen target lies in a cell at
   Chebyshev distance > r, hence ≥ r·cell_min away (SURVEY §7.2 step 6);
3. round 2: each survivor probes the annulus (1, R] with its own R from
   an upper bound on its kth distance (:func:`_ring_search`) and is
   re-ranked with its carried candidates under the same test at R;
4. points with no R ≤ ``max_ring``, or not final after round 2, recurse
   at a coarser resolution (res − 3 ⇒ 8× fewer ring cells) instead of
   cross-joining against all segments; at res 0 the single world cell
   makes ring 1 itself exhaustive, so the recursion terminates exactly.

Job economy: each round is one eager localCheckpoint of a plan with one
hash exchange on the point id (round 2 repartitions its survivors by
number, which AQE never coalesces into one task for the probe after
it), then one emptiness probe of its unfinished points: no anti-join,
no per-pair dedupe exchange.  A warm call on the ``osm_pipeline`` bench
shape runs 13 jobs (35 for the doubling loop this replaced,
``BENCH/knn_two_rounds.md``).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osm_chordify_spark.cellindex import WORLD
from osm_chordify_spark.functions.cells import cell_expr, cell_parent_expr

_MASK = (1 << 29) - 1


def _annulus_cells(cell, r_in: int, r_out: int, res: int):
    """Array column of cells with Chebyshev distance in (r_in, r_out]
    from ``cell`` (clipped at the world edge).  r_in = -1 ⇒ full disk;
    ``r_out`` may be a per-row Column."""
    n = 1 << res
    ix = F.shiftright(cell, 29).bitwiseAND(F.lit(_MASK).cast("long"))
    iy = cell.bitwiseAND(F.lit(_MASK).cast("long"))
    deltas = F.sequence(F.lit(-r_out), F.lit(r_out))
    pairs = F.flatten(
        F.transform(
            deltas,
            lambda dx: F.transform(
                deltas,
                lambda dy: F.struct(dx.alias("dx"), dy.alias("dy")),
            ),
        )
    )
    keep = F.filter(
        pairs,
        lambda p: (F.greatest(F.abs(p["dx"]), F.abs(p["dy"])) > r_in)
        & (ix + p["dx"] >= 0) & (ix + p["dx"] < n)
        & (iy + p["dy"] >= 0) & (iy + p["dy"] < n),
    )
    return F.transform(
        keep,
        lambda p: F.shiftleft(F.lit(res).cast("long"), 58)
        .bitwiseOR(F.shiftleft(ix + p["dx"], 29))
        .bitwiseOR(iy + p["dy"]),
    )


def _ring_search(
    unresolved: DataFrame,
    segs: DataFrame,
    anchors: DataFrame,
    dist,
    k: int,
    res: int,
    max_ring: int,
    world,
    dedupe_pairs: bool,
    coarsen,
) -> DataFrame:
    """The shared two-round k-nearest search behind knn_match (point
    targets) and knn_match_segments (segment targets).

    ``unresolved`` carries (__pid, __px, __py, __pcell); ``segs``
    carries (__sid, __cell, payload…); ``dist`` is the candidate-distance
    Column over the joined row; ``anchors`` (__ax, __ay) holds one
    point ON each target, one row per target; ``dedupe_pairs``
    ranks each (point, target) pair once (targets indexed under several
    cells); ``coarsen(unresolved)`` finishes the leftovers at a coarser
    resolution.  Returns (__pid, __sid, __dist, __rank).

    Round 1 probes ring 1 and finalizes at bound cell_min.  A survivor's
    round-2 radius R = ⌊u / cell_min⌋ + 1 comes from an upper bound u on
    its kth distance: its carried kth distance when it has k candidates,
    else the smallest maxdist(p, B) over the 3×3 neighbourhoods of its
    parent cells C, 1…J levels up, that hold ≥ k anchors, B the bbox of
    C's anchors (one aggregate over ``anchors``, all levels at once).
    Exactness: some k targets lie within u of p (the carried ones, or
    the k anchors' targets, each ≤ |p − anchor| ≤ maxdist(p, B) away).
    A target at distance D ≤ u has a point in a cell at Chebyshev
    distance d with (d − 1)·cell_min ≤ D, so d ≤ R and the disk R finds
    it: the kth found distance is ≤ u < R·cell_min, and every target
    not found is ≥ R·cell_min away.
    The finalize test is re-checked at R anyway, so float rounding, a
    duplicated id or an anchor clamped at the world edge can only send a
    point to ``coarsen``, never give a wrong answer.  Points with no
    finite R ≤ max_ring skip the probe and go to ``coarsen`` too."""
    x0, y0, x1, y1 = world
    cell_min = min(x1 - x0, y1 - y0) / (1 << res)
    collect = F.collect_set if dedupe_pairs else F.collect_list
    # a rank filter, unlike collect alone, is cut to k map-side; the
    # collect_set then drops a duplicate pair's second row
    rank = (F.dense_rank() if dedupe_pairs else F.row_number()).over(
        Window.partitionBy("__pid").orderBy(F.col("__dist").asc_nulls_last(), "__sid"))
    top = F.col("__top")
    kth = F.try_element_at(top, F.lit(k))["__dist"]  # null below k candidates

    def ranked(cand, bound, carried=None):
        """Per point, the sorted top-k (dist, sid) structs (merged with
        ``carried`` ones) and the finalize flag: at most one exchange,
        the window's, which the aggregate reuses."""
        new = collect(
            F.when(F.col("__sid").isNotNull(), F.struct("__dist", "__sid"))
        )
        if carried is not None:
            merged = F.concat(F.first(carried), new)
            new = F.array_distinct(merged) if dedupe_pairs else merged
        out = cand.withColumn("__rk", rank).filter(F.col("__rk") <= k).groupBy("__pid").agg(
            *[F.first(c).alias(c) for c in ("__px", "__py", "__pcell")],
            F.slice(F.array_sort(new), 1, k).alias("__top"),
            F.first(bound).alias("__bound"),
        )
        done = F.coalesce(kth <= F.col("__bound"), F.lit(False))
        return out.withColumn("__done", done).localCheckpoint(eager=True)

    def finished(rk):
        return rk.filter("__done").select("__pid", F.posexplode(top)).select(
            "__pid", "col.__sid", "col.__dist", (F.col("pos") + 1).alias("__rank"))

    probe = unresolved.withColumn(
        "__cell", F.explode(_annulus_cells(F.col("__pcell"), -1, 1, res))
    )
    r1 = ranked(probe.join(segs, "__cell", "left").withColumn("__dist", dist),
                F.lit(cell_min))
    surv = r1.filter(~F.col("__done"))
    if surv.isEmpty():
        return finished(r1)
    if res == 0:
        # ring 1 is the single world cell: best-so-far IS exact
        return finished(r1).unionByName(
            finished(surv.withColumn("__done", F.lit(True)))
        )

    # a parent 2^j cells wide bounds u no lower than ~2^j·cell_min: past
    # j = log2(max_ring) − 1 it cannot give R ≤ max_ring
    levels = range(1, min(res, max(max_ring.bit_length() - 2, 1)) + 1)
    acell = cell_expr(F.col("__ax"), F.col("__ay"), res, world)
    occupied = (
        anchors.select("__ax", "__ay", F.explode(F.array(*[
            cell_parent_expr(acell, j) for j in levels
        ])).alias("__cell"))
        .groupBy("__cell").agg(
            F.count("*").alias("__n"),
            *[f(c).alias(f"{f.__name__}{c}") for f in (F.min, F.max) for c in ("__ax", "__ay")],
        )
        .filter(F.col("__n") >= k)
    )
    near = F.flatten(F.array(*[
        _annulus_cells(cell_parent_expr(F.col("__pcell"), j), -1, 1, res - j)
        for j in levels
    ]))
    # maxdist from the point to the bbox of a coarse cell's anchors
    mx = F.greatest(F.abs(F.col("__px") - F.col("min__ax")),
                    F.abs(F.col("__px") - F.col("max__ax")))
    my = F.greatest(F.abs(F.col("__py") - F.col("min__ay")),
                    F.abs(F.col("__py") - F.col("max__ay")))
    # round 2's one exchange: survivors hashed on __pid BY NUMBER, which
    # AQE never coalesces (the probe below runs after it and can be far
    # larger than the few survivor rows); the bound aggregate and the
    # ranking reuse that partitioning
    parts = int(surv.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    surv = (
        surv.repartition(parts, "__pid")
        .select("__pid", "__px", "__py", "__pcell", "__top", F.explode_outer(
            F.when(F.size(top) < k, near)).alias("__cell"))
        .join(occupied, "__cell", "left")
        .groupBy("__pid").agg(
            *[F.first(c).alias(c) for c in ("__px", "__py", "__pcell", "__top")],
            F.min(F.when(F.col("__n") >= k, F.sqrt(mx * mx + my * my))).alias("__u"),
        )
    )
    u = F.coalesce(kth, F.col("__u"))
    r_out = F.when(
        u < F.lit(max_ring * cell_min),
        F.least(F.floor(u / F.lit(cell_min)) + 1, F.lit(max_ring)),
    )
    surv = surv.withColumn("__R", r_out)
    probe = surv.withColumn(
        "__cell", F.explode_outer(_annulus_cells(F.col("__pcell"), 1, F.col("__R"), res))
    )
    r2 = ranked(
        probe.join(segs, "__cell", "left").withColumn("__dist", dist),
        F.col("__R") * F.lit(cell_min), carried=top,
    )
    results = finished(r1).unionByName(finished(r2))
    left = r2.filter(~F.col("__done"))
    if not left.isEmpty():
        results = results.unionByName(coarsen(left))
    return results


def knn_match(
    points: DataFrame,
    segments: DataFrame,
    k: int = 1,
    res: int = 10,
    max_ring: int = 16,
    point_id: str = "point_id",
    seg_id: str = "seg_id",
    point_xy: tuple[str, str] = ("x", "y"),
    seg_xy: tuple[str, str] = ("mx", "my"),
    world=WORLD,
) -> DataFrame:
    """Exact k-nearest segment midpoints per point.

    Returns (point_id, seg_id, dist, rank) with rank 1..k ordered by
    (distance, seg_id) — the deterministic tie-break that makes results
    reproducible under any partitioning."""
    px, py = point_xy
    sx, sy = seg_xy
    segs = segments.select(
        F.col(seg_id).alias("__sid"),
        F.col(sx).alias("__sx"),
        F.col(sy).alias("__sy"),
        cell_expr(F.col(sx), F.col(sy), res, world).alias("__cell"),
    )
    unresolved = points.select(
        F.col(point_id).alias("__pid"),
        F.col(px).alias("__px"),
        F.col(py).alias("__py"),
        cell_expr(F.col(px), F.col(py), res, world).alias("__pcell"),
    )
    dist = F.sqrt(
        (F.col("__px") - F.col("__sx")) * (F.col("__px") - F.col("__sx"))
        + (F.col("__py") - F.col("__sy")) * (F.col("__py") - F.col("__sy"))
    )

    def coarsen(unres):
        # sparse leftovers: coarsen 3 levels (8x fewer ring cells) and
        # re-search just those points — exact at any resolution,
        # terminates at res 0 without ever cross-joining
        sub = knn_match(
            unres.select(
                F.col("__pid").alias(point_id),
                F.col("__px").alias(px),
                F.col("__py").alias(py),
            ),
            segments, k=k, res=max(res - 3, 0), max_ring=max_ring,
            point_id=point_id, seg_id=seg_id,
            point_xy=point_xy, seg_xy=seg_xy, world=world,
        )
        return sub.select(
            F.col(point_id).alias("__pid"),
            F.col(seg_id).alias("__sid"),
            F.col("dist").alias("__dist"),
            F.col("rank").alias("__rank"),
        )

    results = _ring_search(
        unresolved, segs, segs.select(F.col("__sx").alias("__ax"), F.col("__sy").alias("__ay")),
        dist, k, res, max_ring, world, dedupe_pairs=False, coarsen=coarsen,
    )
    return results.select(
        F.col("__pid").alias(point_id),
        F.col("__sid").alias(seg_id),
        F.col("__dist").alias("dist"),
        F.col("__rank").alias("rank"),
    )


def within_distance_join(
    points: DataFrame,
    segments: DataFrame,
    radius: float,
    res: int | None = None,
    point_id: str = "point_id",
    seg_id: str = "seg_id",
    point_xy: tuple[str, str] = ("x", "y"),
    seg_xy: tuple[str, str] = ("mx", "my"),
    world=WORLD,
) -> DataFrame:
    """Range ("dwithin") spatial join: every (point, segment-midpoint)
    pair with Euclidean distance ≤ ``radius`` → (point_id, seg_id,
    dist).

    Unlike kNN this needs NO iteration: each point explodes to the cell
    cover of its radius box (a (2k+1)² block at a resolution chosen so
    k stays ≤ 2), the cover equi-joins segment cells, and an exact
    distance filter finishes the job.  The whole plan is codegen —
    sequence-explode, hash join, arithmetic filter; zero Python — and
    the single shuffle is the cell equi-join, AQE-salted on hot cells.
    At 10^12 points the candidate volume is bounded by density × (3r)²,
    the same asymptotics a PostGIS dwithin GiST scan gives per row."""
    if radius <= 0:
        raise ValueError("radius must be positive")
    x0, y0, x1, y1 = world
    if res is None:
        # coarsest res whose cell min-side ≥ radius (k = 1 ring covers),
        # floored at res 1 so degenerate radii don't blow the cover up
        res = 1
        while res < 18:
            cw = (x1 - x0) / (1 << (res + 1))
            ch = (y1 - y0) / (1 << (res + 1))
            if min(cw, ch) < radius:
                break
            res += 1
    n = 1 << res
    cell_w = (x1 - x0) / n
    cell_h = (y1 - y0) / n
    kx = int(math.ceil(radius / cell_w))
    ky = int(math.ceil(radius / cell_h))
    px, py = point_xy
    sx, sy = seg_xy

    segs = segments.select(
        F.col(seg_id).alias("__sid"),
        F.col(sx).alias("__sx"),
        F.col(sy).alias("__sy"),
        cell_expr(F.col(sx), F.col(sy), res, world).alias("__cell"),
    )
    pcell = cell_expr(F.col(px), F.col(py), res, world)
    ix = F.shiftright(pcell, 29).bitwiseAND(F.lit(_MASK).cast("long"))
    iy = pcell.bitwiseAND(F.lit(_MASK).cast("long"))
    dxs = F.sequence(F.lit(-kx), F.lit(kx))
    dys = F.sequence(F.lit(-ky), F.lit(ky))
    cover = F.flatten(
        F.transform(
            dxs,
            lambda dx: F.transform(
                dys, lambda dy: F.struct(dx.alias("dx"), dy.alias("dy"))
            ),
        )
    )
    keep = F.filter(
        cover,
        lambda p: (ix + p["dx"] >= 0) & (ix + p["dx"] < n)
        & (iy + p["dy"] >= 0) & (iy + p["dy"] < n),
    )
    cells = F.transform(
        keep,
        lambda p: F.shiftleft(F.lit(res).cast("long"), 58)
        .bitwiseOR(F.shiftleft(ix + p["dx"], 29))
        .bitwiseOR(iy + p["dy"]),
    )
    pts = points.select(
        F.col(point_id).alias("__pid"),
        F.col(px).alias("__px"),
        F.col(py).alias("__py"),
        F.explode(cells).alias("__cell"),
    )
    dist = F.sqrt(
        (F.col("__px") - F.col("__sx")) * (F.col("__px") - F.col("__sx"))
        + (F.col("__py") - F.col("__sy")) * (F.col("__py") - F.col("__sy"))
    )
    return (
        pts.join(segs, "__cell")
        .withColumn("__dist", dist)
        .filter(F.col("__dist") <= F.lit(float(radius)))
        .select(
            F.col("__pid").alias(point_id),
            F.col("__sid").alias(seg_id),
            F.col("__dist").alias("dist"),
        )
    )


def knn_match_segments(
    points: DataFrame,
    segments: DataFrame,
    k: int = 1,
    res: int = 10,
    max_ring: int = 16,
    point_id: str = "point_id",
    seg_id: str = "seg_id",
    point_xy: tuple[str, str] = ("x", "y"),
    seg_ends: tuple[str, str, str, str] = ("ax", "ay", "bx", "by"),
    world=WORLD,
) -> DataFrame:
    """Exact k-nearest SEGMENTS per point — true point-to-segment
    distance (clamped projection), not midpoints: a long road segment
    whose midpoint is far but whose body passes close ranks correctly.

    Same ring-search skeleton as :func:`knn_match`, two differences:
    each segment indexes under EVERY cover cell its bbox spans (a
    codegen double sequence-explode), and candidates dedupe per
    (point, segment) before ranking since a segment can surface through
    several of its cells.  The finalize bound survives unchanged: a
    segment with no cover cell inside ring r lies entirely ≥ r·cell_min
    away.  Distance is a pure-codegen clamped-projection expression —
    no Python anywhere in the loop."""
    px, py = point_xy
    ax, ay, bx, by = seg_ends
    x0, y0, x1, y1 = world
    cell_w = (x1 - x0) / (1 << res)
    cell_h = (y1 - y0) / (1 << res)

    ca = cell_expr(F.col(ax), F.col(ay), res, world)
    cb = cell_expr(F.col(bx), F.col(by), res, world)
    cxa = F.shiftright(ca, 29).bitwiseAND(F.lit(_MASK).cast("long"))
    cya = ca.bitwiseAND(F.lit(_MASK).cast("long"))
    cxb = F.shiftright(cb, 29).bitwiseAND(F.lit(_MASK).cast("long"))
    cyb = cb.bitwiseAND(F.lit(_MASK).cast("long"))
    segs = (
        segments.select(
            F.col(seg_id).alias("__sid"),
            F.col(ax).alias("__ax"), F.col(ay).alias("__ay"),
            F.col(bx).alias("__bx"), F.col(by).alias("__by"),
            cxa.alias("__cxa"), cya.alias("__cya"),
            cxb.alias("__cxb"), cyb.alias("__cyb"),
        )
        .select(
            "__sid", "__ax", "__ay", "__bx", "__by",
            F.explode(
                F.sequence(F.least("__cxa", "__cxb"), F.greatest("__cxa", "__cxb"))
            ).alias("__cx"),
            F.sequence(F.least("__cya", "__cyb"), F.greatest("__cya", "__cyb")).alias("__cys"),
        )
        .select(
            "__sid", "__ax", "__ay", "__bx", "__by", "__cx",
            F.explode("__cys").alias("__cy"),
        )
        .select(
            "__sid", "__ax", "__ay", "__bx", "__by", "__cx", "__cy",
            F.shiftleft(F.lit(res).cast("long"), 58)
            .bitwiseOR(F.shiftleft(F.col("__cx"), 29))
            .bitwiseOR(F.col("__cy"))
            .alias("__cell"),
        )
    )
    # supercover filter: keep only cells the segment can actually touch
    # (cell CENTER within half the cell diagonal + ε of the segment) —
    # without this a long diagonal segment indexes under its whole
    # O(dx·dy) bbox instead of the O(dx+dy) band it passes through,
    # and a few ferry-length edges would blow up the candidate join
    ccx = F.lit(x0) + (F.col("__cx") + F.lit(0.5)) * F.lit(cell_w)
    ccy = F.lit(y0) + (F.col("__cy") + F.lit(0.5)) * F.lit(cell_h)
    sex = F.col("__bx") - F.col("__ax")
    sey = F.col("__by") - F.col("__ay")
    st = F.least(
        F.greatest(
            ((ccx - F.col("__ax")) * sex + (ccy - F.col("__ay")) * sey)
            / F.greatest(sex * sex + sey * sey, F.lit(1e-300)),
            F.lit(0.0),
        ),
        F.lit(1.0),
    )
    sdx = ccx - (F.col("__ax") + st * sex)
    sdy = ccy - (F.col("__ay") + st * sey)
    half_diag = 0.5 * (cell_w ** 2 + cell_h ** 2) ** 0.5
    segs = segs.filter(
        sdx * sdx + sdy * sdy <= F.lit((half_diag * 1.0000001) ** 2)
    ).drop("__cx", "__cy")

    unresolved = points.select(
        F.col(point_id).alias("__pid"),
        F.col(px).alias("__px"),
        F.col(py).alias("__py"),
        cell_expr(F.col(px), F.col(py), res, world).alias("__pcell"),
    )
    ex = F.col("__bx") - F.col("__ax")
    ey = F.col("__by") - F.col("__ay")
    len2 = ex * ex + ey * ey
    t = F.least(
        F.greatest(
            ((F.col("__px") - F.col("__ax")) * ex + (F.col("__py") - F.col("__ay")) * ey)
            / F.greatest(len2, F.lit(1e-300)),
            F.lit(0.0),
        ),
        F.lit(1.0),
    )
    qx = F.col("__ax") + t * ex
    qy = F.col("__ay") + t * ey
    dist = F.sqrt(
        (F.col("__px") - qx) * (F.col("__px") - qx)
        + (F.col("__py") - qy) * (F.col("__py") - qy)
    )

    def coarsen(unres):
        sub = knn_match_segments(
            unres.select(
                F.col("__pid").alias(point_id),
                F.col("__px").alias(px),
                F.col("__py").alias(py),
            ),
            segments, k=k, res=max(res - 3, 0), max_ring=max_ring,
            point_id=point_id, seg_id=seg_id,
            point_xy=point_xy, seg_ends=seg_ends, world=world,
        )
        return sub.select(
            F.col(point_id).alias("__pid"),
            F.col(seg_id).alias("__sid"),
            F.col("dist").alias("__dist"),
            F.col("rank").alias("__rank"),
        )

    # anchor: endpoint a, a point on the segment (see _ring_search)
    anchors = segments.select(F.col(ax).alias("__ax"), F.col(ay).alias("__ay"))
    results = _ring_search(
        unresolved, segs, anchors, dist, k, res, max_ring, world,
        dedupe_pairs=True, coarsen=coarsen,
    )
    return results.select(
        F.col("__pid").alias(point_id),
        F.col("__sid").alias(seg_id),
        F.col("__dist").alias("dist"),
        F.col("__rank").alias("rank"),
    )


def segment_midpoints(edges: DataFrame, geometry_col: str = "geometry") -> DataFrame:
    """Arc-length midpoints of WKB line geometries (the representative
    point of each chordified segment — reference intersect.py:707
    representative_point analog for lines)."""
    from osm_chordify_spark import geom as G

    @F.pandas_udf("mx double, my double")
    def mid(geom: pd.Series) -> pd.DataFrame:
        pts = [G.polyline_midpoint(G.geometry_lines(bytes(g))[0]) for g in geom]
        return pd.DataFrame(pts, columns=["mx", "my"])

    return edges.withColumn("__mid", mid(F.col(geometry_col))).select(
        "*", F.col("__mid.mx").alias("mx"), F.col("__mid.my").alias("my")
    ).drop("__mid")
