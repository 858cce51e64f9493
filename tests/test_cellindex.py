"""Cell-index unit tests (hand-computed cells)."""

import numpy as np
import pytest

from osm_chordify_spark import cellindex as ci


def test_cell_at_origin_res0():
    c = ci.cell_at([0.0], [0.0], 0)
    assert ci.cell_res(c)[0] == 0
    ix, iy = ci.cell_ij(c)
    assert ix[0] == 0 and iy[0] == 0


def test_cell_at_res1_quadrants():
    # res 1: 2x2 grid over (-180,-90,180,90)
    xs = [-90.0, 90.0, -90.0, 90.0]
    ys = [-45.0, -45.0, 45.0, 45.0]
    c = ci.cell_at(xs, ys, 1)
    ix, iy = ci.cell_ij(c)
    assert ix.tolist() == [0, 1, 0, 1]
    assert iy.tolist() == [0, 0, 1, 1]


def test_cell_roundtrip_bounds():
    rng = np.random.default_rng(7)
    x = rng.uniform(-180, 180, 200)
    y = rng.uniform(-90, 90, 200)
    for res in (3, 7, 10, 15):
        c = ci.cell_at(x, y, res)
        x0, y0, x1, y1 = ci.cell_bounds(c)
        assert np.all(x >= x0) and np.all(x <= x1)
        assert np.all(y >= y0) and np.all(y <= y1)


def test_parent_child_consistency():
    c = ci.cell_at([12.34], [56.78], 10)[0]
    p = ci.parent(np.array([c]))[0]
    assert ci.cell_res(np.array([p]))[0] == 9
    kids = ci.children(p)
    assert c in kids.tolist()
    # parent at multiple steps == res-4 direct assignment
    p4 = ci.parent(np.array([c]), steps=4)[0]
    assert p4 == ci.cell_at([12.34], [56.78], 6)[0]


def test_kring_counts_and_membership():
    c = ci.cell_at([0.5], [0.5], 8)[0]
    r1 = ci.kring(c, 1)
    assert len(r1) == 9 and c in r1.tolist()
    r2 = ci.kring(c, 2)
    assert len(r2) == 25
    ring2 = ci.ring_only(c, 2)
    assert len(ring2) == 16
    assert set(ring2.tolist()) == set(r2.tolist()) - set(r1.tolist())


def test_kring_clipped_at_world_edge():
    c = ci.cell_at([-180.0], [-90.0], 5)[0]
    r1 = ci.kring(c, 1)
    assert len(r1) == 4  # corner cell: 2x2 neighborhood


def test_cover_bbox():
    cells = ci.cover_bbox(-1.0, -1.0, 1.0, 1.0, 7)
    # all cells touching the bbox; every point inside maps to one of them
    pts = np.random.default_rng(0).uniform(-1, 1, (100, 2))
    pc = ci.cell_at(pts[:, 0], pts[:, 1], 7)
    assert set(pc.tolist()) <= set(cells.tolist())


def test_cover_bboxes_nan_bbox_covers_nothing():
    """An empty geometry's NaN bbox gets no cell; the bboxes around it
    keep their ``cover_bbox`` covers."""
    nan = float("nan")
    row, cells, n = ci.cover_bboxes([-1.0, nan, 0.0], [-1.0, 0.0, 0.0],
                                    [1.0, 1.0, nan], [1.0, 1.0, 0.5], [5, 7])
    assert set(row.tolist()) == {0}
    assert cells.tolist() == (ci.cover_bbox(-1.0, -1.0, 1.0, 1.0, 5).tolist()
                              + ci.cover_bbox(-1.0, -1.0, 1.0, 1.0, 7).tolist())
    assert ci.cover_grid([nan], [0.0], [1.0], [1.0], [5])[-1].tolist() == [[0]]


def test_cover_bbox_max_cells_guard():
    with pytest.raises(ValueError):
        ci.cover_bbox(-180, -90, 180, 90, 10, max_cells=100)
    res, cells = ci.pick_cover_res(-180, -90, 180, 90, 10, max_cells=100)
    assert len(cells) <= 100 and res < 10


def test_res_out_of_range():
    with pytest.raises(ValueError):
        ci.cell_at([0], [0], 21)


def test_compact_uncompact_cells(spark):
    """compact merges complete sibling groups recursively (cascade
    across levels); uncompact is its exact inverse on single-res sets."""
    import pandas as pd
    from pyspark.sql import functions as F

    from osm_chordify_spark.functions.cells import compact_cells, uncompact_cells

    # a full res-2 subtree expressed at res 4 (16 grandchildren per
    # res-3 child -> cascades 4->3->2), plus one lone res-4 cell
    full = []
    for ix in range(4, 8):
        for iy in range(8, 12):
            full.append(int(ci.make_cell(4, np.int64(ix), np.int64(iy))))
    lone = int(ci.make_cell(4, np.int64(0), np.int64(0)))
    df = spark.createDataFrame(pd.DataFrame({"cell": full + [lone]}))
    got = set(r.cell for r in compact_cells(df, min_res=0).collect())
    root = int(ci.make_cell(2, np.int64(1), np.int64(2)))
    assert got == {root, lone}

    # min_res floor stops the cascade
    got3 = compact_cells(df, min_res=3).toPandas()
    assert set(got3["cell"]) == {
        int(ci.make_cell(3, np.int64(x), np.int64(y)))
        for x in (2, 3) for y in (4, 5)
    } | {lone}

    # roundtrip identity at the original resolution
    back = uncompact_cells(compact_cells(df, min_res=0), 4).toPandas()
    assert sorted(back["cell"]) == sorted(full + [lone])

    # cells finer than the target resolution are dropped, coarser explode
    mixed = spark.createDataFrame(pd.DataFrame({"cell": [root, lone]}))
    up = uncompact_cells(mixed, 3).toPandas()
    assert len(up) == 4  # root -> 4 children; lone (res 4) dropped
    assert (np.array([c >> 58 for c in up["cell"]]) == 3).all()


def test_compact_cells_ancestor_overlap_no_false_promote(spark):
    """Input containing a cell TOGETHER WITH its own descendants must
    not duplicate the promoted parent: before the per-level distinct, a
    later level could count 4 rows over only 3 distinct siblings and
    falsely promote (ADVICE r3)."""
    import pandas as pd

    from osm_chordify_spark.functions.cells import compact_cells

    P = int(ci.make_cell(3, np.int64(2), np.int64(2)))
    kids = [int(c) for c in ci.children(np.int64(P))]
    sib1 = int(ci.make_cell(3, np.int64(3), np.int64(2)))
    sib2 = int(ci.make_cell(3, np.int64(2), np.int64(3)))
    # P's children promote to P, which ALSO appears verbatim -> with the
    # duplicate, {P, P, sib1, sib2} counts 4 rows under the res-2 parent
    df = spark.createDataFrame(pd.DataFrame({"cell": kids + [P, sib1, sib2]}))
    got = sorted(r.cell for r in compact_cells(df, min_res=0).collect())
    assert got == sorted([P, sib1, sib2])  # no res-2 promotion, no dups
