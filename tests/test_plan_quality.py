"""Physical-plan regression guards.

These pin the plan PROPERTIES the engine's scale story depends on (and
BENCH/PLANS.md documents), so a refactor can't silently regress them:
pushdown + column pruning on scans, broadcast on dim sides, no shuffle
on the fact side of the map-side spatial join."""

import importlib.util
import os

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
spec = importlib.util.spec_from_file_location(
    "entry_for_plans", os.path.join(_REPO, "__spark_entry__.py")
)
entry_mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(entry_mod)

SF = "/root/testdata/sf0.001"


def _plan(spark, name) -> str:
    df = entry_mod.queries()[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_tpch_q1_pushdown_and_pruning(spark):
    plan = _plan(spark, "tpch_q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # column pruning: the 16-column lineitem scan reads only what q1 needs
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_comment" not in read_schema and "l_partkey" not in read_schema
    assert "partial_sum" in plan  # map-side combine before the exchange


def test_tpch_q3_broadcasts_dims(spark):
    plan = _plan(spark, "tpch_q3_shipping_priority")
    assert plan.count("BroadcastExchange") >= 2  # orders filter + customer dim


def test_zone_intersect_fact_side_never_shuffles(spark):
    """The broadcast spatial join is map-side: between the parquet scan
    and the MapInPandas kernel the fact side is never shuffled BY KEY.
    The one allowed exchange is the round-6 fan-out — a conditional
    round-robin repartition that spreads a tiny single-split scan across
    the session's cores (functions.skew.fan_out; a no-op whenever the
    scan already carries >= parallelism splits, i.e. at any real scale),
    which moves no row to any particular place and redistributes the
    same bytes exactly once."""
    plan = _plan(spark, "zone_intersect_lines")
    kernel_pos = plan.index("MapInPandas")
    pre_kernel = plan[kernel_pos:]  # everything BELOW the kernel in the tree
    assert "hashpartitioning" not in pre_kernel
    assert "rangepartitioning" not in pre_kernel
    assert pre_kernel.count("Exchange") <= 1  # the fan-out, nothing else
    if "Exchange" in pre_kernel:
        assert "RoundRobinPartitioning" in pre_kernel
    assert "FileScan parquet" in pre_kernel


def test_dist_zone_join_is_equi_join_plus_one_agg_shuffle(spark):
    """The distributed path must be joins + ONE candidate aggregate
    shuffle — no cartesian products, no collect-driven plan nodes, and
    (since round 6) NO grouped-map repartition: the batched clip kernel
    treats pairs independently, so the metrics-only path runs
    mapInPandas straight off the re-attach joins."""
    plan = _plan(spark, "zone_intersect_lines_dist")
    assert "CartesianProduct" not in plan
    assert "REPARTITION_BY_COL" not in plan  # regroup exchange removed (r6)
    assert "hashpartitioning(__eid" in plan  # the candidate aggregate
    assert "partial_count" in plan  # map-side combine on the containment agg


def _dist_lines_fixture(spark):
    """50 two-split edges × 8 unit zones: a candidate shuffle of a few KB."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from osm_chordify_spark import geom as G
    from osm_chordify_spark.operators import intersect as I
    from osm_chordify_spark.operators import intersect_dist as ID

    @F.pandas_udf("binary")
    def mk(x: pd.Series) -> pd.Series:
        return pd.Series([G.wkb_linestring([[v, 0.5], [v + 2.5, 0.5]]) for v in x])

    edges = spark.range(0, 50, 1, 2).select(
        F.col("id").alias("osm_id"), mk(F.col("id") / 10.0).alias("geometry")
    )
    zdf = ID.zones_to_df(spark, I.Zones.from_records([
        {"zone_id": f"G{i}", "geometry": [np.array(
            [[i, 0.0], [i + 1.0, 0.0], [i + 1.0, 1.0], [i, 1.0]], float)]}
        for i in range(8)
    ]))
    return edges, zdf


def test_dist_zone_family_has_no_regroup_exchange(spark):
    """Every distributed zone operator runs one batch kernel straight off
    the re-attach joins: no grouped-map repartition for the lines path
    with piece geometry, the left join, or polygon subjects."""
    from osm_chordify_spark.operators import intersect_dist as ID

    lines = ID.intersect_lines_with_zones_dist(
        *_dist_lines_fixture(spark), keep_geometry=True
    )
    plans = {
        "lines keep_geometry": lines._jdf.queryExecution().executedPlan().toString(),
        "left join": _plan(spark, "spatial_left_join_dist"),
        "polygon overlay": _plan(spark, "zones_overlay_100k_x_100k_dist"),
    }
    for name, plan in plans.items():
        assert "MapInPandas" in plan, name
        assert "REPARTITION_BY_COL" not in plan, name


def test_dist_pair_kernel_runs_on_every_core(spark):
    """A candidate shuffle far below AQE's 1 MB coalescing floor must not
    shrink the pair-kernel stage to one task: the candidates end in an
    edge-hash repartition BY NUMBER, which AQE never coalesces.  The
    edge scan feeds exactly one round-robin exchange (the cover
    explode's fan-out); the payload reads the id-tagged scan itself."""
    from osm_chordify_spark.operators import intersect_dist as ID

    lines = ID.intersect_lines_with_zones_dist(
        *_dist_lines_fixture(spark), keep_geometry=False
    )
    plan = lines._jdf.queryExecution().executedPlan().toString()
    assert plan.count("RoundRobinPartitioning") == 1, plan
    assert "REPARTITION_BY_COL" not in plan
    sc = spark.sparkContext
    sc.setJobGroup("dist-kernel-pin", "dist pair kernel stage")
    try:
        assert len(lines.collect()) > 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    last_job = max(tracker.getJobIdsForGroup("dist-kernel-pin"))
    # the result stage of the final job runs the kernel (its payload
    # joins are broadcast at this size)
    kernel_stage = max(tracker.getJobInfo(last_job).stageIds)
    assert sc._jsc.sc().statusStore().lastStageAttempt(kernel_stage).numTasks() >= 2


def test_chordify_no_cartesian_and_arrow_only_python(spark):
    plan = _plan(spark, "chordify_contraction")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan  # row-at-a-time UDFs banned


def test_raster_density_all_jvm_and_pruned(spark):
    """rasterize_points → raster_cells must stay entirely JVM-side
    (no Python crossing) with a single-column pruned scan and map-side
    partial aggregation before the cell shuffle."""
    plan = _plan(spark, "raster_point_density")
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python either
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert read_schema.count(":") == 1 and "doc_id" in read_schema
    assert "partial_count" in plan


def test_focal_sum_all_jvm(spark):
    """Scatter-gather focal stats is codegen end-to-end: explodes +
    one map-side-combined aggregate, zero Python."""
    plan = _plan(spark, "raster_focal_sum")
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    assert "partial_sum" in plan
    assert "Generate explode" in plan or "Generate posexplode" in plan


def test_within_distance_no_cartesian_no_python(spark):
    """The dwithin range join must be a hash join on cell ids — never a
    cartesian/broadcast-nested-loop — with no Python stage."""
    plan = _plan(spark, "points_within_distance")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    assert "Join" in plan and "__cell" in plan


def test_cell_compact_all_jvm(spark):
    """compact_cells is pure bit arithmetic + aggregates: no Python."""
    plan = _plan(spark, "cell_compact")
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan


def test_bigram_rarity_no_cartesian_no_python(spark):
    """Corpus bigram profile: equi-joins + two-phase aggs only — no
    cartesian, no Python crossing anywhere (pure codegen tokenize)."""
    plan = _plan(spark, "bigram_rarity_profile")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    assert "partial_count" in plan  # map-side combine on the corpus counts


def test_shapefile_read_is_one_arrow_pass(spark):
    """Distributed shapefile read: exactly one MapInPandas over the
    .shx index rows, no driver-side geometry collect in the plan."""
    plan = _plan(spark, "shapefile_zone_intersect")
    # the read itself contributes one MapInPandas; the intersect path
    # adds its own kernels — but no row-at-a-time Python anywhere
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_100k_zone_dist_no_cartesian(spark):
    plan = _plan(spark, "zone_intersect_100k_zones_dist")
    assert "CartesianProduct" not in plan
    assert "REPARTITION_BY_COL" not in plan  # regroup exchange removed (r6)


def test_host_link_pagerank_all_jvm_no_cartesian(spark):
    """Link graph + fixed-point PageRank: anchor extraction and host
    parsing are pure codegen (regexp in JVM), the iteration is
    equi-joins + aggs — no Python crossing, no cartesian, and the edge
    aggregation gets a map-side partial count."""
    plan = _plan(spark, "host_link_pagerank")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    assert "partial_count" in plan  # map-side combine on edge weights


def test_paragraph_dedup_map_side_min_no_cartesian(spark):
    """CCNet paragraph dedup: the first-occurrence winner is an
    AGGREGATE (partial_min on every input partition), never a window
    over the paragraph hash — a cookie banner duplicated across 10^9
    pages partially reduces map-side instead of flooding one reducer."""
    plan = _plan(spark, "paragraph_dedup_first")
    assert "CartesianProduct" not in plan
    assert "partial_min" in plan
    assert "Window" not in plan


def test_corpus_mix_sample_pure_codegen_filter(spark):
    """Stratified hash sampling is a scan + codegen filter: the md5
    membership test never shuffles, never leaves the JVM, and the only
    exchange in the whole query belongs to the reporting groupBy."""
    plan = _plan(spark, "corpus_mix_sample")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan
    assert plan.count("Exchange") <= 2  # partial->final agg only (+AQE read)
    assert "md5" in plan and "Filter" in plan


def test_kmv_sketch_all_jvm_bounded_shuffles(spark):
    """KMV: hash + distinct + top-k window + tiny agg — everything in
    the JVM (md5/conv are codegen), no Python crossing, no cartesian,
    and the heavy shuffle input is ALREADY-DISTINCT (group, hash) pairs
    with a map-side partial."""
    plan = _plan(spark, "kmv_distinct_users_per_event_type")
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan
    assert "md5" in plan
    assert "HashAggregate" in plan  # distinct runs as aggregate w/ partials


def test_cms_build_one_shuffle_estimate_broadcasts(spark):
    """Count-min: the build is ONE map-side-combinable aggregate over
    the exploded cells; estimation joins the tiny counter table
    BROADCAST (never a shuffled join) and finishes with the per-key
    min agg."""
    plan = _plan(spark, "cms_user_frequencies")
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_count" in plan


def test_wav_decode_single_arrow_pass(spark):
    """Audio decode: synth and decode are each ONE Arrow crossing, no
    shuffle anywhere — the whole query is embarrassingly parallel
    (scan → pandas_udf encode → mapInPandas decode)."""
    plan = _plan(spark, "media_wav_features")
    assert plan.count("MapInPandas") == 1
    assert plan.count("ArrowEvalPython") == 1  # the synth pandas_udf
    assert "Exchange" not in plan
    assert "CartesianProduct" not in plan


def test_clustered_write_one_shuffle_read_pushes_bbox(spark, tmp_path):
    from pyspark.sql import functions as F

    from osm_chordify_spark.operators import pages as P
    from osm_chordify_spark.sources.layout import (
        read_clustered,
        with_morton,
    )

    pts = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", P.lon_col().alias("lon"), P.lat_col().alias("lat"))
    )
    # write side: the clustering is ONE range-partitioning exchange and
    # the morton code itself never leaves the JVM
    coded = with_morton(pts, "lon", "lat", 10, "__z").repartitionByRange(
        8, "__z"
    ).sortWithinPartitions("__z")
    wplan = coded._jdf.queryExecution().executedPlan().toString()
    assert wplan.count("Exchange") == 1
    assert "rangepartitioning" in wplan
    assert "BatchEvalPython" not in wplan and "ArrowEvalPython" not in wplan

    # read side: the bbox lands in PushedFilters on the parquet scan,
    # so row groups inside surviving files are skipped too
    path = str(tmp_path / "zt")
    from osm_chordify_spark.sources.layout import write_clustered

    write_clustered(pts, path, "lon", "lat", res=10, n_files=4)
    rplan = (
        read_clustered(spark, path, (-123.0, -121.0), (36.0, 39.0))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "GreaterThanOrEqual(lon,-123.0)" in rplan
    # (the filter list is toString-truncated past lon; lat is pinned by
    # the value-parity tests in test_layout.py)

    # manifest pruning is visible in the PLAN: the scan's file index
    # holds fewer paths than the table has files
    import re

    n_paths = int(re.search(r"InMemoryFileIndex\((\d+) paths\)", rplan).group(1))
    assert n_paths < 4


def test_hll_all_jvm_one_agg_shuffle(spark):
    """HLL: hash → bucket/rho projection → per-(group, bucket) max →
    per-group estimate.  All codegen (bin/shiftleft/conv), no Python
    crossing, no join at all, and both aggregates carry map-side
    partials."""
    plan = _plan(spark, "hll_distinct_users_per_event_type")
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "partial_max" in plan
    assert "md5" in plan


def test_bm25_prunes_postings_before_wide_shuffle(spark):
    """BM25: the corpus-side postings are joined to the BROADCAST query
    terms (and df/stats ride broadcast too) — no SortMergeJoin anywhere;
    the only wide shuffles key on bounded sets (matched (query, doc) and
    the postings build)."""
    plan = _plan(spark, "bm25_topk_search")
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the one-row stats table


def test_kmeans_assign_is_narrow_projection_plus_kd_agg(spark):
    """Lloyd iteration: the argmin runs INSIDE a projection against the
    broadcast centroid literal — no join, no per-dim explode, no Python;
    the single shuffle per iteration is the k-row centroid aggregate."""
    from osm_chordify_spark.operators.cluster import kmeans_assign

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = (
        kmeans_assign(emb, k=4, iters=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Join" not in plan and "Generate" not in plan  # no explode
    assert "Exchange" not in plan  # final assignment: zero shuffles


def test_bucketed_driver_query_join_side_shuffle_free(spark):
    """The gate query's plan: two Bucketed: true scans, a SortMergeJoin
    with NO exchange on the join key — the only shuffle is the final
    3-row status aggregate."""
    import re

    plan = _plan(spark, "bucketed_colocated_join")
    assert plan.count("Bucketed: true") == 2
    assert "SortMergeJoin" in plan
    exch = re.findall(r"Exchange hashpartitioning\(([a-z_]+)", plan)
    assert exch and all(c == "o_orderstatus" for c in exch), exch


def test_triangles_equi_joins_only(spark):
    """Degree-oriented wedge join: every join in the plan is a hash or
    merge EQUI-join — no cartesian, no broadcast nested loop, no Python."""
    plan = _plan(spark, "graph_triangle_participation")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan


def test_knn_two_rankings_one_pid_exchange_each(spark, monkeypatch):
    """knn on a bench-like shape (GPS fixes on roads plus far fixes next
    to isolated stubs, which have no candidate in ring 1): exactly two
    ranking rounds, each one eager checkpoint whose plan hashes on
    ``__pid`` once (no per-pair dedupe exchange, no second exchange for
    the done flags), and a pinned job count for the whole call.  Round
    1 trims each point to its top k before that exchange (a partial
    WindowGroupLimit); round 2 ranks inside the survivors' partitions."""
    import numpy as np
    import pandas as pd

    from osm_chordify_spark.operators.knn import knn_match_segments

    rng = np.random.default_rng(5)
    ax, ay = rng.uniform(-50, 50, 300), rng.uniform(-30, 30, 300)
    segs = pd.DataFrame({"seg_id": np.arange(303), "ax": np.r_[ax, 60, 60, 60],
                         "ay": np.r_[ay, -20, 0, 20]})
    segs["bx"] = segs["ax"] + np.r_[rng.uniform(-2, 2, 300), 0, 0, 0]
    segs["by"] = segs["ay"] + np.r_[rng.uniform(-2, 2, 300), 0.5, 0.5, 0.5]
    t = rng.uniform(0, 1, 200)
    pts = pd.DataFrame({
        "point_id": np.arange(203),
        "x": np.r_[ax[:200] + t * (segs["bx"][:200] - ax[:200]), 58.8, 58.8, 58.8],
        "y": np.r_[ay[:200] + t * (segs["by"][:200] - ay[:200]), -20, 0, 20],
    })
    pdf, sdf = spark.createDataFrame(pts), spark.createDataFrame(segs)

    cls = type(pdf)
    real = cls.localCheckpoint
    plans = []

    def spy(self, *a, **kw):
        out = real(self, *a, **kw)
        plan = self._jdf.queryExecution().executedPlan().toString()
        plans.append(plan.split("== Initial Plan ==")[0])
        return out

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    sc = spark.sparkContext
    sc.setJobGroup("knn-pin", "one knn call")
    try:
        rows = knn_match_segments(pdf, sdf, k=1, res=9).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    monkeypatch.setattr(cls, "localCheckpoint", real)
    assert len(rows) == 203
    assert {r.seg_id for r in rows if r.point_id >= 200} == {300, 301, 302}
    assert len(plans) == 2
    for plan in plans:
        assert "isFinalPlan=true" in plan, plan
        assert plan.count("hashpartitioning(__pid") == 1, plan
    # round 1's only shuffle; round 2's other one is the anchor
    # occupancy count on __cell (segment side, broadcast afterwards)
    assert plans[0].count("ShuffleQueryStage") == 1, plans[0]
    assert "dense_rank" in plans[0].split("ShuffleQueryStage")[1].split("Partial")[0]
    assert plans[1].count("ShuffleQueryStage") == 2, plans[1]
    assert "Exchange hashpartitioning(__cell" in plans[1], plans[1]
    jobs = _group_jobs(sc, "knn-pin")[0]
    # measured 9 at local[8]: each ranking's unfinished count rides its
    # checkpoint (11 with a separate emptiness probe per round; the
    # doubling loop before the two rounds ran 3 rounds and 30 jobs)
    assert jobs <= 9, jobs


def _group_jobs(sc, group):
    """(jobs that ran a stage, shuffle bytes written) of a job group."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    jobs = written = 0
    for j in tracker.getJobIdsForGroup(group):
        # in a long session the status store has already dropped
        # some of a job's stage ids (skipped ones): ask the tracker
        kept = [s for s in tracker.getJobInfo(j).stageIds
                if tracker.getStageInfo(s) is not None]
        ran = [st for st in map(store.lastStageAttempt, kept)
               if str(st.status()) != "SKIPPED"]
        jobs += bool(ran)
        written += sum(st.shuffleWriteBytes() for st in ran)
    return jobs, written


def _per_materialize(spark, monkeypatch, run):
    """Run ``run()`` with each ``materialize.materialize`` or
    ``materialize.checkpoint`` call in its own job group → [(function
    name, jobs that ran a stage, shuffle bytes written)] per call.  A CC
    round or a list-ranking step is lazy up to its ``materialize``, so
    each call's group holds the whole round/step; the ``checkpoint``
    inside a ``materialize`` stays in that call's group."""
    from osm_chordify_spark.functions import materialize as MZ

    sc = spark.sparkContext
    groups, depth = [], []

    def spying(name, real):
        def spy(df, *probe):
            if depth:  # checkpoint called by materialize
                return real(df, *probe)
            groups.append((name, f"materialize-{id(groups)}-{len(groups)}"))
            sc.setJobGroup(groups[-1][1], "one materialize")
            depth.append(name)
            try:
                return real(df, *probe)
            finally:
                depth.pop()
                sc.setLocalProperty("spark.jobGroup.id", None)
        return spy

    for name in ("materialize", "checkpoint"):
        monkeypatch.setattr(MZ, name, spying(name, getattr(MZ, name)))
    run()
    return [(name, *_group_jobs(sc, g)) for name, g in groups]


def test_chordify_doubling_steps_broadcast_no_shuffle(spark, monkeypatch):
    """A 64-edge chain: the pair materialization, then the six doubling
    steps that root a 63-pair chain (2^6 − 1 = 63).  Each step ends in a
    measured-size checkpoint, so the next step's lookup side is
    broadcast: no step writes shuffle bytes, and each runs three jobs —
    the cache fill, the broadcast of the lookup side and the checkpoint
    read that carries the all-rooted probe."""
    import pandas as pd

    from osm_chordify_spark import geom as G
    from osm_chordify_spark.operators.graph import chordify

    edges = spark.createDataFrame(pd.DataFrame({
        "u": range(64), "v": range(1, 65), "key": 0, "osmid": range(64),
        "length": 1.0, "highway": "residential",
        "geometry": [G.wkb_linestring([[i, 0.0], [i + 1, 0.0]]) for i in range(64)],
    }))
    rows = []
    calls = _per_materialize(
        spark, monkeypatch,
        lambda: rows.extend(chordify(edges, edge_attrs_differ=["highway"]).collect()),
    )
    assert [(r.u, r.v, r.length) for r in rows] == [(0, 64, 64.0)]
    assert {name for name, _, _ in calls} == {"materialize"}, calls
    steps = calls[1:]
    assert len(steps) == 6, calls
    assert all(written == 0 for _, _, written in steps), calls
    assert all(jobs <= 3 for _, jobs, _ in steps), calls  # measured 3 at local[8]


def test_connected_components_jobs_per_round(spark, monkeypatch):
    """CC on a 200-pair path: the arcs and the initial labels are
    materialized once, then each round (one neighbor-min step and three
    lazy doublings) ends in one ``materialize`` whose observed probe
    counts the changed labels — no separate count job per round."""
    from osm_chordify_spark.operators.graph import connected_components

    pairs = spark.createDataFrame([(i, i + 1) for i in range(200)],
                                  "src long, dst long")
    rows = []
    calls = _per_materialize(
        spark, monkeypatch,
        lambda: rows.extend(connected_components(pairs).collect()),
    )
    assert len(rows) == 201 and {r.component for r in rows} == {0}
    assert [name for name, _, _ in calls] == ["materialize", "checkpoint"] + [
        "materialize"] * 4, calls
    rounds = [jobs for _, jobs, _ in calls[2:]]
    # measured at local[8]: 13 jobs in round 1, 7 in each later round
    assert rounds[0] <= 13 and all(jobs <= 7 for jobs in rounds[1:]), calls


def _one_call_jobs(spark, name, run):
    """Jobs that ran a stage while ``run()`` built and collected one
    operator call (build-time checkpoints included)."""
    sc = spark.sparkContext
    sc.setJobGroup(name, "one call")
    try:
        out = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, _group_jobs(sc, name)[0]


def test_nearest_zone_dist_round_one_exit_jobs(spark):
    """Every point lies inside a zone, so round 1 resolves them all: the
    survivors' checkpoint carries the exit test (0 rows left), so no
    emptiness probe or second round follows the ranking."""
    import numpy as np
    import pandas as pd

    from osm_chordify_spark import geom as G
    from osm_chordify_spark.operators.intersect_dist import nearest_zone_dist

    square = [[0, 0], [25, 0], [25, 25], [0, 25]]
    zdf = spark.createDataFrame(pd.DataFrame({
        "zone_id": [f"z{i}{j}" for i in range(4) for j in range(4)],
        "geometry": [G.wkb_polygon([np.array(square, float) + [25 * i, 25 * j]])
                     for i in range(4) for j in range(4)],
    }))
    rng = np.random.default_rng(3)
    xy = rng.uniform(1, 99, (100, 2))
    pdf = spark.createDataFrame(pd.DataFrame(
        {"point_id": np.arange(100), "x": xy[:, 0], "y": xy[:, 1]}))
    rows, jobs = _one_call_jobs(spark, "nearest-pin", lambda: nearest_zone_dist(
        pdf, zdf, index_res=6, world=(0.0, 0.0, 128.0, 128.0)).collect())
    got = {r.point_id: (r.zone_id, r.dist) for r in rows}
    assert got == {i: (f"z{int(x // 25)}{int(y // 25)}", 0.0)
                   for i, (x, y) in enumerate(xy)}
    # measured 12 at local[8]; 15 with the emptiness probe of an
    # anti-join survivor set after the ranking
    assert jobs <= 12, jobs


def test_scc_distributed_jobs(spark):
    """The distributed SCC loop on a small graph (two 3-cycles joined by
    an arc, a tail and a lone arc): every trim batch, retire and exit
    test is one checkpoint with its arc count observed."""
    from osm_chordify_spark.operators.graph import strongly_connected_components

    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 3), (5, 6), (7, 8)],
        "src long, dst long")
    rows, jobs = _one_call_jobs(spark, "scc-pin", lambda: strongly_connected_components(
        pairs, max_local_arcs=0).collect())
    assert sorted((r.id, r.component) for r in rows) == [
        (0, 0), (1, 0), (2, 0), (3, 3), (4, 3), (5, 3), (6, 6), (7, 7), (8, 8)]
    # measured 247-250 at local[8]; 257-258 with a count or emptiness
    # job after every trim batch, retire and coloring phase
    assert jobs <= 252, jobs


def test_kmeans_assign_jobs(spark):
    """The vector-length check rides the working set's checkpoint: no
    aggregate job of its own before the seeds and the Lloyd rounds."""
    from osm_chordify_spark.operators.cluster import kmeans_assign

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    rows, jobs = _one_call_jobs(spark, "kmeans-pin", lambda: kmeans_assign(
        emb, k=4, iters=2).collect())
    assert len(rows) == emb.count()
    # measured 7 at local[8]; 9 with the length check's own aggregate
    assert jobs <= 7, jobs
