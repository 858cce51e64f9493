"""The one materialization module behind the iterative operators, and
a source pin that keeps hand-rolled cache/probe sequences out of the
package."""

import os
import re
import threading

import pytest
from pyspark.sql import functions as F

from osm_chordify_spark.functions import materialize as MZ

_PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "osm_chordify_spark")


def _empty_frames(spark):
    base = spark.range(10).withColumn("v", F.col("id") * 2)
    return {
        "filtered": base.filter(F.col("id") < 0),
        "created": spark.createDataFrame([], "id long, v long"),
        "emptyRDD": spark.createDataFrame(spark.sparkContext.emptyRDD(), "id long, v long"),
        "aggregated": base.filter(F.col("id") < 0).groupBy("id").agg(F.sum("v").alias("v")),
    }


@pytest.mark.parametrize("fn", ["checkpoint", "materialize"])
def test_empty_input_observes_zero_rows_without_blocking(spark, fn):
    """An empty frame still fires the observation: ``rows`` is 0 and a
    min over no rows is None (an Observation that never fired would
    block its ``get`` forever)."""
    got = {}

    def run():
        for name, df in _empty_frames(spark).items():
            frame, values = getattr(MZ, fn)(df, F.min("v").alias("lo"))
            got[name] = (frame.count(), values)

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(120)
    assert not t.is_alive(), f"{fn} blocked on an empty frame: done {sorted(got)}"
    assert got == {name: (0, {"rows": 0, "lo": None}) for name in
                   ("filtered", "created", "emptyRDD", "aggregated")}, got


def test_checkpoint_values_and_frame(spark):
    """One call returns the rows behind a truncated plan plus the row
    count and every probe, named by its alias."""
    df = spark.range(100).withColumn("v", F.col("id") % 7)
    for fn in (MZ.checkpoint, MZ.materialize):
        frame, values = fn(df, F.max("v").alias("hi"), F.count(F.when(F.col("v") == 0, 1)).alias("z"))
        assert values == {"rows": 100, "hi": 6, "z": 15}
        assert sorted(r.id for r in frame.collect()) == list(range(100))
        assert "LogicalRDD" in frame._jdf.queryExecution().optimizedPlan().toString()


def _sources():
    out = {}
    for root, _, files in os.walk(_PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path) as fh:
                    out[os.path.relpath(path, _PKG)] = fh.read()
    return out


def test_no_hand_rolled_materialization():
    """Caching goes through ``functions/materialize.py``; the only other
    ``persist``/``unpersist`` calls are the three frames reused outside
    an iterative loop (the dedup signatures, the geotiff tiles, a
    streaming micro-batch).  knn and the dist nearest-zone search read
    their exit tests off their checkpoints, never an emptiness probe."""
    allowed = {
        "functions/materialize.py": None,
        "operators/dedup.py": {"sig"},
        "sources/geotiff.py": {"tiles"},
        "streaming/pages_stream.py": {"batch_df"},
    }
    srcs, found = _sources(), {}
    for rel, src in srcs.items():
        # the receiver's name, or ")" for a call on an expression
        for name in re.findall(r"(\w+|\))\s*\.(?:un)?persist\(", src):
            found.setdefault(rel, set()).add(name)
    stray = {rel: names for rel, names in found.items()
             if rel not in allowed
             or (allowed[rel] is not None and not names <= allowed[rel])}
    assert not stray, stray
    for rel in ("operators/knn.py", "operators/intersect_dist.py"):
        assert ".isEmpty(" not in srcs[rel], rel
