"""Eager materialization for the driver-side iterative operators: a
round's state is computed once and the scalars its loop reads (rows
left, labels changed, a size bound) are aggregates observed on that same
job, so no ``count()`` / ``isEmpty()`` / ``agg().first()`` job follows
the checkpoint."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def checkpoint(df: DataFrame, *probe: Column) -> tuple[DataFrame, dict]:
    """Compute ``df`` once → ``(frame, values)``: ``frame`` holds the
    same rows behind an eager localCheckpoint, ``values`` maps ``"rows"``
    to their count and each aggregate Column in ``probe`` to its value
    over the rows (a min/max over no rows is None).  The checkpoint is
    the only action.  The frame carries the size Spark ESTIMATED for
    ``df``; a frame a later join reads twice takes :func:`materialize`."""
    obs = Observation()
    ck = df.observe(obs, F.count(F.lit(1)).alias("rows"), *probe)
    return ck.localCheckpoint(eager=True), obs.get


def materialize(df: DataFrame, *probe: Column) -> tuple[DataFrame, dict]:
    """:func:`checkpoint` of a persisted ``df``: the same ``(frame,
    values)``, with a frame that carries the rows' MEASURED size.

    Order: persist → checkpoint → unpersist.  The checkpoint is the only
    action: under AQE a fresh cache's first action fills the cache in a
    job of its own, and the checkpoint reads the cache in the next one,
    with ``probe`` riding that read.  Why:

    * Spark's size-only estimate of a join is the PRODUCT of its
      children's sizes, so a 93 KB state left-joined to itself plans as
      5.2 GB, and a join over it shuffles both sides where the state
      fits a broadcast.  A localCheckpoint of the join, eager or lazy,
      carries that estimate.  A persisted frame's plan reports its real
      size once the cache is filled, and the eager checkpoint reads the
      stats only after its own job has filled it.  (Compounded over
      rounds the product also grows double-exponentially: by round ~6
      Catalyst's stats visitor spent seconds multiplying multi-megabit
      integers.)
    * A count() probe adds a map stage, an exchange and a final stage:
      5 jobs per list-ranking step on the osm_pipeline benchmark edges
      against 3 here (cache fill, the broadcast lookup side, checkpoint).
      A no-op write observed with ``probe`` followed by a lazy
      checkpoint also takes 3, but it computes the checkpoint's rows
      when the next step first reads them, after ``unpersist``: from
      the lineage a second time.

    Where no later join reads the frame twice, :func:`checkpoint` saves
    the cache-fill job."""
    df = df.persist()
    out = checkpoint(df, *probe)
    df.unpersist()
    return out
