"""Explicit skew handling: salted two-phase aggregation and salted
repartition for hot keys.

AQE's skew-join splitting handles shuffle-read skew automatically, but
a groupBy on a pathologically hot key (the mega-cell problem — 30% of
pages in one urban cell) still funnels one reducer in the partial-agg
shuffle when the cardinality is tiny.  Salting splits each hot key into
``n_salts`` subkeys for the first aggregation, then combines — the
classic two-phase pattern the north_star calls for.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted(col: Column, n_salts: int = 16, spread: Column | None = None) -> Column:
    """Deterministic salt bucket: pmod(xxhash64(key, spread), n).

    ``spread`` must be a second deterministic column (or tuple-hash of
    the whole row) that varies within a hot key — the key alone maps
    every hot row to one bucket.  rand(), spark_partition_id() and
    monotonically_increasing_id() are all rejected here: they depend on
    partition layout, so a task retry or AQE re-plan can re-salt rows
    differently mid-job, which silently corrupts any NON-decomposable
    reuse of this helper.  Value-identical rows share a bucket, which is
    harmless for decomposable aggs and keeps the assignment stable."""
    if spread is None:
        raise ValueError(
            "salted() needs a deterministic per-row spread column; "
            "pass e.g. F.xxhash64(*df.columns)"
        )
    return F.pmod(F.xxhash64(col, spread), F.lit(n_salts))


def salted_count(df: DataFrame, key: str, n_salts: int = 16) -> DataFrame:
    """Two-phase count: groupBy(key, salt) partial counts → groupBy(key)
    sum.  Result identical to ``groupBy(key).count()``; the hot key's
    rows spread over n_salts reducers in phase 1."""
    spread = F.xxhash64(*[F.col(c) for c in df.columns])
    phase1 = (
        df.withColumn("__salt", salted(F.col(key), n_salts, spread))
        .groupBy(key, "__salt")
        .agg(F.count("*").alias("__partial"))
    )
    return phase1.groupBy(key).agg(F.sum("__partial").alias("count"))


def salted_agg(df: DataFrame, key: str, aggs: dict, n_salts: int = 16) -> DataFrame:
    """Two-phase agg for decomposable aggregates.

    aggs: {out_col: (col, 'sum'|'count'|'min'|'max')}."""
    partials = []
    finals = []
    for out, (col, kind) in aggs.items():
        if kind == "count":
            partials.append(F.count(col).alias(f"__p_{out}"))
            finals.append(F.sum(f"__p_{out}").alias(out))
        elif kind == "sum":
            partials.append(F.sum(col).alias(f"__p_{out}"))
            finals.append(F.sum(f"__p_{out}").alias(out))
        elif kind == "min":
            partials.append(F.min(col).alias(f"__p_{out}"))
            finals.append(F.min(f"__p_{out}").alias(out))
        elif kind == "max":
            partials.append(F.max(col).alias(f"__p_{out}"))
            finals.append(F.max(f"__p_{out}").alias(out))
        else:
            raise ValueError(f"non-decomposable agg {kind!r}")
    spread = F.xxhash64(*[F.col(c) for c in df.columns])
    phase1 = (
        df.withColumn("__salt", salted(F.col(key), n_salts, spread))
        .groupBy(key, "__salt")
        .agg(*partials)
    )
    return phase1.groupBy(key).agg(*finals)


def fan_out(df: DataFrame, min_factor: int = 1) -> DataFrame:
    """Ensure a DataFrame entering an expensive per-row kernel carries at
    least the session's default parallelism worth of partitions.

    A tiny single-file parquet scan (a few hundred KB) plans as ONE
    input split (``spark.sql.files.openCostInBytes`` floors the split
    size, and a single-row-group file can't split anyway), so a
    downstream ``mapInPandas`` kernel would run on one core no matter
    how many the cluster has.  A conditional round-robin repartition
    costs one exchange of the small input and unlocks full parallelism;
    at lake scale the scan already has ≥ parallelism partitions and this
    is a no-op — scale-adaptive, not tuned to any fixed core count
    (guide §2.2/§6: partition count from input size AND cluster size).

    The probe reads the PRE-AQE partition count: after a shuffle it sees
    ``spark.sql.shuffle.partitions``, not the count AQE coalesces to, so
    it cannot spread a coalesced exchange (use an explicit
    ``repartition`` there).  ``getNumPartitions`` plans the DataFrame:
    45–65 ms of driver time per call over a parquet scan, about 0.2 s
    over a scan + aggregate + join (4-core host, warm session).
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * min_factor
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def split_hot_cells(
    df: DataFrame, cell_col: str, hot_threshold: int, finer_res_col: Column
) -> DataFrame:
    """Hot-cell re-resolution: cells whose row count exceeds
    ``hot_threshold`` are re-keyed to a finer resolution (the SURVEY §4
    'pre-split cells whose candidate count exceeds a threshold' policy).

    finer_res_col: the already-computed finer-resolution cell column."""
    counts = df.groupBy(cell_col).agg(F.count("*").alias("__n"))
    hot = counts.filter(F.col("__n") > hot_threshold).select(cell_col).withColumn(
        "__hot", F.lit(True)
    )
    return (
        df.join(F.broadcast(hot), cell_col, "left")
        .withColumn(
            cell_col,
            F.when(F.col("__hot"), finer_res_col).otherwise(F.col(cell_col)),
        )
        .drop("__hot")
    )
