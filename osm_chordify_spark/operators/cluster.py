"""Embedding clustering (integer-exact Lloyd k-means) + SemDeDup.

Beyond-reference LLM-pipeline surface: semantic dedup (Abbas et al.
2023, "SemDeDup") clusters corpus embeddings, then inside each cluster
drops members that are near-duplicates of a representative — the
standard way to thin redundant web text that exact/MinHash dedup can't
see.  The clustering half is the classic distributed Lloyd loop; the
dedup half is one broadcast join against the k representatives.

Why this k-means is EXACT (and therefore oracle-gateable, unlike any
float implementation): every float32 embedding component is a dyadic
rational, so ``floor(v · 1024)`` is computed without rounding error
(float32→double exact, ×2^10 exact, floor exact) and all further
arithmetic is on bigints — squared distances are integer sums
(order-independent), centroids are FLOORED integer means
(``(s − pmod(s, n)) div n``), argmin ties break on the lowest cluster
id, and seeds are the k ids with the smallest md5-derived 52-bit hash.
Spark, DuckDB, and a NumPy replay therefore produce bit-identical
assignments after any number of iterations; the floored-mean Lloyd
variant converges exactly like the float one (the quantization floor
perturbs each centroid component by <1 of 1024 units).

Scale shape (100 TB): per iteration the plan is ONE narrow projection
(argmin over a broadcast k×d literal — no join, no explode, whole row
stays put) plus ONE map-side-combinable aggregate (k·d cells); the
only driver traffic is the k×(d+1) centroid state, the canonical
broadcast-iteration pattern (same discipline as the PageRank state,
operators/linkgraph.py).  The SemDeDup screen joins members to the k
broadcast representatives — linear, no pairwise blowup.

Reference scope: beyond-reference (the reference has no embedding
ops); sits beside dedup.py's MinHash/SimHash/embedding-cosine family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_HASH_HEX = 13  # 52-bit md5 prefix, the engine's shared hash family


def quantize_expr(vec_col: str, scale: int) -> F.Column:
    """array<float> → array<bigint>: floor(v·scale), exact for any
    power-of-two scale (see module docstring)."""
    return F.transform(
        F.col(vec_col),
        lambda v: F.floor(v.cast("double") * F.lit(scale)).cast("bigint"),
    )


def _seed_hash(id_col: str) -> F.Column:
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit("km:"), F.col(id_col).cast("string"))),
            1, _HASH_HEX,
        ), 16, 10,
    ).cast("bigint")


def _dist_expr(qv: F.Column, cvec: list[int]) -> F.Column:
    """Σ (q_j − c_j)² against a literal centroid — decimal(38,0) so the
    sum is exact at any embedding norm."""
    lit = F.array(*[F.lit(int(c)).cast("bigint") for c in cvec])
    return F.aggregate(
        F.zip_with(qv, lit, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, x: acc + x.cast("decimal(38,0)"),
    )


def _assign_to(centroids: list[tuple[int, list[int]]]) -> F.Column:
    """struct(dist, cluster): array_min over struct(dist, cid) — struct
    ordering compares dist first, then cid, so distance ties go to the
    lowest cluster id, matching the SQL row_number replay.

    The centroids enter as ONE nested array literal walked by
    ``transform`` (the lambda index is the cluster id — centroids are
    ordered by cid), not k unrolled per-centroid expressions: the
    expression tree is O(1) in k and d, so per-iteration analysis +
    codegen stays flat (measured ~1.5-3 s/iteration at k=8, d=64 for
    the unrolled tree — pure planning, not compute).  The element
    arithmetic is unchanged: bigint (q−c)² folded into decimal(38,0)."""
    qv = F.col("__qv")
    lit = F.lit([list(map(int, cvec)) for _cid, cvec in centroids]).cast(
        "array<array<bigint>>"
    )
    return F.array_min(
        F.transform(
            lit,
            lambda cv, i: F.struct(
                F.aggregate(
                    F.zip_with(qv, cv, lambda a, b: (a - b) * (a - b)),
                    F.lit(0).cast("decimal(38,0)"),
                    lambda acc, x: acc + x.cast("decimal(38,0)"),
                ).alias("dist"),
                i.alias("cluster"),
            ),
        )
    )


def kmeans_assign(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 3,
    scale: int = 1024,
) -> DataFrame:
    """Integer-exact Lloyd k-means; returns (id, cluster, dist) with
    dist the final squared quantized distance (bigint).

    Precondition: ``id_col`` values are unique.  Seeding takes the k
    smallest md5-hash rows; a duplicated id would occupy two seed slots
    here while the SQL oracle replay seeds over ``distinct id`` — the
    two would silently diverge on such input."""
    if k < 1 or iters < 1:
        raise ValueError(f"need k >= 1 and iters >= 1, got k={k} iters={iters}")
    if scale & (scale - 1):
        raise ValueError(f"scale must be a power of two, got {scale}")
    # the quantized working set is re-consumed once per Lloyd iteration:
    # materialize it once (eager, intra-query — recomputed per call) so
    # each iteration plans a one-source scan instead of re-deriving the
    # parquet read + quantize chain
    pts = df.select(
        F.col(id_col).alias("__id"), quantize_expr(vec_col, scale).alias("__qv")
    ).localCheckpoint(eager=True)
    # the centroid update counts per (cluster, j): a short, empty or null
    # vector would drop out of those counts and shift centroids, so every
    # vector must have the same length d
    size = F.coalesce(F.size("__qv"), F.lit(-1))
    lo, hi = pts.agg(F.min(size), F.max(size)).first()
    if lo is not None and (lo != hi or lo < 0):
        raise ValueError(
            f"{vec_col} vectors must all have one length, got lengths {lo}..{hi}"
            " (-1: null)"
        )
    seeds = (
        pts.select("__id", "__qv", _seed_hash("__id").alias("__h"))
        .orderBy("__h", "__id")
        .limit(k)
        .collect()
    )  # k rows of centroid state — O(k·d), not data
    centroids = [(cid, [int(x) for x in r["__qv"]]) for cid, r in enumerate(seeds)]

    d = len(centroids[0][1])
    for _ in range(iters):
        assigned = pts.withColumn("__b", _assign_to(centroids))
        # per-component sums via ONE posexplode + (cluster, j) aggregate
        # (k·d result rows) instead of d unrolled sum(__qv[j]) columns —
        # the same exact integer sums, a constant-size plan
        sums = (
            assigned.select(
                F.col("__b.cluster").alias("cluster"),
                F.posexplode("__qv").alias("j", "q"),
            )
            .groupBy("cluster", "j")
            .agg(F.count(F.lit(1)).alias("__n"), F.sum("q").alias("__s"))
            .collect()
        )  # k·d rows of centroid state
        by_cid: dict[int, dict[int, tuple[int, int]]] = {}
        for r in sums:
            by_cid.setdefault(int(r["cluster"]), {})[int(r["j"])] = (
                int(r["__s"]), int(r["__n"])
            )
        centroids = [
            (
                cid,
                [comp[j][0] // comp[j][1] for j in range(d)]
                if (comp := by_cid.get(cid)) is not None
                else prev,  # empty cluster keeps its centroid
            )
            for cid, prev in centroids
        ]

    final = pts.withColumn("__b", _assign_to(centroids))
    return final.select(
        F.col("__id").alias(id_col),
        F.col("__b.cluster").alias("cluster"),
        F.col("__b.dist").cast("bigint").alias("dist"),
    )


def semdedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 3,
    tau: tuple[int, int] = (95, 100),
    scale: int = 1024,
) -> DataFrame:
    """SemDeDup screen: cluster, pick the min-id member of each cluster
    as representative, flag members whose quantized cosine vs the
    representative clears tau (a rational — the test is
    (tau_den·dot)² ≥ tau_num²·‖x‖²·‖r‖² with dot > 0, all integers).
    Returns (id, cluster, rep_id, is_dup)."""
    tau_num, tau_den = tau
    assign = kmeans_assign(df, id_col, vec_col, k, iters, scale)
    pts = df.select(
        F.col(id_col).alias("__id"), quantize_expr(vec_col, scale).alias("__qv")
    ).join(assign.withColumnRenamed(id_col, "__id"), "__id")

    reps = (
        pts.groupBy("cluster")
        .agg(F.min_by("__qv", "__id").alias("__rv"), F.min("__id").alias("rep_id"))
    )
    dot = F.aggregate(
        F.zip_with(F.col("__qv"), F.col("__rv"), lambda a, b: a * b),
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, x: acc + x.cast("decimal(38,0)"),
    )
    sq = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda a: a * a),
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, x: acc + x.cast("decimal(38,0)"),
    )
    joined = pts.join(F.broadcast(reps), "cluster").select(
        "__id", "cluster", "rep_id",
        dot.alias("__dot"), sq(F.col("__qv")).alias("__nx"),
        sq(F.col("__rv")).alias("__nr"),
    )
    is_dup = (
        (F.col("__id") != F.col("rep_id"))
        & (F.col("__dot") > 0)
        & (
            F.lit(tau_den * tau_den).cast("decimal(38,0)")
            * F.col("__dot") * F.col("__dot")
            >= F.lit(tau_num * tau_num).cast("decimal(38,0)")
            * F.col("__nx") * F.col("__nr")
        )
    )
    return joined.select(
        F.col("__id").alias(id_col), "cluster", "rep_id",
        is_dup.alias("is_dup"),
    )


def kmeans_oracle_sql(
    table_expr: str,
    id_sql: str = "vec_id",
    vec_sql: str = "embedding",
    k: int = 8,
    iters: int = 3,
    scale: int = 1024,
) -> str:
    """DuckDB replay of :func:`kmeans_assign` — unrolled CTE per Lloyd
    iteration, floored-mean centroids, (dist, cid) tie order."""
    parts = [f"""
with pts as (
  select id, x.i::int as j, cast(floor(cast(x.v as double) * {scale}) as bigint) as q
  from (
    select {id_sql} as id,
           unnest(list_transform({vec_sql}, (v, i) -> struct_pack(i := i, v := v))) as x
    from {table_expr}
  )
), seeds as (
  select id, cast(rn - 1 as int) as cid from (
    select id, row_number() over (
      order by ('0x' || substr(md5('km:' || cast(id as varchar)), 1, {_HASH_HEX}))::bigint, id
    ) as rn
    from (select distinct id from pts)
  ) where rn <= {k}
), cent0 as (
  select s.cid, p.j, p.q as c from seeds s join pts p using (id)
)"""]
    prev = "cent0"
    for t in range(1, iters + 1):
        parts.append(f""", dist{t} as (
  select p.id, c.cid,
         sum((p.q - c.c)::hugeint * (p.q - c.c)::hugeint) as d
  from pts p join {prev} c using (j) group by 1, 2
), assign{t} as (
  select id, cid from (
    select id, cid, row_number() over (partition by id order by d, cid) as rn
    from dist{t}
  ) where rn = 1
), newc{t} as (
  select a.cid, p.j,
         (sum(p.q) - ((sum(p.q) % count(*)) + count(*)) % count(*)) // count(*) as c
  from assign{t} a join pts p using (id) group by 1, 2
), cent{t} as (
  select * from newc{t}
  union all
  select * from {prev} where cid not in (select distinct cid from newc{t})
)""")
        prev = f"cent{t}"
    parts.append(f""", finald as (
  select p.id, c.cid, sum((p.q - c.c)::hugeint * (p.q - c.c)::hugeint) as d
  from pts p join {prev} c using (j) group by 1, 2
)
select id as {id_sql}, cast(cid as int) as cluster, cast(d as bigint) as dist
from (
  select id, cid, d, row_number() over (partition by id order by d, cid) as rn
  from finald
) where rn = 1""")
    return "".join(parts)


def semdedup_oracle_sql(
    table_expr: str,
    id_sql: str = "vec_id",
    vec_sql: str = "embedding",
    k: int = 8,
    iters: int = 3,
    tau: tuple[int, int] = (95, 100),
    scale: int = 1024,
) -> str:
    """DuckDB replay of :func:`semdedup` over the k-means replay."""
    tau_num, tau_den = tau
    km = kmeans_oracle_sql(table_expr, id_sql, vec_sql, k, iters, scale)
    return f"""
with assign as ({km}),
pts as (
  select {id_sql} as id, x.i::int as j, cast(floor(cast(x.v as double) * {scale}) as bigint) as q
  from (
    select {id_sql},
           unnest(list_transform({vec_sql}, (v, i) -> struct_pack(i := i, v := v))) as x
    from {table_expr}
  )
), reps as (
  select cluster, min({id_sql}) as rep_id from assign group by 1
), pair as (
  select a.{id_sql} as id, a.cluster, r.rep_id,
         sum(px.q::hugeint * pr.q::hugeint) as dot,
         sum(px.q::hugeint * px.q::hugeint) as nx,
         sum(pr.q::hugeint * pr.q::hugeint) as nr
  from assign a
  join reps r using (cluster)
  join pts px on px.id = a.{id_sql}
  join pts pr on pr.id = r.rep_id and pr.j = px.j
  group by 1, 2, 3
)
select id as {id_sql}, cast(cluster as int) as cluster, rep_id,
       (id != rep_id and dot > 0
        and {tau_den * tau_den}::hugeint * dot * dot
            >= {tau_num * tau_num}::hugeint * nx * nr) as is_dup
from pair
"""
