"""Distributed Lloyd's k-means over the embedding table.

The iteration loop is the canonical Spark shape for small-state
iterative ML: per round the k x dim centroid table (a few KB) is
collected to the driver and re-injected as LITERALS, so the assignment
step is a pure whole-stage-codegen projection over the corpus — no
join, no shuffle beyond the one (cluster, dim) partial-avg aggregate
whose result is again k x dim rows. At 10^10 vectors each round is one
scan + one map-side-combined agg; nothing driver-side ever scales with
the data (this is exactly how spark.ml's KMeans structures a round,
re-expressed on the DataFrame API).

Cross-engine determinism contract (what makes the DuckDB oracle
possible): centroids are rounded to 6 dp after every averaging step,
squared distances to 4 dp before the argmin, and ties break toward the
lower cluster id — so both engines walk the identical centroid
sequence. Distances use the dot-product identity
||p-c||^2 = p.p + c.c - 2 p.c with c.c precomputed driver-side, the
same sequential-fold dot product the ANN oracles already rely on.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..cachereg import tracked_cache
from .similarity import dot_col

KMEANS_K = 4
KMEANS_ITERS = 3
KMEANS_DIM = 64


def _rhu(x: float, places: int) -> float:
    """Driver-side decimal ROUND_HALF_UP — the same half-away-from-zero
    semantics as Spark's F.round and DuckDB's ROUND, so the driver-held
    centroid literals stay inside the cross-engine rounding contract
    (ADVICE r03 #3: builtin round() is banker's half-to-even)."""
    q = Decimal(1).scaleb(-places)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def _sqdist(emb: Column, pp: Column, centroid: list[float]) -> Column:
    carr = F.array(*[F.lit(float(x)) for x in centroid])
    cc = 0.0
    for x in centroid:
        cc += x * x  # sequential fold, same order as the SQL oracle
    return F.round(pp + F.lit(cc) - 2.0 * dot_col(emb, carr), 4)


def _assign(pts: DataFrame, centroids: dict[int, list[float]]) -> DataFrame:
    """(vec_id, emb, pp) -> + (cl, d): argmin of rounded squared
    distance, ties to the lower cluster id, as a struct-sort — one
    codegen projection, no join."""
    cands = F.array(
        *[
            F.struct(
                _sqdist(F.col("emb"), F.col("pp"), c).alias("d"),
                F.lit(cl).alias("cl"),
            )
            for cl, c in sorted(centroids.items())
        ]
    )
    best = F.sort_array(cands).getItem(0)
    return pts.withColumn("_b", best).select(
        "vec_id", "emb", "pp",
        F.col("_b.cl").alias("cl"), F.col("_b.d").alias("d"),
    )


def kmeans_fit(
    emb: DataFrame,
    *,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
) -> DataFrame:
    """Run `iters` Lloyd rounds seeded from the k lowest-id vectors;
    return one row per cluster: (cluster, n_points, mean_dist,
    centroid_sum)."""
    pts = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("emb"),
    ).withColumn("pp", dot_col(F.col("emb"), F.col("emb")))
    pts = tracked_cache(pts)  # registry-routed; released in finally too
    try:
        centroids = _fit_loop(pts, k, iters)
        final = _assign(pts, centroids)
        sums = {
            cl: _rhu(_seq_sum(c), 4) for cl, c in centroids.items()
        }
        csum = F.create_map(
            *[x for cl, s in sorted(sums.items()) for x in (F.lit(cl), F.lit(s))]
        )
        return (
            final.groupBy("cl")
            .agg(
                F.count(F.lit(1)).alias("n_points"),
                F.round(F.avg("d"), 4).alias("mean_dist"),
            )
            .select(
                F.col("cl").cast("int").alias("cluster"),
                "n_points",
                "mean_dist",
                csum[F.col("cl")].alias("centroid_sum"),
            )
        )
    finally:
        pts.unpersist()


def _assign_join(
    pts: DataFrame, centroids: dict[int, list[float]]
) -> DataFrame:
    """Assignment via a BROADCAST centroid-table join — value-
    identical to _assign (same rounding, same fold order for c.c and
    the dot product, same lexicographic (d, cl) tie-break via
    min-over-struct), but linear in k instead of k literals per
    projection: the literal path stops compiling (janino method-size)
    around k*dim ~ a few thousand, and SemDeDup-style k grows with N.
    The centroid table is model-sized (k x dim doubles), so the join
    never shuffles the points; the per-vector argmin is a map-side-
    combinable min over the k-fanout."""
    spark = pts.sparkSession
    rows = [
        (cl, [float(x) for x in c], _seq_sum([x * x for x in c]))
        for cl, c in sorted(centroids.items())
    ]
    cdf = spark.createDataFrame(
        rows, "cl int, cemb array<double>, cc double"
    )
    d = F.round(
        F.col("pp") + F.col("cc") - 2.0 * dot_col(F.col("emb"), F.col("cemb")),
        4,
    )
    best = (
        pts.join(F.broadcast(cdf))
        .groupBy("vec_id")
        .agg(F.min(F.struct(d.alias("d"), F.col("cl").alias("cl"))).alias("_b"))
    )
    return pts.join(best, "vec_id").select(
        "vec_id", "emb", "pp",
        F.col("_b.cl").alias("cl"), F.col("_b.d").alias("d"),
    )


# past this k, prefer the join path (the literal projection's codegen
# grows as k*dim and falls out of janino's method-size budget)
ASSIGN_JOIN_K = 16


def _fit_loop(
    pts: DataFrame, k: int, iters: int
) -> dict[int, list[float]]:
    """Lloyd rounds over a cached (vec_id, emb, pp) frame: seed from
    the k lowest ids, per round collect the k x dim averages (model-
    sized) and re-round under the cross-engine contract."""
    assign = _assign if k <= ASSIGN_JOIN_K else _assign_join
    seed_rows = pts.orderBy("vec_id").limit(k).collect()  # k rows
    centroids = {
        i: [_rhu(float(x), 6) for x in r.emb]
        for i, r in enumerate(seed_rows)
    }
    for _ in range(iters):
        assigned = assign(pts, centroids)
        new_rows = (
            assigned.select("cl", F.posexplode("emb").alias("dim", "v"))
            .groupBy("cl", "dim")
            .agg(F.avg("v").alias("v"))
            .collect()  # k x dim rows — bounded by model size
        )
        dim = len(centroids[0])
        fresh: dict[int, list[float]] = {}
        for r in new_rows:
            fresh.setdefault(r.cl, [0.0] * dim)
        for r in new_rows:
            fresh[r.cl][r.dim] = _rhu(float(r.v), 6)
        # an empty cluster keeps its previous centroid
        centroids = {
            cl: fresh.get(cl, prev) for cl, prev in centroids.items()
        }
    return centroids


def kmeans_assignments(
    emb: DataFrame,
    *,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
) -> DataFrame:
    """Final per-vector cluster assignment (vec_id, emb, pp, cl, d)
    after the same fit as kmeans_fit — the blocking structure
    SemDeDup-style pruning consumes. Cached via the registry (the
    caller's harness releases); the same rounding contract makes the
    assignment reproducible in the SQL oracle."""
    pts = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("emb"),
    ).withColumn("pp", dot_col(F.col("emb"), F.col("emb")))
    pts = tracked_cache(pts)
    centroids = _fit_loop(pts, k, iters)
    assign = _assign if k <= ASSIGN_JOIN_K else _assign_join
    return assign(pts, centroids)


def _seq_sum(xs: list[float]) -> float:
    acc = 0.0
    for x in xs:
        acc += x
    return acc


def oracle_kmeans_assign_ctes() -> list[str]:
    """CTE chain ending in xf(vec_id, cl, dd) — the unrolled DuckDB
    mirror of the fit + final assignment: identical seeding, rounding,
    and tie-breaks (argmin via min() over [d, cl] lists). Composable:
    oracle_kmeans_sql and the SemDeDup oracle both build on it."""
    d = (
        "ROUND(p.pp + list_dot_product(c.emb, c.emb)"
        " - 2 * list_dot_product(p.emb, c.emb), 4)"
    )
    parts = [
        f"""
    p0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings),
    p AS (SELECT vec_id, emb, list_dot_product(emb, emb) AS pp FROM p0),
    c0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT)
                    AS cl,
                  list_transform(emb, x -> ROUND(x, 6)) AS emb
           FROM (SELECT vec_id, emb FROM p0 ORDER BY vec_id LIMIT {KMEANS_K}))"""
    ]
    for i in range(KMEANS_ITERS):
        nxt = i + 1
        parts.append(f"""
    a{i} AS (SELECT p.vec_id,
                    min([{d}, CAST(c.cl AS DOUBLE)]) AS m
             FROM p CROSS JOIN c{i} c GROUP BY p.vec_id),
    x{i} AS (SELECT vec_id, CAST(m[2] AS INT) AS cl, m[1] AS dd
             FROM a{i}),
    g{i} AS (SELECT x.cl, u.i AS dim, ROUND(AVG(p.emb[u.i]), 6) AS v
             FROM x{i} x JOIN p USING (vec_id),
                  UNNEST(generate_series(1, len(p.emb))) AS u(i)
             GROUP BY x.cl, u.i),
    l{i} AS (SELECT cl, list(v ORDER BY dim) AS emb FROM g{i} GROUP BY cl),
    c{nxt} AS (SELECT c.cl, COALESCE(l.emb, c.emb) AS emb
               FROM c{i} c LEFT JOIN l{i} l USING (cl))""")
    fin = KMEANS_ITERS
    parts.append(f"""
    af AS (SELECT p.vec_id,
                  min([{d}, CAST(c.cl AS DOUBLE)]) AS m
           FROM p CROSS JOIN c{fin} c GROUP BY p.vec_id),
    xf AS (SELECT vec_id, CAST(m[2] AS INT) AS cl, m[1] AS dd FROM af)""")
    return parts


def oracle_kmeans_sql() -> str:
    """Unrolled-iteration DuckDB mirror of kmeans_fit's summary."""
    parts = oracle_kmeans_assign_ctes()
    fin = KMEANS_ITERS
    return (
        "WITH" + ",".join(parts) + f"""
    SELECT f.cl AS cluster,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           ROUND(AVG(f.dd), 4) AS mean_dist,
           ROUND(list_aggregate(c.emb, 'sum'), 4) AS centroid_sum
    FROM xf f JOIN c{fin} c ON c.cl = f.cl
    GROUP BY f.cl, c.emb
    """
    )
