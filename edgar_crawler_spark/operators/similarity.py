"""Similarity search over an embedding column (array<float>).

Two paths, both pure JVM expressions (no Python in the hot path):

- brute-force exact cosine top-k (`cosine_topk`) — the baseline; the
  dot product is zip_with + aggregate inside whole-stage codegen and
  top-k compiles to TakeOrderedAndProject (each partition contributes
  its local top-k; no global sort shuffle).

- LSH-bucketed ANN (`lsh_topk`) — the scale path. Random-hyperplane
  (sign) LSH with Rademacher ±1 projections derived from md5, so the
  same projection is computable in any engine (that is what makes the
  DuckDB oracle possible — no RNG state to ship). Every vector gets an
  `nbits`-bit bucket; the query probes its own bucket plus all
  Hamming-1 neighbors (bit_count(xor) ≤ 1), then scores exactly only
  inside the probed buckets. At 10^10 vectors the bucket column is
  computed once at ingest and the probe is a partition-pruned scan of
  ~ (nbits+1)/2^nbits of the data (bucket as a partition/bucketing
  key), turning an O(N) scan into O(N·probes/2^nbits).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..cachereg import tracked_cache

# lsh_topk's bucket width, embedding dimension and probe radius
LSH_TOPK_NBITS = 8
LSH_TOPK_DIM = 64
LSH_TOPK_MAX_HAMMING = 1


def dot_col(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_col(a: Column, b: Column) -> Column:
    return F.round(
        dot_col(a, b) / (F.sqrt(dot_col(a, a)) * F.sqrt(dot_col(b, b))), 4
    )


def rademacher_sign(bit: int, dim: int) -> int:
    """±1 from the MSB of the first nibble of md5('<bit>|<dim>') —
    deterministic, engine-independent (md5 is md5 everywhere)."""
    h = hashlib.md5(f"{bit}|{dim}".encode()).hexdigest()
    return 1 if h[0] in "89abcdef" else -1


def lsh_bucket_col(emb: Column, nbits: int, dim: int) -> Column:
    """Sign-LSH bucket in [0, 2^nbits): bit i = [Σ_d ±emb[d] > 0]."""
    bucket = F.lit(0)
    for i in range(nbits):
        signs = F.array(*[F.lit(float(rademacher_sign(i, d))) for d in range(dim)])
        proj = F.aggregate(
            F.zip_with(emb, signs, lambda x, s: x.cast("double") * s),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj > 0, F.lit(2**i)).otherwise(F.lit(0))
    return bucket.cast("int")


def cosine_topk(emb: DataFrame, query_vec_id: int, k: int = 20) -> DataFrame:
    qv = emb.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qv")
    )
    return (
        emb.filter(F.col("vec_id") != query_vec_id)
        .crossJoin(F.broadcast(qv))
        .select("vec_id", cosine_col(F.col("embedding"), F.col("qv")).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def lsh_topk(emb: DataFrame, query_vec_id: int, k: int = 20) -> DataFrame:
    """ANN top-k: probe the query's LSH bucket + its neighbors within
    Hamming distance LSH_TOPK_MAX_HAMMING, exact cosine only within the
    probed set."""
    with_bucket = emb.withColumn(
        "bucket", lsh_bucket_col(F.col("embedding"), LSH_TOPK_NBITS, LSH_TOPK_DIM)
    )
    qv = (
        with_bucket.filter(F.col("vec_id") == query_vec_id)
        .select(F.col("embedding").alias("qv"), F.col("bucket").alias("qbucket"))
    )
    return (
        with_bucket.filter(F.col("vec_id") != query_vec_id)
        .crossJoin(F.broadcast(qv))
        .filter(F.expr(f"bit_count(bucket ^ qbucket) <= {LSH_TOPK_MAX_HAMMING}"))
        .select("vec_id", cosine_col(F.col("embedding"), F.col("qv")).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def ivf_topk(
    emb: DataFrame, query_vec_id: int, k: int = 20, *,
    n_cells: int = 16, n_probe: int = 4,
) -> DataFrame:
    """IVF (inverted-file) ANN: k-means coarse quantizer -> probe the
    `n_probe` cells nearest the query -> exact cosine inside them.

    Sandbox shape: the quantizer is fit on the table itself (it is
    small). 100 TB shape: fit centroids on a ~1M-row sample once,
    compute `cell` at INGEST as a stored/partition column, and the
    probe becomes partition pruning — the scan touches n_probe/n_cells
    of the data and nothing else. Deterministic for a fixed seed
    (KMeans init is seeded; assignment is argmin distance).

    No DuckDB oracle (k-means is not SQL-expressible) — the driver
    records the weaker rows-only check; exactness-within-probes and
    recall are pytest-verified instead (tests/test_dedup_similarity.py).
    """
    from pyspark.ml.clustering import KMeans  # noqa: PLC0415
    from pyspark.ml.functions import array_to_vector  # noqa: PLC0415

    feats = emb.select(
        "vec_id", "embedding", array_to_vector(F.col("embedding")).alias("features")
    )
    model = KMeans(k=n_cells, seed=42, featuresCol="features").fit(feats)
    assigned = model.transform(feats).withColumnRenamed("prediction", "cell")

    centers = model.clusterCenters()
    qrow = assigned.filter(F.col("vec_id") == query_vec_id).head(1)
    if not qrow:
        raise ValueError(f"query vec {query_vec_id} not found")
    import numpy as np  # noqa: PLC0415

    qv = np.array(qrow[0]["embedding"], dtype=float)
    dists = [float(np.linalg.norm(qv - np.asarray(c))) for c in centers]
    probe_cells = [int(i) for i in np.argsort(dists)[:n_probe]]

    qdf = assigned.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qv")
    )
    return (
        assigned.filter(
            F.col("cell").isin(probe_cells) & (F.col("vec_id") != query_vec_id)
        )
        .crossJoin(F.broadcast(qdf))
        .select("vec_id", cosine_col(F.col("embedding"), F.col("qv")).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def ivf_topk_seeded(
    emb: DataFrame, query_vec_id: int, k: int = 20, *,
    n_cells: int = 16, n_probe: int = 4, dim: int = 64,
) -> DataFrame:
    """IVF ANN with a deterministic hash-seeded codebook — the
    oracle-able variant of `ivf_topk` (VERDICT r01 #4).

    The codebook is the `n_cells` data points with the smallest
    md5(vec_id) (a hash-uniform sample — exactly k-means|| init with
    zero Lloyd rounds, which at 100 TB is how you'd seed the trained
    codebook anyway). Cell assignment is argmin squared-L2 to the
    codebook, computed per row INSIDE codegen: the 16×64 centroid
    floats are compiled into the plan as literals, so assignment is a
    shuffle-free map — no crossJoin, no window. The probe selects the
    `n_probe` cells nearest the query and exact-cosine-scores only
    inside them; at scale `cell` is a stored partition column and the
    probe is partition pruning.

    Every step is engine-independent (md5 ordering + IEEE argmin with
    a (dist, cell) tiebreak), so DuckDB can replay it exactly —
    `oracle_ivf_topk_seeded_sql`.
    """
    seeds = (
        emb.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(n_cells)
        .collect()
    )  # bounded: n_cells rows of metadata-scale payload
    centroids = [[float(x) for x in r["embedding"]] for r in seeds]

    def dist_to(c: list[float]) -> Column:
        cvec = F.array(*[F.lit(x) for x in c])
        return F.aggregate(
            F.zip_with(
                F.col("embedding"), cvec,
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    cell = F.array_min(
        F.array(
            *[
                F.struct(dist_to(c).alias("dist"), F.lit(j).alias("cell"))
                for j, c in enumerate(centroids)
            ]
        )
    )["cell"]

    from .dedup import spread  # noqa: PLC0415

    assigned = spread(emb).select("vec_id", "embedding", cell.alias("cell"))
    qrow = assigned.filter(F.col("vec_id") == query_vec_id).head(1)
    if not qrow:
        raise ValueError(f"query vec {query_vec_id} not found")
    qv = [float(x) for x in qrow[0]["embedding"]]
    qdists = sorted(
        (sum((a - b) * (a - b) for a, b in zip(qv, c)), j)
        for j, c in enumerate(centroids)
    )
    probe_cells = [j for _, j in qdists[:n_probe]]

    qdf = emb.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qv")
    )
    return (
        assigned.filter(
            F.col("cell").isin(probe_cells) & (F.col("vec_id") != query_vec_id)
        )
        .crossJoin(F.broadcast(qdf))
        .select("vec_id", cosine_col(F.col("embedding"), F.col("qv")).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def oracle_ivf_topk_seeded_sql(
    query_vec_id: int = 0, k: int = 20, *,
    n_cells: int = 16, n_probe: int = 4, dim: int = 64,
) -> str:
    """DuckDB replay of `ivf_topk_seeded` — same codebook (md5 order),
    same squared-L2 fold order, same (dist, cell) tiebreaks."""
    sq = (
        "list_sum([(CAST(e.embedding[d] AS DOUBLE) - "
        "CAST(s.embedding[d] AS DOUBLE)) * "
        "(CAST(e.embedding[d] AS DOUBLE) - CAST(s.embedding[d] AS DOUBLE)) "
        f"for d in generate_series(1, {dim})])"
    )
    cos = (
        "ROUND(list_dot_product(a.embedding, q.qv) / "
        "(sqrt(list_dot_product(a.embedding, a.embedding)) * "
        "sqrt(list_dot_product(q.qv, q.qv))), 4)"
    )
    return f"""
    WITH seeds AS (
      SELECT embedding,
             row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell
      FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {n_cells}),
    dists AS (
      SELECT e.vec_id, e.embedding, s.cell, {sq} AS dist
      FROM embeddings e CROSS JOIN seeds s),
    assigned AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT *, row_number() OVER (
                 PARTITION BY vec_id ORDER BY dist, cell) AS rn
        FROM dists)
      WHERE rn = 1),
    probe AS (
      SELECT cell FROM (
        SELECT cell, row_number() OVER (ORDER BY dist, cell) AS rn
        FROM dists WHERE vec_id = {query_vec_id})
      WHERE rn <= {n_probe}),
    q AS (
      SELECT embedding AS qv FROM embeddings WHERE vec_id = {query_vec_id})
    SELECT a.vec_id, {cos} AS cos_sim
    FROM assigned a CROSS JOIN q
    WHERE a.cell IN (SELECT cell FROM probe)
      AND a.vec_id <> {query_vec_id}
    ORDER BY cos_sim DESC, vec_id ASC
    LIMIT {k}
    """


def pq_adc_topk(
    emb: DataFrame, query_vec_id: int = 0, k: int = 20, *,
    m: int = 8, n_codes: int = 16, dim: int = 64,
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (Jégou, Douze & Schmid, TPAMI 2011) — the memory-compression scale
    path: vectors are encoded as `m` sub-codewords (here 8 subspaces ×
    4-bit codes = 8 bytes/vector vs 256 bytes of float32), and search
    scans CODES, not vectors, scoring each with a query-local lookup
    table.

    Codebook: per subspace, the sub-vectors of the `n_codes` data
    points with the smallest (md5(id), id) — the same hash-uniform
    seeding as `ivf_topk_seeded`, zero training rounds, fully
    engine-replayable. Encoding is per-subspace argmin squared-L2 with
    a (dist, code) tiebreak, compiled into the plan as literals — a
    shuffle-free scan projection, exactly how codes would be computed
    once at ingest and stored. ADC: the query's distance to every
    (subspace, codeword) is a driver-side m×n_codes table (model-sized,
    10-dp rounded — the cross-engine sum contract), and the per-vector
    score is a codegen lookup-sum; top-k is TakeOrderedAndProject. At
    10^10 vectors the scan reads 8-byte codes instead of 256-byte
    payloads — the 32× I/O cut is the whole point of PQ.
    """
    sub = dim // m
    seeds = (
        emb.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(n_codes)
        .collect()
    )  # bounded: n_codes rows of codebook payload
    books = [
        [
            [float(x) for x in r["embedding"][s * sub:(s + 1) * sub]]
            for r in seeds
        ]
        for s in range(m)
    ]
    qrow = emb.filter(F.col("vec_id") == query_vec_id).head(1)
    if not qrow:
        raise ValueError(f"query vec {query_vec_id} not found")
    qv = [float(x) for x in qrow[0]["embedding"]]
    # query-side LUT, same left-fold order as the SQL mirror
    lut = [
        [
            round(
                sum(
                    (qv[s * sub + d] - books[s][j][d]) ** 2
                    for d in range(sub)
                ),
                10,
            )
            for j in range(n_codes)
        ]
        for s in range(m)
    ]

    def sub_dist(s: int, cw: list[float]) -> Column:
        sl = F.slice(F.col("embedding"), s * sub + 1, sub)
        return F.aggregate(
            F.zip_with(
                sl, F.array(*[F.lit(x) for x in cw]),
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def code_for(s: int) -> Column:
        return F.array_min(
            F.array(
                *[
                    F.struct(
                        sub_dist(s, books[s][j]).alias("dist"),
                        F.lit(j).alias("code"),
                    )
                    for j in range(n_codes)
                ]
            )
        )["code"]

    from .dedup import spread  # noqa: PLC0415

    coded = spread(emb).select(
        "vec_id", *[code_for(s).alias(f"c{s}") for s in range(m)]
    )
    adc = None
    for s in range(m):
        term = F.element_at(
            F.array(*[F.lit(x) for x in lut[s]]), F.col(f"c{s}") + 1
        )
        adc = term if adc is None else adc + term
    return (
        coded.filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", F.round(adc, 6).alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        .limit(k)
    )


def oracle_pq_adc_topk_sql(
    query_vec_id: int = 0, k: int = 20, *,
    m: int = 8, n_codes: int = 16, dim: int = 64,
) -> str:
    """DuckDB replay of `pq_adc_topk` — same codebook (md5 order), same
    per-subspace left-fold squared-L2, same (dist, code) tiebreak, the
    same 10-dp LUT rounding, and an ORDERED subspace fold for the ADC
    sum so both engines add the 8 terms in s order."""
    sub = dim // m
    sq = (
        "list_sum([(CAST(e.embedding[{off} + d] AS DOUBLE) - "
        "CAST(s.embedding[{off} + d] AS DOUBLE)) * "
        "(CAST(e.embedding[{off} + d] AS DOUBLE) - "
        "CAST(s.embedding[{off} + d] AS DOUBLE)) "
        f"for d in generate_series(1, {sub})])"
    )
    return f"""
    WITH seeds AS (
      SELECT embedding,
             row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS code
      FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {n_codes}),
    sp AS (SELECT UNNEST(generate_series(0, {m - 1})) AS s),
    dists AS (
      SELECT e.vec_id, sp.s, s.code,
             {sq.format(off=f"sp.s * {sub}")} AS dist
      FROM embeddings e CROSS JOIN seeds s CROSS JOIN sp),
    assigned AS (
      SELECT vec_id, s, code FROM (
        SELECT *, row_number() OVER (
                 PARTITION BY vec_id, s ORDER BY dist, code) AS rn
        FROM dists)
      WHERE rn = 1),
    lut AS (
      SELECT s, code, ROUND(dist, 10) AS d
      FROM dists WHERE vec_id = {query_vec_id}),
    adc AS (
      SELECT a.vec_id,
             list_sum(list(l.d ORDER BY a.s)) AS adc_raw
      FROM assigned a JOIN lut l ON l.s = a.s AND l.code = a.code
      WHERE a.vec_id <> {query_vec_id}
      GROUP BY a.vec_id)
    SELECT vec_id, ROUND(adc_raw, 6) AS adc_dist
    FROM adc
    ORDER BY adc_dist ASC, vec_id ASC
    LIMIT {k}
    """


def lsh_neardup_pairs(
    emb: DataFrame,
    *,
    threshold: float = 0.35,
    nbits: int = 6,
    dim: int = 64,
) -> DataFrame:
    """Embedding near-dup pairs blocked on the sign-LSH bucket — the
    scale-safe replacement for blocking on a low-cardinality metadata
    column (VERDICT r01 #3): candidates are pairs within Hamming ≤ 1
    of each other's bucket, verified by exact cosine ≥ threshold.

    Shape: the Hamming-1 probe is expressed as an EQUI-join — side A
    explodes each vector to its own bucket plus the nbits single-bit
    flips (factor nbits+1, ids only, no payload), and joins
    `probe == b.bucket`. No bit_count(xor) theta-join (that would be a
    nested-loop), no metadata block key. At 10^10 vectors `bucket` is
    a stored partition column and recall is raised by unioning a few
    independent hash tables, not by widening buckets.

    nbits policy (measured, BENCH/BASELINE.md Round 4): candidate
    pairs/vector ~ N(nbits+1)/2^nbits, so constant bucket occupancy
    needs 2^nbits/(nbits+1) ∝ N — pick the smallest nbits with
    2^nbits/(nbits+1) ≥ N/N0 · 2^n0/(n0+1). "nbits += log2(growth)"
    undershoots by the (nbits+1) factor: at 100× growth from nbits=6,
    nbits=13 left the same query 2.15× superlinear, nbits=14 made it
    0.46× sublinear.
    """
    from .dedup import spread  # noqa: PLC0415

    # bucket projection is referenced from three join sides; compute
    # once, in parallel (see dedup.spread on the degenerate-scan case)
    with_bucket = spread(emb).select(
        F.col("vec_id").alias("_id"),
        F.col("embedding").alias("_v"),
        lsh_bucket_col(F.col("embedding"), nbits, dim).alias("bucket"),
    )
    with_bucket = tracked_cache(with_bucket)
    probes = with_bucket.select(
        "_id",
        F.explode(
            F.array(
                F.col("bucket"),
                *[
                    F.col("bucket").bitwiseXOR(F.lit(2**i))
                    for i in range(nbits)
                ],
            )
        ).alias("probe"),
    )
    cand = (
        probes.alias("a")
        .join(
            with_bucket.select("_id", "bucket").alias("b"),
            (F.col("a.probe") == F.col("b.bucket"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    va = with_bucket.select(F.col("_id").alias("id_a"), F.col("_v").alias("ea"))
    vb = with_bucket.select(F.col("_id").alias("id_b"), F.col("_v").alias("eb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos_sim", cosine_col(F.col("ea"), F.col("eb")))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def _oracle_bucket_sql(nbits: int, dim: int) -> str:
    def proj(i: int) -> str:
        return (
            "list_sum([embedding[d] * (CASE WHEN contains('89abcdef', "
            f"substr(md5({i} || '|' || (d-1)), 1, 1)) THEN 1.0 ELSE -1.0 END) "
            f"for d in generate_series(1, {dim})])"
        )

    return " + ".join(
        f"(CASE WHEN {proj(i)} > 0 THEN {2**i} ELSE 0 END)" for i in range(nbits)
    )


def oracle_lsh_neardup_sql(
    threshold: float = 0.35, *, nbits: int = 6, dim: int = 64
) -> str:
    """DuckDB oracle for `lsh_neardup_pairs`: the Hamming-≤1 candidate
    set is the same whether generated by flip-explode or bit_count."""
    bucket = _oracle_bucket_sql(nbits, dim)
    cos = (
        "ROUND(list_dot_product(a.embedding, b.embedding) / "
        "(sqrt(list_dot_product(a.embedding, a.embedding)) * "
        "sqrt(list_dot_product(b.embedding, b.embedding))), 4)"
    )
    return f"""
    WITH b AS (
      SELECT vec_id, embedding, CAST({bucket} AS INT) AS bucket
      FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, {cos} AS cos_sim
    FROM b a JOIN b b
      ON bit_count(xor(a.bucket, b.bucket)) <= 1 AND a.vec_id < b.vec_id
    WHERE {cos} >= {threshold}
    """


def oracle_lsh_topk_sql(
    query_vec_id: int = 0, k: int = 20, *, nbits: int = LSH_TOPK_NBITS,
    dim: int = LSH_TOPK_DIM,
) -> str:
    """DuckDB oracle for `lsh_topk` — identical md5-derived projections."""
    def proj(i: int) -> str:
        return (
            "list_sum([embedding[d] * (CASE WHEN contains('89abcdef', "
            f"substr(md5({i} || '|' || (d-1)), 1, 1)) THEN 1.0 ELSE -1.0 END) "
            f"for d in generate_series(1, {dim})])"
        )

    bucket = " + ".join(
        f"(CASE WHEN {proj(i)} > 0 THEN {2**i} ELSE 0 END)" for i in range(nbits)
    )
    return f"""
    WITH b AS (
      SELECT vec_id, embedding, CAST({bucket} AS INT) AS bucket
      FROM embeddings),
    q AS (
      SELECT embedding AS qv, bucket AS qbucket FROM b
      WHERE vec_id = {query_vec_id})
    SELECT vec_id,
           ROUND(list_dot_product(e.embedding, q.qv) /
                 (sqrt(list_dot_product(e.embedding, e.embedding)) *
                  sqrt(list_dot_product(q.qv, q.qv))), 4) AS cos_sim
    FROM b e CROSS JOIN q
    WHERE e.vec_id <> {query_vec_id}
      AND bit_count(xor(e.bucket, q.qbucket)) <= {LSH_TOPK_MAX_HAMMING}
    ORDER BY cos_sim DESC, vec_id ASC
    LIMIT {k}
    """


def knn_graph(
    emb: DataFrame,
    *,
    k: int = 5,
    nbits: int = 6,
    dim: int = 64,
) -> DataFrame:
    """Directed kNN graph over LSH candidates: for EVERY vector, its
    top-k exact-cosine neighbors among Hamming-<=1 bucket candidates —
    the neighbor graph that feeds embedding dedup clustering and
    graph-based ANN indexes (HNSW-style construction starts from
    exactly this blocked-candidate + exact-rerank shape).

    Scale shape: candidate generation is the same flip-explode
    EQUI-join as lsh_neardup_pairs (never a bit_count theta-join);
    the per-source top-k is a window PARTITIONED BY the source vector
    id — high-cardinality, so the rank never serializes. Ordering is
    on the ROUNDED cosine (ties broken by neighbor id) so the ranking
    is reproducible across engines and runs.

    nbits policy (same as lsh_neardup_pairs): candidates per vector
    ~ N(nbits+1)/2^nbits, so nbits must track log2(N) at ingest —
    +3 bits per 10x vectors keeps bucket occupancy (and the scored
    pair count per vector) constant. Measured in BENCH/BASELINE.md's
    10x table.
    """
    from .dedup import spread  # noqa: PLC0415

    from pyspark.sql import Window  # noqa: PLC0415

    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    with_bucket = spread(emb).select(
        F.col("vec_id").alias("_id"),
        dbl.alias("_v"),
        lsh_bucket_col(F.col("embedding"), nbits, dim).alias("bucket"),
    ).withColumn("_n", F.sqrt(dot_col(F.col("_v"), F.col("_v"))))
    with_bucket = tracked_cache(with_bucket)
    probes = with_bucket.select(
        "_id",
        F.explode(
            F.array(
                F.col("bucket"),
                *[F.col("bucket").bitwiseXOR(F.lit(2**i)) for i in range(nbits)],
            )
        ).alias("probe"),
    )
    # every vector lives in exactly ONE bucket and the probe values are
    # pairwise distinct, so a (src, nbr) pair can match at most one
    # probe — the candidate set is duplicate-free by construction and
    # needs no distinct() (a full extra shuffle at corpus scale).
    cand = (
        probes.alias("a")
        .join(
            with_bucket.select("_id", "bucket").alias("b"),
            (F.col("a.probe") == F.col("b.bucket"))
            & (F.col("a._id") != F.col("b._id")),
        )
        .select(F.col("a._id").alias("src"), F.col("b._id").alias("nbr"))
    )
    # norms are precomputed per VECTOR (in the cached dim), not per
    # pair: cos = dot(a,b)/(|a|*|b|) evaluates the identical double
    # expression, with 1/3 of the per-pair dot-product work.
    va = with_bucket.select(
        F.col("_id").alias("src"), F.col("_v").alias("ea"),
        F.col("_n").alias("na"),
    )
    vb = with_bucket.select(
        F.col("_id").alias("nbr"), F.col("_v").alias("eb"),
        F.col("_n").alias("nb"),
    )
    scored = (
        cand.join(va, "src")
        .join(vb, "nbr")
        .withColumn(
            "cos_sim",
            F.round(
                dot_col(F.col("ea"), F.col("eb"))
                / (F.col("na") * F.col("nb")),
                4,
            ),
        )
    )
    w = Window.partitionBy("src").orderBy(F.desc("cos_sim"), F.asc("nbr"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("src", "nbr", "cos_sim", "rnk")
    )


def oracle_knn_graph_sql(k: int = 5, *, nbits: int = 6, dim: int = 64) -> str:
    """DuckDB oracle for `knn_graph` — identical buckets, candidates,
    rounded-cosine ordering."""
    bucket = _oracle_bucket_sql(nbits, dim)
    # DOUBLE[] casts: Spark's cosine_col sums element products as
    # doubles; DuckDB's list_dot_product over FLOAT[] accumulates in
    # float, which lands on the other side of a 4-dp rounding boundary
    # for ~1 in 10^4 of the graph's ~30k scored pairs.
    cos = (
        "ROUND(list_dot_product(a.emb, b.emb) / "
        "(sqrt(list_dot_product(a.emb, a.emb)) * "
        "sqrt(list_dot_product(b.emb, b.emb))), 4)"
    )
    return f"""
    WITH b AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
             CAST({bucket} AS INT) AS bucket
      FROM embeddings),
    cand AS (
      SELECT a.vec_id AS src, b.vec_id AS nbr, {cos} AS cos_sim
      FROM b a JOIN b b
        ON bit_count(xor(a.bucket, b.bucket)) <= 1
       AND a.vec_id <> b.vec_id),
    ranked AS (
      SELECT src, nbr, cos_sim,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY src ORDER BY cos_sim DESC, nbr ASC
             ) AS BIGINT) AS rnk
      FROM cand)
    SELECT src, nbr, cos_sim, rnk FROM ranked WHERE rnk <= {k}
    """
