"""Deduplication operators for a training-data pipeline.

All the classic web-corpus dedup families over the `documents` table
(doc_id, text, lang, source), built as NATIVE Spark expressions —
tokenization, n-grams, MinHash, SimHash, Jaccard all stay inside
whole-stage codegen; there is no Python in any hot path here.

Scale design (100 TB corpus, 10^9-10^10 docs):
- exact/normalized dedup: the hash is computed in the scan projection,
  so the groupBy shuffles 48-byte (hash, id) pairs — never text.
- MinHash: signature is a per-row map-side projection. LSH banding
  explodes to (doc, band, bucket-key) rows — #bands × docs, still no
  text — and the candidate generation is a self-equi-join on
  (band, bkey): a plain hash shuffle that AQE's skew-join splitting
  handles when a bucket is hot (boilerplate-heavy corpora produce
  mega-buckets; that split is exactly Spark's skew story).
- Verification (exact Jaccard on candidates) joins token arrays back
  in only for the candidate ids — the expensive payload rides the
  narrow side of the join.
- SimHash: one explode + 16 conditional sums = one hash aggregate;
  near-dup lookup is then an equality (or small-Hamming-ball) probe.

Hash choice: md5 (Spark and DuckDB produce identical lowercase hex,
which is what makes every operator here oracle-checkable). Taking the
lexicographic MIN of md5("<i>|"+shingle) per hash index i is a valid
MinHash family — md5 is a uniform permutation of the shingle space and
lexicographic order on fixed-width hex is a total order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..cachereg import tracked_cache


def tokens_col(text: Column | str, *, distinct: bool = False) -> Column:
    c = F.lower(F.col(text) if isinstance(text, str) else text)
    toks = F.filter(F.split(c, r"\s+"), lambda t: t != "")
    return F.array_distinct(toks) if distinct else toks


def ngrams_col(toks: Column, n: int) -> Column:
    """Word n-grams of a token array (n>=2), joined with single spaces."""
    if n < 2:
        return toks

    def gram(i: Column) -> Column:
        return F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)])

    # F.sequence(1, 0) yields a DESCENDING [1, 0], so short arrays must
    # short-circuit to empty explicitly.
    return F.when(
        F.size(toks) >= n,
        F.transform(F.sequence(F.lit(1), F.size(toks) - (n - 1)), gram),
    ).otherwise(F.array().cast("array<string>"))


def minhash_signature_col(shingles: Column, k: int = 8) -> Column:
    """Array of k MinHash values (32-hex strings)."""

    def one_hash(i: int) -> Column:
        # NB: the transform lambda must take exactly ONE parameter —
        # pyspark binds a second parameter to the array index.
        prefix = F.lit(f"{i}|")
        return F.array_min(
            F.transform(shingles, lambda t: F.md5(F.concat(prefix, t)))
        )

    return F.array(*[one_hash(i) for i in range(k)])


def band_keys_col(sig: Column, bands: int, rows_per_band: int) -> Column:
    """LSH banding: array<struct<band:int, bkey:string>>."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat(
                        *[sig[b * rows_per_band + r] for r in range(rows_per_band)]
                    )
                ).alias("bkey"),
            )
            for b in range(bands)
        ]
    )


def jaccard_col(a: Column, b: Column) -> Column:
    """Exact Jaccard of two (distinct-element) arrays, rounded.

    One array pass: |A∪B| = |A|+|B|-|A∩B| for distinct-element
    arrays, so array_union (a second hash-build over both arrays per
    pair) is never materialized — this runs once per CANDIDATE pair,
    the hottest expression of the near-dup verify stage."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    return F.round(inter / (F.size(a) + F.size(b) - inter), 4)


def spread(df: DataFrame) -> DataFrame:
    """Repair degenerate scan parallelism before a map-heavy stage.

    The sandbox test tables are single-row-group parquet files —
    unsplittable, so the scan yields ONE task and the whole
    shingle/hash map stage serializes on one core (measured: 29s vs
    ~3s for jaccard_bigram_pairs at sf0.1). When the input already has
    >= defaultParallelism partitions — any real deployment reading
    128MB-row-group files at 100 TB — this is a NO-OP: no shuffle is
    added at scale, the round-robin exchange exists only to undo a
    degenerate file layout.
    """
    if df.isStreaming:  # .rdd is undefined on streaming plans
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def minhash_lsh_pairs(
    docs: DataFrame,
    *,
    k: int = 8,
    bands: int = 4,
    jaccard_threshold: float = 0.8,
    ngram: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Full MinHash→LSH→verify pipeline.

    Returns (id_a, id_b, jaccard) for candidate pairs sharing ≥1 LSH
    band bucket whose EXACT shingle-set Jaccard ≥ threshold. With k=8,
    bands=4 (r=2): P(candidate | j) = 1-(1-j²)⁴ ≈ 0.999 at j=0.9.
    `ngram` picks the shingle unit (1 = tokens, 2 = word bigrams, ...);
    the candidate join key is always the (band, bkey) bucket — a
    high-cardinality key that survives 100× data, unlike blocking on a
    metadata column like `source`.
    """
    r = k // bands
    # toks and the band table are referenced from MULTIPLE sides of the
    # self-join + verify join; without materialization Catalyst
    # recomputes the shingle+MinHash projection once per reference
    # (measured 3-4x). cache() is the sandbox analog of the 100 TB
    # shape, where signatures/bands are computed ONCE at ingest and
    # stored as tables.
    # Two-step tokenize→shingle: ngrams_col's element_at accesses must
    # reference a NAMED token column, not the inline split expression —
    # inline, every n-gram slot re-evaluates the whole tokenize (6.5x
    # slower measured; CollapseProject keeps the split un-inlined
    # because it is not "cheap").
    shingle = (
        F.array_distinct(ngrams_col(F.col("w"), ngram))
        if ngram >= 2
        else F.array_distinct(F.col("w"))
    )
    # guard on the TOKEN count, not size(s): a filter on s would be
    # predicate-pushed through both projects, re-inlining the full
    # n-gram expression into the pushed condition (quadratic again).
    # size(w) >= ngram <=> size(s) > 0 (n-grams of shorter docs are
    # empty; grams themselves are never empty strings).
    toks = (
        spread(docs)
        .select(F.col(id_col).alias("_id"), tokens_col(text_col).alias("w"))
        .filter(F.size("w") >= max(ngram, 1))
        .select("_id", shingle.alias("s"))
    )
    toks = tracked_cache(toks)
    sig = toks.select("_id", minhash_signature_col(F.col("s"), k).alias("mh"))
    bands_df = sig.select(
        "_id", F.explode(band_keys_col(F.col("mh"), bands, r)).alias("bk")
    ).select("_id", "bk.band", "bk.bkey")
    bands_df = tracked_cache(bands_df)
    a, b = bands_df.alias("a"), bands_df.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    ta = toks.select(F.col("_id").alias("id_a"), F.col("s").alias("sa"))
    tb = toks.select(F.col("_id").alias("id_b"), F.col("s").alias("sb"))
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn("jaccard", jaccard_col(F.col("sa"), F.col("sb")))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_delta_pairs(
    docs: DataFrame,
    delta_mod: int = 10,
    delta_min: int = 8,
    *,
    k: int = 8,
    bands: int = 4,
    jaccard_threshold: float = 0.8,
    ngram: int = 1,
) -> DataFrame:
    """Incremental MinHash-LSH dedup: only the DELTA generates pairs.

    Models the daily-crawl-increment shape: the corpus splits into a
    base (already deduplicated in a previous run) and a delta
    (``id % delta_mod >= delta_min`` — deterministic, scale-free), and
    candidate pairs are delta×(base ∪ delta) bucket matches only.
    base×base pairs are never regenerated, so the per-increment cost is
    O(|delta| · bucket_size) regardless of how large the accumulated
    base grows — the property that makes LSH dedup sustainable as a
    RECURRING job. Pairs are canonicalized (least, greatest) so
    delta×delta matches seen from both sides collapse in the distinct.

    At 100 TB the base band table is a stored index (computed once at
    ingest, bucket-partitioned); here both sides derive from one scan
    and the split is a filter on the same cached band table.
    """
    r = k // bands
    shingle = (
        F.array_distinct(ngrams_col(F.col("w"), ngram))
        if ngram >= 2
        else F.array_distinct(F.col("w"))
    )
    toks = (
        spread(docs)
        .select(F.col("doc_id").alias("_id"), tokens_col("text").alias("w"))
        .filter(F.size("w") >= max(ngram, 1))
        .select("_id", shingle.alias("s"))
    )
    toks = tracked_cache(toks)
    sig = toks.select("_id", minhash_signature_col(F.col("s"), k).alias("mh"))
    bands_df = sig.select(
        "_id", F.explode(band_keys_col(F.col("mh"), bands, r)).alias("bk")
    ).select("_id", "bk.band", "bk.bkey")
    bands_df = tracked_cache(bands_df)
    delta = bands_df.filter((F.col("_id") % delta_mod) >= delta_min)
    cand = (
        delta.alias("a")
        .join(
            bands_df.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a._id") != F.col("b._id")),
        )
        .select(
            F.least("a._id", "b._id").alias("id_a"),
            F.greatest("a._id", "b._id").alias("id_b"),
        )
        .distinct()
    )
    ta = toks.select(F.col("_id").alias("id_a"), F.col("s").alias("sa"))
    tb = toks.select(F.col("_id").alias("id_b"), F.col("s").alias("sb"))
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn("jaccard", jaccard_col(F.col("sa"), F.col("sb")))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash16(docs: DataFrame, *, max_tokens: int | None = None) -> DataFrame:
    """16-bit SimHash per document (frequency-weighted: repeated tokens
    vote repeatedly). Bit j = sign of Σ_tokens (±1 by the MSB of nibble
    j of md5(token)). One explode + one hash aggregate; the result is
    a LONG you can group or Hamming-probe.

    `max_tokens` is the explode-skew guard (VERDICT r01 #7): one
    mega-document's tokens all live in ONE input row, so its explode +
    vote work runs serially inside a single map task no matter how the
    shuffle is salted — the only real bound is capping the tokens that
    vote. SimHash over the first N tokens is the standard production
    trade (a near-dup's prefix is a near-dup); pick N ≫ the corpus
    p99 so the cap only ever touches stragglers.
    """
    toks = tokens_col("text")
    if max_tokens is not None:
        toks = F.slice(toks, 1, max_tokens)
    tok = spread(docs).select(
        F.col("doc_id").alias("_id"), F.explode(toks).alias("t")
    ).withColumn("h", F.md5("t"))
    votes = [
        F.sum(
            F.when(F.substring("h", j + 1, 1).rlike("[89a-f]"), 1).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(16)
    ]
    agg = tok.groupBy("_id").agg(*votes)
    bits = sum(
        (F.when(F.col(f"v{j}") > 0, F.lit(2**j)).otherwise(F.lit(0)) for j in range(16)),
        F.lit(0),
    )
    return agg.select(F.col("_id").alias("doc_id"), bits.cast("long").alias("simhash"))


def oracle_minhash_lsh_pairs_sql(
    k: int = 8, bands: int = 4, jaccard_threshold: float = 0.8,
    ngram: int = 1,
) -> str:
    """DuckDB oracle equivalent of `minhash_lsh_pairs` (same hash
    family, so results match exactly)."""
    cand = """
      SELECT DISTINCT a._id AS id_a, b._id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a._id < b._id"""
    return _oracle_lsh_sql(k, bands, jaccard_threshold, ngram, cand)


def oracle_minhash_lsh_delta_pairs_sql(
    delta_mod: int = 10, delta_min: int = 8,
    k: int = 8, bands: int = 4, jaccard_threshold: float = 0.8,
    ngram: int = 1,
) -> str:
    """DuckDB oracle equivalent of `minhash_lsh_delta_pairs`."""
    cand = f"""
      SELECT DISTINCT LEAST(a._id, b._id) AS id_a,
             GREATEST(a._id, b._id) AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a._id <> b._id
      WHERE a._id % {delta_mod} >= {delta_min}"""
    return _oracle_lsh_sql(k, bands, jaccard_threshold, ngram, cand)


def _oracle_lsh_sql(
    k: int, bands: int, jaccard_threshold: float, ngram: int,
    cand_sql: str,
) -> str:
    r = k // bands
    mh = ",\n      ".join(
        f"list_min(list_transform(s, t -> md5('{i}|' || t)))" for i in range(k)
    )
    band_rows = "\n      UNION ALL ".join(
        "SELECT _id, {b} AS band, md5({parts}) AS bkey FROM sig".format(
            b=b,
            parts=" || ".join(f"mh[{b * r + j + 1}]" for j in range(r)),
        )
        for b in range(bands)
    )
    raw = (
        "list_filter(regexp_split_to_array(lower(text), '\\s+'), "
        "x -> x <> '')"
    )
    if ngram < 2:
        toks_cte = (
            f"SELECT doc_id AS _id, list_distinct({raw}) AS s FROM documents"
        )
    else:
        # DuckDB generate_series(1, 0) is empty (no Spark descending
        # quirk), so short docs fall out naturally.
        gram = " || ' ' || ".join(f"w[i+{j}]" for j in range(ngram))
        toks_cte = (
            f"SELECT doc_id AS _id, list_distinct([{gram} "
            f"for i in generate_series(1, len(w) - {ngram - 1})]) AS s "
            f"FROM (SELECT doc_id, {raw} AS w FROM documents)"
        )
    return f"""
    WITH toks0 AS (
      {toks_cte}),
    toks AS (
      SELECT _id, s FROM toks0 WHERE len(s) > 0),
    sig AS (
      SELECT _id, [{mh}] AS mh FROM toks),
    bands AS (
      {band_rows}),
    cand AS ({cand_sql})
    SELECT c.id_a, c.id_b,
           ROUND(len(list_intersect(ta.s, tb.s)) * 1.0 /
                 len(list_distinct(list_concat(ta.s, tb.s))), 4) AS jaccard
    FROM cand c
    JOIN toks ta ON ta._id = c.id_a
    JOIN toks tb ON tb._id = c.id_b
    WHERE ROUND(len(list_intersect(ta.s, tb.s)) * 1.0 /
                len(list_distinct(list_concat(ta.s, tb.s))), 4)
          >= {jaccard_threshold}
    """


def oracle_simhash16_sql(max_tokens: int | None = None) -> str:
    votes = ",\n      ".join(
        f"SUM(CASE WHEN contains('89abcdef', substr(h, {j + 1}, 1)) "
        f"THEN 1 ELSE -1 END) AS v{j}"
        for j in range(16)
    )
    bits = " + ".join(f"CASE WHEN v{j} > 0 THEN {2**j} ELSE 0 END" for j in range(16))
    toks = (
        "list_filter(regexp_split_to_array(lower(text), '\\s+'), "
        "x -> x <> '')"
    )
    if max_tokens is not None:
        toks = f"list_slice({toks}, 1, {max_tokens})"
    return f"""
    WITH tok AS (
      SELECT doc_id AS _id, md5(t) AS h
      FROM documents,
           UNNEST({toks}) AS u(t)),
    agg AS (
      SELECT _id,
      {votes}
      FROM tok GROUP BY _id)
    SELECT _id AS doc_id, CAST({bits} AS BIGINT) AS simhash FROM agg
    """


# cc_clusters stops after this many propagation rounds, converged or not
CC_MAX_ITER = 20


def cc_clusters(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Connected-components dedup clustering — the pipeline stage AFTER
    pair generation: near-dup pairs induce a graph; each component
    keeps one canonical document (the min id).

    Algorithm: min-label propagation (each node repeatedly adopts the
    minimum label among itself and its neighbors) — the degenerate-but-
    sufficient form of the map-reduce large-star/small-star CC
    (Kiveris et al., "Connected Components in MapReduce and Beyond").
    Converges in O(component diameter) rounds; LSH near-dup components
    are clique-like, so 2-4 rounds in practice. Each round is one
    shuffle-on-id join; the driver only reads the 1-row convergence
    counter (bounded metadata, like priority.py's partition counts).
    localCheckpoint truncates the growing lineage so round N's plan
    does not replay rounds 1..N-1.

    Returns (id, cluster_id, keep): keep marks the canonical doc.
    Deterministic — no RNG, min is order-free.
    """
    edges = pairs.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    )
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=False)

    labels = docs.select(F.col("doc_id").alias("id")).withColumn(
        "label", F.col("id")
    ).localCheckpoint(eager=False)

    for _ in range(CC_MAX_ITER):
        neigh_min = (
            sym.join(labels, sym["v"] == labels["id"])
            .groupBy("u")
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = (
            labels.join(neigh_min, labels["id"] == neigh_min["u"], "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break

    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("id") == F.col("label")).alias("keep"),
    )


def oracle_cc_clusters_sql(pairs_sql: str) -> str:
    """DuckDB oracle for `cc_clusters` over the pair query `pairs_sql`
    (must yield id_a, id_b): recursive transitive closure, component
    label = min(reachable ∪ self)."""
    return f"""
    WITH RECURSIVE pairs AS ({pairs_sql}),
    e AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION ALL
      SELECT id_b AS u, id_a AS v FROM pairs),
    reach(src, dst) AS (
      SELECT u, v FROM e
      UNION
      SELECT r.src, e.v FROM reach r JOIN e ON r.dst = e.u),
    labeled AS (
      SELECT d.doc_id,
             LEAST(d.doc_id, COALESCE(MIN(r.dst), d.doc_id)) AS cluster_id
      FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
      GROUP BY d.doc_id)
    SELECT doc_id, cluster_id, doc_id = cluster_id AS keep FROM labeled
    """
