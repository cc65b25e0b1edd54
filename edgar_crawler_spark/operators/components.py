"""Connected components by alternating large-star / small-star.

The scalable dedup-cluster primitive: given near-duplicate candidate
pairs (MinHash bands, simhash buckets, redirect/canonical equivalences
— reference semantics: the URL/accession identity merges in
`rebuild_metadata.py:38-175` and the keep-last dedup family), collapse
them into equivalence classes WITHOUT an O(diameter) propagation loop.

Algorithm: Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii,
"Connected Components in MapReduce and Beyond" (SoCC 2014) — the
alternating algorithm. Each round is two map-reduce steps:

  large-star(u): connect every neighbor v > u to m = min(Γ+(u))
  small-star(u): on parent-pointer edges (u > v), connect every
                 v ∈ Γ(u) ∪ {u} to m = min(Γ+(u))

which provably converges to rooted stars (every node points at its
component minimum) in O(log^2 n) rounds — versus O(diameter) for naive
min-label flooding, the difference between 4 and 10^4 rounds on a
chain-shaped redirect graph at 10^10 URLs.

Spark shape per round: each star step is one groupBy(min) + one
equi-join on the SAME key (u), so the exchange introduced by the
groupBy is reused by the join (one shuffle per star step, two per
round). Edge sets are localCheckpoint-ed every round — the
pagerank_ranks lineage discipline (VERDICT r03 #1): each round's
edges feed BOTH the next round and the convergence check, so without
the cut the recompute tree doubles per round. Convergence is detected
by edge-set stability (new \\ old == ∅ via left_anti count — a
count-only action on the checkpointed set, not a collect).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# alternating_cc fails after this many rounds without a fixpoint
MAX_ROUNDS = 20


def _symmetrize(edges: DataFrame) -> DataFrame:
    """Both orientations of an edge list with columns (u, v)."""
    return edges.select("u", "v").union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(Γ+(u))."""
    nbrs = _symmetrize(edges)
    mins = (
        nbrs.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least(F.col("mv"), F.col("u")).alias("m"))
    )
    return (
        nbrs.filter(F.col("v") > F.col("u"))
        .join(mins, "u")  # same key as the groupBy — exchange reused
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """On parent-pointer edges (u > v): connect Γ(u) ∪ {u} to
    min(Γ+(u)).  Input must already be largest-first oriented, which
    is exactly what _large_star emits."""
    orient = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    mins = orient.groupBy("u").agg(F.min("v").alias("m"))
    joined = orient.join(mins, "u")  # exchange reuse as above
    to_nbrs = joined.select(F.col("v").alias("u"), F.col("m").alias("v"))
    to_self = mins.select("u", F.col("m").alias("v"))
    return (
        to_nbrs.union(to_self)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def alternating_cc(edges: DataFrame) -> tuple[DataFrame, int]:
    """Run alternating large-star/small-star to convergence.

    `edges`: undirected edge list with columns (u, v), integer ids,
    self-loops allowed (dropped).  Returns (labels, rounds) where
    labels has columns (node, label) covering every endpoint, label =
    component minimum.  Isolated center nodes label themselves.
    """
    cur = (
        edges.select("u", "v")
        .filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        cur.select(F.col("u").alias("node"))
        .union(cur.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    rounds = 0
    for _ in range(MAX_ROUNDS):
        rounds += 1
        nxt = _small_star(_large_star(cur)).localCheckpoint(eager=True)
        # star edge sets converge to a fixpoint: stable when no edge
        # changed in either direction (counts alone can tie-break-
        # collide, so check both set differences).
        grew = nxt.join(cur, ["u", "v"], "left_anti").limit(1).count()
        shrank = cur.join(nxt, ["u", "v"], "left_anti").limit(1).count()
        cur = nxt
        if grew == 0 and shrank == 0:
            break
    else:  # pragma: no cover - deterministic graphs converge well under cap
        raise RuntimeError(f"alternating_cc: no fixpoint in {MAX_ROUNDS}")
    labels = nodes.join(
        cur.select(F.col("u").alias("node"), F.col("v").alias("lbl")),
        "node",
        "left",
    ).select(
        "node", F.coalesce("lbl", F.col("node")).alias("label")
    )
    return labels, rounds
