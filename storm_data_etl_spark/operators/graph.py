"""Iterative graph algorithms as DataFrame loops.

Complements operators.dedup's connected components (used for near-dup
cluster assignment) with PageRank-style power iteration — the standard
"importance" propagation over entity graphs a curation pipeline derives
from its corpus (document link graphs, supplier/customer interaction
graphs, author networks).

Scale shape per iteration: one shuffle joining ranks to edges on `src`
(both sides partitioned on the key — co-partitioning is reused across
iterations by AQE) plus one shuffle for the contribution aggregate on
`dst`. The plan is unrolled for a fixed iteration count; for deep
iteration counts checkpoint/localCheckpoint every ~5 rounds to truncate
lineage — same guidance as dedup.connected_components.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from storm_data_etl_spark.session import pin as _pin


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    checkpoint_interval: int = 5,
) -> DataFrame:
    """Power-iteration PageRank over a directed edge list (`src`, `dst`).

    Classic formulation (Spark's own example semantics): every node starts
    at rank 1.0; each round a node sends rank/outdegree along its out-edges
    and ranks become ``(1 - damping) + damping * incoming``. Nodes without
    in-edges settle at ``1 - damping``; dangling nodes (no out-edges)
    simply don't contribute. Returns (node, rank).

    The unrolled plan references the node set once per iteration and the
    degree-joined edge list in every contribution join — without
    materialization Spark recomputes the (possibly expensive) upstream
    edge derivation for each reference. Both loop invariants are pinned
    (MEMORY_AND_DISK), and ranks are ``localCheckpoint``ed every
    ``checkpoint_interval`` rounds so deep iteration counts don't build
    an unboundedly nested plan.
    """
    edges = edges.select("src", "dst")
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("_outdeg"))
    e = edges.join(deg, "src")
    # loop invariants consumed lazily by the returned ranks — the
    # caller owns the cache lifetime (session.release_pinned()).
    # Optimization r12 (guide §2.4, "two operations keyed the same way
    # share one exchange"): pin the invariants ALREADY partitioned on
    # their loop join keys — e on src (the contribution join's key),
    # nodes on node (the rank join's key). Every per-round join then
    # finds both sides co-partitioned (ranks inherits hash(node) from
    # the previous round's join and the rename to src is alias-aware),
    # so the only exchange left per iteration is the unavoidable
    # contribution re-key dst -> node.
    nodes = _pin(nodes.repartition("node"))
    e = _pin(e.repartition("src"))
    ranks = nodes.withColumn("rank", F.lit(1.0))
    for i in range(iterations):
        contribs = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("_outdeg")).alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").alias("_contrib"))
        )
        ranks = nodes.join(contribs, "node", "left").select(
            "node",
            (
                F.lit(1.0 - damping)
                + F.lit(damping) * F.coalesce(F.col("_contrib"), F.lit(0.0))
            ).alias("rank"),
        )
        if (i + 1) % checkpoint_interval == 0 and (i + 1) < iterations:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def label_propagation(
    edges: DataFrame,
    iterations: int = 2,
    checkpoint_interval: int = 5,
) -> DataFrame:
    """Synchronous label-propagation community detection over an undirected
    edge list (`src`, `dst`; symmetrized and deduplicated internally).

    Every node starts labeled with its own id; each round a node adopts
    the label most frequent among its neighbors, ties broken by the
    SMALLEST label — fully deterministic, unlike the textbook
    random-order variant, so results are reproducible and
    oracle-checkable. Returns (node, label).

    Per round: one shuffle joining labels to edges on dst, one grouped
    count on (src, label), one row_number window on src — all uniform
    keys. The symmetric edge list is the loop invariant (pinned);
    labels are localCheckpoint'ed every ``checkpoint_interval`` rounds
    (same lineage regime as `pagerank`).
    """
    sym = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )
    # Optimization r12 (guide §2.4): pin the symmetric edge list
    # partitioned on the per-round join key so the corpus-sized side
    # never re-shuffles inside the loop.
    sym = _pin(sym.repartition("dst"))
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for i in range(iterations):
        counts = (
            sym.join(
                labels.select(F.col("node").alias("dst"), F.col("label").alias("nlab")),
                "dst",
            )
            .groupBy("src", "nlab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # Optimization r12 (guide §2.3 "aggregate before you shuffle"): the
        # most-frequent-label pick is an argmin aggregate
        # min(struct(-c, nlab)) — identical to the row_number()=1 over
        # (c DESC, nlab ASC) it replaces (exact integers), but partially
        # aggregatable map-side and free of the window's sort + exchange.
        labels = (
            counts.groupBy("src")
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("negc"), F.col("nlab").alias("nlab"))
                ).alias("b")
            )
            .select(F.col("src").alias("node"), F.col("b.nlab").alias("label"))
        )
        if (i + 1) % checkpoint_interval == 0 and (i + 1) < iterations:
            labels = labels.localCheckpoint(eager=True)
    return labels


def kcore(edges: DataFrame, k: int = 3, rounds: int = 2) -> DataFrame:
    """Fixed-round k-core peeling over an undirected edge list (`src`,
    `dst`; symmetrized and deduplicated internally).

    Each round drops every node whose current degree is < k and restricts
    the edge set to surviving endpoints — the standard distributed peeling
    formulation (one grouped degree count + two semi-joins per round, all
    on uniform node keys). A bounded `rounds` keeps the plan size fixed
    and oracle-unrollable; full-core convergence just raises `rounds`
    (degeneracy peeling converges in O(peel depth) rounds). Returns
    (node, degree) for nodes whose degree after the final restriction is
    still ≥ k — i.e. members of the (k, rounds)-approximate core, exact
    when an extra round removes nothing.

    The symmetric edge list is re-persisted per round (it is both the
    degree-count input and the restriction target — two references), and
    the prior round's cache is released once the new one materializes.
    """
    sym = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .persist()
    )
    cur = sym
    for _ in range(rounds):
        deg = cur.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("src")
        nxt = (
            cur.join(keep, "src")
            .join(keep.withColumnRenamed("src", "dst"), "dst")
            .select("src", "dst")
            .persist()
        )
        nxt.count()
        cur.unpersist()
        cur = nxt
    _pin(cur)  # idempotent re-persist: registers the surviving cache for release
    out = (
        cur.groupBy("src")
        .agg(F.count(F.lit(1)).alias("degree"))
        .filter(F.col("degree") >= k)
        .select(F.col("src").alias("node"), "degree")
    )
    return out


def bfs_layers(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 4,
) -> DataFrame:
    """Breadth-first hop distances from a seed set over a directed edge
    list (`src`, `dst`): returns (node, dist) with dist = the minimum hop
    count from any seed, bounded at ``max_hops`` (unreached nodes are
    absent — the caller decides how to report them).

    Level-synchronous frontier expansion: each round joins the CURRENT
    frontier (only nodes first reached last round — not the whole visited
    set) against the edge list, then anti-joins visited so distances are
    final the round they appear. The edge list is the loop invariant
    (pinned); the frontier is localCheckpointed each round so the plan
    never nests ``max_hops`` joins deep. This is the distributed BFS a
    100 TB graph needs: per-round cost is |frontier-adjacent edges|, and
    every shuffle keys on the node id."""
    edges = _pin(edges.select("src", "dst"))
    visited = seeds.select(F.col("node")).distinct().withColumn(
        "dist", F.lit(0)
    )
    frontier = visited
    for h in range(1, max_hops + 1):
        reached = (
            edges.join(frontier.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("dist", F.lit(h))
        )
        reached = reached.localCheckpoint(eager=True)
        visited = visited.unionByName(reached)
        frontier = reached
    return visited
