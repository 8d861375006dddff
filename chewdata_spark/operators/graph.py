"""Distributed connected components for duplicate clustering.

Pairwise near-dup output (MinHash-LSH, SimHash, n-gram Jaccard) is a
graph; production dedup keeps ONE document per connected component,
not per pair — greedy pair-dropping over-deletes when A~B, B~C but
A≁C chains overlap.  This module turns candidate pairs into cluster
assignments.

The algorithm is alternating large-star/small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14): each round
is two self-free DataFrame aggregations + joins, and the edge set
converges to a star per component in O(log n) rounds — the right
shape at 100 TB, where min-label propagation's O(diameter) rounds and
GraphX's RDD machinery both lose.  Each round ends in
``localCheckpoint`` to truncate lineage (iterative plans otherwise
grow exponentially in Catalyst).

Reference parity: chewdata has no graph operator — this is part of the
beyond-reference LLM-pipeline surface (dedup family), same tier as
MinHash-LSH in operators/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _star_round(edges: DataFrame, large: bool) -> DataFrame:
    """One large-star (connect strictly-larger neighbors to the local
    min) or small-star (connect smaller-or-equal neighbors to the local
    min) round.  ``edges`` columns: u, v; output is the new edge set in
    the same shape, self-loops dropped."""
    adj = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    local_min = (
        adj.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .withColumn("m", F.least("mn", "u"))
        .select("u", "m")
    )
    joined = adj.join(local_min, "u")
    if large:
        out = joined.filter(F.col("v") > F.col("u")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
    else:
        out = (
            joined.filter(F.col("v") <= F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(local_min.select(F.col("u"), F.col("m").alias("v")))
        )
    return out.filter(F.col("u") != F.col("v")).distinct()


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    *,
    max_iter: int = 25,
) -> DataFrame:
    """Cluster assignment ``(node, cluster_id)`` for every node that
    appears in ``pairs``; ``cluster_id`` is the component's minimum
    node id (deterministic, engine-independent).

    Convergence is detected by edge-set stability (an anti-join count,
    cheap relative to the round itself); ``max_iter`` is a guard far
    above the O(log n) bound for any realistic graph.
    """
    edges = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # r15 (guide §1.2/§2.4): the stability check used to run TWO
    # exceptAll probes per round — each a full shuffle of both edge
    # sets, paid even in the (majority) rounds that are provably not
    # converged.  Edge sets are distinct-deduped, so set equality is
    # |new| == |old| AND new \ old = 0: the count (a cheap scan of the
    # just-checkpointed blocks, no shuffle) short-circuits every
    # non-converged round, and the single one-directional exceptAll
    # runs only when the counts already match.
    n_edges = edges.count()
    converged = False
    for _ in range(max_iter):
        new_edges = _star_round(_star_round(edges, large=True), large=False)
        new_edges = new_edges.localCheckpoint(eager=True)
        n_new = new_edges.count()
        if n_new == n_edges and new_edges.exceptAll(edges).isEmpty():
            edges = new_edges
            converged = True
            break
        edges, n_edges = new_edges, n_new
    if not converged:
        # returning labels from an unstable edge set would silently
        # under-merge clusters — fail loudly instead
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter (the alternating-star bound is O(log n))"
        )
    # converged: every edge points node -> component min (a star);
    # re-derive labels from both directions so the root labels itself
    labels = (
        edges.select(F.col("u").alias("node"), F.col("v").alias("lbl"))
        .union(edges.select(F.col("v").alias("node"), F.col("v").alias("lbl")))
        .groupBy("node")
        .agg(F.min("lbl").alias("cluster_id"))
    )
    return labels


def cluster_dedup(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Corpus with one survivor (minimum id) per duplicate cluster:
    drop every node whose component label differs from its own id.
    Unpaired documents pass through untouched (left anti-join on the
    drop set — one broadcast-able shuffle over the small cluster
    table, one pass over the corpus)."""
    labels = connected_components(pairs, src, dst)
    drop = labels.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


def pagerank(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    iters: int = 2,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank over a directed edge list, ``iters`` power iterations
    from the uniform distribution.  Ranks round to 6 dp after every
    iteration, so the computation is engine-portable and a SQL oracle
    replays each round bit-for-bit (the same determinism device as
    :func:`~chewdata_spark.operators.similarity.kmeans_lloyd`).

    Scale shape per iteration: one (node)-keyed aggregation of
    contributions joined back through the edge list — the standard
    DataFrame PageRank; the edge relation is the only large operand and
    it shuffles once per round on src.  Dangling mass is redistributed
    implicitly via the (1-d)/N teleport only (matching the common
    simplified formulation).  Returns (node, pr).
    """
    # the edge relation feeds nodes, out-degrees and every iteration's
    # contribution join — truncate lineage so an expensive edge
    # derivation (join + distinct upstream) runs ONCE, exactly like the
    # per-round checkpoints in connected_components
    edges = edges.localCheckpoint(eager=False)
    # r15 examined + DECLINED: lazily checkpointing `nodes`/`out_deg`
    # (node-grain, re-appearing in every round's plan) measured 0.87x —
    # SLOWER — in an interleaved A/B (OPTIMIZATION_r15.md, "Examined and
    # DECLINED: pagerank node-grain checkpoints"): ReuseExchange
    # already deduplicates the repeated distinct/aggregate subtrees
    # within the one final plan, so the checkpoints only added
    # materialization cost.  Left as the single edge checkpoint.
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    n_nodes = nodes.agg(F.count(F.lit(1)).alias("_n"))
    out_deg = edges.groupBy(src).agg(F.count(F.lit(1)).alias("_deg"))
    pr = nodes.crossJoin(F.broadcast(n_nodes)).select(
        "node", F.round(F.lit(1.0) / F.col("_n"), 6).alias("pr")
    )
    for _ in range(iters):
        contrib = (
            edges.join(pr.withColumnRenamed("node", src), src)
            .join(out_deg, src)
            .select(F.col(dst).alias("node"), (F.col("pr") / F.col("_deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("in_sum"))
        )
        pr = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(n_nodes))
            .select(
                "node",
                F.round(
                    (1.0 - damping) / F.col("_n")
                    + damping * F.coalesce(F.col("in_sum"), F.lit(0.0)),
                    6,
                ).alias("pr"),
            )
        )
    return pr


def kcore_peel(
    edges: DataFrame, *, k: int = 4, rounds: int = 3
) -> DataFrame:
    """k-core peeling trajectory: ``rounds`` iterations of "drop every
    node with degree < k, then drop orphaned edges" over an undirected
    (u < v) edge relation — the standard dense-subgraph / spam-cluster
    extraction primitive.  A fixed round count (not run-to-convergence)
    keeps the computation engine-replayable; each round is one degree
    aggregation + two semi-joins on the shrinking edge relation, the
    same O(rounds × |E|) shape as the large-star/small-star rounds of
    :func:`connected_components`.  Returns one row per round:
    ``(round, n_nodes, n_edges)`` of the surviving subgraph (n_nodes
    counts nodes still carrying an edge).
    """
    def _deg(rel: DataFrame) -> DataFrame:
        return (
            rel.select(F.col("u").alias("node"))
            .union(rel.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )

    out = None
    # truncate iterative lineage per round (localCheckpoint): the
    # snapshot row and the next round's degree pass otherwise RECOMPUTE
    # rounds 1..r-1 from scratch per consumer (O(rounds² × |E|)) — same
    # device as connected_components / the persisted ingest signatures
    cur = edges.select("u", "v").localCheckpoint(eager=False)
    deg = _deg(cur)
    for r in range(1, rounds + 1):
        keep = deg.filter(F.col("d") >= k).select("node")
        cur = (
            cur.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .localCheckpoint(eager=False)
        )
        # ONE degree relation per round serves both the round-r
        # snapshot (deg holds every surviving node; Σd = 2|E|) and the
        # next round's keep filter — no extra union-distinct passes
        deg = _deg(cur)
        row = deg.agg(
            F.lit(r).cast("int").alias("round"),
            F.count(F.lit(1)).alias("n_nodes"),
            (F.coalesce(F.sum("d"), F.lit(0)) / 2).cast("long").alias("n_edges"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def label_propagation(
    edges: DataFrame, *, rounds: int = 2
) -> DataFrame:
    """Semi-synchronous label propagation (Raghavan et al. 2007) over
    an undirected (u < v) edge relation: every node starts as its own
    label and each round adopts the most frequent label among its
    neighbors, smallest label breaking ties — the deterministic variant
    (classic LPA tie-breaks randomly; the min tie-break makes the whole
    trajectory engine-replayable, like the fixed-round k-core/PageRank
    devices here).  Unlike min-label flooding (which converges to
    connected components), frequency adoption finds dense communities
    inside a component.

    One neighbor-join + one (node, label) count + one bounded
    per-node window per round — O(rounds × |E|), lineage truncated per
    round.  Returns (node, community) after ``rounds`` rounds."""
    nbr = edges.select(F.col("u").alias("node"), F.col("v").alias("nb")).union(
        edges.select(F.col("v").alias("node"), F.col("u").alias("nb"))
    ).localCheckpoint(eager=False)
    labels = nbr.select("node").distinct().select(
        "node", F.col("node").alias("label")
    )
    from pyspark.sql.window import Window

    for _ in range(rounds):
        cnt = (
            nbr.join(
                labels.select(
                    F.col("node").alias("nb"), F.col("label").alias("nb_label")
                ),
                "nb",
            )
            .groupBy("node", "nb_label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = Window.partitionBy("node").orderBy(
            F.col("c").desc(), F.col("nb_label").asc()
        )
        labels = (
            cnt.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("node", F.col("nb_label").alias("label"))
            .localCheckpoint(eager=False)
        )
    return labels.select("node", F.col("label").alias("community"))
