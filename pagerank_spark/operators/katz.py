"""Katz centrality over the directed link graph.

The reference ranks pages by the PageRank eigenvector (pagerank.py:140-168);
Katz (1953) is the other classic spectral link score — it counts ALL inbound
paths, damped by length, instead of the random-surfer stationary mass:

    x_{k+1}(v) = alpha * sum_{u -> v} x_k(u) + beta,    x_0 = 0

so after K iterations x(v) = beta * sum_{j=0..K-1} alpha^j (#paths of length
j ending at v) — the truncated Neumann series of (I - alpha*A^T)^(-1) beta 1.
Unlike PageRank the adjacency is NOT row-normalized and there is no dangling
redistribution, which makes Katz the better hub-magnitude signal on crawl
graphs where out-degree itself is meaningful (link farms inflate PageRank's
normalized contributions; Katz exposes raw in-path mass).

Spark shape — same scale story as the PageRank v1 loop (operators/pagerank.py):
the edge table is hash-partitioned by ``src`` ONCE and persisted; each
iteration shuffles only the vertex-sized score vector into that layout
(sort-merge join against the cached side, no edge movement), then one
map-side-combined sum by ``dst``; the rounds run on plans/fixpoint.iterate
(one eager localCheckpoint per round). A fixed iteration count K keeps the
semantics exactly reproducible in the DuckDB oracle (a recursive CTE runs
the identical update), the same spelling label_propagation3 uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.plans.fixpoint import iterate


def _src_layout(edges: DataFrame, num_partitions: int | None, distinct: bool = False):
    """(e, verts, n): the (src, dst) string edges (``distinct`` collapses
    multi-edges) hash-partitioned by src, the vertex set, both persisted
    and materialized, and the vertex count. The caller unpersists both."""
    e = edges.select(
        F.col("src").cast("string").alias("src"),
        F.col("dst").cast("string").alias("dst"),
    )
    e = e.distinct() if distinct else e
    e = e.repartition(num_partitions, "src") if num_partitions else e.repartition("src")
    e = e.persist()
    verts = (
        e.select(F.col("src").alias("url"))
        .union(e.select(F.col("dst").alias("url")))
        .distinct()
        .persist()
    )
    return e, verts, verts.count()


def katz_centrality(
    edges: DataFrame,
    alpha: float = 0.05,
    beta: float = 1.0,
    iterations: int = 8,
    num_partitions: int | None = None,
) -> DataFrame:
    """(url, katz) after exactly ``iterations`` synchronous updates from
    x_0 = 0 (so one iteration yields the constant beta). Parallel edges
    count multiply, exactly as the path-counting semantics demand; the
    caller dedups first if it wants simple-graph Katz.

    alpha must sit below 1/lambda_max(A) for the infinite series to
    converge; the truncated K-step score is well-defined (and oracle-exact)
    for any alpha.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    e, verts, _ = _src_layout(edges, num_partitions)

    def step(x: DataFrame, _k: int) -> DataFrame:
        contrib = (
            e.join(x.withColumnRenamed("url", "src"), "src")
            .groupBy(F.col("dst").alias("url"))
            .agg(F.sum("x").alias("c"))
        )
        return (
            verts.join(contrib, "url", "left")
            .withColumn(
                "x",
                F.lit(float(alpha)) * F.coalesce(F.col("c"), F.lit(0.0))
                + F.lit(float(beta)),
            )
            .drop("c")
        )

    try:
        # x after iteration 1: alpha * A^T * 0 + beta = beta everywhere
        x = iterate("katz", verts.withColumn("x", F.lit(float(beta))), step,
                    range(1, iterations))
        return x.select("url", F.col("x").alias("katz"))
    finally:
        e.unpersist()
        verts.unpersist()
