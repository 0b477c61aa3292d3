"""Eigenvector centrality (Bonacich 1972) over the directed link graph —
the undamped principal-eigenvector score PageRank regularizes: x' =
A^T x / ||A^T x||_2, iterated from the uniform vector.

The reference ranks by the damped/normalized surfer eigenvector
(reference pagerank.py:140-168); raw eigenvector centrality completes
the spectral family next to katz (truncated path counting) and cheirank
(the transposed surfer): it weights a page by the centrality mass of its
in-linkers with NO out-degree normalization and NO teleport, so it
concentrates on the dominant link core — the classic "authority by
association" score, and the reason PageRank needs damping at all
(sources outside the core decay to exactly 0 here, which is itself a
useful "core membership" signal).

A FIXED iteration count keeps the score exactly reproducible in the
DuckDB oracle (the label_propagation3/katz convention). Cross-engine
bit-stability through the normalization: the iterate is 9dp-quantized
every round, so the SpMV sums 9dp DECIMALs exactly; the squared norm
sums 15dp-quantized squares in DECIMAL(38,15) (the cluster_quality
recipe); sqrt and the division are single IEEE-754 ops on identical
inputs. Scale shape: identical to the katz/PageRank-v1 loop — the
distinct edge table is hash-partitioned by ``src`` once and persisted,
each round shuffles only the vertex-sized score vector plus one
map-side-combined sum by ``dst``. The rounds run on plans/fixpoint.iterate:
the norm aggregate is the round's one action (it materializes the lazy
checkpoint that cuts lineage), and the normalization divides by it as a
``lit()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.operators.katz import _src_layout
from pagerank_spark.plans.fixpoint import iterate


def eigenvector_centrality(
    edges: DataFrame,
    iterations: int = 6,
    num_partitions: int | None = None,
) -> DataFrame:
    """(url, eig) after exactly ``iterations`` synchronous power steps
    from the uniform unit vector over the DISTINCT directed edge set
    (multi-edges collapse — adjacency, not multiplicity). Vertices with
    no inbound path from the dominant core decay to 0.0; if the whole
    vector reaches 0 (acyclic graph iterated past its depth) the zero
    vector is returned rather than a 0/0 artifact."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    e, verts, n = _src_layout(edges, num_partitions, distinct=True)

    def step(x: DataFrame, _k: int) -> DataFrame:
        contrib = (
            e.join(x.withColumnRenamed("url", "src"), "src")
            .groupBy(F.col("dst").alias("url"))
            .agg(F.sum(F.col("x").cast("decimal(38,9)")).cast("double").alias("_y"))
        )
        return verts.join(contrib, "url", "left").select(
            "url", F.coalesce(F.col("_y"), F.lit(0.0)).alias("_y")
        )

    def project(y: DataFrame, s, _k: int):
        nrm = s["_n"]
        x = F.round(F.col("_y") / F.lit(nrm), 9) if nrm else F.lit(0.0)
        return y.select("url", x.alias("x")), None

    # squared norm: 15dp-quantized squares summed in DECIMAL(38,15)
    sq = F.round(F.col("_y") * F.col("_y"), 15).cast("decimal(38,15)")
    x0 = verts.withColumn("x", F.round(F.lit(1.0) / F.sqrt(F.lit(float(n))), 9))
    try:
        x = iterate(
            "eigenvector", x0, step, range(iterations),
            stats=[F.sqrt(F.sum(sq).cast("double")).alias("_n")], project=project,
        )
        return x.select("url", F.col("x").alias("eig"))
    finally:
        e.unpersist()
        verts.unpersist()
