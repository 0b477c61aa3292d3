"""Graph feature propagation (SGC / APPNP-style smoothing): k rounds of

    x'(v) = (1 - lam) * x(v) + lam * mean_{u -> v} x(u)

over a per-vertex feature/embedding table — the standard "precompute the
GNN aggregation offline" step (Wu et al. 2019's SGC reduces a GCN to
exactly this followed by a linear model; PPRGo/APPNP use the same shape
with PPR weights). Curation use: smoothing document embeddings over the
link graph denoises isolated outliers and strengthens cluster structure
before ANN / dedup / cluster-quality passes — the engine's similarity
stack runs unchanged on the propagated vectors.

Layout: FEATURE-DIMENSION-PARALLEL — the state is the exploded
(url, dim, x) table, so every shuffle row is a fixed ~16-byte payload
and a 10^7-degree hub never materializes a per-row array buffer. Per
round: ONE src-keyed equi-join of the state against the distinct edge
table, a partial-aggregated (dst, dim) mean (map-side combine), and one
left join back to the state — shuffle volume O(E*d). The rounds run on
plans/fixpoint.iterate; each round's one action is its eager
localCheckpoint. For very wide features the CSR-blocked array path
(operators/pagerank_csr.py) is the alternative; the exploded form is the
one that composes with plain DataFrame ops and the DuckDB twin.

Cross-engine bit-stability (the katz/eigenvector recipe): the state is
9dp-quantized every round, the neighbor sum runs in DECIMAL(38,9)
(exact), the mean is one double division, and the convex update is one
fixed IEEE expression tree.

Semantics: propagation runs among the FEATURE-BEARING vertices — edges
from vertices without a feature row contribute nothing, and vertices
with no in-neighbors mix with 0 (their features decay toward the
lam-complement; pass lam=0 columns through untouched). Multi-edges
collapse (mean over the distinct in-neighbor set).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.plans.fixpoint import iterate


def feature_propagation(
    edges: DataFrame,
    features: DataFrame,
    rounds: int = 2,
    lam: float = 0.5,
    url_col: str = "url",
    dim_col: str = "dim",
    x_col: str = "x",
) -> DataFrame:
    """(url, dim, x) — the feature table after ``rounds`` synchronous
    propagation steps. ``features`` is the exploded per-dimension form;
    values are 9dp-quantized on entry and after every round. ``lam`` in
    [0, 1]; dyadic values (0.5, 0.25) are exact in both engines."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    if not (0.0 <= lam <= 1.0):
        raise ValueError("lam must be in [0, 1]")
    from pagerank_spark.operators.textops import hexint15

    # the loop runs on 60-bit md5 VERTEX IDS, not url strings: the E*d
    # exploded shuffle rows shrink from ~40+ bytes (url, dim, x) to 20
    # (int64, int32, double) — measured ~2x on the 64-dim 1M-edge bench
    # substrate. Same collision budget (~n^2/2^61) the dedup/minhash
    # stack accepts; the url spine is joined back once at the end.
    e = (
        edges.select(
            hexint15(F.col("src").cast("string")).alias("s"),
            hexint15(F.col("dst").cast("string")).alias("d"),
        )
        .distinct()
        .repartition("s")
        .persist()
    )
    # materialize the (possibly expensive) features input ONCE — spine
    # and state both derive from it
    base = features.select(
        F.col(url_col).cast("string").alias("url"),
        F.col(dim_col).cast("int").alias("dim"),
        F.round(F.col(x_col).cast("double"), 9).alias("x"),
    ).localCheckpoint(eager=True)
    spine = (
        base.select("url")
        .distinct()
        .select("url", hexint15(F.col("url")).alias("vid"))
        .localCheckpoint(eager=True)
    )
    x = base.select(
        hexint15(F.col("url")).alias("vid"), "dim", "x"
    ).localCheckpoint(eager=True)
    keep = float(1.0 - lam)

    def step(x: DataFrame, _k: int) -> DataFrame:
        contrib = (
            e.join(x.withColumnRenamed("vid", "s"), "s")
            .groupBy(F.col("d").alias("vid"), "dim")
            .agg(
                (
                    F.sum(F.col("x").cast("decimal(38,9)")).cast("double")
                    / F.count(F.lit(1))
                ).alias("_m")
            )
        )
        return x.join(contrib, ["vid", "dim"], "left").select(
            "vid",
            "dim",
            F.round(
                F.lit(keep) * F.col("x")
                + F.lit(float(lam)) * F.coalesce(F.col("_m"), F.lit(0.0)),
                9,
            ).alias("x"),
        )

    try:
        x = iterate("feature_propagation", x, step, range(rounds))
        return spine.join(x, "vid").select("url", "dim", "x")
    finally:
        e.unpersist()
