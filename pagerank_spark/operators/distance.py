"""Minimum link distance from a seed set (level-synchronous BFS).

Web-corpus curation uses hop distance from a trusted frontier constantly —
crawl-depth caps, "within k clicks of a seed list" selection, and the
seed-distance feature TrustRank-style systems threshold on. The reference
has no multi-hop operator (its ratio filter is single-hop); this is the
standard Spark formulation: level-synchronous frontier expansion, the same
shape Pregel/GraphX BFS lowers to.

Every sweep here runs on ``plans/fixpoint.sweep``: the state is every
settled row plus its ``level``, one checkpoint per level, and a level is
one src-keyed join of the (small) previous level against the edge table,
a distinct or a map-side-combined aggregate on the discovered endpoints,
and a LEFT ANTI join against the settled keys — shuffles are bounded by
frontier and settled sizes (vertex-sized), never edge-sized beyond the
join itself. The level's one action, its row count, is inherent to BFS
(level k+1 cannot be scheduled until level k is known) and also
materializes the level's checkpoint, so lineage stays flat at any depth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.plans.fixpoint import LEVEL, iterate, release, sweep


def link_distance(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int = 10,
) -> DataFrame:
    """(url, dist) — minimum number of directed hops from any seed url,
    settled per level (dist 0 = the seeds themselves, capped at
    ``max_depth``; unreachable urls are absent)."""
    e = edges.select(F.col("src").cast("string"), F.col("dst").cast("string"))
    x, _ = sweep(
        "link_distance",
        seeds.select(F.col("url").cast("string")).distinct(),
        lambda f: f.join(e, f["url"] == e["src"]).select(F.col("dst").alias("url")).distinct(),
        ["url"], max_depth,
    )
    return x.select("url", F.col(LEVEL).alias("dist"))


def nearest_seed(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int = 10,
) -> DataFrame:
    """Graph Voronoi partition: (url, seed, dist) assigning every reachable
    vertex to its CLOSEST seed — the label a seed-propagation curation pass
    wants ("which trusted hub does this page belong to?"), and the
    assignment step of graph k-center/landmark clustering. Ties (two seeds
    at equal distance) break to the lexicographically smallest seed, so the
    partition is deterministic.

    Unlike :func:`multi_source_distance` (whose state is (source, url)-keyed
    — k sources cost a k×-wide frontier), the Voronoi frontier keeps ONE row
    per vertex: after each expansion a ``min(seed)`` aggregate settles
    every newly-reached vertex exactly once, so state and shuffles stay
    vertex-sized no matter how many seeds there are. Per level: one
    src-keyed join against the edge table, one anti-join against the
    settled set, one map-side-combined min aggregate.
    """
    e = edges.select(F.col("src").cast("string"), F.col("dst").cast("string"))
    x, _ = sweep(
        "nearest_seed",
        seeds.select(F.col("url").cast("string")).distinct()
        .select("url", F.col("url").alias("seed")),
        lambda f: f.join(e, f["url"] == e["src"]).select(F.col("dst").alias("url"), "seed"),
        ["url"], max_depth,
        reduce=lambda new: new.groupBy("url").agg(F.min("seed").alias("seed")),
    )
    return x.select("url", "seed", F.col(LEVEL).alias("dist"))


def multi_source_distance(
    edges: DataFrame,
    sources: DataFrame,
    max_depth: int = 10,
) -> DataFrame:
    """(source, url, dist) — minimum directed hop distance from EACH source
    separately (dist 0 = the source itself; unreachable pairs absent) —
    the per-seed variant of :func:`link_distance` (which settles the MIN
    over a seed set). State is (source, url)-keyed, so k sources cost one
    BFS whose frontier is at most k× wider — the standard landmark/sample
    sweep (Eppstein-Wang style centrality estimation runs on exactly this).

    Same scale shape as link_distance: per level one src-keyed join of the
    frontier against the edge table, a distinct, and an anti-join against
    the settled (source, url) set.
    """
    e = edges.select(F.col("src").cast("string"), F.col("dst").cast("string"))
    x, _ = sweep(
        "multi_source_distance", _sources(sources),
        lambda f: f.join(e, f["url"] == e["src"])
        .select("source", F.col("dst").alias("url")).distinct(),
        ["source", "url"], max_depth,
    )
    return x.select("source", "url", F.col(LEVEL).alias("dist"))


def _sources(sources: DataFrame) -> DataFrame:
    """(source, url) level-0 rows: each source at itself."""
    return (
        sources.select(F.col("url").cast("string").alias("source"))
        .distinct()
        .select("source", F.col("source").alias("url"))
    )


def betweenness_sample(
    edges: DataFrame,
    sources: DataFrame,
    max_depth: int = 10,
) -> DataFrame:
    """Sampled betweenness centrality: (url, betweenness) — Brandes (2001)
    dependency accumulation over the exact shortest-path DAGs of a SOURCE
    SAMPLE, depth-capped — the pivot/landmark estimator of Brandes-Pich
    2007 (k pivots cost k BFS sweeps instead of |V|; scores are the raw
    dependency sums over the sample, unnormalized). The one classic
    centrality the engine lacked next to PageRank/Katz/HITS/closeness:
    "which pages sit ON the shortest click-paths" rather than "which pages
    get linked".

    Forward pass: a ``sweep`` with (source, url)-keyed state (the
    multi_source_distance skeleton) carrying sigma = #shortest paths —
    exact BIGINTs, aggregated with one partial-agg SUM per level instead of
    a distinct. Backward pass: ``iterate`` over the levels deepest-first on
    the (source, url, sigma, level, delta) state, where level d's
    checkpoint replaces its forward rows;
    delta(u) = sum over DAG successors v of sigma_u/sigma_v * (1+delta_v),
    one hash equi-join against the edge table and one against the level
    d+1 rows per level. betweenness(v) = sum of delta(s, v) over the
    sample, v != s (level-0 rows excluded).

    Determinism contract for the DuckDB twin: sigma is exact integer
    arithmetic; each delta contribution is a fixed IEEE expression of
    exact sigmas and the previous level's quantized delta, ROUND(…,9) then
    DECIMAL-summed (order-independent), so every level — and the final
    per-url sum — is bit-identical across engines; output rounded 6 dp.

    Parallel edges are deduplicated (sigma counts paths in the simple
    digraph); self-loops never lie on a shortest path and are dropped by
    the settled-set anti-join.
    """
    if max_depth < 0:
        raise ValueError("max_depth must be >= 0")
    e = (
        edges.select(F.col("src").cast("string"), F.col("dst").cast("string"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    x, depth = sweep(
        "betweenness",
        _sources(sources).withColumn("sigma", F.lit(1).cast("bigint")),
        lambda f: f.join(e, f["url"] == e["src"])
        .select("source", F.col("dst").alias("url"), "sigma"),
        ["source", "url"], max_depth,
        reduce=lambda new: new.groupBy("source", "url")
        .agg(F.sum("sigma").cast("bigint").alias("sigma")),
    )
    if depth == 0:
        return x.select("url", F.lit(0.0).alias("betweenness")).where(F.lit(False))
    lvl, fwd = F.col(LEVEL), x

    def step(x: DataFrame, d: int) -> DataFrame:
        nonlocal state
        state = x
        u, v = x.where(lvl == d).alias("u"), x.where(lvl == d + 1).alias("v")
        contrib = (
            u.join(e.alias("ed"), F.col("u.url") == F.col("ed.src"))
            .join(
                v,
                (F.col("v.source") == F.col("u.source"))
                & (F.col("v.url") == F.col("ed.dst")),
            )
            .select(
                F.col("u.source").alias("source"),
                F.col("u.url").alias("url"),
                F.round(
                    (F.col("u.sigma").cast("double") / F.col("v.sigma").cast("double"))
                    * (F.lit(1.0) + F.col("v.delta").cast("double")),
                    9,
                )
                .cast("decimal(28,9)")
                .alias("c"),
            )
            .groupBy("source", "url")
            .agg(F.sum("c").cast("decimal(28,9)").alias("sd"))
        )
        return x.where(lvl == d).join(contrib, ["source", "url"], "left").select(
            "source", "url", "sigma", F.coalesce(F.col("sd"), F.col("delta")).alias("delta"),
        )

    # level d's checkpoint replaces its forward rows in the state
    state = None
    x = iterate(
        "betweenness.back",
        fwd.withColumn("delta", F.lit(0).cast("decimal(28,9)")),
        step, range(depth - 1, 0, -1),
        project=lambda frame, _row, d: (
            state.where(lvl != d).unionByName(frame.withColumn(LEVEL, F.lit(d))), None
        ),
    )
    out = x.where(lvl > 0).groupBy("url").agg(
        F.round(F.sum("delta").cast("double"), 6).alias("betweenness")
    )
    release(fwd, keep=out)
    release(e)
    return out


def closeness_sample(
    edges: DataFrame,
    sources: DataFrame,
    max_depth: int = 10,
) -> DataFrame:
    """Exact (depth-capped) out-closeness for a SAMPLE of source vertices:
    (source, n_reached, total_dist, closeness) with
    ``closeness = n_reached / total_dist`` over the vertices reached in
    1..max_depth hops (Bavelas 1950 form, reachable-only — the convention
    for disconnected graphs; Wasserman-Faust rescaling is a caller-side
    multiply). NULL when the source reaches nothing.

    This is the exact-landmark complement to the HyperBall estimate
    (hyperball.harmonic_centrality): run it on a deterministic vertex
    sample to calibrate/validate the sketch, or on a handful of hub pages
    where exact values matter. Cost = one multi-source BFS + one
    source-keyed rollup.
    """
    d = multi_source_distance(edges, sources, max_depth=max_depth)
    reached = d.where(F.col("dist") > 0)
    return (
        d.select("source")
        .distinct()
        .join(
            reached.groupBy("source").agg(
                F.count(F.lit(1)).cast("long").alias("n_reached"),
                F.sum("dist").cast("long").alias("total_dist"),
            ),
            "source",
            "left",
        )
        .select(
            "source",
            F.coalesce(F.col("n_reached"), F.lit(0)).cast("long").alias("n_reached"),
            F.coalesce(F.col("total_dist"), F.lit(0)).cast("long").alias("total_dist"),
            F.when(
                F.col("total_dist") > 0,
                F.round(
                    F.col("n_reached").cast("double")
                    / F.col("total_dist").cast("double"),
                    9,
                ),
            ).alias("closeness"),
        )
    )


def distance_histogram(
    edges, sources, max_depth: int = 8
):
    """(dist, n_pairs) — the exact distance distribution from the
    ``sources`` landmark set (one row per BFS depth 0..``max_depth``
    that has any pair): the small-multiple view behind mean/median
    distance and the exact calibrator for HyperBall's estimated
    neighborhood function. One tiny rollup over
    :func:`multi_source_distance`'s (source, url, dist) rows — the BFS
    cost structure (frontier-sized shuffles, one action per level) is
    inherited unchanged."""
    d = multi_source_distance(edges, sources, max_depth=max_depth)
    return (
        d.groupBy(F.col("dist").cast("long").alias("dist"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
