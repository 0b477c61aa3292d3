"""Power-iteration PageRank as DataFrame joins/aggregations.

Reference semantics (pagerank.py:122-172, "Deeper Inside PageRank" Eq 5.1):

    a_i   = 1 iff vertex i has no out-edges (dangling)
    v     = personalization / ||personalization||_2   (default uniform)
    x_0   = uniform / ||uniform||_2
    per iteration:
        q      = (alpha * x'a + (1 - alpha)) * v      (rank-1 dangling term)
        x_new  = alpha * P' x + q
        x_new /= ||x_new||_2                          (L2, NOT L1!)
        stop when ||x_new - x_prev||_2 < epsilon

Scale design (SURVEY.md §4):
  * edges are hash-partitioned on src once (LinkGraph) and the rank vector is
    checkpointed with the same partitioning on url, so the per-iteration
    edges-join-ranks is co-partitioned; the only unavoidable shuffle is the
    groupBy(dst) combine (map-side partial aggregation applies).
  * the rounds run on plans/fixpoint.iterate: per iteration ONE action,
    the fused stats aggregate over the new vector's lazy localCheckpoint,
    gives every scalar (dangling mass, norm, residual):
        norm      = sqrt(sum(x_un^2))
        residual  = sqrt(max(0, 2 - 2*sum(x_un*x_prev)/norm))
                    (both x_un/norm and x_prev are unit vectors)
        dangling  = sum(x_un * is_dangling)/norm      (for the NEXT iteration)
    AQE runs that action as several Spark jobs: measured 5 per iteration on
    both backends (pinned in tests/test_plan_audits.py).
  * one loop, power_iterate, serves both backends; a backend (SpMV) only
    supplies P'x — a join + aggregate here, block-local NumPy kernels in
    operators/pagerank_csr.py — plus its vertex key and partition layout.
  * durable checkpointing to a directory (resumable, with per-iteration
    manifests, plans/checkpoint.py) is part of the post-round projection.
  * driver scalars enter the next plan as lit() — Catalyst constant-folds.
"""

from __future__ import annotations

import math
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.plans.fixpoint import iterate, materialize


def _init_state(graph, v_df: DataFrame | None, x0_df: DataFrame | None = None) -> DataFrame:
    """Build (url, v, dangling, rank) with v L2-normalized and rank = x0.

    dangling detection = LEFT ANTI JOIN of vertices against edge sources
    (reference derives it from all-zero rows of P, pagerank.py:132-134).

    ``x0_df``: optional (url, rank) warm start (reference power_method's x0
    argument, pagerank.py:122,142-145) — L2-normalized here exactly like the
    reference's ``x0 /= torch.norm(x0)``. Vertices absent from x0 start at 0
    (any x0 with nonzero overlap converges to the same fixpoint); the
    streaming rebuild cadence passes the previous snapshot to roughly halve
    iterations per refresh.
    """
    n = graph.num_vertices()
    srcs = graph.edges.select(F.col("src").alias("url")).distinct()
    base = graph.vertices.join(
        srcs.withColumn("_nd", F.lit(1)), "url", "left"
    ).select(
        "url",
        F.when(F.col("_nd").isNull(), 1.0).otherwise(0.0).alias("dangling"),
    )
    if v_df is None:
        base = base.withColumn("v", F.lit(1.0 / math.sqrt(n)))
    else:
        # v_df is (url, v) L1-normalized; re-normalize to unit L2
        # (reference power_method does v /= torch.norm(v), pagerank.py:140)
        l2 = v_df.agg(F.sqrt(F.sum(F.col("v") * F.col("v")))).first()[0]
        base = base.join(v_df, "url", "left").fillna(0.0, ["v"]).withColumn(
            "v", F.col("v") / F.lit(float(l2))
        )
    if x0_df is None:
        return base.withColumn("rank", F.lit(1.0 / math.sqrt(n)))
    x0 = x0_df.select("url", F.col("rank").alias("_x0"))
    l2x = x0.agg(F.sqrt(F.sum(F.col("_x0") * F.col("_x0")))).first()[0]
    if not l2x or l2x <= 0:
        return base.withColumn("rank", F.lit(1.0 / math.sqrt(n)))
    return (
        base.join(x0, "url", "left")
        .fillna(0.0, ["_x0"])
        .withColumn("rank", F.col("_x0") / F.lit(float(l2x)))
        .drop("_x0")
    )


class SpMV(NamedTuple):
    """What a PageRank backend plugs into ``power_iterate``.

    ``key``: vertex key column of the rank state (``url`` itself or an id).
    ``contribs``: rank state x -> (key, _c) with _c = (P'x) at that vertex.
    ``layout``: keys and partitions a (url, v, dangling, rank) frame the loop
    did not produce — initial state, resumed or re-read checkpoint.
    ``relayout``: True when the fold join does not keep ``layout``'s
    partitioning, so every new vector is laid out again.
    """

    key: str
    contribs: Callable[[DataFrame], DataFrame]
    layout: Callable[[DataFrame], DataFrame]
    relayout: bool = False


def pagerank(
    graph,
    alpha: float = 0.85,
    v_df: DataFrame | None = None,
    max_iterations: int = 1000,
    epsilon: float = 1e-6,
    checkpointer=None,
    metrics: list | None = None,
    x0_df: DataFrame | None = None,
) -> DataFrame:
    """Return (url, rank) with rank the L2-normalized PageRank vector.

    ``checkpointer``: optional plans.checkpoint.IterationCheckpointer for
    durable resume; ``metrics``: optional list collecting per-iteration dicts.
    """
    return power_iterate(
        graph, _join_agg(graph), alpha, v_df, max_iterations, epsilon,
        checkpointer, metrics, x0_df,
    )


def _join_agg(graph) -> SpMV:
    """P'x as edges JOIN x, then groupBy(dst) sum.

    Join strategy: the rank vector is vertex-sized — orders of magnitude
    smaller than the edge table — so when it fits in an executor it is
    broadcast and the big side never moves: edges stay partitioned in place
    and the only shuffle per iteration is the groupBy(dst) combine. BUT the
    broadcast build is driver-serial work repeated every iteration, so it
    only wins while the edge side is small: measured at local[*] the
    broadcast mode wins at ~1M edges and LOSES from ~10M edges up to the
    co-partitioned shuffle join against the persisted hash(src)+sorted
    layout (whose per-iteration cost is one vertex-table sort + the combine —
    the cached edge side is joined exchange-free and sort-free thanks to
    LinkGraph's sortWithinPartitions). Policy: broadcast only when vertices
    < 10M AND edges < 5M; at cluster scale both tests select the shuffle
    path. Left to the planner, AQE can instead choose to broadcast the EDGE
    table (it often fits the 64 MB estimate at test scale), re-serializing
    the big side every iteration — measured 4x slower at 1M edges; that is
    why the strategy is pinned.
    """
    num_parts = graph.num_partitions
    broadcast = graph.num_vertices() < 10_000_000 and graph.num_edges() < 5_000_000

    def contribs(x: DataFrame) -> DataFrame:
        x_src = x.select(F.col("url").alias("src"), "rank")
        if broadcast:
            x_src = F.broadcast(x_src)
        return (
            graph.edges.join(x_src, "src")
            .groupBy(F.col("dst").alias("url"))
            .agg(F.sum(F.col("weight") * F.col("rank")).alias("_c"))
        )

    # the combine's exchange uses spark.sql.shuffle.partitions, not
    # num_parts, so the fold join's output is laid out again
    return SpMV("url", contribs, lambda df: df.repartition(num_parts, "url"), relayout=True)


def power_iterate(
    graph,
    spmv: SpMV,
    alpha: float = 0.85,
    v_df: DataFrame | None = None,
    max_iterations: int = 1000,
    epsilon: float = 1e-6,
    checkpointer=None,
    metrics: list | None = None,
    x0_df: DataFrame | None = None,
) -> DataFrame:
    """The reference power method (pagerank.py:122-172) over ``spmv``;
    returns (url, rank). Arguments as in ``pagerank``.

    The loop runs under whatever session conf the caller has (AQE stays ON
    by default): the plan is pinned per-query instead of via session conf —
    the backends pin their SpMV exchanges and the fold join is hinted
    'merge'. A previous version toggled spark.sql.adaptive.enabled
    session-globally around the loop; that silently changed concurrent
    queries on the same session (exactly what the streaming refresh cadence
    produces) and two concurrent loops' finally-restores raced — never do
    that.
    """
    resumed = checkpointer.try_resume() if checkpointer is not None else None
    if resumed is not None:
        start_iter, x, dangling_mass = resumed
        x = spmv.layout(x)
    else:
        start_iter = 0
        # initial dangling mass x0 . a, in the one action that materializes
        # the initial state's lazy checkpoint
        x, s = materialize(
            spmv.layout(_init_state(graph, v_df, x0_df)),
            [F.sum(F.col("rank") * F.col("dangling"))],
        )
        dangling_mass = s[0] or 0.0

    cols = list(dict.fromkeys(("url", spmv.key, "v", "dangling")))

    def step(x: DataFrame, it: int) -> DataFrame:
        q = alpha * dangling_mass + (1.0 - alpha)
        # The merge hint pins the fold to a shuffle join of two vertex-sized
        # tables. Without it AQE sees the vertex-sized contribs stage and
        # converts to a per-iteration broadcast join — measured 2.3x slower
        # over the loop, and 5x slower at local[32]/10M edges: the broadcast
        # build serializes on the driver and accumulated broadcasts GC-thrash.
        new = x.join(spmv.contribs(x).hint("merge"), spmv.key, "left").select(
            *cols,
            (
                F.lit(alpha) * F.coalesce(F.col("_c"), F.lit(0.0))
                + F.lit(q) * F.col("v")
            ).alias("_xun"),
            F.col("rank").alias("_prev"),
        )
        return spmv.layout(new) if spmv.relayout else new

    def project(new: DataFrame, s, it: int):
        nonlocal dangling_mass
        norm = math.sqrt(s["s2"])
        residual = math.sqrt(max(0.0, 2.0 - 2.0 * s["sp"] / norm))
        dangling_mass = (s["sd"] or 0.0) / norm
        x = new.select(*cols, (F.col("_xun") / F.lit(norm)).alias("rank"))
        if checkpointer is not None:
            state = x.select("url", "v", "dangling", "rank")
            saved = checkpointer.save(it, state, dangling_mass, residual)
            if saved is not state:
                # continue from the durable copy (lineage + memory bounded)
                x = spmv.layout(saved)
        record = {"iteration": it, "residual": residual, "norm": norm,
                  "dangling_mass": dangling_mass}
        return x, record

    x = iterate(
        "pagerank", x, step, range(start_iter, max_iterations),
        stats=[
            F.sum(F.col("_xun") * F.col("_xun")).alias("s2"),
            F.sum(F.col("_xun") * F.col("_prev")).alias("sp"),
            F.sum(F.col("_xun") * F.col("dangling")).alias("sd"),
        ],
        project=project, stop=lambda r: r["residual"] < epsilon, metrics=metrics,
    )
    return x.select("url", "rank")
