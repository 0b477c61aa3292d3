"""k-core decomposition (fixed k): the maximal subgraph where every vertex
has undirected degree >= k, by iterative peeling (Seidman 1983; the
MapReduce formulation is the standard repeated degree-filter).

The reference has no graph algorithms beyond PageRank (reference
pagerank.py); k-core joins components / label propagation / triangles /
HITS in the engine's north-rule graph layer. Curation use: the k-core of a
link graph is the densely-cross-linked "site cluster" backbone — a common
spam/boilerplate signal at web scale.

Scale shape per round: ONE partial-aggregated degree count over the
(deduplicated, undirected) edge list + two semi-joins against the surviving
vertex set — the vertex side is degree-filtered and broadcasts while it
fits, the edge side stays partitioned in place. Rounds are O(peeling
depth), typically tens, and run on plans/fixpoint.iterate (``_peel``, shared
with k_truss): each round's one action is the surviving-edge count over
the round's lazy localCheckpoint. The DuckDB twin replicates the peeling
fixpoint as a recursive CTE with the same stop rule.
"""

from __future__ import annotations

import sys
from typing import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pagerank_spark.operators.hits import (
    BROADCAST_VERTEX_THRESHOLD,
    resolve_broadcast,
)
from pagerank_spark.plans.fixpoint import iterate, materialize


def _undirect(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    extra_vertices: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The simple undirected graph underlying ``edges`` (self-loops
    dropped, multi-edges collapsed) as ``(und, adj, verts)``: ``und`` the
    (a, b) edges with a < b, ``adj`` both directions as (u, v) rows, and
    ``verts`` the (url,) vertex set plus ``extra_vertices``. All lazy."""
    s, d = F.col(src_col), F.col(dst_col)
    # the self-loop filter on a, b (not src, dst) lets the a, b not-null
    # constraint reach the joins downstream of a checkpoint of ``und``
    und = (
        edges.select(F.least(s, d).alias("a"), F.greatest(s, d).alias("b"))
        .where(F.col("b") != F.col("a"))
        .distinct()
    )
    adj = und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    verts = adj.select(F.col("u").alias("url"))
    if extra_vertices is not None:
        verts = verts.union(extra_vertices.select("url"))
    return und, adj, verts.distinct()


def _degree(und: DataFrame) -> DataFrame:
    """(x, d): the degree of every vertex of the (a, b) edge set ``und``."""
    return (
        und.select(F.col("a").alias("x"))
        .unionAll(und.select(F.col("b").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
    )


def _broadcaster(
    n_vertices: int,
    flag: bool | None = None,
    threshold: int = BROADCAST_VERTEX_THRESHOLD,
) -> Callable[[DataFrame], DataFrame]:
    """``F.broadcast`` for vertex-sized join sides under resolve_broadcast's
    count policy, else the identity: a checkpointed frame carries no size
    statistics, so Spark does not choose those broadcasts by itself."""
    return F.broadcast if resolve_broadcast(flag, n_vertices, threshold) else (lambda df: df)


def _rounds(max_rounds: int | None) -> range:
    """``max_rounds`` rounds; None = until the fixpoint."""
    return range(sys.maxsize if max_rounds is None else max_rounds)


def _peel(
    op: str,
    und: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    max_rounds: int | None,
) -> DataFrame:
    """Run ``step(edges, n_edges)`` on the (a, b) edge set until a round
    removes no edge or none is left; ``max_rounds`` raises instead of
    returning a partial peel (the scc convention)."""
    n_edges = [F.count(F.lit(1)).alias("n")]
    cur, row = materialize(und, n_edges)
    n = row["n"]

    def project(nxt: DataFrame, row, _k: int):
        nonlocal n
        done, n = row["n"] in (0, n), row["n"]
        return nxt, {"done": done}

    return iterate(
        op, cur, lambda cur, _k: step(cur, n), _rounds(max_rounds),
        stats=n_edges, project=project, stop=lambda r: r["done"], strict=True,
    )


def k_core(
    edges: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int | None = None,
    broadcast_vertices: bool | None = None,
    broadcast_threshold: int = BROADCAST_VERTEX_THRESHOLD,
) -> DataFrame:
    """(url,) — the vertices of the k-core of the undirected simple graph
    underlying ``edges`` (self-loops dropped, multi-edges collapsed).
    Possibly empty. Deterministic.

    ``max_rounds=None`` (default) peels to the fixpoint — termination is
    guaranteed because every non-final round strictly shrinks the edge set,
    and peeling depth is O(V) worst-case (a 2N-vertex path at k=2 peels one
    vertex per end per round). Pass a cap to fail fast instead on graphs
    where that depth is operationally unacceptable. ``broadcast_vertices``:
    hint the degree-filtered vertex set as the semi-join build side. None
    (default) auto-selects per round from the surviving graph size — the
    vertex count is bounded by 2x the undirected edge count, which each
    round already computes for the stop rule, so the policy costs nothing
    and a peel that starts on the shuffle path flips to broadcast as the
    core shrinks. Cluster-scale callers can no longer OOM an executor on a
    vertex-sized build side by forgetting to pass False
    (pagerank.py:120-124's count-threshold rule, via resolve_broadcast)."""
    if k < 1:
        raise ValueError("k_core needs k >= 1")

    def step(cur: DataFrame, n_edges: int) -> DataFrame:
        good = _broadcaster(2 * n_edges, broadcast_vertices, broadcast_threshold)(
            _degree(cur).where(F.col("d") >= k).select(F.col("x").alias("v"))
        )
        return cur.join(good.withColumnRenamed("v", "a"), "a", "left_semi").join(
            good.withColumnRenamed("v", "b"), "b", "left_semi"
        )

    cur = _peel("k_core", _undirect(edges, src_col, dst_col)[0], step, max_rounds)
    return (
        cur.select(F.col("a").alias("url"))
        .union(cur.select(F.col("b").alias("url")))
        .distinct()
    )


def _coreness_round(
    adj: DataFrame, x: DataFrame, k: int, bc: Callable[[DataFrame], DataFrame]
) -> DataFrame:
    """Round ``k`` of the h-index fixpoint over the (u, v) adjacency ``adj``
    and the (v, c, chg) state ``x`` (``bc``: the broadcast policy); a
    separate function so plan audits can see the in-round plan."""
    cand_adj = adj
    if k:  # (u, v) rows of every u next to a vertex v that changed
        frontier = bc(x.where("chg").select("v"))
        cand = adj.join(frontier, "v", "left_semi").select("u").distinct()
        cand_adj = adj.join(bc(cand), "u", "left_semi")
    hist = (
        cand_adj.join(bc(x.select("v", F.col("c").alias("x"))), "v")
        .groupBy("u", "x")
        .agg(F.count("*").alias("_cnt"))
    )
    w = (
        Window.partitionBy("u")
        .orderBy(F.desc("x"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    newh = (
        hist.withColumn("_cum", F.sum("_cnt").over(w))
        .groupBy(F.col("u").alias("v"))
        .agg(F.max(F.least(F.col("x"), F.col("_cum"))).cast("long").alias("_h"))
    )
    return x.join(bc(newh), "v", "left").select(
        "v",
        F.coalesce(F.col("_h"), F.col("c")).alias("c"),
        F.coalesce(F.col("_h") != F.col("c"), F.lit(False)).alias("chg"),
    )


def core_numbers(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int | None = None,
) -> DataFrame:
    """(url, core) — the EXACT core number (coreness) of every vertex of
    the undirected simple graph underlying ``edges``: the largest k such
    that the vertex survives in the k-core. Deterministic.

    Computed by the h-index fixpoint of Lü-Zhou-Zhang-Stanley (PNAS 2016):
    start from c(v) = degree(v) and repeatedly set c(v) to the H-index of
    its neighbors' current values; the (monotonically non-increasing)
    iteration converges exactly to coreness. Unlike ``k_core`` (one fixed
    k) this yields the whole decomposition in one run, with NO nested
    peel-per-k loop.

    Scale shape per round: ONE vertex-keyed equi-join of the adjacency
    list against the vertex-sized value vector, then a partial-aggregated
    (v, value) HISTOGRAM — the per-vertex group the window sort touches is
    #distinct neighbor values, not degree, so a 10^7-degree hub
    contributes a handful of histogram rows instead of a 10^7-element
    sorted buffer (``_coreness_round``). H-index from the histogram: with
    cum(x) = #neighbors whose value >= x (a running sum over the
    descending distinct values), H = max_x min(x, cum(x)) — exact integers
    end to end.

    The state is ONE (v, c, chg) frame on plans/fixpoint.iterate. FRONTIER
    rounds: v's h-index depends only on its neighbors' values, so after
    the first sweep only the neighbors of a ``chg`` vertex are recomputed
    — the long convergence tail (~60 of 72 rounds on the 1M-edge sf0.1
    bench graph) touches frontier-sized slices. The round's one action is
    the stop statistic sum(chg); rounds are bounded by the graph's
    "h-index convergence depth" (tens on web graphs). Vertex-sized join
    sides broadcast under resolve_broadcast's vertex-count policy
    (``_broadcaster``). ``max_rounds`` raises instead of returning partial
    values (the scc convention).

    The reference has no graph layer beyond PageRank (reference
    pagerank.py); coreness joins k_core / k_truss as the density
    backbone's per-vertex strength signal.
    """
    adj = _undirect(edges, src_col, dst_col)[1].localCheckpoint(eager=True)
    changed = [F.count_if("chg").alias("changed")]
    x, row = materialize(
        adj.groupBy(F.col("u").alias("v"))
        .agg(F.count("*").cast("long").alias("c"))
        .withColumn("chg", F.lit(True)),
        [F.count(F.lit(1)).alias("n")],
    )
    bc = _broadcaster(row["n"])
    x = iterate(
        "core_numbers", x, lambda x, k: _coreness_round(adj, x, k, bc),
        _rounds(max_rounds), stats=changed,
        project=lambda x, row, _k: (x, {"changed": row["changed"]}),
        stop=lambda r: r["changed"] == 0, strict=True,
    )
    return x.select(F.col("v").alias("url"), F.col("c").alias("core"))
