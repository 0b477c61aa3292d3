"""HITS (Kleinberg 1999): hub and authority scores over a directed link graph.

The reference implements only PageRank (reference pagerank.py:122-172); HITS
is the other classic link-analysis fixpoint a web-scale engine is expected to
answer, so it rides the same join-agg machinery as operators/pagerank.py:

    a_k(v) = sum over edges (u, v) of h_{k-1}(u);   a_k /= ||a_k||_2
    h_k(u) = sum over edges (u, v) of a_k(v);       h_k /= ||h_k||_2

(the classic immediate-update order: authorities from the PREVIOUS hubs,
hubs from the CURRENT authorities). Edges are DISTINCT (0/1 adjacency, the
textbook formulation — multi-edges do not multiply influence).

Round cadence: the state is ONE (url, a, h) frame and every half-round is
one round of plans/fixpoint.iterate — one action, the fused L2-norm
aggregate that materializes the new frame's lazy localCheckpoint (under
AQE that action runs several Spark jobs). The normalization is a
projection over the checkpointed blocks — `x / lit(norm)` — consumed by the
next half-round's join, never a separate action. `metrics` records
per-half-round norms/wall (tests/test_hits.py pins the action count).

Broadcast policy, mirroring pagerank.py:120-124: the score vector is
vertex-sized, so it broadcasts while small and the distinct edge set — the
big side — never moves; each half-iteration is one broadcast join + one
partial-aggregated groupBy. The default is AUTO: broadcast only while the
vertex count is under ``broadcast_threshold`` (10M, the same bound
pagerank uses), so a cluster-scale caller cannot OOM an executor on a
10^9-vertex build side by forgetting a flag. Above the threshold both
joins shuffle on their keys against an edge table persisted
hash-partitioned by src — the same layout graph_build.LinkGraph already
maintains for PageRank.

Deterministic for a fixed ``iterations``, so the DuckDB oracle is the same
recurrence unrolled (no convergence-epsilon cross-engine coupling).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.plans.fixpoint import iterate

BROADCAST_VERTEX_THRESHOLD = 10_000_000


def resolve_broadcast(flag: bool | None, n_vertices: int,
                      threshold: int = BROADCAST_VERTEX_THRESHOLD) -> bool:
    """The shared auto policy (pagerank.py:120-124's count-threshold rule):
    broadcast a vertex-sized build side only while it plausibly fits an
    executor; at cluster scale the count flips the join to the shuffle path
    without the caller having to know to pass False."""
    return (n_vertices < threshold) if flag is None else bool(flag)


def _half_round(e: DataFrame, state: DataFrame, side: str, broadcast: bool) -> DataFrame:
    """One HITS half-round pre-normalization over the (url, a, h) state:
    recompute ``side`` ('a' from h, 'h' from a) by pulling the other score
    across the edges and summing per vertex; zero-mass vertices score 0.
    Pure plan construction — exposed so plan audits can assert the
    broadcast policy flips the physical join strategy with input size."""
    join_key, group_key, in_col = ("src", "dst", "h") if side == "a" else ("dst", "src", "a")
    s = state.select(F.col("url").alias(join_key), F.col(in_col))
    if broadcast:
        s = F.broadcast(s)
    agg = (
        e.join(s, join_key)
        .groupBy(F.col(group_key).alias("url"))
        .agg(F.sum(in_col).alias("_s"))
    )
    return state.join(agg, "url", "left").select(
        "url",
        *(F.coalesce("_s", F.lit(0.0)).alias(c) if c == side else c for c in "ah"),
    )


def hits(
    edges: DataFrame,
    iterations: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
    broadcast_scores: bool | None = None,
    broadcast_threshold: int = BROADCAST_VERTEX_THRESHOLD,
    metrics: list | None = None,
) -> DataFrame:
    """(url, hub, authority) after ``iterations`` full HITS rounds, both
    scores L2-normalized, 6dp-rounded. Vertices never receiving mass score 0.

    ``broadcast_scores``: None (default) auto-selects from the vertex count
    (`resolve_broadcast`); True/False pins the join strategy.
    ``metrics``: optional list collecting one dict per half-round
    (round, side, norm, wall_s)."""
    if iterations < 1:
        raise ValueError("hits() needs iterations >= 1")
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    e.persist()
    verts = e.select(F.col("src").alias("url")).union(
        e.select(F.col("dst").alias("url"))
    ).distinct()
    n = verts.count()
    if n == 0:  # empty edge set: empty result, not a ZeroDivisionError
        e.unpersist()
        return verts.select(
            "url", F.lit(0.0).alias("hub"), F.lit(0.0).alias("authority")
        )
    broadcast = resolve_broadcast(broadcast_scores, n, broadcast_threshold)

    # half-round k: authorities from the previous hubs (even k), then hubs
    # from the current authorities (odd k) — the immediate-update order
    def project(raw: DataFrame, s, k: int):
        side = "ah"[k % 2]
        l2 = s[side]
        x = raw.withColumn(side, F.col(side) / F.lit(float(l2))) if l2 else raw
        return x, {"round": k // 2, "side": side, "norm": l2}

    state = iterate(
        "hits",
        verts.select("url", F.lit(0.0).alias("a"), F.lit(1.0 / float(n) ** 0.5).alias("h")),
        lambda x, k: _half_round(e, x, "ah"[k % 2], broadcast),
        range(2 * iterations),
        # both norms in the one aggregate; the half-round reads its own side's
        stats=[F.sqrt(F.sum(F.col(c) * F.col(c))).alias(c) for c in "ah"],
        project=project, metrics=metrics,
    )
    e.unpersist()
    return state.select(
        "url",
        F.round("h", 6).alias("hub"),
        F.round("a", 6).alias("authority"),
    )
