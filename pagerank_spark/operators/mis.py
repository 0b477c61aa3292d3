"""Maximal independent set by deterministic Luby rounds (Luby 1986, the
hash-priority variant): repeatedly admit every remaining vertex whose
priority beats all its remaining neighbors', then drop winners and their
neighborhoods.

The reference has no graph algorithms beyond PageRank (reference
pagerank.py); MIS joins components / k-core / k-truss in the engine's
graph layer as the classic symmetry-breaking primitive — distributed
greedy coloring, landmark/seed selection (e.g. picking non-adjacent BFS
roots for link_distance), and conflict-free scheduling all reduce to it.

Determinism: priority = the 60-bit md5 of the url (textops.hexint15 — a
pure function of the vertex name, so NO priority table is ever joined or
shuffled; both engines recompute it inline). A priority tie between
neighbors (~2^-60 per pair) is broken by the url, so (priority, url) is a
total order: of two tied neighbors exactly one can win, and the round
always admits the remaining vertex first in that order. The
``max_rounds`` cap still raises instead of looping.

Scale shape per round: two semi-joins restrict the static adjacency to the
surviving vertex set, ONE partial-aggregated min per vertex (edge→vertex
shuffle carrying the (priority, url) key), and vertex-sized anti-joins. Rounds
are O(log n) w.h.p. — each round removes the closed neighborhood of every
local-minimum vertex, and any remaining component's global minimum always
wins, so progress is guaranteed. The state is ONE (url, won) frame on
plans/fixpoint.iterate — remaining vertices carry a NULL ``won``, winners
TRUE, and a winner's neighbors leave it; the round's one action is the
remaining count over its lazy localCheckpoint, plus one eager checkpoint
of the winners table that the round reads twice. The vertex-sized sides
of the adjacency joins broadcast under kcore._broadcaster's vertex-count
policy, so the joins leave the adjacency in place. Each round's winners
checkpoint is released once the round's state is materialized, the
adjacency and initial-state checkpoints after the last round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.operators.kcore import _broadcaster, _undirect
from pagerank_spark.operators.textops import hexint15
from pagerank_spark.plans.fixpoint import iterate, materialize, release


def _priority(col: str):
    """(60-bit md5 priority, url): a total order, so a tie has one winner."""
    return F.struct(hexint15(F.col(col)).alias("p"), F.col(col).alias("url"))


def maximal_independent_set(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    extra_vertices: DataFrame | None = None,
    max_rounds: int = 100,
) -> DataFrame:
    """(url,) — a maximal independent set of the undirected simple graph
    underlying ``edges`` (self-loops dropped, multi-edges collapsed),
    deterministic across partitionings and engines.

    ``extra_vertices`` (a one-column ``url`` DataFrame) adds isolated
    vertices not present in the edge list — isolated vertices are always
    in the MIS (they win their first round unopposed).
    """
    _, adj, verts = _undirect(edges, src_col, dst_col, extra_vertices)
    adj = adj.localCheckpoint(eager=True)
    remaining = [F.count_if(F.col("won").isNull()).alias("n")]
    state0, row = materialize(
        verts.select("url", F.lit(None).cast("boolean").alias("won")), remaining
    )
    bc = _broadcaster(row["n"])
    winners = None

    def step(state: DataFrame, _k: int) -> DataFrame:
        nonlocal winners
        rem = state.where(F.col("won").isNull()).select("url")
        cur_adj = adj.join(
            bc(rem.withColumnRenamed("url", "u")), "u", "left_semi"
        ).join(bc(rem.withColumnRenamed("url", "v")), "v", "left_semi")
        # min neighbor (priority, url) per remaining vertex — priority is a
        # pure function of the name, computed inline (no priority table)
        mn = cur_adj.groupBy("u").agg(F.min(_priority("v")).alias("mn"))
        winners, _ = materialize(  # read twice: neighborhood probe + merge
            rem.join(mn.withColumnRenamed("u", "url"), "url", "left")
            .where(F.col("mn").isNull() | (_priority("url") < F.col("mn")))
            .select("url"),
            None,
        )
        # the winners' neighbors leave the game
        touched = cur_adj.join(
            bc(winners.withColumnRenamed("url", "v")), "v", "left_semi"
        ).select(F.col("u").alias("url"))
        return (
            state.join(touched, "url", "left_anti")
            .join(winners.withColumn("_w", F.lit(True)), "url", "left")
            .select("url", F.coalesce(F.col("won"), F.col("_w")).alias("won"))
        )

    def project(state: DataFrame, row, _k: int):
        release(winners, keep=state)  # the round's state is materialized
        return state, {"remaining": row["n"]}

    state = iterate(
        "maximal_independent_set", state0, step, range(max_rounds),
        stats=remaining, project=project, stop=lambda r: r["remaining"] == 0,
        strict=True,
    )
    release(adj)
    release(state0, keep=state)
    return state.where(F.col("won")).select("url")
