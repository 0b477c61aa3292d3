"""Distributed greedy graph coloring by SPECULATION + hash-priority
conflict resolution (the Jones-Plassmann 1993 family as implemented in
practical vertex-parallel systems — Gonzalez et al. 2012's PowerGraph /
Çatalyürek et al. 2012's speculative coloring): per round EVERY
uncolored vertex simultaneously picks the smallest color (mex) absent
from its already-colored neighborhood; when two adjacent vertices pick
the SAME color in the same round, the one with the smaller 60-bit md5
priority keeps it and the other retries next round. Kept colors never
conflict, so the result is a proper coloring with at most Delta+1
colors.

Why speculation and not strict JP ("color only when all uncolored
neighbors have lower priority"): strict JP's round count grows with
DEGREE — a vertex waits for its entire uncolored neighborhood to drain,
so a dense graph colors ~n/Delta vertices per round and a 10^7-degree
web hub waits ~forever. Speculative rounds shrink the uncolored set by
a constant factor in expectation regardless of degree (a vertex loses
only to a higher-priority SAME-PICK neighbor), giving O(log n) rounds
on any graph — the difference was measured here: strict JP needed
60+ rounds on the dense bench graph where speculation needs ~15.

Curation reading: a color class is a conflict-free batch — coloring the
URL-frontier conflict graph (shared host / shared shard) yields
politeness-safe fetch waves; coloring an update-dependency graph yields
parallel-safe transaction rounds.

Determinism: priority = the 60-bit md5 of the url (textops.hexint15), a
pure function both engines recompute inline — no priority table ever
shuffles, and the DuckDB twin replays the identical synchronous rounds.
A 60-bit tie between neighbors (~2^-60/pair) is broken by the url, so
(priority, url) is a total order: of two same-pick neighbors exactly one
retries, the coloring stays proper, and the uncolored vertex first in that
order always keeps its pick, so every round makes progress;
``max_rounds`` still raises instead of looping.

Scale shape per round: ONE vertex-sized (url, color) state frame on
plans/fixpoint.iterate — the round's one action is the uncolored count
over its lazy localCheckpoint, plus one eager checkpoint of the picks
table that the round reads twice; the mex is a collect_set over colored
neighbors whose per-vertex payload is bounded by chi <= Delta+1
DISTINCT colors (a 10^7-degree hub holds a handful of colors, not 10^7
rows), and conflict detection is one adjacency join against the
(vertex-sized, materialized) picks table. The vertex-sized sides of the
adjacency joins broadcast under kcore._broadcaster's vertex-count policy,
so the joins leave the adjacency in place. Each round's picks checkpoint
is released once the round's state is materialized, the adjacency and
initial-state checkpoints after the last round.
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


def greedy_coloring(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    extra_vertices: DataFrame | None = None,
    max_rounds: int = 200,
) -> DataFrame:
    """(url, color) — a proper coloring of the undirected simple graph
    underlying ``edges`` (self-loops dropped — a self-loop is uncolorable
    — and multi-edges collapsed); colors are small ints from 0 (at most
    Delta+1 of them), deterministic across partitionings and engines.
    ``extra_vertices`` adds isolated vertices (no neighbors — their
    round-1 pick 0 always survives)."""
    _, adj, verts = _undirect(edges, src_col, dst_col, extra_vertices)
    adj = adj.localCheckpoint(eager=True)
    uncolored = [F.count_if(F.col("color").isNull()).alias("n")]
    state0, row = materialize(
        verts.select("url", F.lit(None).cast("int").alias("color")), uncolored
    )
    bc = _broadcaster(row["n"])
    picks = None
    mex = F.expr("filter(sequence(0, size(_cs)), x -> NOT array_contains(_cs, x))[0]")

    def step(state: DataFrame, _k: int) -> DataFrame:
        nonlocal picks
        unc = state.where(F.col("color").isNull()).select("url")
        # speculative pick: mex over the COLORED neighborhood, for every
        # uncolored vertex at once
        cs = (
            adj.join(bc(unc.withColumnRenamed("url", "u")), "u", "left_semi")
            .join(
                bc(
                    state.where(F.col("color").isNotNull())
                    .select(F.col("url").alias("v"), "color")
                ),
                "v",
            )
            .groupBy("u")
            .agg(F.collect_set("color").alias("_cs"))
        )
        picks, _ = materialize(  # read twice: conflict probe + merge
            unc.join(cs.withColumnRenamed("u", "url"), "url", "left").select(
                "url",
                F.when(F.col("_cs").isNull(), F.lit(0))
                .otherwise(mex)
                .cast("int")
                .alias("_pick"),
            ),
            None,
        )
        # conflict: an adjacent same-round same-pick neighbor with smaller
        # (priority, url) wins; the loser drops its pick and retries
        losers = (
            adj.join(
                bc(picks.select(F.col("url").alias("u"), F.col("_pick").alias("_pu"))),
                "u",
            )
            .join(
                bc(picks.select(F.col("url").alias("v"), F.col("_pick").alias("_pv"))),
                "v",
            )
            .where(
                (F.col("_pu") == F.col("_pv"))
                & (_priority("v") < _priority("u"))
            )
            .select(F.col("u").alias("url"))
            .distinct()
        )
        keeps = picks.join(losers, "url", "left_anti")
        return state.join(keeps, "url", "left").select(
            "url", F.coalesce(F.col("color"), F.col("_pick")).alias("color")
        )

    def project(state: DataFrame, row, _k: int):
        release(picks, keep=state)  # the round's state is materialized
        return state, {"uncolored": row["n"]}

    out = iterate(
        "greedy_coloring", state0, step, range(max_rounds), stats=uncolored,
        project=project, stop=lambda r: r["uncolored"] == 0, strict=True,
    )
    release(adj)
    release(state0, keep=out)
    return out
