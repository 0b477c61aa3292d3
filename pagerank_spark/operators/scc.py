"""Strongly connected components and the Broder bowtie decomposition.

The web graph's macro structure IS its SCC structure: Broder et al.
("Graph structure in the Web", WWW9 2000) showed a giant strongly
connected CORE with an IN region feeding it, an OUT region fed by it,
TENDRILS/TUBES hanging off, and DISCONNECTED islands — the "bowtie".
Link farms show up as dense non-core SCCs, so SCC labels are also a spam
feature alongside TrustRank (operators/trust.py). The reference engine
has no multi-hop structure operator at all; this is the standard
distributed formulation.

Algorithm: trimming + forward min-label coloring + in-color backward
sweep (Orzan's coloring method; the same trim/FW-BW family as
Hong-Rodia-Olukotun PPoPP'13 and Slota-Rajamanickam-Madduri IPDPS'14):

  repeat until no vertices remain:
    1. TRIM — a vertex with no in-edge or no out-edge in the remaining
       subgraph is its own SCC; peel until stable (kills the tendril mass
       that dominates web graphs). The peel is a DEGREE FIXPOINT on
       plans/fixpoint.iterate over one vertex table against the FIXED edge
       checkpoint: each round drops zero-in/zero-out vertices and
       DECREMENTS their neighbors' degrees (edges incident to a dropped
       vertex are counted exactly once, in the round it drops) — the edge
       table itself is scanned per round but REBUILT (repartition +
       checkpoint) only ONCE, after the fixpoint converges, so a depth-d
       tendril chain pays d cheap vertex-sized rounds + 1 rebuild.
    2. COLOR — fixpoint of c(v) = min(c(v), min over in-edges (u,v) of
       c(u)): c(v) = the smallest vertex id that reaches v. One
       edges-join-labels + groupBy-min per round on plans/fixpoint.iterate,
       whose one action per round is the max(_chg) change flag.
    3. SETTLE — every color class has exactly one root r with c(r) = r
       (the minimum of the class; any smaller vertex reaching r would
       recolor the class). SCC(r) = vertices of color r that reach r
       through vertices of color r: a backward frontier sweep from the
       roots restricted to same-color edges — plans/fixpoint.sweep, the
       frontier-sized shuffles of distance.py.
    Settled SCCs leave the graph; the remainder (color classes that lost
    their root's SCC) re-runs. Rounds are bounded by the condensation
    depth, which trimming keeps tiny on web-shaped graphs.

Correctness of step 3 (why no second full fixpoint is needed): for v in
SCC(r), every vertex w on any v->r path satisfies r ->* w ->* r, so w is
itself in SCC(r) and has color r — the backward sweep never needs to
leave the color class; conversely any v of color r that reaches r is
mutually reachable with r by definition of the color.

Everything is vertex-sized state + one edge join per round; label joins
follow the shared broadcast auto-policy (hits.resolve_broadcast) so a
10^9-vertex run flips to co-partitioned shuffle joins by itself.
"""

from __future__ import annotations

import sys
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.operators.hits import resolve_broadcast
from pagerank_spark.plans.fixpoint import iterate, materialize, release, sweep

PARTS = ("CORE", "IN", "OUT", "TUBE", "TENDRIL_IN", "TENDRIL_OUT", "DISCONNECTED")


def _directed(edges: DataFrame) -> DataFrame:
    """Distinct directed pairs, nulls and self-loops dropped (a self-loop
    never changes SCC membership)."""
    return (
        edges.select(
            F.col("src").cast("string").alias("u"),
            F.col("dst").cast("string").alias("v"),
        )
        .where(F.col("u").isNotNull() & F.col("v").isNotNull() & (F.col("u") != F.col("v")))
        .distinct()
    )


def _setup(edges: DataFrame, broadcast_labels: bool | None, num_partitions: int | None):
    """(e, vertices, num_partitions, broadcast_labels): the distinct
    directed edges repartitioned by ``u`` and checkpointed, the vertex set
    (one action that also counts it for the broadcast auto-policy) and the
    resolved options."""
    num_partitions = num_partitions or int(
        edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    e = _directed(edges).repartition(num_partitions, "u").localCheckpoint(eager=True)
    verts, row = materialize(
        e.select(F.col("u").alias("url")).union(e.select(F.col("v").alias("url"))).distinct(),
        [F.count(F.lit(1)).alias("n")],
    )
    if broadcast_labels is None:
        broadcast_labels = resolve_broadcast(None, row["n"])
    return e, verts, num_partitions, broadcast_labels


def _trim(e, remaining, b, num_partitions: int, settled: list, metrics=None):
    """Degree-fixpoint trim: peel every vertex with no in-edge or no
    out-edge in the remaining subgraph, against the FIXED edge checkpoint
    ``e`` — no edge-table rebuild inside the loop.

    The state is one vertex-sized (url, od, id, gone) frame on
    plans/fixpoint.iterate, ``gone`` = the round the vertex dropped in
    (null while it remains). Round k drops the remaining zero-degree
    vertices and decrements the degrees of their neighbors; an edge
    contributes a decrement exactly once (the round its endpoint drops), so
    the degrees of the remaining vertices always equal their true degrees
    in the remaining subgraph. The round's one action is max(gone) and the
    remaining count. Returns (remaining, e, n_remaining) with ``e`` rebuilt
    ONCE (semi-joins + repartition + checkpoint) if anything was trimmed."""
    outd = e.groupBy(F.col("u").alias("url")).agg(F.count(F.lit(1)).alias("od"))
    ind = e.groupBy(F.col("v").alias("url")).agg(F.count(F.lit(1)).alias("id"))
    deg = (
        remaining.join(outd, "url", "left")
        .join(ind, "url", "left")
        .select(
            "url",
            F.coalesce(F.col("od"), F.lit(0)).alias("od"),
            F.coalesce(F.col("id"), F.lit(0)).alias("id"),
            F.lit(None).cast("int").alias("gone"),
        )
    )
    alive = F.col("gone").isNull()
    drops = alive & ((F.col("od") <= 0) | (F.col("id") <= 0))

    def step(deg: DataFrame, k: int) -> DataFrame:
        dropped = deg.where(drops).select("url")
        # decrements: an edge x->d (d dropping) lowers od(x); d->y lowers
        # id(y). Dropped-side joins broadcast via the shared policy / AQE.
        dec_out = (
            e.join(b(dropped.select(F.col("url").alias("v"))), "v", "semi")
            .groupBy(F.col("u").alias("url"))
            .agg(F.count(F.lit(1)).alias("dec_od"))
        )
        dec_in = (
            e.join(b(dropped.select(F.col("url").alias("u"))), "u", "semi")
            .groupBy(F.col("v").alias("url"))
            .agg(F.count(F.lit(1)).alias("dec_id"))
        )
        return (
            deg.join(dec_out, "url", "left")
            .join(dec_in, "url", "left")
            .select(
                "url",
                (F.col("od") - F.coalesce(F.col("dec_od"), F.lit(0))).alias("od"),
                (F.col("id") - F.coalesce(F.col("dec_id"), F.lit(0))).alias("id"),
                F.when(drops, F.lit(k)).otherwise(F.col("gone")).alias("gone"),
            )
        )

    recs: list = []
    deg = iterate(
        "scc.trim", deg, step, range(1, sys.maxsize),
        stats=[F.max("gone").alias("last"), F.count_if(alive).alias("n")],
        project=lambda x, row, k: (x, {"k": k, "last": row["last"] or 0, "n": row["n"]}),
        stop=lambda r: r["last"] < r["k"], metrics=recs,
    )
    rounds, n = recs[-1]["last"], recs[-1]["n"]
    release(remaining, keep=deg)
    remaining = deg.where(alive).select("url")
    rebuilt = 0
    if rounds:
        settled.append(deg.where(~alive).select("url", F.col("url").alias("component")))
    if rounds and n:
        # ONE rebuild for the whole fixpoint (round 4 paid one per layer)
        e = _rebuild(e, remaining, b, num_partitions)
        rebuilt = 1
    if metrics is not None:
        metrics.append(
            {"phase": "trim", "rounds": rounds, "edge_rebuilds": rebuilt}
        )
    return remaining, e, n


def strongly_connected_components(
    edges: DataFrame,
    max_rounds: int = 100,
    broadcast_labels: bool | None = None,
    num_partitions: int | None = None,
    metrics: list | None = None,
) -> DataFrame:
    """Return (url, component) — component id = min member id (string order,
    consistent with connected_components). Vertices = every edge endpoint.

    ``max_rounds`` bounds the outer settle rounds (= condensation depth
    after trimming); raises RuntimeError instead of returning a partial
    labeling if exceeded. ``broadcast_labels``: None = the shared 10M
    count-threshold auto-policy, False at cluster scale pins the shuffle
    path. ``metrics`` (optional list) receives one dict per phase with
    round counts and ``edge_rebuilds`` — the trim fixpoint rebuilds the
    edge table at most once regardless of peel depth (pinned in
    tests/test_scc_bowtie.py on a 1000-vertex chain).
    """
    e, remaining, num_partitions, broadcast_labels = _setup(
        edges, broadcast_labels, num_partitions
    )

    def b(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if broadcast_labels else df

    def color(lbl: DataFrame, _k: int) -> DataFrame:
        inc = (
            e.join(b(lbl.select(F.col("url").alias("u"), "c")), "u")
            .groupBy(F.col("v").alias("url"))
            .agg(F.min("c").alias("_in"))
        )
        return lbl.join(inc, "url", "left").select(
            "url",
            F.least(F.col("c"), F.coalesce(F.col("_in"), F.col("c"))).alias("c"),
            F.coalesce(F.col("_in") < F.col("c"), F.lit(False)).alias("_chg"),
        )

    settled: list[DataFrame] = []
    for _ in range(max_rounds):
        # -- 1. trim: peel vertices missing an in- or out-edge -------------
        remaining, e, n = _trim(e, remaining, b, num_partitions, settled, metrics)
        if not n:
            break

        # -- 2. color: c(v) = min vertex id reaching v ----------------------
        lbl = iterate(
            "scc.color", remaining.select("url", F.col("url").alias("c")), color,
            range(sys.maxsize), stats=[F.max(F.col("_chg").cast("int")).alias("m")],
            project=lambda x, row, _k: (x.select("url", "c"), {"changed": bool(row["m"])}),
            stop=lambda r: not r["changed"],
        )

        # -- 3. settle: backward in-color sweep from the color roots --------
        in_set, _ = sweep(
            "scc.settle",
            lbl.where(F.col("url") == F.col("c")),
            lambda f: e.join(f.select(F.col("url").alias("v"), "c"), "v")
            .select(F.col("u").alias("url"), "c")
            .distinct()
            .join(b(lbl), ["url", "c"], "semi"),  # stay inside the color
            ["url"], None, settled=b,
        )
        settled.append(in_set.select("url", F.col("c").alias("component")))
        remaining, row = materialize(
            remaining.join(b(in_set.select("url")), "url", "left_anti"),
            [F.count(F.lit(1)).alias("n")],
        )
        release(lbl)
        if not row["n"]:
            break
        e = _rebuild(e, remaining, b, num_partitions)
        if metrics is not None:
            metrics.append({"phase": "settle", "edge_rebuilds": 1})
    else:
        raise RuntimeError(
            f"SCC did not settle within {max_rounds} rounds; "
            "raise max_rounds (condensation depth exceeds the bound)"
        )

    release(e)
    return reduce(DataFrame.unionByName, settled).select("url", "component")


def _rebuild(e: DataFrame, remaining: DataFrame, b, num_partitions: int) -> DataFrame:
    """The edges of ``e`` between ``remaining`` vertices, repartitioned and
    checkpointed; ``e``'s blocks are released."""
    out = (
        e.join(b(remaining.select(F.col("url").alias("u"))), "u", "semi")
        .join(b(remaining.select(F.col("url").alias("v"))), "v", "semi")
        .repartition(num_partitions, "u")
        .localCheckpoint(eager=True)
    )
    release(e)
    return out


def _reachable(e: DataFrame, seeds: DataFrame, b) -> DataFrame:
    """(url) — every vertex reachable from ``seeds`` along directed edges
    (u, v), seeds included: a fixpoint.sweep (distance.py's shape)."""
    x, _ = sweep(
        "bowtie.reach",
        seeds.select("url").distinct(),
        lambda f: e.join(f.select(F.col("url").alias("u")), "u")
        .select(F.col("v").alias("url"))
        .distinct(),
        ["url"], None, settled=b,
    )
    return x.select("url")


def bowtie(
    edges: DataFrame,
    scc: DataFrame | None = None,
    broadcast_labels: bool | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """(url, part) — Broder et al. bowtie decomposition of a directed graph.

    part in PARTS: CORE = the largest SCC (ties broken by min component
    id, deterministic); IN reaches the core; OUT is reached from it;
    TUBE = the leftovers on an IN->OUT path bypassing the core;
    TENDRIL_IN / TENDRIL_OUT hang forward off IN / backward off OUT;
    DISCONNECTED is the rest. Full-graph reachability and subgraph
    reachability coincide for every class here: a path from IN that
    enters the core can only continue into CORE/OUT, which the leftover
    set excludes by construction.

    ``scc`` lets a precomputed strongly_connected_components() result be
    reused. The core-pick is a single TakeOrdered(1) on the
    component-count table (component-count-sized, one tiny driver scalar).
    """
    e, verts, num_partitions, broadcast_labels = _setup(
        edges, broadcast_labels, num_partitions
    )
    rev = e.select(F.col("v").alias("u"), F.col("u").alias("v")).repartition(
        num_partitions, "u"
    ).localCheckpoint(eager=True)

    def b(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if broadcast_labels else df

    if scc is None:
        scc = strongly_connected_components(
            edges, broadcast_labels=broadcast_labels, num_partitions=num_partitions
        )
    core_row = (
        scc.groupBy("component")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("component"))
        .first()
    )
    core = scc.where(F.col("component") == F.lit(core_row["component"])).select("url")

    fwd = _reachable(e, core, b)
    bwd = _reachable(rev, core, b)
    outs = fwd.join(b(core), "url", "left_anti").localCheckpoint(eager=True)
    ins = bwd.join(b(core), "url", "left_anti").localCheckpoint(eager=True)
    rest = (
        verts.join(b(core), "url", "left_anti")
        .join(b(ins), "url", "left_anti")
        .join(b(outs), "url", "left_anti")
        .localCheckpoint(eager=True)
    )
    from_in = _reachable(e, ins, b).join(b(rest), "url", "semi")
    to_out = _reachable(rev, outs, b).join(b(rest), "url", "semi")
    for done in (fwd, bwd, verts, e, rev):
        release(done)
    tube = from_in.join(b(to_out), "url", "semi")
    tendril_in = from_in.join(b(to_out), "url", "left_anti")
    tendril_out = to_out.join(b(from_in), "url", "left_anti")
    disc = rest.join(b(from_in), "url", "left_anti").join(
        b(to_out), "url", "left_anti"
    )
    return reduce(DataFrame.unionByName, [
        df.select("url", F.lit(part).alias("part"))
        for df, part in zip((core, ins, outs, tube, tendril_in, tendril_out, disc), PARTS)
    ])
