"""Connected components via alternating star contraction.

Algorithm: Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii —
"Connected Components in MapReduce and Beyond" (ACM SoCC 2014), the
large-star / small-star formulation. Converges in O(log^2 n) rounds; every
round is a groupBy-min plus a join on the edge table — no driver-side state,
no vertex-count-sized collect, so it survives 10^12-vertex scale.

  large-star(u): for every neighbor v > u, connect v to m = min(N(u) ∪ {u})
  small-star(u): for neighbors v <= u, connect v (and u) to m = min(N(u) ∪ {u})

Vertex ids are compared as strings (lexicographic) — consistent with the
union-find oracle (oracle/graph_np.py). Component id = min member. The
rounds run on plans/fixpoint.iterate; each round's one action is the
edge-set fingerprint that decides convergence.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.operators.kcore import _broadcaster, _undirect
from pagerank_spark.plans.fixpoint import iterate, materialize, release


def _large_star(e: DataFrame, bc: Callable[[DataFrame], DataFrame]) -> DataFrame:
    """Input/output: undirected pairs. Symmetrizes internally. ``bc``: the
    broadcast policy of the vertex-sized min table (``kcore._broadcaster``),
    which keeps the edge table in place."""
    both = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = both.groupBy("u").agg(F.min("v").alias("_mv"))
    m = F.least(F.col("_mv"), F.col("u"))
    return (
        both.join(bc(mins), "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), m.alias("v"))   # u=hi, v=lo preserved
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame, bc: Callable[[DataFrame], DataFrame]) -> DataFrame:
    """Input: undirected (hi, lo) pairs; output the same orientation."""
    lo = e  # already oriented u > v
    mins = bc(lo.groupBy("u").agg(F.min("v").alias("_mv")))
    via_nbrs = (
        lo.join(mins, "u")
        .where(F.col("v") != F.col("_mv"))
        .select(F.col("v").alias("u"), F.col("_mv").alias("v"))
    )
    via_self = mins.select(F.col("u"), F.col("_mv").alias("v"))
    return (
        via_nbrs.union(via_self)
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    max_iterations: int = 50,
    num_partitions: int | None = None,
) -> DataFrame:
    """Return (url, component) — component id = min vertex id in the component.

    Isolated vertices (only self-loops) map to themselves. Raises
    RuntimeError when the edge set is still changing after
    ``max_iterations`` rounds; ``bipartite_check`` and
    ``incremental_components`` inherit the raise.

    The per-vertex min table is vertex-sized; it broadcasts under
    resolve_broadcast's vertex-count policy (``kcore._broadcaster``), so
    each star round shuffles only the contracted edge output, not the full
    neighbor table; at cluster scale the joins are co-partitioned shuffles.
    """
    spark = edges.sparkSession
    num_partitions = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    all_vertices = (
        edges.select(F.col("src").alias("url"))
        .union(edges.select(F.col("dst").alias("url")))
        .distinct()
        .persist()
    )
    bc = _broadcaster(all_vertices.count())
    # the edge set is distinct, so (count, sum of per-row hashes) is an
    # order-insensitive set fingerprint; equality <=> same set up to a
    # 2^-64 collision. It is each round's one action, which also
    # materializes the round's lazy checkpoint.
    signature = [
        F.count(F.lit(1)).alias("n"),
        # decimal(38,0) accumulator: exact, no int64 overflow under ANSI
        F.sum(F.xxhash64(F.col("u"), F.col("v")).cast("decimal(38,0)")).alias("h"),
    ]
    # the simple undirected pairs oriented (u=hi, v=lo)
    und = _undirect(edges, "src", "dst")[0]
    e, sig = materialize(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
        .repartition(num_partitions, "u"),
        signature,
    )

    def project(e2: DataFrame, sig2, _k: int):
        nonlocal sig
        changed, sig = sig2 != sig, sig2
        return e2, {"changed": changed}

    try:
        e = iterate(
            "connected_components", e,
            lambda e, _k: _small_star(_large_star(e, bc), bc)
            .repartition(num_partitions, "u"),
            range(max_iterations), stats=signature, project=project,
            stop=lambda r: not r["changed"], strict=True,
        )
        # e is now child -> root (stars); roots and isolated vertices map to self
        labels = e.select(F.col("u").alias("url"), F.col("v").alias("component"))
        result = (
            all_vertices.join(labels, "url", "left")
            .select("url", F.coalesce(F.col("component"), F.col("url")).alias("component"))
            .localCheckpoint(eager=True)
        )
        release(e)
        return result
    finally:
        all_vertices.unpersist()


def bipartite_check(
    edges: DataFrame,
    sep: str = "|",
    max_iterations: int = 50,
) -> DataFrame:
    """Per-component bipartiteness test via the BIPARTITE DOUBLE COVER
    (Kőnig: a graph is bipartite iff it has no odd cycle, iff its double
    cover splits every component in two): build the cover with vertices
    (v,0)/(v,1) and edges {(u,0)-(v,1), (u,1)-(v,0)} per undirected edge,
    run the SAME star-contraction components on it, and flag a vertex as
    odd-cycle-touched exactly when its two cover copies land in one cover
    component.

    Returns one row per component of the ORIGINAL undirected graph:
    (component, n_vertices, is_bipartite).

    Cost = two :func:`connected_components` runs (one on a 2x edge set) +
    two vertex-sized joins — inherits star contraction's O(log^2 n) rounds
    and its no-driver-state scale story unchanged. ``sep`` must not occur
    in vertex names (cover ids are ``url||sep||side``).
    """
    orig = connected_components(edges, max_iterations=max_iterations)
    und = _undirect(edges, "src", "dst")[0]
    cover = und.select(
        F.concat(F.col("a"), F.lit(sep + "0")).alias("src"),
        F.concat(F.col("b"), F.lit(sep + "1")).alias("dst"),
    ).unionAll(
        und.select(
            F.concat(F.col("a"), F.lit(sep + "1")).alias("src"),
            F.concat(F.col("b"), F.lit(sep + "0")).alias("dst"),
        )
    )
    cov = connected_components(cover, max_iterations=max_iterations)
    base = F.col("url").substr(
        F.lit(1), F.length(F.col("url")) - F.lit(len(sep) + 1)
    )
    side0 = cov.where(F.col("url").endswith(sep + "0")).select(
        base.alias("url"), F.col("component").alias("c0")
    )
    side1 = cov.where(F.col("url").endswith(sep + "1")).select(
        base.alias("url"), F.col("component").alias("c1")
    )
    conflicted = (
        side0.join(side1, "url")
        .select("url", (F.col("c0") == F.col("c1")).cast("long").alias("odd"))
    )
    return (
        orig.join(conflicted, "url", "left")
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vertices"),
            (F.sum(F.coalesce(F.col("odd"), F.lit(0))) == 0).alias("is_bipartite"),
        )
    )


def incremental_components(
    labels: DataFrame, delta: DataFrame, max_iterations: int = 50
) -> DataFrame:
    """(url, component) for the GROWN graph base ∪ delta, given the base
    run's ``labels`` (url, component) and only the ``delta`` (src, dst)
    edge additions — the re-crawl fast path: never touches the base edge
    table again.

    Contract-then-solve: each delta endpoint maps to its base component
    (vertices unseen in the base map to themselves), full star-contraction
    CC runs on that CONTRACTED delta graph — sized by the delta's touched
    components, not the corpus — and the result composes back over the
    vertex-sized label table. Correctness: contracting a component to one
    supervertex preserves the union graph's connectivity quotient, and
    min-composition preserves the min-member label convention (the
    contracted ids ARE the base minima, so a min over them is the global
    min; a brand-new vertex's url never collides with a base component id
    because ids are urls). The output is therefore BIT-IDENTICAL to a
    from-scratch ``connected_components`` on base ∪ delta — pinned by
    test and by the contract twin (a full min-label closure on the union).

    Scale shape: two vertex-sized LEFT joins to translate endpoints, the
    star-contraction loop on |delta| edges, one label-keyed join back.
    Edge additions only — a removal can SPLIT a component, which needs
    the base edges again (run the full operator on the new snapshot; see
    graphdiff.edge_diff for isolating what changed).
    """
    lab = labels.select(
        F.col("url").cast("string").alias("url"),
        F.col("component").cast("string").alias("component"),
    )
    d = delta.select(
        F.col("src").cast("string").alias("src"),
        F.col("dst").cast("string").alias("dst"),
    )
    mapped = d
    for col in ("src", "dst"):
        mapped = (
            mapped.join(
                lab.select(
                    F.col("url").alias(col), F.col("component").alias("_c")
                ),
                col,
                "left",
            )
            .withColumn(col, F.coalesce(F.col("_c"), F.col(col)))
            .drop("_c")
        )
    contracted = connected_components(mapped, max_iterations=max_iterations)
    remap = contracted.select(
        F.col("url").alias("component"), F.col("component").alias("_new")
    )
    base_final = lab.join(remap, "component", "left").select(
        "url", F.coalesce(F.col("_new"), F.col("component")).alias("component")
    )
    delta_verts = (
        d.select(F.col("src").alias("url"))
        .union(d.select(F.col("dst").alias("url")))
        .distinct()
        .join(lab.select("url"), "url", "left_anti")
    )
    new_final = delta_verts.join(
        contracted.withColumnRenamed("url", "url"), "url"
    ).select("url", "component")
    return base_final.unionByName(new_final)
