"""Synchronous label propagation (Raghavan, Albert, Kumara 2007).

Per round every vertex simultaneously adopts the most frequent label among
its distinct neighbors (undirected, self-loops ignored); ties broken by the
SMALLEST label — the deterministic tie-break the north rule needs for
"assignments match exactly". Vertices with no neighbors keep their label.

Spark shape per round: edges ⋈ labels on one side → groupBy(vertex, label)
count → argmax via row_number over Window.partitionBy(vertex) — two shuffles,
both on vertex keys; hub skew is bounded because the message table is
(edge count) rows, and AQE skew-join splitting handles power-law vertices.
The rounds run on plans/fixpoint.iterate; both operators share one vote
kernel (``_vote``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pagerank_spark.operators.hits import BROADCAST_VERTEX_THRESHOLD, resolve_broadcast
from pagerank_spark.plans.fixpoint import iterate


def _adjacency(edges: DataFrame, num_partitions: int | None,
               broadcast_labels: bool | None, broadcast_threshold: int | None):
    """(both, vertices, broadcast): the distinct undirected neighbour pairs
    (u, v), self-loops dropped, partitioned by v and persisted; the
    persisted vertex set partitioned by url; and whether to broadcast the
    label vector. The caller unpersists both frames."""
    num_partitions = num_partitions or int(
        edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    e = edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    both = (
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .repartition(num_partitions, "v")
        .persist()
    )
    vertices = (
        edges.select(F.col("src").alias("url"))
        .union(edges.select(F.col("dst").alias("url")))
        .distinct()
        .repartition(num_partitions, "url")
        .persist()
    )
    if broadcast_labels is None:  # only pay the count job when auto-deciding
        broadcast_labels = resolve_broadcast(
            None, vertices.count(), broadcast_threshold or BROADCAST_VERTEX_THRESHOLD
        )
    return both, vertices, broadcast_labels


def _vote(both: DataFrame, labels: DataFrame, broadcast: bool) -> DataFrame:
    """(url, _new): each vertex's most frequent label among its labelled
    neighbours ``labels`` (url, label), ties to the SMALLEST label."""
    lab_v = labels.select(F.col("url").alias("v"), "label")
    if broadcast:
        lab_v = F.broadcast(lab_v)
    w = Window.partitionBy("u").orderBy(F.desc("_cnt"), F.asc("label"))
    return (
        both.join(lab_v, "v")
        .groupBy("u", "label")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(F.col("u").alias("url"), F.col("label").alias("_new"))
    )


def label_propagation(
    edges: DataFrame,
    max_iterations: int = 10,
    num_partitions: int | None = None,
    stop_when_stable: bool = True,
    broadcast_labels: bool | None = None,
    broadcast_threshold: int | None = None,
) -> DataFrame:
    """Return (url, label). Labels initialized to the vertex id.

    ``broadcast_labels``: the label vector is vertex-sized (tiny next to the
    message table); broadcasting it keeps the edge table in place and leaves
    one shuffle per round (the groupBy(u,label) count). None (default)
    auto-selects via the shared count-threshold policy
    (hits.resolve_broadcast, 10M vertices); set False at cluster scale so
    the join falls back to the co-partitioned shuffle path.
    """
    both, vertices, broadcast_labels = _adjacency(
        edges, num_partitions, broadcast_labels, broadcast_threshold
    )

    def step(labels: DataFrame, _k: int) -> DataFrame:
        return labels.join(_vote(both, labels, broadcast_labels), "url", "left").select(
            "url",
            F.coalesce(F.col("_new"), F.col("label")).alias("label"),
            (~F.coalesce(F.col("_new") == F.col("label"), F.lit(True))).alias("_chg"),
        )

    # when stopping on stability the round's one action is the max(_chg)
    # aggregate; otherwise it is an eager checkpoint
    labels = iterate(
        "label_propagation",
        vertices.select("url", F.col("url").alias("label")),
        step, range(max_iterations),
        stats=[F.max(F.col("_chg").cast("int")).alias("m")] if stop_when_stable else None,
        project=lambda new, s, _k: (
            new.select("url", "label"), {"changed": bool(s and s["m"])}
        ),
        stop=lambda r: stop_when_stable and not r["changed"],
    )
    both.unpersist()
    vertices.unpersist()
    return labels


def seeded_label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 3,
    num_partitions: int | None = None,
    broadcast_labels: bool | None = None,
    broadcast_threshold: int | None = None,
) -> DataFrame:
    """Semi-supervised label spread (Zhu & Ghahramani 2002, hard-clamped).

    ``seeds`` is (url, label); every round each NON-seed vertex adopts the
    most frequent label among its distinct labeled neighbors (undirected,
    self-loops ignored, unlabeled neighbors contribute nothing), ties broken
    by the SMALLEST label; a vertex with no labeled neighbor keeps its
    previous label (possibly unlabeled). Seed labels are clamped — votes
    never overturn them. Returns (url, label) for the vertices labeled after
    ``iterations`` synchronous rounds — the spam/topic classifier spread
    next to TrustRank's rank-mass spread (operators/trust.py).

    Scale shape per round: identical to label_propagation (the same vote
    kernel) — the label vector is vertex-sized, the message table
    edge-sized, both shuffles on vertex keys, AQE handles hub skew; the seed
    clamp is a coalesce in the same select. The seed table is joined once up
    front (never per round).
    """
    both, vertices, broadcast_labels = _adjacency(
        edges, num_partitions, broadcast_labels, broadcast_threshold
    )
    # (url, _seed, label) — _seed rides along so the clamp is a coalesce,
    # not a per-round join against the seed table
    state = vertices.join(
        seeds.select("url", F.col("label").alias("_seed")), "url", "left"
    ).select("url", "_seed", F.col("_seed").alias("label"))

    def step(state: DataFrame, _k: int) -> DataFrame:
        voted = _vote(both, state.where(F.col("label").isNotNull()), broadcast_labels)
        return state.join(voted, "url", "left").select(
            "url", "_seed", F.coalesce("_seed", "_new", "label").alias("label")
        )

    state = iterate("seeded_label_propagation", state, step, range(iterations))
    both.unpersist()
    vertices.unpersist()
    return state.where(F.col("label").isNotNull()).select("url", "label")
