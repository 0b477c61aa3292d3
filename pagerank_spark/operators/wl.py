"""Weisfeiler-Leman label refinement: per-vertex structural fingerprints.

1-WL (color refinement) iteratively replaces every vertex's label with a
hash of (its own label, the multiset of its neighbors' labels); after r
rounds two vertices share a label only if their radius-r neighborhoods are
1-WL-indistinguishable. The label histogram is the classic graph
fingerprint (the WL subtree kernel, Shervashidze et al. JMLR'11) and the
per-vertex labels are structural-role features — mirror detection, template
farms, and GNN feature engineering all start here. The reference repo has
no structural-role operator; this is engine-added breadth on the link
graph, like SALSA/HyperBall.

Hub-safe multiset hashing (the 100-TB design decision): the textbook
formulation sorts the neighbor-label LIST per vertex — a 10^7-degree hub
materializes a 10^7-element array in one aggregation buffer. Instead the
multiset is folded COMMUTATIVELY: each neighbor contributes
``md5_60(its label)``, and the vertex combines ``SUM`` (exact, in
DECIMAL(38,0) — 60-bit terms cannot overflow 38 digits below 10^18
neighbors, and decimal addition is order-independent) with ``COUNT``. The
per-round shuffle is therefore one PARTIAL-AGGREGATED exchange of
(vertex, sum, count) — map-side combine collapses hub fan-in before the
wire, exactly like the degree counts — plus one vertex-sized label join.
Collisions require md5_60 multiset-sum coincidences (~2^-60); the same
treat-as-absent convention as the walk argmin draws.

Directed semantics: in- and out-neighborhoods are folded SEPARATELY into
the hash (a page linking TO hubs differs from one linked FROM hubs) —
vertices missing one side contribute the empty sentinel (sum 0, count 0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.operators.textops import hexint15
from pagerank_spark.plans.fixpoint import iterate


def _round(e: DataFrame, labels: DataFrame) -> DataFrame:
    """One refinement round over the (src, dst) edges ``e``: the (url,
    lab) labels rehashed with their out- and in-neighborhood folds. Pure
    plan construction — exposed so plan audits can see the in-round
    physical plan."""
    lab_of = labels.select(F.col("url").alias("_lu"), F.col("lab").alias("_l"))
    folds = []
    for key, nbr, name in (("src", "dst", "out"), ("dst", "src", "in")):
        h = hexint15(F.col("_l").cast("string")).cast("decimal(38,0)")
        folds.append(
            e.join(lab_of, e[nbr] == lab_of["_lu"])
            .groupBy(F.col(key).alias("url"))
            .agg(
                F.sum(h).alias(f"_s_{name}"),
                F.count(F.lit(1)).cast("long").alias(f"_c_{name}"),
            )
        )
    combined = labels.join(folds[0], "url", "left").join(folds[1], "url", "left")
    zero = F.lit(0).cast("decimal(38,0)")
    return combined.select(
        "url",
        hexint15(
            F.concat_ws(
                "|",
                F.col("lab").cast("string"),
                F.coalesce(F.col("_s_out"), zero).cast("string"),
                F.coalesce(F.col("_c_out"), F.lit(0)).cast("string"),
                F.coalesce(F.col("_s_in"), zero).cast("string"),
                F.coalesce(F.col("_c_in"), F.lit(0)).cast("string"),
            )
        ).alias("lab"),
    )


def wl_refinement(edges: DataFrame, rounds: int = 2) -> DataFrame:
    """(url, wl_label) after ``rounds`` of directed 1-WL color refinement
    over the (src, dst) edge table; labels are 60-bit md5 ints, round 0
    is the uniform label 0 (so round 1 labels encode the in/out degree
    pair, round 2 the degree pair's radius-1 multiset, ...).

    Per round (``_round``): two partial-aggregated exchanges (out-fold
    keyed by src, in-fold keyed by dst) + two vertex-sized LEFT joins.
    The rounds run on plans/fixpoint.iterate; a fixed-round loop has no
    stop statistic, so each round's one action is its eager
    localCheckpoint.
    """
    if rounds < 0:
        raise ValueError("rounds must be >= 0")
    e = edges.select(F.col("src").cast("string"), F.col("dst").cast("string"))
    verts = (
        e.select(F.col("src").alias("url"))
        .union(e.select(F.col("dst").alias("url")))
        .distinct()
    )
    labels = iterate(
        "wl_refinement",
        verts.select("url", F.lit(0).cast("bigint").alias("lab")),
        lambda labels, _k: _round(e, labels),
        range(rounds),
    )
    return labels.select("url", F.col("lab").alias("wl_label"))


def wl_histogram(labels: DataFrame) -> DataFrame:
    """(wl_label, n_vertices) — the graph's WL color histogram (the
    feature vector of the WL subtree kernel at this depth). One
    map-side-combined aggregate."""
    return labels.groupBy("wl_label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vertices")
    )


def wl_graph_similarity(
    edges_a: DataFrame, edges_b: DataFrame, rounds: int = 1
) -> DataFrame:
    """1-row (n_labels_a, n_labels_b, common_labels, cosine) — the WL
    subtree-kernel similarity (Shervashidze et al. 2011, normalized)
    between two graphs: cosine of their WL color HISTOGRAMS at the given
    refinement depth. The whole-graph analogue of the per-vertex
    wl_refinement fingerprints — snapshot drift, mirror-graph detection,
    and synthetic-vs-real (rmat_graph) structure checks read one number
    instead of diffing label tables. rounds=1 compares in/out-degree-pair
    histograms; deeper rounds weight neighborhoods exponentially harder
    (WL discriminates fast, so histograms disjoint quickly on labeled
    web graphs — depth 1-2 is the useful range).

    Exactness: counts are exact BIGINTs, the dot product and squared
    norms sum exact DECIMAL(38,0) products, and the cosine is one fixed
    double expression (dot / (sqrt(ssa) * sqrt(ssb))) rounded 6dp.
    Scale: two wl_refinement runs + histogram rollups (map-side
    combined), then ONE full-outer join on the (tiny) label-histogram
    tables."""
    ha = wl_histogram(wl_refinement(edges_a, rounds)).select(
        F.col("wl_label"), F.col("n_vertices").alias("ca")
    )
    hb = wl_histogram(wl_refinement(edges_b, rounds)).select(
        F.col("wl_label"), F.col("n_vertices").alias("cb")
    )
    j = ha.join(hb, "wl_label", "full_outer")
    dec = "decimal(38,0)"
    agg = j.agg(
        F.count(F.col("ca")).cast("long").alias("n_labels_a"),
        F.count(F.col("cb")).cast("long").alias("n_labels_b"),
        F.count(F.when(F.col("ca").isNotNull() & F.col("cb").isNotNull(), 1))
        .cast("long")
        .alias("common_labels"),
        F.sum(
            F.when(
                F.col("ca").isNotNull() & F.col("cb").isNotNull(),
                F.col("ca").cast(dec) * F.col("cb").cast(dec),
            )
        ).alias("_dot"),
        F.sum(F.when(F.col("ca").isNotNull(),
                     F.col("ca").cast(dec) * F.col("ca").cast(dec))).alias("_ssa"),
        F.sum(F.when(F.col("cb").isNotNull(),
                     F.col("cb").cast(dec) * F.col("cb").cast(dec))).alias("_ssb"),
    )
    return agg.select(
        "n_labels_a",
        "n_labels_b",
        "common_labels",
        F.round(
            F.coalesce(F.col("_dot"), F.lit(0).cast(dec)).cast("double")
            / (
                F.sqrt(F.col("_ssa").cast("double"))
                * F.sqrt(F.col("_ssb").cast("double"))
            ),
            6,
        ).alias("cosine"),
    )
