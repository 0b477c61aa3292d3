"""SALSA — the Stochastic Approach for Link-Structure Analysis (Lempel &
Moran, WWW9 2000 / ACM TOIS 19(2) 2001).

The degree-normalized cousin of HITS (operators/hits.py): hub and
authority scores are the stationary distributions of the two alternating
random walks on the bipartite hub/authority view of the link graph. Where
HITS needs a converging power loop, SALSA's chains are doubly-derived
from degrees and Lempel-Moran prove the stationary distribution in CLOSED
FORM (TOIS §3.2): within each connected component of the bipartite
support graph,

    authority(j) = (|A_c| / |A|) * indeg(j)  / sum_{k in A_c} indeg(k)
    hub(i)       = (|H_c| / |H|) * outdeg(i) / sum_{k in H_c} outdeg(k)

(|A_c| = authorities in j's component, |A| = all authorities; degrees
over DISTINCT edges — SALSA is defined on link existence, not
multiplicity). A Spark-first implementation therefore needs NO iteration
at all: it is connected components (reused from operators/components.py,
alternating star-contraction with its broadcast auto-policy) over the
bipartite graph, plus two degree aggregates and component-sized joins —
strictly cheaper than one HITS iteration, and exactly why SALSA is the
web-scale choice (Twitter's WTF recommender runs it at 10^9-vertex
scale for this reason).

Spark shape: dedup edges (one map-side-combined aggregate); bipartite
edges 'h:'+src -> 'a:'+dst feed connected_components; degree tables are
map-side-combined counts; everything after is component-keyed (component
count <= vertices, shrinking aggregates). No Python rows, no loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.operators.components import connected_components


def salsa(edges: DataFrame) -> DataFrame:
    """(url, hub, authority) SALSA scores over a (src, dst) edge table.

    Scores are each a probability distribution (hub over all pages that
    link out, authority over all pages linked to); pages on only one side
    score 0.0 on the other.
    """
    e = (
        edges.select(F.col("src").cast("string"), F.col("dst").cast("string"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    bip = e.select(
        F.concat(F.lit("h:"), F.col("src")).alias("src"),
        F.concat(F.lit("a:"), F.col("dst")).alias("dst"),
    )
    comp = connected_components(bip)

    def side(prefix: str, deg_of: str, out_name: str) -> DataFrame:
        deg = (
            e.groupBy(F.col(deg_of).alias("url"))
            .agg(F.count("*").alias("_deg"))
            .select(F.concat(F.lit(prefix), F.col("url")).alias("_b"), "url", "_deg")
        )
        d = deg.join(comp.withColumnRenamed("url", "_b"), "_b").drop("_b")
        totals = d.groupBy("component").agg(
            F.count("*").alias("_nc"), F.sum("_deg").alias("_sumdeg")
        )
        # |side| folded in as a 1-row broadcast instead of a driver count():
        # the whole score stays one lazy plan, no extra job
        n_side = totals.agg(F.sum("_nc").cast("double").alias("_n"))
        return (
            d.join(totals, "component")
            .crossJoin(F.broadcast(n_side))
            .select(
                "url",
                (
                    (F.col("_nc").cast("double") / F.col("_n"))
                    * F.col("_deg").cast("double")
                    / F.col("_sumdeg").cast("double")
                ).alias(out_name),
            )
        )

    hubs = side("h:", "src", "hub")
    auths = side("a:", "dst", "authority")
    return (
        hubs.join(auths, "url", "full_outer")
        .fillna(0.0, ["hub", "authority"])
        .select("url", "hub", "authority")
    )
