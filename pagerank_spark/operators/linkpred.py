"""Link prediction / co-reference analytics over the link graph:
co-citation and bibliographic coupling counts (Small 1973, Kessler 1963),
Adamic-Adar common-neighbor scores (Adamic & Adar 2003) and neighborhood
Jaccard similarity.

All four pair the neighbors of a wedge CENTER in one self-join
(``triangles._wedges``), which on a power-law web graph explodes
quadratically at hub vertices — so each takes an explicit DEGREE CAP and
the join drops high-degree centers entirely rather than sampling them.
That is the standard web-IR treatment (a page citing 10^5 others
contributes no co-citation signal, and a vertex with 10^5 neighbors adds
~1/ln(10^5) ≈ 0.09 to 10^10 pairs — pure noise at quadratic cost). The cap
makes the shuffle volume O(E · cap) worst-case instead of O(Σ d²), and the
residual skew inside the cap is within AQE skew-join range. Co-citation
centers on the citing page over the distinct directed edges (coupling on
the cited page); Adamic-Adar and Jaccard center on the common neighbor of
the undirected simple graph of ``kcore._undirect``.

Cross-engine float hygiene: the Adamic-Adar sum is accumulated in
DECIMAL(28,9) over per-term ROUND(1/ln(d), 9) quantities — decimal addition
is exact and order-independent, so Spark's partial-aggregate tree and
DuckDB's single-threaded fold produce bit-identical totals (a raw double
SUM would be summation-order-dependent and could flip the value hash).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.operators.kcore import _degree, _undirect
from pagerank_spark.operators.triangles import _wedges
from pagerank_spark.plans.caching import checkpoint_release

# Wedge centers above this degree are dropped (see module docstring).
DEFAULT_DEGREE_CAP = 256


def _centres(edges: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """``(und, deg, nbrs)`` of the undirected simple graph underlying
    ``edges``: the persisted (a, b) edge set, its (x, d) degree table and
    the (z, v, d) neighbour rows ``_wedges`` pairs."""
    und, adj, _ = _undirect(edges, "src", "dst")
    und.persist()
    deg = _degree(und)
    nbrs = adj.join(deg.select(F.col("x").alias("u"), "d"), "u")
    return und, deg, nbrs.select(F.col("u").alias("z"), "v", "d")


def cocitation(
    edges: DataFrame,
    max_citing_outdeg: int = DEFAULT_DEGREE_CAP,
    min_count: int = 2,
) -> DataFrame:
    """Pairs of pages cited together: (a, b, cocitations) with a < b, for
    unordered dst pairs sharing >= ``min_count`` distinct citing sources
    whose out-degree is <= ``max_citing_outdeg``.

    One distinct pass, one out-degree aggregate, one src-keyed self-join
    bounded by the cap, one pair-keyed count with map-side combine. The
    symmetric operator on src (bibliographic coupling) is the same code with
    the roles swapped — pass reversed edges.
    """
    de = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .persist()
    )
    od = de.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    nbrs = de.join(od, "src").select(F.col("src").alias("z"), F.col("dst").alias("v"), "d")
    pairs = (
        _wedges(nbrs, max_citing_outdeg)
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("cocitations"))
        .where(F.col("cocitations") >= min_count)
    )
    # pair-sized result: checkpoint it, release the distinct-edge cache
    # (blocks freed when the caller drops the DataFrame — plans/caching.py)
    return checkpoint_release(pairs, (de,))


def adamic_adar(
    edges: DataFrame,
    max_center_degree: int = DEFAULT_DEGREE_CAP,
    min_common: int = 2,
) -> DataFrame:
    """Adamic-Adar link prediction over the undirected simple graph:
    (a, b, common_neighbors, aa_score) for NON-ADJACENT pairs sharing
    >= ``min_common`` common neighbors, scored sum(1/ln(deg(z))) over common
    neighbors z with deg(z) <= ``max_center_degree``.

    Wedges are generated AT the common neighbor (one neighbor-list
    self-join, capped); existing edges are removed with a LEFT ANTI join on
    the pair key. Per-term quantities are quantized to 9 dp then summed in
    DECIMAL so the score is bit-stable across engines and partitionings;
    the emitted double is rounded to 6 dp like every float in the contract.

    A centre of a pair a < b has degree >= 2, so 1/ln(deg) is always
    finite.
    """
    und, _, nbrs = _centres(edges)
    term = F.round(F.lit(1.0) / F.log(F.col("d")), 9).cast("decimal(28,9)")
    scored = (
        _wedges(nbrs, max_center_degree)
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("common_neighbors"),
            F.sum(term).alias("aa_dec"),
        )
        .where(F.col("common_neighbors") >= min_common)
    )
    non_adjacent = scored.join(und, ["a", "b"], "left_anti")
    out = non_adjacent.select(
        "a",
        "b",
        "common_neighbors",
        F.round(F.col("aa_dec").cast("double"), 6).alias("aa_score"),
    )
    return checkpoint_release(out, (und,))


def neighbor_jaccard(
    edges: DataFrame,
    max_center_degree: int = DEFAULT_DEGREE_CAP,
    min_common: int = 2,
) -> DataFrame:
    """Neighborhood Jaccard similarity over the undirected simple graph:
    (a, b, common_neighbors, deg_a, deg_b, jaccard) for pairs sharing
    >= ``min_common`` common neighbors, with
    jaccard = |N(a) ∩ N(b)| / |N(a) ∪ N(b)| = common / (deg_a + deg_b - common).

    This is the link-structure analogue of document near-dup: two pages whose
    neighborhoods are nearly identical are structurally interchangeable
    (mirrors, boilerplate navigation hubs, scraped copies). Adjacent pairs
    are KEPT — unlike Adamic-Adar this is a similarity report, not a
    missing-link predictor.

    Wedges are generated at the common neighbor with the same degree CAP as
    the other operators here (a hub with 10^5 neighbors contributes ~10^10
    pairs of noise); the cap makes ``common`` a lower bound for pairs whose
    shared neighbors include dropped hubs — the DuckDB twin applies the
    identical cap. Degrees deg_a/deg_b are UNCAPPED (exact neighborhood
    sizes), read from the same degree table as the centres' degrees. The
    ratio is a single IEEE division of exact integers — no sum ordering —
    so ROUND(.,6) is bit-stable across engines.
    """
    und, deg, nbrs = _centres(edges)
    common = (
        _wedges(nbrs, max_center_degree)
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("common_neighbors"))
        .where(F.col("common_neighbors") >= min_common)
    )
    out = (
        common.join(deg.select(F.col("x").alias("a"), F.col("d").alias("deg_a")), "a")
        .join(deg.select(F.col("x").alias("b"), F.col("d").alias("deg_b")), "b")
        .select(
            "a",
            "b",
            "common_neighbors",
            "deg_a",
            "deg_b",
            F.round(
                F.col("common_neighbors").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("common_neighbors")),
                6,
            ).alias("jaccard"),
        )
    )
    return checkpoint_release(out, (und,))


def bibliographic_coupling(
    edges: DataFrame,
    max_cited_indeg: int = DEFAULT_DEGREE_CAP,
    min_count: int = 2,
) -> DataFrame:
    """Pairs of pages citing common references (Kessler 1963): (a, b,
    couplings) with a < b, for unordered src pairs sharing >= ``min_count``
    distinct cited targets whose in-degree is <= ``max_cited_indeg``.

    Exactly ``cocitation`` with the edge roles swapped — the wedge center is
    the CITED page and the cap bounds its in-degree (a reference cited by
    10^5 pages couples everything to everything: noise at quadratic cost).
    """
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return cocitation(
        rev, max_citing_outdeg=max_cited_indeg, min_count=min_count
    ).withColumnRenamed("cocitations", "couplings")
