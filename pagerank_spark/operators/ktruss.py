"""k-truss decomposition (fixed k): the maximal subgraph where every edge
participates in at least k-2 triangles (Cohen 2008, "Trusses: cohesive
subgraphs for social network analysis"; the distributed formulation is the
standard iterated support-filter, e.g. Chen et al. / graph-challenge
implementations).

The truss is the edge-analogue of the k-core and a much stronger
community signal: a k-core can be a star-like hub mass with no cohesion,
while every k-truss edge is embedded in k-2 triangles. Curation use on a
link graph: the truss backbone separates genuinely cross-linked site
clusters from nav-template link meshes that the in-link-ratio filter
(reference pagerank.py:52-57) only heuristically removes.

Scale shape per round: one degree-ordered triangle enumeration over the
surviving edge set — triangle_count's own orientation and closure
(``triangles._orient``/``_close``, hub out-degree capped at O(sqrt m)),
with an unbroadcast degree join — one edge-keyed partial-aggregated
support count, one left join + filter.
Rounds are O(peeling depth) and run on k_core's peel loop
(kcore._peel over plans/fixpoint.iterate): each round's one action is the
surviving-edge count over the round's lazy localCheckpoint. The DuckDB
twin replicates the fixpoint as a recursive CTE whose per-edge support is
a correlated common-neighbor count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.operators.kcore import _degree, _peel, _undirect
from pagerank_spark.operators.triangles import _close, _orient


def _edge_support(cur: DataFrame) -> DataFrame:
    """(a, b, support) for every edge of the undirected simple edge set
    ``cur`` that closes at least one triangle: each triangle that
    triangles._close finds emits its three normalized edge keys once."""
    tris = _close(_orient(cur, _degree(cur)))
    sides = (
        tris.select(F.col("u").alias("x"), F.col("v1").alias("y"))
        .unionAll(tris.select(F.col("u").alias("x"), F.col("v2").alias("y")))
        .unionAll(tris.select(F.col("v1").alias("x"), F.col("v2").alias("y")))
    )
    return (
        sides.select(
            F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("support"))
    )


def k_truss(
    edges: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int | None = None,
) -> DataFrame:
    """(a, b) — the edges of the k-truss of the undirected simple graph
    underlying ``edges`` (self-loops dropped, multi-edges collapsed,
    a < b). Possibly empty. Deterministic.

    ``max_rounds=None`` peels to the fixpoint — every non-final round
    strictly shrinks the edge set so termination is guaranteed; pass a cap
    to fail fast on graphs whose peel depth is operationally unacceptable
    (the scc.py convention: raise, never return partial results)."""
    if k < 3:
        raise ValueError("k_truss needs k >= 3 (a 2-truss is every edge)")

    def step(cur: DataFrame, _n: int) -> DataFrame:
        return (
            cur.join(_edge_support(cur), ["a", "b"], "left")
            .where(F.coalesce(F.col("support"), F.lit(0)) >= k - 2)
            .select("a", "b")
        )

    return _peel("k_truss", _undirect(edges, src_col, dst_col)[0], step, max_rounds)
