"""Degree-ordered triangle counting (Suri & Vassilvitskii, WWW 2011 /
Schank's compact-forward), and the wedge joins of the triangle and
common-neighbour family.

Orient each undirected edge from the lower-(degree, id) endpoint to the
higher (``_orient``); every triangle is then closed exactly once as a
wedge at its lowest-rank vertex by an oriented edge (``_close``; k_truss
counts its edge support on the same two). Degree-ordering caps the
out-degree of hub vertices at O(sqrt(m)), which is what bounds the wedge
explosion (and hence shuffle skew) on power-law web graphs; AQE skew-join
splitting covers the residual tail. The common-neighbour operators
(linkpred.py) pair the neighbours of a degree-capped centre (``_wedges``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.operators.kcore import _broadcaster, _degree, _undirect


def _orient(und: DataFrame, deg: DataFrame) -> DataFrame:
    """The (a, b) edges ``und`` oriented from the lower-(degree, id)
    endpoint u to the higher v, as (u, v, dv); ``deg`` the (x, d) degree
    table."""
    e = und.join(
        deg.select(F.col("x").alias("a"), F.col("d").alias("da")), "a"
    ).join(deg.select(F.col("x").alias("b"), F.col("d").alias("db")), "b")
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    return e.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    )


def _close(o: DataFrame) -> DataFrame:
    """Each triangle of the oriented edges ``o`` once, as (u, v1, v2): the
    wedge v1 <- u -> v2 at its lowest-rank vertex u, closed by v1 -> v2."""
    e1 = o.select("u", F.col("v").alias("v1"), F.col("dv").alias("d1"))
    e2 = o.select("u", F.col("v").alias("v2"), F.col("dv").alias("d2"))
    wedges = e1.join(e2, "u").where(
        (F.col("d1") < F.col("d2"))
        | ((F.col("d1") == F.col("d2")) & (F.col("v1") < F.col("v2")))
    )
    closing = o.select(F.col("u").alias("v1"), F.col("v").alias("v2"))
    return wedges.join(closing, ["v1", "v2"]).select("u", "v1", "v2")


def _wedges(nbrs: DataFrame, max_degree: int) -> DataFrame:
    """(z, d, a, b) with a < b: every pair of neighbours of a centre z
    whose degree d is at most ``max_degree``. ``nbrs`` holds (z, v, d)
    rows, one per neighbour v of z."""
    c = nbrs.where(F.col("d") <= max_degree)
    return (
        c.select("z", "d", F.col("v").alias("a"))
        .join(c.select("z", F.col("v").alias("b")), "z")
        .where(F.col("a") < F.col("b"))
    )


def triangle_count(
    edges: DataFrame, per_vertex: bool = False, with_degree: bool = False
) -> DataFrame:
    """Global count as a 1-row DataFrame (n_triangles), or per-vertex
    (url, triangles) when ``per_vertex`` — vertices in no triangle get 0.
    ``with_degree`` (per-vertex only) adds the undirected simple degree as
    (url, degree, triangles), letting clustering_coefficients reuse the
    degree aggregate this function already computes.

    The degree table broadcasts under resolve_broadcast's vertex-count
    policy (``kcore._broadcaster``). Cache hygiene: the undirected edge
    set and the oriented frame are persisted only for the duration of the
    call — the result is materialized here (tiny global row via collect;
    per-vertex table via eager localCheckpoint) and both released before
    returning, so a session composing many reports never accumulates
    CacheManager entries (see plans/caching.py)."""
    from pagerank_spark.plans.caching import checkpoint_release, collect_release

    und = _undirect(edges, "src", "dst")[0].persist()
    deg = _degree(und)
    o = _orient(und, _broadcaster(deg.count())(deg)).persist()
    tris = _close(o)

    if not per_vertex:
        out = tris.agg(F.count(F.lit(1)).alias("n_triangles"))
        return collect_release(out, (und, o))
    per = (
        tris.select(F.col("u").alias("url"))
        .union(tris.select(F.col("v1").alias("url")))
        .union(tris.select(F.col("v2").alias("url")))
        .groupBy("url")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    # deg already enumerates every vertex of the undirected simple graph
    verts = deg.select(F.col("x").alias("url"), F.col("d").alias("degree"))
    cols = ["url", "degree"] if with_degree else ["url"]
    out = (
        verts.join(per, "url", "left")
        .select(*cols, F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"))
    )
    return checkpoint_release(out, (und, o))
