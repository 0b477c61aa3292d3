"""Unit tests for k-truss decomposition (operators/ktruss.py) against
hand-analyzed graphs; cross-engine equivalence at sf0.01 is covered by the
recursive-CTE DuckDB twin in __spark_entry__.py via tools/check_oracles.py.
"""

from __future__ import annotations

import pytest

from pagerank_spark.operators.ktruss import k_truss


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, ["src", "dst"])


def test_triangle_is_3_truss(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")])
    got = {(r["a"], r["b"]) for r in k_truss(e, k=3).collect()}
    # the pendant edge (c, d) closes no triangle and peels; the triangle stays
    assert got == {("a", "b"), ("b", "c"), ("a", "c")}


def test_k4_needs_two_triangles_per_edge(spark):
    # K4: every edge is in exactly 2 triangles -> survives k=4; adding a
    # pendant triangle (support 1 per new edge) peels it at k=4
    k4 = [("1", "2"), ("1", "3"), ("1", "4"), ("2", "3"), ("2", "4"), ("3", "4")]
    pend = [("4", "5"), ("4", "6"), ("5", "6")]
    got = {(r["a"], r["b"]) for r in k_truss(_edges(spark, k4 + pend), k=4).collect()}
    assert got == {tuple(sorted(p)) for p in k4}


def test_triangle_strip_cascades_to_empty(spark):
    # a triangulated cylinder of six 4-rings: every edge but the end rings'
    # closes 2 triangles, so k=4 peels the end rings first and unravels the
    # cylinder from both ends over six rounds — the cascade, not just the
    # first filter, must drive the fixpoint
    cyl = [(f"c{r}{j}", f"c{r}{(j + 1) % 4}") for r in range(6) for j in range(4)]
    cyl += [(f"c{r}{j}", f"c{r + 1}{(j + d) % 4}")
            for r in range(5) for j in range(4) for d in (0, 1)]
    assert k_truss(_edges(spark, cyl), k=4).count() == 0
    # more than 2 rounds ran
    with pytest.raises(RuntimeError):
        k_truss(_edges(spark, cyl), k=4, max_rounds=2)
    # ...while k=3 keeps every edge that is in ANY triangle (all of them)
    assert k_truss(_edges(spark, cyl), k=3).count() == len(cyl)


def test_duplicate_and_self_edges_collapse(spark):
    e = _edges(
        spark,
        [("a", "b"), ("b", "a"), ("a", "b"), ("b", "c"), ("c", "a"), ("a", "a")],
    )
    got = {(r["a"], r["b"]) for r in k_truss(e, k=3).collect()}
    assert got == {("a", "b"), ("b", "c"), ("a", "c")}


def test_max_rounds_raises(spark):
    strip = [(f"p{i}", f"p{i+1}") for i in range(9)] + [
        (f"p{i}", f"p{i+2}") for i in range(8)
    ]
    with pytest.raises(RuntimeError):
        k_truss(_edges(spark, strip), k=4, max_rounds=1)


def test_k_below_3_rejected(spark):
    with pytest.raises(ValueError):
        k_truss(_edges(spark, [("a", "b")]), k=2)
