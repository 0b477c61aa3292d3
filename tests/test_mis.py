"""Deterministic Luby maximal independent set (operators/mis.py)."""

import pytest


def _edges(spark, rows):
    return spark.createDataFrame(rows, ["src", "dst"])


def _check_independent_maximal(rows, mis, extra=()):
    adj = {}
    for s, d in rows:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    for v in mis:
        assert not (adj.get(v, set()) & mis), f"{v} has a MIS neighbor"
    for v in set(adj) | set(extra):
        if v not in mis:
            assert adj.get(v, set()) & mis, f"{v} could be added — not maximal"


def test_mis_path_triangle_isolated(spark):
    """Path a-b-c-d-e + triangle x-y-z + isolated f (extra_vertices):
    md5 priorities admit {a, c, e, f, y} — pinned against an independent
    Python replay of the same rounds (tools prototype), and checked for
    independence + maximality."""
    from pagerank_spark.operators.mis import maximal_independent_set

    rows = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
            ("x", "y"), ("y", "z"), ("x", "z")]
    e = _edges(spark, rows)
    extra = spark.createDataFrame([("f",)], ["url"])
    mis = {r["url"] for r in maximal_independent_set(e, extra_vertices=extra).collect()}
    assert mis == {"a", "c", "e", "f", "y"}
    # structural properties: independent and maximal
    _check_independent_maximal(rows, mis, extra={"f"})


def test_mis_complete_graph_one_winner(spark):
    """K5: exactly one vertex (the md5-min) survives."""
    from pagerank_spark.operators.mis import maximal_independent_set

    vs = [f"v{i}" for i in range(5)]
    e = _edges(spark, [(a, b) for a in vs for b in vs if a < b])
    out = [r["url"] for r in maximal_independent_set(e).collect()]
    assert len(out) == 1


def test_mis_empty_edges_extra_only(spark):
    from pagerank_spark.operators.mis import maximal_independent_set

    e = _edges(spark, [("a", "a")])  # self-loop only: no undirected edges
    extra = spark.createDataFrame([("a",), ("b",)], ["url"])
    mis = {r["url"] for r in maximal_independent_set(e, extra_vertices=extra).collect()}
    assert mis == {"a", "b"}


def test_mis_max_rounds_raises(spark):
    from pagerank_spark.operators.mis import maximal_independent_set

    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    with pytest.raises(RuntimeError):
        maximal_independent_set(e, max_rounds=0)


def test_priority_tie_is_broken_by_url(spark, monkeypatch):
    # every vertex ties on the 60-bit priority: the url must break the tie,
    # else no vertex beats its neighbors and the rounds stall
    from pyspark.sql import functions as F

    from pagerank_spark.operators import mis

    monkeypatch.setattr(mis, "hexint15", lambda col: F.lit(7).cast("long"))
    rows = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
            ("x", "y"), ("y", "z"), ("x", "z")]
    got = {r["url"] for r in mis.maximal_independent_set(_edges(spark, rows)).collect()}
    _check_independent_maximal(rows, got)
