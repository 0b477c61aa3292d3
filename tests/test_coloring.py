"""Jones-Plassmann greedy coloring (operators/coloring.py) vs a pure
Python replay of the same hash-priority rounds + property checks."""

from __future__ import annotations

import hashlib

import pytest

from pagerank_spark.operators.coloring import greedy_coloring


def _pri(u: str) -> int:
    return int(hashlib.md5(u.encode()).hexdigest()[:15], 16)


def _py_jp(edges):
    # speculative coloring replay: every uncolored vertex picks its mex
    # over COLORED neighbors; same-pick adjacent conflicts lose to the
    # smaller (md5 priority, url) and retry next round
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nbr: dict[str, set[str]] = {}
    for a, b in und:
        nbr.setdefault(a, set()).add(b)
        nbr.setdefault(b, set()).add(a)
    color: dict[str, int] = {}
    remaining = set(nbr)
    while remaining:
        picks = {}
        for v in remaining:
            used = {color[u] for u in nbr[v] if u in color}
            c = 0
            while c in used:
                c += 1
            picks[v] = c
        keeps = {
            v: c
            for v, c in picks.items()
            if not any(
                u in picks and picks[u] == c and (_pri(u), u) < (_pri(v), v)
                for u in nbr[v]
            )
        }
        assert keeps, "tie stall in fixture"
        color.update(keeps)
        remaining -= set(keeps)
    return color


def _check_proper(edges, coloring):
    for a, b in edges:
        if a != b:
            assert coloring[a] != coloring[b], (a, b)


def test_matches_python_replay_and_is_proper(spark):
    edges = []
    for i in range(120):
        h = hashlib.md5(f"col{i}".encode()).hexdigest()
        a, b = int(h[:6], 16) % 30, int(h[6:12], 16) % 30
        edges.append((f"v{a}", f"v{b}"))
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["url"]: r["color"] for r in greedy_coloring(df).collect()}
    assert got == _py_jp(edges)
    _check_proper(edges, got)


def test_clique_uses_exactly_k_colors(spark):
    vs = [f"k{i}" for i in range(5)]
    edges = [(a, b) for a in vs for b in vs if a < b]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["url"]: r["color"] for r in greedy_coloring(df).collect()}
    assert sorted(got.values()) == [0, 1, 2, 3, 4]
    _check_proper(edges, got)


def test_path_stays_within_delta_plus_one(spark):
    # greedy JP guarantees <= Delta+1 = 3 colors on a path (not the
    # chromatic 2 — priority order can force a 2 before both ends close)
    edges = [(f"p{i}", f"p{i+1}") for i in range(20)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["url"]: r["color"] for r in greedy_coloring(df).collect()}
    assert set(got.values()) <= {0, 1, 2}
    assert got == _py_jp(edges)
    _check_proper(edges, got)


def test_isolated_extra_vertices_take_zero(spark):
    df = spark.createDataFrame([("a", "b")], ["src", "dst"])
    extra = spark.createDataFrame([("z1",), ("z2",)], ["url"])
    got = {
        r["url"]: r["color"]
        for r in greedy_coloring(df, extra_vertices=extra).collect()
    }
    assert got["z1"] == 0 and got["z2"] == 0
    assert {got["a"], got["b"]} == {0, 1}


def test_max_rounds_raises(spark):
    df = spark.createDataFrame([(f"c{i}", f"c{(i+1) % 9}") for i in range(9)],
                               ["src", "dst"])
    with pytest.raises(RuntimeError):
        greedy_coloring(df, max_rounds=0)


def test_priority_tie_is_broken_by_url(spark, monkeypatch):
    # every vertex ties on the 60-bit priority: the url must break the tie,
    # else two same-pick neighbors both keep their color
    from pyspark.sql import functions as F

    from pagerank_spark.operators import coloring

    monkeypatch.setattr(coloring, "hexint15", lambda col: F.lit(7).cast("long"))
    vs = [f"t{i}" for i in range(6)]
    edges = [(a, b) for a in vs for b in vs if a < b and (ord(a[1]) + ord(b[1])) % 3]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["url"]: r["color"] for r in coloring.greedy_coloring(df).collect()}
    _check_proper(edges, got)
