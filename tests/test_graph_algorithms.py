"""Exact-match tests: star-contraction CC, synchronous LPA, degree-ordered
triangle counting vs pure-Python oracles (SURVEY.md §7.3)."""

import pytest

from pagerank_spark.fixtures import synth_edges
from pagerank_spark.oracle.graph_np import (
    connected_components_np,
    label_propagation_np,
    triangle_count_np,
)
from pagerank_spark.operators.components import connected_components
from pagerank_spark.operators.labelprop import label_propagation
from pagerank_spark.operators.triangles import triangle_count


def _edges_df(spark, edges):
    return spark.createDataFrame(edges, ["src", "dst"])


# two disconnected communities + a path + isolated-ish structures
HAND_EDGES = [
    ("a", "b"), ("b", "c"), ("c", "a"),          # triangle 1
    ("c", "d"), ("d", "e"),                      # path tail
    ("x", "y"), ("y", "z"), ("z", "x"), ("x", "w"),  # triangle 2 + pendant
    ("q", "q"),                                  # self-loop only
    ("m", "n"), ("m", "n"),                      # duplicate edge
]


@pytest.mark.parametrize("edges", [HAND_EDGES, synth_edges(50, 120, seed=11), synth_edges(80, 150, seed=12)],
                         ids=["hand", "synth11", "synth12"])
def test_connected_components_exact(spark, edges):
    got = {r["url"]: r["component"] for r in connected_components(_edges_df(spark, edges), num_partitions=4).collect()}
    want = connected_components_np(edges)
    assert got == want


def test_connected_components_raises_when_rounds_run_out(spark):
    # a path still contracts after one round: a partial contraction would
    # return wrong labels, so the operator raises instead
    path = [(f"p{i}", f"p{i + 1}") for i in range(8)]
    with pytest.raises(RuntimeError, match="connected_components"):
        connected_components(_edges_df(spark, path), max_iterations=1)


@pytest.mark.parametrize("edges", [HAND_EDGES, synth_edges(40, 100, seed=21)], ids=["hand", "synth21"])
@pytest.mark.parametrize("rounds", [1, 3])
def test_label_propagation_exact(spark, edges, rounds):
    got = {
        r["url"]: r["label"]
        for r in label_propagation(
            _edges_df(spark, edges), max_iterations=rounds, num_partitions=4,
            stop_when_stable=True,
        ).collect()
    }
    want = label_propagation_np(edges, max_iter=rounds)
    assert got == want


@pytest.mark.parametrize("edges", [HAND_EDGES, synth_edges(50, 200, seed=31), synth_edges(30, 180, seed=32)],
                         ids=["hand", "synth31", "synth32"])
def test_triangle_count_exact(spark, edges):
    df = _edges_df(spark, edges)
    total_want, per_want = triangle_count_np(edges)
    total_got = triangle_count(df).first()["n_triangles"]
    assert total_got == total_want
    per_got = {r["url"]: r["triangles"] for r in triangle_count(df, per_vertex=True).collect()}
    # oracle omits zero-triangle vertices; spark reports 0 for them
    for url, t in per_got.items():
        assert t == per_want.get(url, 0)
    assert set(per_want) <= set(per_got)


def test_bipartite_check_hand(spark):
    """Even cycle a-b-c-d (bipartite), triangle x-y-z (odd), self-loop-only
    vertex s (trivially bipartite, isolated in the cover)."""
    from pagerank_spark.operators.components import bipartite_check

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"),
         ("x", "y"), ("y", "z"), ("z", "x"), ("s", "s")],
        ["src", "dst"],
    )
    rows = {r["component"]: r for r in bipartite_check(e).collect()}
    assert rows["a"]["n_vertices"] == 4 and rows["a"]["is_bipartite"] is True
    assert rows["x"]["n_vertices"] == 3 and rows["x"]["is_bipartite"] is False
    assert rows["s"]["n_vertices"] == 1 and rows["s"]["is_bipartite"] is True


def test_multi_source_distance_and_closeness_hand(spark):
    """a→b, a→c, b→d: from a the reachable set is {b:1, c:1, d:2} →
    closeness 3/4; d has no out-edges → NULL."""
    from pagerank_spark.operators.distance import (
        closeness_sample,
        multi_source_distance,
    )

    e = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "d")], ["src", "dst"]
    )
    srcs = spark.createDataFrame([("a",), ("d",)], ["url"])
    d = {
        (r["source"], r["url"]): r["dist"]
        for r in multi_source_distance(e, srcs, max_depth=5).collect()
    }
    assert d[("a", "a")] == 0 and d[("a", "b")] == 1
    assert d[("a", "c")] == 1 and d[("a", "d")] == 2
    assert ("d", "a") not in d and d[("d", "d")] == 0
    rows = {r["source"]: r for r in closeness_sample(e, srcs, max_depth=5).collect()}
    assert rows["a"]["n_reached"] == 3 and rows["a"]["total_dist"] == 4
    assert rows["a"]["closeness"] == pytest.approx(0.75)
    assert rows["d"]["n_reached"] == 0 and rows["d"]["closeness"] is None


def test_closeness_depth_cap(spark):
    """A 4-chain capped at depth 2 only counts 2 hops."""
    from pagerank_spark.operators.distance import closeness_sample

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], ["src", "dst"]
    )
    srcs = spark.createDataFrame([("a",)], ["url"])
    row = closeness_sample(e, srcs, max_depth=2).collect()[0]
    assert row["n_reached"] == 2 and row["total_dist"] == 3


def test_incremental_components_matches_full_recompute(spark):
    """Edge appends: merge two base components, attach a brand-new
    vertex, add a wholly new component, leave one component untouched —
    the incremental result must equal a from-scratch run on the union,
    exactly."""
    from pagerank_spark.operators.components import (
        connected_components,
        incremental_components,
    )

    base = spark.createDataFrame(
        [("a", "b"), ("c", "d"), ("e", "f"), ("g", "h")], ["src", "dst"]
    )
    delta = spark.createDataFrame(
        [("b", "c"),            # merges {a,b} with {c,d}
         ("f", "n1"),           # new vertex joins {e,f}
         ("n2", "n3")],         # wholly new component
        ["src", "dst"],
    )
    base_labels = connected_components(base)
    inc = {(r["url"], r["component"])
           for r in incremental_components(base_labels, delta).collect()}
    full = {(r["url"], r["component"])
            for r in connected_components(base.union(delta)).collect()}
    assert inc == full
    # spot the semantics: merged component labels to global min 'a',
    # untouched {g,h} keeps 'g', new component labels to 'n2'
    d = dict(inc)
    assert d["d"] == "a" and d["g"] == "g" and d["n3"] == "n2" and d["n1"] == "e"


def test_incremental_components_new_vertex_becomes_min_label(spark):
    """A delta vertex lexicographically below the base minimum takes over
    the merged component's label (the min-member convention survives
    contraction)."""
    from pagerank_spark.operators.components import (
        connected_components,
        incremental_components,
    )

    base = spark.createDataFrame([("m", "z")], ["src", "dst"])
    delta = spark.createDataFrame([("A", "z")], ["src", "dst"])
    base_labels = connected_components(base)
    got = {r["url"]: r["component"]
           for r in incremental_components(base_labels, delta).collect()}
    assert got == {"m": "A", "z": "A", "A": "A"}
