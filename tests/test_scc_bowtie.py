"""SCC (trim + coloring + in-color backward sweep) and the Broder bowtie.

The semantic anchor is a pure-Python Kosaraju replay: on seeded random
directed graphs the distributed labeling must produce EXACTLY the same
partition into strongly connected components, and the bowtie classes
must match a brute-force reachability classifier.
"""

import itertools

import pytest

from pagerank_spark.operators.scc import (
    PARTS,
    bowtie,
    strongly_connected_components,
)


# -- pure-Python oracles -----------------------------------------------------

def _kosaraju(edges):
    adj, radj, verts = {}, {}, set()
    for s, d in edges:
        if s == d:
            verts.add(s)
            continue
        adj.setdefault(s, set()).add(d)
        radj.setdefault(d, set()).add(s)
        verts.update((s, d))
    order, seen = [], set()

    def dfs1(v):
        stack = [(v, iter(sorted(adj.get(v, ()))))]
        seen.add(v)
        while stack:
            node, it = stack[-1]
            nxt = next(it, None)
            if nxt is None:
                order.append(node)
                stack.pop()
            elif nxt not in seen:
                seen.add(nxt)
                stack.append((nxt, iter(sorted(adj.get(nxt, ())))))

    for v in sorted(verts):
        if v not in seen:
            dfs1(v)
    comp, assigned = {}, set()
    for v in reversed(order):
        if v in assigned:
            continue
        members, stack = [], [v]
        assigned.add(v)
        while stack:
            node = stack.pop()
            members.append(node)
            for w in radj.get(node, ()):
                if w not in assigned:
                    assigned.add(w)
                    stack.append(w)
        label = min(members)
        for m in members:
            comp[m] = label
    return comp


def _reach_py(edges, seeds):
    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    seen, stack = set(seeds), list(seeds)
    while stack:
        v = stack.pop()
        for w in adj.get(v, ()):
            if w not in seen:
                seen.add(w)
                stack.append(w)
    return seen


def _bowtie_py(edges):
    comp = _kosaraju(edges)
    sizes = {}
    for v, c in comp.items():
        sizes[c] = sizes.get(c, 0) + 1
    core_label = min(
        (c for c in sizes), key=lambda c: (-sizes[c], c)
    )
    core = {v for v, c in comp.items() if c == core_label}
    redges = [(d, s) for s, d in edges]
    fwd = _reach_py(edges, core)
    bwd = _reach_py(redges, core)
    outs, ins = fwd - core, bwd - core
    rest = set(comp) - core - ins - outs
    from_in = _reach_py(edges, ins) & rest
    to_out = _reach_py(redges, outs) & rest
    part = {}
    for v in comp:
        if v in core:
            part[v] = "CORE"
        elif v in ins:
            part[v] = "IN"
        elif v in outs:
            part[v] = "OUT"
        elif v in from_in and v in to_out:
            part[v] = "TUBE"
        elif v in from_in:
            part[v] = "TENDRIL_IN"
        elif v in to_out:
            part[v] = "TENDRIL_OUT"
        else:
            part[v] = "DISCONNECTED"
    return part


def _rand_edges(seed, n=36, m=90):
    # deterministic LCG so the fixture never drifts
    state = seed
    out = set()
    while len(out) < m:
        state = (state * 6364136223846793005 + 1442695040888963407) % 2**64
        a = (state >> 16) % n
        b = (state >> 40) % n
        if a != b:
            out.add((f"x{a}", f"x{b}"))
    return sorted(out)


def _scc_dict(spark, edges):
    df = spark.createDataFrame(edges, ["src", "dst"])
    return {
        r["url"]: r["component"]
        for r in strongly_connected_components(df).collect()
    }


# -- SCC ----------------------------------------------------------------------

def test_scc_hand_graph(spark):
    # two 3-cycles bridged by a DAG edge, plus a trim tail
    edges = [
        ("a", "b"), ("b", "c"), ("c", "a"),
        ("c", "p"), ("p", "q"), ("q", "r"), ("r", "p"),
        ("r", "z"),
    ]
    got = _scc_dict(spark, edges)
    assert got == {
        "a": "a", "b": "a", "c": "a",
        "p": "p", "q": "p", "r": "p",
        "z": "z",
    }


def test_scc_pure_dag_all_singletons(spark):
    edges = [("d0", "d1"), ("d1", "d2"), ("d0", "d2"), ("d2", "d3")]
    got = _scc_dict(spark, edges)
    assert got == {v: v for v in ("d0", "d1", "d2", "d3")}


def test_scc_self_loops_are_singletons(spark):
    got = _scc_dict(spark, [("s", "s"), ("s", "t"), ("t", "t")])
    assert got == {"s": "s", "t": "t"}


@pytest.mark.parametrize("seed", [3, 11, 29])
def test_scc_matches_kosaraju_on_random_graphs(spark, seed):
    edges = _rand_edges(seed)
    assert _scc_dict(spark, edges) == _kosaraju(edges)


def test_scc_shuffle_path_matches_broadcast_path(spark):
    edges = _rand_edges(7, n=20, m=44)
    assert _scc_dict(spark, edges) == {
        r["url"]: r["component"]
        for r in strongly_connected_components(
            spark.createDataFrame(edges, ["src", "dst"]), broadcast_labels=False
        ).collect()
    }


# -- bowtie --------------------------------------------------------------------

BOWTIE_EDGES = (
    # core 4-cycle
    [("c0", "c1"), ("c1", "c2"), ("c2", "c3"), ("c3", "c0")]
    # IN path -> core, OUT path from core
    + [("i0", "i1"), ("i1", "c0"), ("c2", "o0"), ("o0", "o1")]
    # tube IN -> OUT bypassing core; tendrils; disconnected 2-cycle
    + [("i0", "t0"), ("t0", "o1"),
       ("i1", "u0"),
       ("w0", "o0"),
       ("d0", "d1"), ("d1", "d0")]
)


def test_bowtie_hand_graph(spark):
    df = spark.createDataFrame(BOWTIE_EDGES, ["src", "dst"])
    got = {r["url"]: r["part"] for r in bowtie(df).collect()}
    assert got == {
        "c0": "CORE", "c1": "CORE", "c2": "CORE", "c3": "CORE",
        "i0": "IN", "i1": "IN",
        "o0": "OUT", "o1": "OUT",
        "t0": "TUBE",
        "u0": "TENDRIL_IN",
        "w0": "TENDRIL_OUT",
        "d0": "DISCONNECTED", "d1": "DISCONNECTED",
    }
    assert got == _bowtie_py(BOWTIE_EDGES)


@pytest.mark.parametrize("seed", [5, 17])
def test_bowtie_matches_python_classifier_on_random_graphs(spark, seed):
    edges = _rand_edges(seed, n=24, m=40)
    df = spark.createDataFrame(edges, ["src", "dst"])
    rows = bowtie(df).collect()
    got = {r["url"]: r["part"] for r in rows}
    assert len(rows) == len(got), "each vertex classified exactly once"
    assert set(got.values()) <= set(PARTS)
    assert got == _bowtie_py(edges)


def test_bowtie_reuses_precomputed_scc(spark):
    df = spark.createDataFrame(BOWTIE_EDGES, ["src", "dst"])
    scc = strongly_connected_components(df)
    got = {r["url"]: r["part"] for r in bowtie(df, scc=scc).collect()}
    assert got == _bowtie_py(BOWTIE_EDGES)


def test_scc_deep_chain_rebuilds_edge_table_once(spark):
    """Round-5 verdict item: the trim fixpoint must pay O(1) edge-table
    rebuilds regardless of peel depth. A 200-vertex directed chain is the
    worst case — every peel round removes only the two endpoints, so the
    round-4 implementation rebuilt (repartitioned + checkpointed) the edge
    table ~100 times; the degree-fixpoint trim rebuilds at most once."""
    n = 200
    rows = [(f"c{i:04d}", f"c{i + 1:04d}") for i in range(n - 1)]
    df = spark.createDataFrame(rows, ["src", "dst"])
    metrics: list = []
    got = strongly_connected_components(df, metrics=metrics).collect()
    assert len(got) == n
    assert all(r["component"] == r["url"] for r in got)  # all singletons
    rebuilds = sum(m.get("edge_rebuilds", 0) for m in metrics)
    assert rebuilds <= 1
    # the chain trims away entirely in one fixpoint: one trim phase, no
    # color/settle work at all
    assert [m["phase"] for m in metrics] == ["trim"]
