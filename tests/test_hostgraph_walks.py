"""Host-graph rollup and deterministic random walks."""

import hashlib

import pytest
from pyspark.sql import functions as F

from pagerank_spark.operators.hostgraph import host_graph, host_linkgraph
from pagerank_spark.operators.walks import random_walks, walk_sentences

PAGES = [
    # (src, dst) page-level links across three hosts a.test / b.test / c.test
    ("http://a.test/1", "http://b.test/x"),
    ("http://a.test/2", "http://b.test/y"),  # parallel at host level (a->b)
    ("http://a.test/1", "http://a.test/2"),  # intra-host self-loop
    ("https://B.code@b.test:8080/z?q=1", "http://c.test/"),  # userinfo+port+query
    ("http://c.test/", "http://a.test/1"),
]


def test_host_graph_rollup(spark):
    raw = spark.createDataFrame(PAGES, ["src", "dst"])
    got = {(r.src, r.dst): r.n_links for r in host_graph(raw).collect()}
    assert got == {("a.test", "b.test"): 2, ("b.test", "c.test"): 1, ("c.test", "a.test"): 1}


def test_host_graph_keep_self(spark):
    raw = spark.createDataFrame(PAGES, ["src", "dst"])
    got = {(r.src, r.dst): r.n_links for r in host_graph(raw, keep_self=True).collect()}
    assert got[("a.test", "a.test")] == 1
    assert len(got) == 4


def test_host_linkgraph_weights_and_pagerank(spark):
    raw = spark.createDataFrame(PAGES, ["src", "dst"])
    g = host_linkgraph(raw, num_partitions=4)
    try:
        w = {(r.src, r.dst): r.weight for r in g.edges.collect()}
        # a.test's two inter-host links both go to b.test -> weight 1.0
        assert w == {
            ("a.test", "b.test"): pytest.approx(1.0),
            ("b.test", "c.test"): pytest.approx(1.0),
            ("c.test", "a.test"): pytest.approx(1.0),
        }
        assert {r.url for r in g.vertices.collect()} == {"a.test", "b.test", "c.test"}
        # a 3-cycle with uniform weights -> uniform stationary distribution
        ranks = g.pagerank(epsilon=1e-9, max_iterations=200).collect()
        vals = [r.rank for r in ranks]
        assert max(vals) - min(vals) < 1e-6
    finally:
        g.unpersist()


WALK_EDGES = [
    ("a", "b"),
    ("a", "c"),
    ("b", "c"),
    ("c", "a"),
    ("a", "b"),  # duplicate edge: must not skew the draw
    # "d" dangling target only reachable from nowhere; "e" -> d truncates
    ("e", "d"),
]


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _expected_walks(edges, starts, length, wpv):
    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    rows = set()
    for u in starts:
        for r in range(wpv):
            wid, cur = f"{u}#{r}", u
            rows.add((wid, 0, cur))
            for t in range(1, length + 1):
                nbrs = adj.get(cur)
                if not nbrs:
                    break
                cur = min(nbrs, key=lambda d: _h60(f"{wid}|{t}|{d}"))
                rows.add((wid, t, cur))
    return rows


def test_random_walks_match_reference_model(spark):
    raw = spark.createDataFrame(WALK_EDGES, ["src", "dst"])
    got = {
        (r.walk_id, r.step, r.url)
        for r in random_walks(raw, walk_length=5, walks_per_vertex=2).collect()
    }
    exp = _expected_walks(WALK_EDGES, ["a", "b", "c", "e"], 5, 2)
    assert got == exp
    # walk e#*: one hop to dangling d, then truncated
    assert ("e#0", 1, "d") in got and not any(w == "e#0" and s > 1 for w, s, _ in got)


def test_random_walks_deterministic_and_edge_following(spark):
    raw = spark.createDataFrame(WALK_EDGES, ["src", "dst"])
    a = sorted(map(tuple, random_walks(raw, 4, 1).collect()))
    b = sorted(map(tuple, random_walks(raw, 4, 1).collect()))
    assert a == b
    edge_set = set(WALK_EDGES)
    byw = {}
    for wid, step, url in a:
        byw.setdefault(wid, {})[step] = url
    for wid, seq in byw.items():
        for t in range(1, max(seq) + 1):
            assert (seq[t - 1], seq[t]) in edge_set


def test_random_walks_checkpoint_parity(spark):
    # a length-10 walk crosses the step-8 checkpoint, a length-8 walk does
    # not: their steps 0..8 agree
    raw = spark.createDataFrame(WALK_EDGES, ["src", "dst"])
    a = sorted(r for r in map(tuple, random_walks(raw, 10, 2).collect()) if r[1] <= 8)
    b = sorted(map(tuple, random_walks(raw, 8, 2).collect()))
    assert a == b


def test_walk_sentences(spark):
    raw = spark.createDataFrame(WALK_EDGES, ["src", "dst"])
    walks = random_walks(raw, walk_length=3, walks_per_vertex=1)
    sents = {r.walk_id: r.sentence for r in walk_sentences(walks).collect()}
    byw = {}
    for r in walks.collect():
        byw.setdefault(r.walk_id, {})[r.step] = r.url
    for wid, seq in byw.items():
        assert sents[wid] == " ".join(seq[t] for t in sorted(seq))
    # sentence starts with the start vertex
    assert all(s.split(" ")[0] == wid.split("#")[0] for wid, s in sents.items())


def test_random_walks_explicit_starts_and_zero_length(spark):
    raw = spark.createDataFrame(WALK_EDGES, ["src", "dst"])
    starts = spark.createDataFrame([("a",), ("zzz",)], ["url"])
    rows = random_walks(raw, walk_length=0, walks_per_vertex=1, starts=starts).collect()
    assert {(r.walk_id, r.step, r.url) for r in rows} == {("a#0", 0, "a"), ("zzz#0", 0, "zzz")}


def test_weighted_walks_follow_weight_proportions(spark):
    """Star a→b (w=0.9), a→c (w=0.1): across 2000 independent step-1 draws
    the b-fraction must track 0.9 (the exponential-race key is an exact
    weight-proportional draw; 3σ ≈ 0.02 at n=2000)."""
    from pagerank_spark.operators.walks import weighted_random_walks

    e = spark.createDataFrame(
        [("a", "b", 0.9), ("a", "c", 0.1)], ["src", "dst", "weight"]
    )
    out = weighted_random_walks(e, walk_length=1, walks_per_vertex=2000)
    picks = [r["url"] for r in out.where("step = 1").collect()]
    assert len(picks) == 2000
    frac_b = picks.count("b") / 2000
    assert 0.85 <= frac_b <= 0.95, frac_b


def test_weighted_walks_drop_nonpositive_and_truncate(spark):
    """weight <= 0 edges never race; a walk reaching a dangling vertex
    truncates (no step row)."""
    from pagerank_spark.operators.walks import weighted_random_walks

    e = spark.createDataFrame(
        [("a", "b", 0.0), ("a", "c", 1.0), ("c", "d", -2.0)],
        ["src", "dst", "weight"],
    )
    rows = {
        (r["walk_id"], r["step"]): r["url"]
        for r in weighted_random_walks(e, walk_length=3).collect()
    }
    # every a-walk goes to c (the only positive edge), then truncates
    assert rows[("a#0", 1)] == "c"
    assert ("a#0", 2) not in rows
    # c has no POSITIVE out-edge, so it is not a default start at all
    assert ("c#0", 0) not in rows
    # explicit start at c: just the start row, then truncation
    from pagerank_spark.operators.walks import weighted_random_walks as wrw

    starts = spark.createDataFrame([("c",)], ["url"])
    rows2 = {
        (r["walk_id"], r["step"]): r["url"]
        for r in wrw(e, walk_length=2, starts=starts).collect()
    }
    assert rows2 == {("c#0", 0): "c"}


def test_weighted_walks_uniform_weights_match_uniform_variant_distribution(spark):
    """With equal weights the race is a uniform draw — each of 3 neighbors
    picked ~1/3 over 1500 walks."""
    from pagerank_spark.operators.walks import weighted_random_walks

    e = spark.createDataFrame(
        [("a", "b", 1.0), ("a", "c", 1.0), ("a", "d", 1.0)],
        ["src", "dst", "weight"],
    )
    out = weighted_random_walks(e, walk_length=1, walks_per_vertex=1500)
    picks = [r["url"] for r in out.where("step = 1").collect()]
    for v in ("b", "c", "d"):
        assert 0.28 <= picks.count(v) / 1500 <= 0.39, (v, picks.count(v))


def test_inlink_diversity_hand(spark):
    from pagerank_spark.operators.hostgraph import inlink_diversity

    edges = spark.createDataFrame(
        [
            ("http://a.com/1", "http://t.com/x"),
            ("http://a.com/1", "http://t.com/x"),  # parallel link collapses
            ("http://a.com/2", "http://t.com/x"),
            ("http://b.com/1", "http://t.com/x"),
            ("http://t.com/self", "http://t.com/x"),  # intra-host
            ("http://a.com/1", "http://b.com/y"),
        ],
        ["src", "dst"],
    )
    got = {r["url"]: r for r in inlink_diversity(edges).collect()}

    tx = got["http://t.com/x"]
    # 4 distinct linking PAGES from 3 hosts, 2 of them external to t.com
    assert (tx["n_inlinks"], tx["n_hosts"], tx["n_ext_hosts"]) == (4, 3, 2)
    assert tx["diversity"] == 0.5
    by = got["http://b.com/y"]
    assert (by["n_inlinks"], by["n_hosts"], by["n_ext_hosts"]) == (1, 1, 1)
    assert by["diversity"] == 1.0


def test_node2vec_p1_q1_equals_weighted_walks(spark):
    """p=q=1: every bias factor is 1.0, so the race keys are bit-identical
    to the first-order weighted walk — the outputs must match exactly."""
    from pagerank_spark.operators.walks import (
        node2vec_walks,
        weighted_random_walks,
    )

    e = spark.createDataFrame(
        [("a", "b", 0.5), ("a", "c", 0.5), ("b", "a", 0.3), ("b", "c", 0.7),
         ("c", "a", 1.0)],
        ["src", "dst", "weight"],
    )
    w1 = {(r["walk_id"], r["step"]): r["url"]
          for r in weighted_random_walks(e, walk_length=4,
                                         walks_per_vertex=3).collect()}
    n2 = {(r["walk_id"], r["step"]): r["url"]
          for r in node2vec_walks(e, walk_length=4, p=1.0, q=1.0,
                                  walks_per_vertex=3).collect()}
    assert w1 == n2


def test_node2vec_return_bias(spark):
    """a→b, b→a, b→c with equal weights: at step 2 (prev=a) the return
    edge b→a races with weight/p. p=100 suppresses returns, p=0.01 forces
    them ((1/p)/(1/p + 1/q) = 0.01/1.01 vs 100/101 with q=1)."""
    from pagerank_spark.operators.walks import node2vec_walks

    e = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "a", 1.0), ("b", "c", 1.0)],
        ["src", "dst", "weight"],
    )
    starts = spark.createDataFrame([("a",)], ["url"])
    for p, lo, hi in [(100.0, 0.0, 0.05), (0.01, 0.95, 1.0)]:
        out = node2vec_walks(
            e, walk_length=2, p=p, q=1.0, walks_per_vertex=1000, starts=starts
        )
        picks = [r["url"] for r in out.where("step = 2").collect()]
        assert len(picks) == 1000
        frac_ret = picks.count("a") / 1000
        assert lo <= frac_ret <= hi, (p, frac_ret)


def test_node2vec_distance_one_vs_two_bias(spark):
    """a→b, b→c, b→d, a→c: at step 2 (prev=a), c is distance-1 from a
    (bias 1) and d distance-2 (bias 1/q); b→a is absent so no return arm.
    q=0.01 pushes the walk outward to d, q=100 pins it to c."""
    from pagerank_spark.operators.walks import node2vec_walks

    e = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 1.0), ("b", "d", 1.0), ("a", "c", 1.0)],
        ["src", "dst", "weight"],
    )
    starts = spark.createDataFrame([("a",)], ["url"])
    for q, lo, hi in [(0.01, 0.95, 1.0), (100.0, 0.0, 0.05)]:
        out = node2vec_walks(
            e, walk_length=2, p=1.0, q=q, walks_per_vertex=1000, starts=starts
        )
        step2 = [r["url"] for r in out.where("step = 2").collect()]
        # walks whose step-1 draw went a→c have no outgoing edge (c is
        # dangling) and truncate; only the a→b walks reach step 2
        assert step2, "no walk reached step 2"
        frac_d = step2.count("d") / len(step2)
        assert lo <= frac_d <= hi, (q, frac_d)
        assert set(step2) <= {"c", "d"}


def test_node2vec_truncation_and_validation(spark):
    from pagerank_spark.operators.walks import node2vec_walks

    e = spark.createDataFrame([("a", "b", 1.0)], ["src", "dst", "weight"])
    out = node2vec_walks(e, walk_length=3, walks_per_vertex=1).collect()
    # a#0: steps 0,1 then truncates at dangling b
    assert {(r["step"], r["url"]) for r in out} == {(0, "a"), (1, "b")}
    import pytest as _pytest

    for bad in ({"p": 0.0}, {"q": -1.0}):
        with _pytest.raises(ValueError):
            node2vec_walks(e, walk_length=1, **bad)
