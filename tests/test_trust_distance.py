"""TrustRank / spam-mass and BFS link-distance."""

import pytest
from pyspark.sql import functions as F

from pagerank_spark.operators.distance import link_distance
from pagerank_spark.operators.graph_build import LinkGraph
from pagerank_spark.operators.trust import make_seed_vector, spam_mass, trust_rank

EDGES = [
    ("good1", "good2"),
    ("good2", "good1"),
    ("good1", "page3"),
    ("page3", "spam1"),
    ("spam1", "spam2"),
    ("spam2", "spam1"),
    ("spam2", "spam1"),  # duplicate edge
]


@pytest.fixture(scope="module")
def tgraph(spark):
    raw = spark.createDataFrame(EDGES, ["src", "dst"])
    g = LinkGraph.from_edges(raw, apply_regex_filter=False, num_partitions=4)
    yield g
    g.unpersist()


@pytest.fixture(scope="module")
def trust(spark, tgraph):
    """TrustRank seeded on good1 + good2, converged once for the module."""
    seeds = spark.createDataFrame([("good1",), ("good2",)], ["url"])
    return trust_rank(tgraph, seeds, epsilon=1e-9)


def test_make_seed_vector(spark, tgraph):
    seeds = spark.createDataFrame([("good1",), ("good2",), ("nowhere",)], ["url"])
    v = {r.url: r.v for r in make_seed_vector(tgraph, seeds).collect()}
    assert v["good1"] == pytest.approx(0.5) and v["good2"] == pytest.approx(0.5)
    assert v["page3"] == 0.0 and v["spam1"] == 0.0
    assert "nowhere" not in v  # not a vertex


def test_make_seed_vector_no_match_raises(spark, tgraph):
    seeds = spark.createDataFrame([("nowhere",)], ["url"])
    with pytest.raises(AssertionError):
        make_seed_vector(tgraph, seeds)


def test_trust_rank_equals_personalized_pagerank(spark, tgraph, trust):
    """Seed-table TrustRank == query-predicate personalized PageRank when
    the seed set equals the query's match set (reference pagerank.py:97-119
    composition, seed-list spelling)."""
    tr = {r.url: r.rank for r in trust.collect()}
    v = tgraph.make_personalization_vector("good")
    pp = {r.url: r.rank for r in tgraph.pagerank(v_df=v, epsilon=1e-9).collect()}
    assert tr.keys() == pp.keys()
    for u in tr:
        assert tr[u] == pytest.approx(pp[u], abs=1e-12)


def test_spam_mass_separates_spam_cluster(spark, tgraph, trust):
    pr = tgraph.pagerank(epsilon=1e-9)
    tr = trust
    m = {r.url: r.spam_mass for r in spam_mass(pr, tr).collect()}
    # trust never teleports into the spam cycle's basin beyond what flows
    # through page3, so the spam cluster's mass is markedly higher than the
    # trusted core's
    assert m["good1"] < 0.3 and m["good2"] < 0.3
    assert m["spam1"] > m["good1"] and m["spam2"] > m["good2"]
    # arithmetic contract: m = (pr - tr) / pr
    prd = {r.url: r.rank for r in pr.collect()}
    trd = {r.url: r.rank for r in tr.collect()}
    for u, mm in m.items():
        assert mm == pytest.approx((prd[u] - trd[u]) / prd[u], abs=1e-12)


DEDGES = [
    ("s", "a"),
    ("a", "b"),
    ("b", "c"),
    ("c", "d"),
    ("x", "s"),   # upstream of the seed: unreachable, must be absent
    ("a", "s"),   # back-edge: s already settled at 0
    ("iso1", "iso2"),
]


def test_link_distance_basic(spark):
    e = spark.createDataFrame(DEDGES, ["src", "dst"])
    seeds = spark.createDataFrame([("s",)], ["url"])
    got = {r.url: r.dist for r in link_distance(e, seeds, max_depth=10).collect()}
    assert got == {"s": 0, "a": 1, "b": 2, "c": 3, "d": 4}


def test_link_distance_depth_cap_and_multi_seed(spark):
    e = spark.createDataFrame(DEDGES, ["src", "dst"])
    seeds = spark.createDataFrame([("s",), ("c",)], ["url"])
    got = {r.url: r.dist for r in link_distance(e, seeds, max_depth=2).collect()}
    # c is a seed: d settles at 1, not 4; depth cap stops at 2
    assert got == {"s": 0, "c": 0, "a": 1, "d": 1, "b": 2}


def test_link_distance_seed_not_in_graph(spark):
    e = spark.createDataFrame(DEDGES, ["src", "dst"])
    seeds = spark.createDataFrame([("ghost",)], ["url"])
    got = {r.url: r.dist for r in link_distance(e, seeds, max_depth=3).collect()}
    assert got == {"ghost": 0}


def test_link_distance_zero_depth(spark):
    e = spark.createDataFrame(DEDGES, ["src", "dst"])
    seeds = spark.createDataFrame([("s",)], ["url"])
    got = {r.url: r.dist for r in link_distance(e, seeds, max_depth=0).collect()}
    assert got == {"s": 0}


def test_nearest_seed_voronoi(spark):
    from pagerank_spark.operators.distance import nearest_seed

    edges = spark.createDataFrame(
        [("s1", "m"), ("s2", "m"), ("m", "x"), ("s2", "y"), ("y", "z"),
         ("m", "s2")],  # back-edge into a settled seed: must stay dist 0
        ["src", "dst"],
    )
    seeds = spark.createDataFrame([("s1",), ("s2",)], ["url"])
    got = {r["url"]: (r["seed"], r["dist"]) for r in
           nearest_seed(edges, seeds).collect()}
    assert got == {
        "s1": ("s1", 0),
        "s2": ("s2", 0),
        "m": ("s1", 1),   # equidistant from both seeds → MIN(seed) tie-break
        "y": ("s2", 1),
        "x": ("s1", 2),   # inherits m's label
        "z": ("s2", 2),
    }


def test_nearest_seed_depth_cap(spark):
    from pagerank_spark.operators.distance import nearest_seed

    edges = spark.createDataFrame(
        [("s", "a"), ("a", "b"), ("b", "c")], ["src", "dst"]
    )
    seeds = spark.createDataFrame([("s",)], ["url"])
    got = {r["url"]: r["dist"] for r in
           nearest_seed(edges, seeds, max_depth=1).collect()}
    assert got == {"s": 0, "a": 1}


def test_betweenness_sample_path_and_diamond(spark):
    from pagerank_spark.operators.distance import betweenness_sample

    # path s->a->b->c from s: delta(a)=2, delta(b)=1, delta(c)=0
    e = spark.createDataFrame(
        [("s", "a"), ("a", "b"), ("b", "c")], ["src", "dst"]
    )
    s = spark.createDataFrame([("s",)], ["url"])
    got = {r["url"]: r["betweenness"] for r in betweenness_sample(e, s).collect()}
    assert got == {"a": 2.0, "b": 1.0, "c": 0.0}

    # diamond s->{a,b}->t: sigma(t)=2, each middle carries half the
    # dependency — the split sigma ratio, not just hop counting
    e2 = spark.createDataFrame(
        [("s", "a"), ("s", "b"), ("a", "t"), ("b", "t")], ["src", "dst"]
    )
    got2 = {r["url"]: r["betweenness"] for r in betweenness_sample(e2, s).collect()}
    assert got2 == {"a": 0.5, "b": 0.5, "t": 0.0}


def test_betweenness_sample_multi_source_and_duplicate_edges(spark):
    from pagerank_spark.operators.distance import betweenness_sample

    # m bridges both sources to t → dependencies ADD across the sample;
    # the duplicated s1->m edge must not double sigma (simple-digraph dedup)
    e = spark.createDataFrame(
        [("s1", "m"), ("s1", "m"), ("s2", "m"), ("m", "t")], ["src", "dst"]
    )
    s = spark.createDataFrame([("s1",), ("s2",)], ["url"])
    got = {r["url"]: r["betweenness"] for r in betweenness_sample(e, s).collect()}
    assert got == {"m": 2.0, "t": 0.0}


def test_betweenness_sample_depth_cap(spark):
    from pagerank_spark.operators.distance import betweenness_sample

    # cap at 2: paths beyond 2 hops don't exist → delta(a) only counts b
    e = spark.createDataFrame(
        [("s", "a"), ("a", "b"), ("b", "c")], ["src", "dst"]
    )
    s = spark.createDataFrame([("s",)], ["url"])
    got = {r["url"]: r["betweenness"]
           for r in betweenness_sample(e, s, max_depth=2).collect()}
    assert got == {"a": 1.0, "b": 0.0}


def test_distance_histogram_hand(spark):
    from pagerank_spark.operators.distance import distance_histogram

    # path a->b->c->d, sources {a, c}
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], ["src", "dst"]
    )
    src = spark.createDataFrame([("a",), ("c",)], ["url"])
    got = {r["dist"]: r["n_pairs"]
           for r in distance_histogram(e, src, max_depth=5).collect()}
    # dist 0: a,c (2); dist 1: a->b, c->d (2); dist 2: a->c (1); 3: a->d (1)
    assert got == {0: 2, 1: 2, 2: 1, 3: 1}
