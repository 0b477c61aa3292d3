"""Property-based invariants (SURVEY.md §5.2.4) on seeded random digraphs:

  * Spark PageRank matches the NumPy float64 oracle to 1e-6 per vertex
  * the rank vector is unit-L2
  * edge-row permutation invariance (engine uses groupBy outdeg semantics)
  * duplicating an edge equals doubling its weight
  * components / labels / triangles match exact oracles
  * query expansion returns the embedding-nearest words
  * the engine's edge regex flags exactly the rows the reference's does

One seeded hypothesis-style sweep (explicit seeds, not @given — each case
costs a Spark fixpoint, so the search budget is fixed and deterministic).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F


def _random_digraph(seed: int, n: int = 12, m: int = 30) -> list[tuple[str, str]]:
    rng = random.Random(seed)
    edges = [
        (f"v{rng.randrange(n)}", f"v{rng.randrange(n)}") for _ in range(m)
    ]
    # the reference assumes sorted-by-source input (pagerank.py:27)
    return sorted(edges)


def _spark_ranks(spark, edges):
    from pagerank_spark.operators.graph_build import LinkGraph

    raw = spark.createDataFrame(edges, ["src", "dst"])
    g = LinkGraph.from_edges(raw, apply_regex_filter=False, num_partitions=4)
    out = {r["url"]: r["rank"] for r in g.pagerank(epsilon=1e-8).collect()}
    g.unpersist()
    return out


@pytest.mark.parametrize("seed", [1, 7, 42])
def test_pagerank_matches_numpy_oracle_random_graphs(spark, seed):
    from pagerank_spark.oracle.pagerank_np import pagerank_np

    edges = _random_digraph(seed)
    got = _spark_ranks(spark, edges)
    want, _iters, _res = pagerank_np(
        edges, alpha=0.85, epsilon=1e-8, apply_regex_filter=False
    )
    assert set(got) == set(want)
    for u in want:
        assert abs(got[u] - want[u]) < 1e-6, (u, got[u], want[u])
    l2 = sum(v * v for v in got.values()) ** 0.5
    assert abs(l2 - 1.0) < 1e-9


def test_edge_order_permutation_invariance(spark):
    edges = _random_digraph(3)
    shuffled = edges[:]
    random.Random(9).shuffle(shuffled)
    a = _spark_ranks(spark, edges)
    b = _spark_ranks(spark, shuffled)
    for u in a:
        assert abs(a[u] - b[u]) < 1e-9


def test_duplicate_edge_equals_double_weight(spark):
    from pagerank_spark.operators.graph_build import LinkGraph

    base = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a")]
    dup = base + [("a", "b")]
    g = LinkGraph.from_edges(
        spark.createDataFrame(dup, ["src", "dst"]), apply_regex_filter=False, num_partitions=4
    )
    w = {(r["src"], r["dst"]): r["weight"] for r in g.edges.collect()}
    g.unpersist()
    # a has 3 edge rows (a->b twice): a->b weight 2/3, a->c weight 1/3
    assert abs(w[("a", "b")] - 2 / 3) < 1e-12
    assert abs(w[("a", "c")] - 1 / 3) < 1e-12


@pytest.mark.parametrize("seed", [5, 11])
def test_graph_algorithms_match_oracles_random(spark, seed):
    from pagerank_spark.operators.components import connected_components
    from pagerank_spark.operators.labelprop import label_propagation
    from pagerank_spark.operators.triangles import triangle_count
    from pagerank_spark.oracle.graph_np import (
        connected_components_np,
        label_propagation_np,
        triangle_count_np,
    )

    edges = _random_digraph(seed, n=15, m=25)
    df = spark.createDataFrame(edges, ["src", "dst"])

    got_cc = {r["url"]: r["component"] for r in connected_components(df).collect()}
    assert got_cc == connected_components_np(edges)

    got_lp = {r["url"]: r["label"] for r in
              label_propagation(df, max_iterations=10).collect()}
    assert got_lp == label_propagation_np(edges, max_iter=10)

    got_tc = triangle_count(df).first()["n_triangles"]
    want_total, _per = triangle_count_np(edges)
    assert got_tc == want_total


def test_rescore_with_boost_matches_reference_formula(spark):
    from pagerank_spark.operators.search import rescore_with_boost

    ranks = spark.createDataFrame(
        [("www.x.test/corona-virus", 0.5), ("www.x.test/pizza", 0.4)],
        ["url", "rank"],
    )
    expansion = [("virus", 0.9), ("vaccine", 0.8)]
    out = {r["url"]: r["rank"] for r in
           rescore_with_boost(ranks, "corona", expansion,
                              s_weight=0.03, power=2.0).collect()}
    # reference pagerank2.py:181-201: the WHOLE query predicate contributes
    # once (new_n += 1, w += s_weight), each expansion word per-word; the
    # added score is new_n * w_weight
    # corona url: whole query matches + 'virus': new_n=2, w = .03 + .9**2
    assert abs(out["www.x.test/corona-virus"] - (0.5 + 2 * (0.03 + 0.81))) < 1e-12
    assert out["www.x.test/pizza"] == 0.4


def test_rescore_with_boost_negation_and_multiterm(spark):
    # negated term suppresses the whole-query contribution (reference
    # is_url_satisfies_query returns False, pagerank2.py:230-236), and a
    # multi-term query still contributes only ONCE when satisfied
    from pagerank_spark.operators.search import rescore_with_boost

    ranks = spark.createDataFrame(
        [("www.x.test/corona-pizza", 1.0), ("www.x.test/corona-virus-flu", 1.0)],
        ["url", "rank"],
    )
    expansion = [("virus", 0.9)]
    out = {r["url"]: r["rank"] for r in
           rescore_with_boost(ranks, "corona flu -pizza", expansion,
                              s_weight=0.03, power=2.0).collect()}
    # corona-pizza: whole query FALSE (negation); no expansion match => +0
    assert out["www.x.test/corona-pizza"] == 1.0
    # corona-virus-flu: whole query matches ONCE (despite 2 positive term
    # hits) + 'virus' expansion: new_n=2, w = .03 + .81
    assert abs(out["www.x.test/corona-virus-flu"] - (1.0 + 2 * (0.03 + 0.81))) < 1e-12


def test_expand_terms_returns_nearest_words(spark):
    from pagerank_spark.functions.url_query import expand_terms

    vocab = [
        ("corona", [1.0, 0.0, 0.0]),
        ("covid", [0.95, 0.05, 0.0]),
        ("virus", [0.9, 0.1, 0.0]),
        ("pizza", [0.0, 1.0, 0.0]),
        ("court", [0.0, 0.0, 1.0]),
    ]
    emb = spark.createDataFrame(vocab, ["word", "embedding"])
    out = expand_terms("corona -court", embeddings=emb, topn=2)
    terms = out.split()
    assert terms[0] == "corona"
    assert set(terms[1:3]) == {"covid", "virus"}
    assert terms[-1] == "-court"


def test_pagerank_x0_warm_start(spark):
    # reference power_method(v, x0, ...) accepts a warm start
    # (pagerank.py:122,142-145): restarting from the converged vector must
    # converge immediately to the same fixpoint
    from pagerank_spark.operators.graph_build import LinkGraph

    edges = [(f"n{i}", f"n{(i * 3 + 1) % 17}") for i in range(40)]
    g = LinkGraph.from_edges(
        spark.createDataFrame(edges, ["src", "dst"]), apply_regex_filter=False,
        num_partitions=4,
    )
    m_cold: list = []
    ranks = g.pagerank(alpha=0.85, epsilon=1e-6, metrics=m_cold)
    cold = {r["url"]: r["rank"] for r in ranks.collect()}
    m_warm: list = []
    warm_df = g.pagerank(alpha=0.85, epsilon=1e-6, metrics=m_warm, x0_df=ranks)
    warm = {r["url"]: r["rank"] for r in warm_df.collect()}
    assert len(m_warm) < len(m_cold)
    for u in cold:
        assert abs(cold[u] - warm[u]) < 1e-6, u
    g.unpersist()


def test_edge_regex_matches_reference_spelling(spark):
    # rlike is Matcher.find, so the reference's leading/trailing .* affixes
    # (pagerank.py:42-45) change nothing: same verdict on every row. The
    # alphabet holds every Java line terminator, where `$` and `.` differ.
    from pyspark.sql import types as T

    from pagerank_spark.operators.graph_build import EDGE_FILTER_REGEX

    reference = r".*((/$)|(/.*/)).*"
    alphabet = ["a", ".", "/", "\n", "\r", "\u0085", "\u2028", "\u2029"]
    rng = random.Random(17)
    cases = {
        "a/": True, "a/\n": True, "a/\r\n": True, "/": True, "//": True,
        "a/b/c": True, "a\n/b/": True, "a/\nb/": True,
        "www.x.test/p1": False, "": False,
    }
    rows = [(s,) for s in cases] + [(None,)] + [
        ("".join(rng.choice(alphabet) for _ in range(rng.randrange(9))),)
        for _ in range(2000)
    ]
    df = spark.createDataFrame(rows, T.StructType([T.StructField("s", T.StringType())]))
    got = df.select(
        "s",
        F.col("s").rlike(reference).alias("ref"),
        F.col("s").rlike(EDGE_FILTER_REGEX).alias("eng"),
    ).collect()
    assert len(got) == len(rows)
    for r in got:
        assert r["ref"] == r["eng"], repr(r["s"])
    verdict = {r["s"]: r["ref"] for r in got}
    assert {s: verdict[s] for s in cases} == cases
    assert verdict[None] is None
