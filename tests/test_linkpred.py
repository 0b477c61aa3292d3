"""Hand-computed fixtures for co-citation and Adamic-Adar
(operators/linkpred.py)."""

import math

import pytest

from pagerank_spark.operators.linkpred import adamic_adar, cocitation


def _edges(spark, rows):
    return spark.createDataFrame(rows, ["src", "dst"])


def test_cocitation_counts_and_min_count(spark):
    # s1 cites {a,b,c}; s2 and s3 cite {a,b}; duplicates collapse
    rows = [
        ("s1", "a"), ("s1", "b"), ("s1", "c"), ("s1", "a"),
        ("s2", "a"), ("s2", "b"),
        ("s3", "a"), ("s3", "b"),
    ]
    got = {(r["a"], r["b"]): r["cocitations"] for r in cocitation(_edges(spark, rows), min_count=1).collect()}
    assert got == {("a", "b"): 3, ("a", "c"): 1, ("b", "c"): 1}
    got2 = {(r["a"], r["b"]): r["cocitations"] for r in cocitation(_edges(spark, rows), min_count=2).collect()}
    assert got2 == {("a", "b"): 3}


def test_cocitation_outdeg_cap_drops_mega_citers(spark):
    rows = [("s1", "a"), ("s1", "b"), ("hub", "a"), ("hub", "b"), ("hub", "c"), ("hub", "d")]
    # cap 3 drops hub (out-degree 4) entirely
    got = {(r["a"], r["b"]): r["cocitations"]
           for r in cocitation(_edges(spark, rows), max_citing_outdeg=3, min_count=1).collect()}
    assert got == {("a", "b"): 1}


def test_adamic_adar_cycle4(spark):
    # 4-cycle a-b-c-d-a: non-adjacent pairs (a,c) and (b,d), each with two
    # common neighbors of degree 2
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")])
    out = adamic_adar(e, min_common=1).collect()
    expect = round(2 * round(1 / math.log(2), 9), 6)
    got = {(r["a"], r["b"]): (r["common_neighbors"], r["aa_score"]) for r in out}
    assert got == {("a", "c"): (2, expect), ("b", "d"): (2, expect)}


def test_adamic_adar_excludes_existing_edges_and_caps(spark):
    # star center z with leaves a,b,c plus edge a-b: pair (a,b) is adjacent
    # and must NOT appear; (a,c)/(b,c) share only z
    e = _edges(spark, [("z", "a"), ("z", "b"), ("z", "c"), ("a", "b")])
    out = adamic_adar(e, min_common=1).collect()
    pairs = {(r["a"], r["b"]) for r in out}
    assert ("a", "b") not in pairs
    assert {("a", "c"), ("b", "c")} <= pairs
    term = round(1 / math.log(3), 9)  # deg(z) = 3
    got = {(r["a"], r["b"]): r["aa_score"] for r in out}
    assert got[("a", "c")] == pytest.approx(round(term, 6))
    # capping centers at degree 2 removes z — no wedges survive
    assert adamic_adar(e, max_center_degree=2, min_common=1).count() == 0


def test_adamic_adar_min_common(spark):
    # 4-cycle: both non-adjacent pairs (a,c) and (b,d) have exactly two
    # common neighbors; min_common=2 keeps both, min_common=3 drops both
    e = _edges(spark, [("a", "b"), ("b", "c"), ("a", "d"), ("d", "c")])
    assert adamic_adar(e, min_common=2).count() == 2
    assert adamic_adar(e, min_common=3).count() == 0


def test_neighbor_jaccard_cycle4_and_triangle(spark):
    from pagerank_spark.operators.linkpred import neighbor_jaccard

    # 4-cycle: N(a)=N(c)={b,d}, N(b)=N(d)={a,c} — both opposite pairs are
    # perfect structural duplicates (jaccard 1.0)
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")])
    got = {(r["a"], r["b"]): r for r in neighbor_jaccard(e, min_common=1).collect()}
    assert set(got) == {("a", "c"), ("b", "d")}
    assert got[("a", "c")]["common_neighbors"] == 2
    assert got[("a", "c")]["deg_a"] == 2 and got[("a", "c")]["deg_b"] == 2
    assert got[("a", "c")]["jaccard"] == 1.0

    # triangle: ADJACENT pairs are kept (similarity report, not link
    # prediction): each pair shares one neighbor, jaccard = 1/(2+2-1)
    t = _edges(spark, [("a", "b"), ("a", "c"), ("b", "c")])
    got_t = {(r["a"], r["b"]): r["jaccard"] for r in neighbor_jaccard(t, min_common=1).collect()}
    assert got_t == {("a", "b"): pytest.approx(round(1 / 3, 6)),
                     ("a", "c"): pytest.approx(round(1 / 3, 6)),
                     ("b", "c"): pytest.approx(round(1 / 3, 6))}


def test_neighbor_jaccard_cap_lower_bounds_common(spark):
    from pagerank_spark.operators.linkpred import neighbor_jaccard

    # a and b share neighbors {z, hub}; hub has degree 4 > cap 3 so only z
    # counts as a wedge center — common drops to 1 but degrees stay EXACT
    e = _edges(
        spark,
        [("a", "z"), ("b", "z"), ("a", "hub"), ("b", "hub"),
         ("hub", "c"), ("hub", "d")],
    )
    got = {(r["a"], r["b"]): r for r in
           neighbor_jaccard(e, max_center_degree=3, min_common=1).collect()}
    row = got[("a", "b")]
    assert row["common_neighbors"] == 1
    assert row["deg_a"] == 2 and row["deg_b"] == 2
    # jaccard = 1 / (2 + 2 - 1)
    assert row["jaccard"] == pytest.approx(round(1 / 3, 6))


def test_bibliographic_coupling_counts_and_indegree_cap(spark):
    from pagerank_spark.operators.linkpred import bibliographic_coupling

    # the wedge centre is the CITED page: s1 and s2 both cite r1 and r2,
    # s3 cites r2 only; the duplicate edge and the self-loop collapse
    rows = [
        ("s1", "r1"), ("s1", "r2"), ("s1", "r1"), ("s1", "s1"),
        ("s2", "r1"), ("s2", "r2"),
        ("s3", "r2"),
        # r3 is cited by 4 pages: the in-degree cap 3 drops it as a centre
        ("s1", "r3"), ("s3", "r3"), ("t1", "r3"), ("t2", "r3"),
    ]
    got = bibliographic_coupling(_edges(spark, rows), max_cited_indeg=3, min_count=1)
    assert got.columns == ["a", "b", "couplings"]
    assert {(r["a"], r["b"]): r["couplings"] for r in got.collect()} == {
        ("s1", "s2"): 2, ("s1", "s3"): 1, ("s2", "s3"): 1,
    }
    # uncapped, r3 couples its four citers too
    got = bibliographic_coupling(_edges(spark, rows), max_cited_indeg=4, min_count=2)
    assert {(r["a"], r["b"]): r["couplings"] for r in got.collect()} == {
        ("s1", "s2"): 2, ("s1", "s3"): 2,
    }
