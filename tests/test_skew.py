"""Skew tooling (operators/skew.py): report fixtures + salted-join
result invariance."""

from __future__ import annotations

import pytest

from pagerank_spark.operators.skew import salted_join, skew_report


def test_skew_report_hand(spark):
    rows = [("hot",)] * 60 + [("warm",)] * 30 + [("a",)] * 5 + [("b",)] * 5
    df = spark.createDataFrame(rows, ["k"])
    got = skew_report(df, "k", top_k=2).collect()
    assert [r["key"] for r in got] == ["hot", "warm"]
    top = got[0]
    assert top["n_rows_key"] == 60 and top["n_keys"] == 4
    assert top["total_rows"] == 100
    assert top["mean_rows_per_key"] == 25.0
    assert top["skew_factor"] == round(60 * 4 / 100, 6)


def test_skew_report_tie_break_and_validation(spark):
    df = spark.createDataFrame([("b",), ("a",)], ["k"])
    got = skew_report(df, "k", top_k=2).collect()
    assert [r["key"] for r in got] == ["a", "b"]  # equal counts: key asc
    # a NULL key tied at the top_k boundary sorts last, as under the
    # DuckDB twin's ASC; Spark's bare asc() would put it first
    nulls = spark.createDataFrame([("hot",)] * 3 + [(None,)] * 2 + [("b",)] * 2, "k STRING")
    assert [r["key"] for r in skew_report(nulls, "k", top_k=2).collect()] == ["hot", "b"]
    assert [r["key"] for r in skew_report(nulls, "k", top_k=3).collect()] == ["hot", "b", None]
    with pytest.raises(ValueError):
        skew_report(df, "k", top_k=0)


def test_salted_join_equals_plain_join(spark):
    import hashlib

    big_rows = []
    for i in range(300):
        h = hashlib.md5(f"sj{i}".encode()).hexdigest()
        big_rows.append((i, f"k{int(h[:4], 16) % 7}"))
    big = spark.createDataFrame(big_rows, ["row_id", "key"])
    small = spark.createDataFrame(
        [(f"k{j}", f"attr{j}") for j in range(5)], ["key", "attr"]
    )
    plain = sorted(
        (r["row_id"], r["key"], r["attr"])
        for r in big.join(small, "key").collect()
    )
    salted = sorted(
        (r["row_id"], r["key"], r["attr"])
        for r in salted_join(big, small, "key", salt_col="row_id").collect()
    )
    assert salted == plain and len(salted) > 0


def test_salted_join_duplicate_small_rows_keep_multiplicity(spark):
    big = spark.createDataFrame([(1, "k"), (2, "k")], ["row_id", "key"])
    small = spark.createDataFrame([("k", "x"), ("k", "y")], ["key", "attr"])
    out = salted_join(big, small, "key", salt_col="row_id").collect()
    assert len(out) == 4  # 2 big x 2 small matches


def test_salted_join_plan_expands_small_side(spark):
    big = spark.createDataFrame([(1, "k")], ["row_id", "key"])
    small = spark.createDataFrame([("k", "x")], ["key", "attr"])
    plan = (
        salted_join(big, small, "key", salt_col="row_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "_salt" in plan  # the salt is a real join key in the plan
