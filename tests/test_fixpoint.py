"""The round driver (plans/fixpoint.py): round tags, stop rule, records,
release of the rounds it checkpointed."""

from __future__ import annotations

import pytest
from pyspark import TaskContext
from pyspark.sql import functions as F

from pagerank_spark.plans.fixpoint import iterate


def test_round_action_runs_under_its_tag_inside_the_caller_group(spark):
    sc = spark.sparkContext

    @F.udf("string")
    def description(_):
        return TaskContext.get().getLocalProperty("spark.job.description")

    def project(frame, s, k):
        return frame.select("id"), {"round": k, "tags": s["tags"]}

    metrics: list = []
    sc.setJobGroup("fixpoint-caller", "caller description")
    try:
        iterate(
            "tagged", spark.range(8), lambda x, k: x.withColumn("d", description("id")),
            range(5),
            stats=[F.collect_set("d").alias("tags")],
            project=project, stop=lambda r: r["round"] == 2, metrics=metrics,
        )
        # the caller's description and group are back after the rounds
        assert sc.getLocalProperty("spark.job.description") == "caller description"
        assert sc.getLocalProperty("spark.jobGroup.id") == "fixpoint-caller"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # each round's action saw its own tag; the stop rule ended round 2
    assert [m["tags"] for m in metrics] == [["tagged.r0"], ["tagged.r1"], ["tagged.r2"]]
    assert all(m["wall_s"] > 0 for m in metrics)
    # the rounds' jobs belong to the caller's group
    assert len(sc.statusTracker().getJobIdsForGroup("fixpoint-caller")) >= 3


def _persistent(sc) -> set:
    return set(sc._jsc.getPersistentRDDs().keys())


@pytest.mark.parametrize("lazy", [False, True], ids=["eager", "lazy"])
def test_driver_releases_the_rounds_it_checkpointed(spark, lazy):
    # the checkpoint blocks the driver makes are released once the next
    # round is materialized, so what a run leaves persisted does not grow
    # with its round count; the caller's own checkpoint survives
    sc = spark.sparkContext
    x0 = spark.range(16).localCheckpoint(eager=True)
    # counted as new persistent RDD ids, so the ContextCleaner dropping
    # earlier tests' frames meanwhile does not skew it
    left, runs = {}, {}
    for n in (2, 8):
        before = _persistent(sc)
        runs[n] = iterate("release", x0, lambda x, _k: x.withColumn("id", F.col("id") + 1),
                          range(n), stats=[F.max("id")] if lazy else None)
        assert runs[n].agg(F.max("id")).first()[0] == 15 + n
        left[n] = len(_persistent(sc) - before)
    assert left[8] == left[2], left
    assert x0.count() == 16


def test_driver_keeps_the_rounds_the_state_reads(spark):
    # a state that unions every round's checkpoint (sweep's levels,
    # hyperball's rounds) keeps them all readable; only the round that is
    # no longer read is released
    sc = spark.sparkContext
    hist = None

    def step(x, k):
        nonlocal hist
        hist = x
        return x.where(F.col("k") == k - 1).select((F.col("id") + 1).alias("id"))

    before = _persistent(sc)
    x = iterate("history", spark.range(4).withColumn("k", F.lit(0)), step, range(1, 6),
                project=lambda ck, _s, k: (hist.unionByName(ck.withColumn("k", F.lit(k))), None))
    assert len(_persistent(sc) - before) == 5
    sums = x.groupBy("k").agg(F.sum("id")).collect()
    assert sorted(sums) == [(k, 6 + 4 * k) for k in range(6)]


@pytest.mark.parametrize("op", ["greedy_coloring", "maximal_independent_set"])
def test_operators_release_their_round_checkpoints(spark, op):
    # coloring's picks and MIS's winners are checkpointed inside each round;
    # they, the adjacency and the initial state are released, so what a run
    # leaves persisted does not grow with its round count
    import hashlib

    from pagerank_spark.operators.coloring import greedy_coloring
    from pagerank_spark.operators.mis import maximal_independent_set

    run = {"greedy_coloring": greedy_coloring, "maximal_independent_set": maximal_independent_set}[op]
    sc = spark.sparkContext
    left, outs = {}, {}
    for n in (6, 18):
        # md5 priorities increase along the path: a round settles one or
        # two vertices, so the longer path runs about three times the rounds
        path = sorted((f"q{i:03d}" for i in range(n)),
                      key=lambda u: hashlib.md5(u.encode()).hexdigest()[:15])
        edges = spark.createDataFrame(list(zip(path, path[1:])), ["src", "dst"])
        before = _persistent(sc)
        outs[n] = run(edges)
        assert outs[n].count() == (n if op == "greedy_coloring" else n // 2)
        left[n] = len(_persistent(sc) - before)
    assert left[18] == left[6], left
