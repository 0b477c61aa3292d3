"""The round driver (plans/fixpoint.py): round tags, stop rule, records."""

from __future__ import annotations

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
