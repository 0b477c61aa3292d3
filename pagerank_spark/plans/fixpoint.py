"""One round driver for the iterative operators (``iterate``), and the
level-synchronous frontier expansion built on it (``sweep``).

PageRank (both SpMV backends), components, label propagation, Katz,
eigenvector centrality, HITS, k-core, coreness, k-truss, coloring, MIS,
redirect resolution, WL refinement, feature propagation, HyperBall and
SCC's trim and color fixpoints supply per round only a ``step`` that
builds the next frame and, optionally, ``stats``: aggregate columns over
it (a stop statistic, a norm). The driver does the rest of the round:

1. ONE action: the stats aggregate over a LAZY ``localCheckpoint`` of the
   frame, or without stats an EAGER ``localCheckpoint``. Lineage is cut at
   the checkpoint (else the plan doubles every round). Under AQE one action
   runs several Spark jobs, and the lazy checkpoint call itself runs the
   frame's shuffle-map stages; tests/test_plan_audits.py pins the jobs.
2. the operator's ``project`` to the next state (driver scalars enter as
   ``lit()``) and the round's record;
3. releases the blocks of the checkpoint it made the round before, unless
   the new state still reads it (never the caller's initial state);
4. appends the record, with the round's ``wall_s``, to ``metrics``;
5. the stop rule.

History is kept by reference: ``sweep`` (the BFS levels of distance.py,
SCC and bowtie), HyperBall and betweenness's backward pass checkpoint
only a round's new rows, and their state is the union of the rounds'
checkpoints, each tagged with its round as a literal so a filter on the
round reads one checkpoint (copying the history into every checkpoint
cost up to 1.7x the wall time).

Each round runs with ``spark.job.description`` = ``<op>.r<k>``; the
caller's description is restored after it and the caller's job group is
left alone (perfbench folds jobs by group). A persist()-chain instead of the
checkpoint deadlocks under AQE when the cached plan embeds a per-round
broadcast exchange; do not revisit.
"""

from __future__ import annotations

import sys
import time
from typing import Callable

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

_DESC = "spark.job.description"
LEVEL = "level"


def materialize(df: DataFrame, stats: list[Column] | None) -> tuple[DataFrame, Row | None]:
    """Checkpoint ``df`` in ONE action: the ``stats`` aggregate over a lazy
    checkpoint, or an eager checkpoint when there are no stats."""
    if not stats:
        return df.localCheckpoint(eager=True), None
    ck = df.localCheckpoint(eager=False)
    return ck, ck.agg(*stats).first()


def _checkpoints(df: DataFrame) -> dict:
    """The checkpoint RDDs ``df``'s plan scans, by RDD id."""
    out, leaves = {}, df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.nodeName() == "LogicalRDD":
            out[leaf.rdd().id()] = leaf.rdd()
    return out


def release(df: DataFrame, keep: DataFrame | None = None) -> None:
    """Drop the blocks of the checkpoints ``df`` scans that ``keep`` does
    not read. (``DataFrame.unpersist`` only clears CacheManager entries;
    a checkpoint's blocks belong to the RDD under its ``LogicalRDD``.)"""
    kept = _checkpoints(keep) if keep is not None else {}
    for rid, rdd in _checkpoints(df).items():
        if rid not in kept:
            rdd.unpersist(False)


def iterate(
    op: str,
    x: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    rounds: range,
    stats: list[Column] | None = None,
    project: Callable[[DataFrame, Row | None, int], tuple[DataFrame, dict | None]] | None = None,
    stop: Callable[[dict], bool] | None = None,
    metrics: list | None = None,
    strict: bool = False,
) -> DataFrame:
    """Run ``step`` from state ``x`` over ``rounds``; returns the last state.

    ``project(frame, stats_row, k)`` returns ``(state, record)``; without
    it the checkpointed frame is the state and there is no record.
    ``stop(record)`` ends the loop after that round. ``strict``: raise
    RuntimeError when the rounds run out before ``stop`` held.
    """
    sc = x.sparkSession.sparkContext
    prev = None
    for k in rounds:
        t0 = time.monotonic()
        caller_desc = sc.getLocalProperty(_DESC)
        sc.setLocalProperty(_DESC, f"{op}.r{k}")
        try:
            frame, row = materialize(step(x, k), stats)
            x, record = project(frame, row, k) if project else (frame, None)
        finally:
            sc.setLocalProperty(_DESC, caller_desc)
        if prev is not None:
            release(prev, keep=x)
        prev = frame
        if metrics is not None and record is not None:
            metrics.append({**record, "wall_s": time.monotonic() - t0})
        if stop is not None and stop(record):
            return x
    if strict:
        raise RuntimeError(f"{op} still changing after {len(rounds)} rounds")
    return x


def sweep(
    op: str,
    level0: DataFrame,
    expand: Callable[[DataFrame], DataFrame],
    key: list[str],
    max_depth: int | None,
    reduce: Callable[[DataFrame], DataFrame] = lambda df: df,
    settled: Callable[[DataFrame], DataFrame] = lambda df: df,
) -> tuple[DataFrame, int]:
    """Level-synchronous frontier expansion from the rows of ``level0``;
    returns ``(state, depth)``: every settled row plus its int ``level``,
    and the deepest level reached.

    Round d runs ``expand`` on the level d-1 rows, left-anti-joins them
    against the ``key`` columns of the settled state (wrapped by
    ``settled``, e.g. a broadcast policy) and ``reduce``s them to one row
    per key (after the anti-join, so the optimizer pushes it below the
    edge join): level d, the round's checkpoint, whose row count is the
    round's one action. Ends after the first empty level, or after
    ``max_depth`` rounds (None: no cap)."""
    if max_depth is not None and max_depth < 0:
        raise ValueError("max_depth must be >= 0")
    state, depth = None, 0

    def step(x: DataFrame, d: int) -> DataFrame:
        nonlocal state
        state = x
        new = expand(x.where(F.col(LEVEL) == d - 1))
        return reduce(new.join(settled(x.select(*key)), key, "left_anti"))

    def project(frame: DataFrame, row: Row, d: int):
        nonlocal depth
        if not row["n"]:
            release(frame)
            return state, {"n": 0}
        depth = d
        return state.unionByName(frame.withColumn(LEVEL, F.lit(d))), {"n": row["n"]}

    x0, _ = materialize(level0, None)
    x = iterate(
        op, x0.withColumn(LEVEL, F.lit(0)), step,
        range(1, sys.maxsize if max_depth is None else max_depth + 1),
        stats=[F.count(F.lit(1)).alias("n")], project=project,
        stop=lambda r: not r["n"],
    )
    return x, depth
