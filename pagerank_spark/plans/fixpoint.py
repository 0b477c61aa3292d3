"""One round driver for the iterative operators (``iterate``).

PageRank (both SpMV backends), components, label propagation, Katz,
eigenvector centrality, HITS, k-core, coreness, k-truss, coloring, MIS,
redirect resolution, WL refinement and feature propagation supply per
round only a ``step`` that builds the next frame and, optionally,
``stats``: aggregate columns over it (a stop statistic, a norm). The
driver does the rest of the round:

1. ONE action: the stats aggregate over a LAZY ``localCheckpoint`` of the
   frame, or without stats an EAGER ``localCheckpoint``. Lineage is cut at
   the checkpoint (else the plan doubles every round). Under AQE one action
   runs several Spark jobs, and the lazy checkpoint call itself runs the
   frame's shuffle-map stages; tests/test_plan_audits.py pins the jobs.
2. the operator's ``project`` to the next state (driver scalars enter as
   ``lit()``) and the round's record;
3. frees the previous round's checkpoint (the initial state counts as one);
4. appends the record, with the round's ``wall_s``, to ``metrics``;
5. the stop rule.

Each round runs with ``spark.job.description`` = ``<op>.r<k>``; the
caller's description is restored after it and the caller's job group is
left alone (perfbench folds jobs by group). A persist()-chain instead of the
checkpoint deadlocks under AQE when the cached plan embeds a per-round
broadcast exchange; do not revisit.
"""

from __future__ import annotations

import time
from typing import Callable

from pyspark.sql import Column, DataFrame, Row

_DESC = "spark.job.description"


def materialize(df: DataFrame, stats: list[Column] | None) -> tuple[DataFrame, Row | None]:
    """Checkpoint ``df`` in ONE action: the ``stats`` aggregate over a lazy
    checkpoint, or an eager checkpoint when there are no stats."""
    if not stats:
        return df.localCheckpoint(eager=True), None
    ck = df.localCheckpoint(eager=False)
    return ck, ck.agg(*stats).first()


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
    prev = x
    for k in rounds:
        t0 = time.monotonic()
        caller_desc = sc.getLocalProperty(_DESC)
        sc.setLocalProperty(_DESC, f"{op}.r{k}")
        try:
            frame, row = materialize(step(x, k), stats)
            x, record = project(frame, row, k) if project else (frame, None)
        finally:
            sc.setLocalProperty(_DESC, caller_desc)
        prev.unpersist()
        prev = frame
        if metrics is not None and record is not None:
            metrics.append({**record, "wall_s": time.monotonic() - t0})
        if stop is not None and stop(record):
            return x
    if strict:
        raise RuntimeError(f"{op} still changing after {len(rounds)} rounds")
    return x
