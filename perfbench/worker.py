"""One workload in one process: Spark session, setup, closed-loop timed
passes with output checks, and (traced) the per-layer fold.

Run by perfbench/run.py, which owns input generation, the RSS sampler and
the result line; this process writes its measurements to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import uuid

import pandas as pd

from perfbench import oracle
from perfbench.inputs import INPUTS, LABELPROP_ROUNDS
from perfbench.trace import Span, attach_fold, status_counts, timed

SHUFFLE_PARTITIONS = 4
SETUP_REPS = 3
ALPHA, EPSILON = 0.85, 1e-6


class Failed(Exception):
    """An op's output did not match its oracle."""


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _iter_stats(span: Span, metrics: list) -> None:
    walls = [m["wall_s"] for m in metrics]
    span.extra["iterations"] = len(walls)
    span.extra["iter_s_p50"] = statistics.median(walls) if walls else 0.0
    span.extra["init_s"] = span.wall_s - sum(walls)


class Run:
    """State of one workload run: session, inputs, expected outputs, spans."""

    def __init__(self, spark, workload: str, cache_dir: str, tmp: str, traced: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.cache = cache_dir
        self.tmp = tmp
        self.traced = traced
        with open(os.path.join(cache_dir, "expected.json")) as f:
            self.expected = json.load(f)
        self.spans: list[Span] = []
        self.inputs: dict = {}   # input name -> persisted DataFrame
        self.rank_graph = None   # rank_algos: built outside the timed calls

    def table(self, name: str) -> pd.DataFrame:
        return pd.read_parquet(os.path.join(self.cache, name + ".parquet"))

    # -- one timed call + its check --------------------------------------

    def op(self, pass_no: int, layer: str, fn, check):
        """Time ``fn(span)`` — the layer's public call and its forcing
        action — then check the output against the oracle, untimed."""
        span = Span(layer, pass_no)
        self.spans.append(span)
        try:
            out = timed(self.sc, span, lambda: fn(span))
        except Exception as e:  # an op that raises is a failed op
            span.error = f"{type(e).__name__}: {e}"[:500]
            raise
        finally:
            if self.traced:
                span.counts = status_counts(self.sc, span.group)
        err = check(out, span)
        if err:
            span.error = err
            raise Failed(err)
        return out

    # -- setup ---------------------------------------------------------------

    def load(self) -> None:
        for name in INPUTS[self.workload]:
            f = "pages" if name == "crawl" else f"{name}_edges"
            df = self.spark.read.parquet(os.path.join(self.cache, f + ".parquet")).persist()
            df.count()
            self.inputs[name] = df

    def build_rank_graph(self) -> None:
        from pagerank_spark.operators.graph_build import LinkGraph

        self.rank_graph = LinkGraph.from_edges(self.inputs["rank"], apply_regex_filter=False)
        self.rank_graph.num_edges()
        self.rank_graph.num_vertices()

    def release(self) -> None:
        if self.rank_graph is not None:
            self.rank_graph.unpersist()
            self.rank_graph = None
        for df in self.inputs.values():
            df.unpersist()
        self.inputs = {}

    def warm_up(self) -> None:
        """A one-iteration PageRank on the golden graph and one extract job
        on a few pages: JIT, planner and Python workers (shared by extract
        and the CSR kernel) are warm before the first timed call."""
        from pagerank_spark.fixtures import GOLDEN_SMALL_EDGES, synth_pages
        from pagerank_spark.functions.extract import extract_edges_df
        from pagerank_spark.operators.graph_build import LinkGraph

        g = LinkGraph.from_edges(
            self.spark.createDataFrame(GOLDEN_SMALL_EDGES, "src string, dst string"),
            apply_regex_filter=False,
        )
        g.pagerank(max_iterations=1).toPandas()
        g.unpersist()
        pages = self.spark.createDataFrame(pd.DataFrame(synth_pages(n_pages=16)))
        extract_edges_df(pages).count()

    def scratch(self, name: str) -> str:
        return os.path.join(self.tmp, f"{name}-{uuid.uuid4().hex[:8]}")

    # -- timed calls ---------------------------------------------------------

    def build(self, p: int, raw, exp: dict, regex: bool):
        from pagerank_spark.operators.graph_build import LinkGraph

        def fn(span):
            g = LinkGraph.from_edges(raw, apply_regex_filter=regex)
            span.extra["edges"] = g.num_edges()
            span.extra["vertices"] = g.num_vertices()
            span.extra["kept_ratio"] = span.extra["edges"] / exp["raw_edges"]
            return g

        def check(g, span):
            got = (span.extra["edges"], span.extra["vertices"])
            want = (exp["edges"], exp["vertices"])
            return None if got == want else f"graph edges/vertices {got}, oracle {want}"

        return self.op(p, "graph_build", fn, check)

    def pagerank(self, p: int, g, name: str, layer: str = "pagerank"):
        """join-agg / CSR / durable PageRank to 1e-6, forced by toPandas;
        checked against the sparse oracle of input ``name``."""
        kw: dict = {}
        ck_dir = None
        if layer == "pagerank_csr":
            kw["scratch_dir"] = self.scratch("csr")
        elif layer == "pagerank_durable":
            from pagerank_spark.plans.checkpoint import IterationCheckpointer

            ck_dir = self.scratch("ckpt")
            kw["checkpointer"] = IterationCheckpointer(
                self.spark, ck_dir, g.num_partitions, n_edges=self.expected[name]["edges"]
            )
        call = g.pagerank_csr if layer == "pagerank_csr" else g.pagerank

        def fn(span):
            m: list = []
            span.extra["_metrics"] = m
            ranks = call(alpha=ALPHA, epsilon=EPSILON, metrics=m, **kw)
            return ranks, ranks.toPandas()

        exp = self.table(f"{name}_ranks")
        try:
            return self.op(p, layer, fn, lambda o, span: oracle.compare_ranks(
                o[1]["url"].to_numpy(dtype=object), o[1]["rank"].to_numpy(),
                exp["url"].to_numpy(dtype=object), exp["rank"].to_numpy()))
        finally:
            span = self.spans[-1]
            _iter_stats(span, span.extra.pop("_metrics", []))
            if ck_dir is not None:
                span.extra["bytes_written"] = _du(ck_dir)
                shutil.rmtree(ck_dir, ignore_errors=True)

    # -- passes --------------------------------------------------------------

    def run_pass(self, p: int) -> None:
        if self.workload == "crawl_rank":
            self.pass_crawl(p)
        else:
            self.pass_rank(p)
            self.pass_hosts(p)

    def pass_crawl(self, p: int) -> None:
        """extract -> graph_build (regex filter on) -> pagerank -> search."""
        from pagerank_spark.functions.extract import extract_edges_df

        def extract(span):
            raw = extract_edges_df(self.inputs["crawl"]).persist()
            span.extra["edges_out"] = raw.count()
            return raw

        exp = self.table("crawl_extract")

        def check_extract(raw, span):
            got = raw.toPandas().sort_values(["src", "dst"]).reset_index(drop=True)
            if not got.equals(exp):
                return f"extract produced {len(got)} edges, oracle {len(exp)}; contents differ"
            return None

        raw = self.op(p, "extract", extract, check_extract)
        try:
            g = self.build(p, raw, self.expected["crawl"], regex=True)
            try:
                ranks, pdf = self.pagerank(p, g, "crawl")
                urls, vals = pdf["url"].tolist(), pdf["rank"].to_numpy()
                self.op(p, "search", lambda span: g.search(ranks, "", 10).collect(),
                        lambda rows, span: oracle.compare_search(rows, urls, vals, 10))
            finally:
                g.unpersist()
        finally:
            raw.unpersist()

    def pass_rank(self, p: int) -> None:
        """pagerank -> pagerank_csr -> pagerank_durable on the prebuilt graph."""
        if self.rank_graph is None:
            self.build_rank_graph()
        try:
            for layer in ("pagerank", "pagerank_csr", "pagerank_durable"):
                self.pagerank(p, self.rank_graph, "rank", layer)
        finally:
            # drops the CSR spill and caches: a next pass starts cold
            self.rank_graph.unpersist()
            self.rank_graph = None

    def pass_hosts(self, p: int) -> None:
        """graph_build (no regex filter) -> components -> labelprop -> triangles."""
        exp = self.expected["hosts"]
        g = self.build(p, self.inputs["hosts"], exp, regex=False)
        try:
            cc = self.table("hosts_cc")
            self.op(p, "components", lambda span: g.connected_components().toPandas(),
                    lambda o, span: oracle.compare_labels(
                        o["url"], o["component"], cc["url"], cc["component"], "components"))
            lp = self.table("hosts_lp")
            self.op(p, "labelprop",
                    lambda span: g.label_propagation(
                        max_iterations=LABELPROP_ROUNDS, stop_when_stable=False).toPandas(),
                    lambda o, span: oracle.compare_labels(
                        o["url"], o["label"], lp["url"], lp["label"], "labelprop"))
            self.op(p, "triangles", lambda span: g.triangle_count().collect()[0]["n_triangles"],
                    lambda n, span: None if n == exp["triangles"]
                    else f"{n} triangles, oracle {exp['triangles']}")
        finally:
            g.unpersist()


PIPELINE = {
    "crawl_rank": ("extract", "graph_build", "pagerank", "search"),
    "rank_algos": ("pagerank", "pagerank_csr", "pagerank_durable",
                   "graph_build", "components", "labelprop", "triangles"),
}


def session(tmp: str, traced: bool):
    from pagerank_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(os.path.join(tmp, "events")),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "true",
        })
    for d in ("spark-local", "warehouse", "events"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    return get_spark(
        app_name="perfbench", master="local[4]",
        shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf,
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--cache-dir", required=True)
    ap.add_argument("--tmp", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--t0", type=float, required=True, help="epoch time the process was spawned")
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    traced = bool(a.trace)

    spark = session(a.tmp, traced)
    session_s = time.time() - a.t0
    run = Run(spark, a.workload, a.cache_dir, a.tmp, traced)

    # warm up once, load the inputs SETUP_REPS times keeping the last, then
    # build rank_algos' graph; setup_s = session start + warm-up + median
    # load + build
    t0 = time.perf_counter()
    run.warm_up()
    warm_s = time.perf_counter() - t0
    reps = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        run.load()
        reps.append(time.perf_counter() - t0)
        if rep < SETUP_REPS - 1:
            run.release()
    t0 = time.perf_counter()
    if "rank" in run.inputs:
        run.build_rank_graph()
    build_s = time.perf_counter() - t0

    # closed loop: one pass at a time; start another only if it fits
    passes, error = 0, None
    t_window = time.perf_counter()
    while True:
        t_pass = time.perf_counter()
        try:
            run.run_pass(passes)
        except Exception as e:  # recorded per op; stop looping on failure
            error = f"{type(e).__name__}: {e}"[:500]
        passes += 1
        last = time.perf_counter() - t_pass
        if error or time.perf_counter() - t_window + last > a.seconds:
            break
    run.release()
    sc_conf = dict(spark.sparkContext.getConf().getAll())
    versions = {
        "spark": spark.version,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
    }
    spark.stop()

    result = {
        "session_s": session_s,
        "warm_up_s": warm_s,
        "setup_reps_s": reps,
        "build_s": build_s,
        "setup_s": session_s + warm_s + statistics.median(reps) + build_s,
        "error": error,
        "spans": [s.as_dict() for s in run.spans],
        "pipeline": PIPELINE[a.workload],
        "box": {
            "master": sc_conf.get("spark.master"),
            "shuffle_partitions": int(sc_conf.get("spark.sql.shuffle.partitions", 0)),
            "driver_memory": sc_conf.get("spark.driver.memory"),
            **versions,
        },
    }
    if traced:
        result["event_log"] = attach_fold(result["spans"], os.path.join(a.tmp, "events"))
    with open(a.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
