"""Layered benchmark of the pagerank_spark engine.

    python3 perfbench/run.py --workload crawl_rank --seed 1 --seconds 15 --trace 0

Run from the repository root. Generates the workload's inputs from the seed
(cached under .bench_cache/), runs the workload in its own process on
local[4] (one pipeline pass at a time, closed loop, for --seconds), checks
every output against the in-repo oracles, and prints one JSON result line
last: end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_TIMEOUT_S = 170      # whole run, workers included
RECORD_KEEP = 32
TWIN_ROOM = 1.15         # an untraced twin runs only if 1.15x the traced worker's wall is left
PAGE = os.sysconf("SC_PAGE_SIZE")
PR_SET_CHILD_SUBREAPER = 36

LAYERS = ("extract", "graph_build", "pagerank", "pagerank_csr", "pagerank_durable",
          "components", "labelprop", "triangles")
COMMON = ("wall_s", "jobs", "stages", "tasks", "driver_s", "executor_run_s",
          "executor_cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
SPECIFIC = {
    "pagerank": ("iterations", "iter_s_p50", "init_s", "jobs_per_iter"),
    "pagerank_csr": ("iterations", "iter_s_p50", "init_s"),
    "pagerank_durable": ("iterations", "bytes_written"),
    "extract": ("edges_out",),
    "graph_build": ("edges", "vertices", "kept_ratio"),
}


def per_layer_names() -> list[str]:
    names = [f"{layer}.{m}" for layer in LAYERS for m in COMMON]
    names += ["search.wall_s", "search.jobs"]
    names += [f"{layer}.{m}" for layer, ms in SPECIFIC.items() for m in ms]
    return names + ["trace.overhead_s"]


def unit_of(name: str) -> str:
    m = name.split(".", 1)[1]
    if m.endswith("_bytes") or m == "bytes_written":
        return "bytes"
    if m.endswith("_s") or m == "iter_s_p50":
        return "s"
    return {"kept_ratio": "ratio"}.get(m, "count")


# -- process tree: RSS sampling and cleanup -------------------------------------


def _stat(pid: int) -> list:
    """Fields of /proc/<pid>/stat after the command name (state, ppid, ...)."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def _children() -> dict:
    """pid -> ppid for every process visible in /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                out[int(name)] = int(_stat(int(name))[1])
            except (OSError, IndexError, ValueError):
                pass
    return out


def _spawning(pid: int, ppid: int) -> bool:
    """True for a child of a multithreaded process that still runs its
    parent's executable: the JVM starting a command (posix_spawn) before the
    exec. Such a child shares the parent's memory, so its RSS is the JVM's
    again and must not be added."""
    try:
        return (os.readlink(f"/proc/{pid}/exe") == os.readlink(f"/proc/{ppid}/exe")
                and int(_stat(ppid)[17]) > 1)
    except (OSError, IndexError, ValueError):
        return False


def _tree(root: int, parents: dict) -> set:
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parents.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    return tree


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    except (OSError, IndexError, ValueError):
        return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def become_subreaper() -> None:
    """Make this process the child subreaper of everything it starts: an
    orphan anywhere below it (the JVM after its driver Python exits, the
    PySpark daemon, multiprocessing's resource tracker) is re-parented here,
    not to init, so reap_all can stop and wait for every one of them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _descendants() -> set:
    me = os.getpid()
    return _tree(me, _children()) - {me}


def reap_all(timeout_s: float = 20.0) -> None:
    """Kill every process still below this one and wait for each, zombies
    included, until this process has no child left."""
    deadline = time.monotonic() + timeout_s
    while True:
        for p in _descendants():
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return
            if pid == 0:
                break
        if time.monotonic() > deadline:
            print(f"perfbench: processes outlived the run: {sorted(_descendants())}",
                  file=sys.stderr)
            return
        time.sleep(0.05)


def run_child(args: list, env: dict, timeout_s: float, sample_rss: bool = False):
    """Run a child process to its end, optionally sampling the summed RSS of
    every process below this one (JVM and Python workers included). Returns
    (exit code, peak RSS bytes, the peak's MB by process name). Every process
    the child started is gone when this returns."""
    # the child's own output goes to stderr: stdout carries only the result
    proc = subprocess.Popen(args, env=env, cwd=ROOT, start_new_session=True, stdout=sys.stderr)
    peak, at_peak = 0, {}
    deadline = time.monotonic() + timeout_s
    try:
        while proc.poll() is None:
            if time.monotonic() > deadline:
                raise TimeoutError(f"{args[2]} exceeded {timeout_s:.0f} s")
            if sample_rss:
                parents = _children()
                rss = {p: _rss_bytes(p) for p in _tree(os.getpid(), parents) - {os.getpid()}
                       if p == proc.pid or not _spawning(p, parents[p])}
                if sum(rss.values()) > peak:
                    peak = sum(rss.values())
                    at_peak = {}
                    for p, b in rss.items():
                        at_peak[_comm(p)] = at_peak.get(_comm(p), 0) + b / 2**20
            time.sleep(0.1)
    finally:
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        reap_all()
    return proc.returncode, peak, at_peak


# -- drift canary and box record ------------------------------------------------


def canary_s() -> float:
    """Fixed NumPy kernel (median of 5); not a compared metric."""
    import numpy as np

    a = np.random.default_rng(0).random((256, 256))
    x = np.random.default_rng(1).random(1 << 20)
    walls = []
    for _ in range(5):
        t0 = time.perf_counter()
        for _ in range(8):
            a = a @ a
            a /= np.abs(a).max()
        np.sort(x)
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def box_record() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    import pyspark

    return {"nproc": os.cpu_count(), "mem_total_mb": mem_kb // 1024,
            "pyspark": pyspark.__version__, "python": sys.version.split()[0]}


# -- metrics ------------------------------------------------------------------


def _median(vals):
    return statistics.median(vals) if vals else 0.0


def summarize(res: dict, expected: dict) -> dict:
    """Workload-level figures from the worker's spans (all passes)."""
    spans = res["spans"]
    passes = sorted({s["pass"] for s in spans})
    full = [p for p in passes
            if all(any(s["pass"] == p and s["layer"] == layer and not s["error"] for s in spans)
                   for layer in res["pipeline"])]
    totals = [sum(s["wall_s"] for s in spans if s["pass"] == p) for p in full]
    out = {
        "total_s": _median(totals),
        "ops": len(spans), "ops_failed": sum(1 for s in spans if s["error"]),
        "passes": len(passes), "pass_totals_s": totals,
        "layer_wall_s": {lay: _median([s["wall_s"] for s in spans if s["layer"] == lay])
                         for lay in res["pipeline"]},
    }
    graph = expected.get("crawl") or expected["rank"]   # the graph pagerank runs on
    pr = [s for s in spans if s["layer"] == "pagerank" and not s["error"]]
    if pr:
        out["pagerank_s"] = _median([s["wall_s"] for s in pr])
        out["pagerank_edges_per_s"] = _median(
            [graph["edges"] * s["extra"]["iterations"] / s["wall_s"] for s in pr])
    ex = [s for s in spans if s["layer"] == "extract" and not s["error"]]
    if ex:
        out["extract_pages_per_s"] = _median([graph["pages"] / s["wall_s"] for s in ex])
    return out


def layer_metrics(res: dict) -> dict:
    """Per-layer metrics: median over passes; 0 for a layer the workload
    does not call."""
    vals: dict = {}
    for s in res["spans"]:
        if s["error"]:
            continue
        lay = s["layer"]
        rec = {"wall_s": s["wall_s"], **s.get("counts", {}), **s.get("folded", {}),
               **s["extra"]}
        if lay == "pagerank" and rec.get("iterations"):
            rec["jobs_per_iter"] = rec.get("jobs", 0) / rec["iterations"]
        for k, v in rec.items():
            vals.setdefault(f"{lay}.{k}", []).append(v)
    return {n: _median(vals.get(n, [])) for n in per_layer_names() if n != "trace.overhead_s"}


def _read_record(path: str) -> list:
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return []


def _write_record(path: str, totals: list) -> None:
    with open(path + ".tmp", "w") as f:
        json.dump(totals[-RECORD_KEEP:], f)
    os.replace(path + ".tmp", path)


def child_env() -> dict:
    env = dict(os.environ)
    env["PYTHONPATH"] = ROOT + os.pathsep + env.get("PYTHONPATH", "")
    return env


def generate(a, deadline: float) -> str | None:
    """Generate the workload's inputs and oracle outputs (a cache miss) in a
    child process, so its process pool ends with it; the cache dir, or None."""
    from perfbench import inputs

    cache = inputs.cache_dir(os.path.join(ROOT, ".bench_cache"), a.workload, a.seed, a.size)
    if inputs.complete(cache):
        return cache
    cmd = [sys.executable, "-m", "perfbench.inputs", "--cache-root",
           os.path.join(ROOT, ".bench_cache"), "--workload", a.workload,
           "--seed", str(a.seed), "--size", a.size]
    try:
        code, _, _ = run_child(cmd, child_env(), deadline - time.monotonic())
    except TimeoutError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return None
    if code != 0 or not inputs.complete(cache):
        print(f"perfbench: input generation exited with code {code}", file=sys.stderr)
        return None
    return cache


def run_once(a, cache: str, traced: int, tmp: str, deadline: float) -> dict | None:
    """One worker process; its result dict (with peak_rss_mb), or None."""
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    out = os.path.join(tmp, "result.json")
    env = child_env()
    env.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "PAGERANK_CSR_CACHE_DIR": os.path.join(tmp, "csr-node-cache"),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "SPARK_GRAFT_CPUS": "4",
        # every JVM (launcher and driver): no /tmp/hsperfdata, tmpdir in the run dir
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    cmd = [sys.executable, "-m", "perfbench.worker", "--workload", a.workload,
           "--cache-dir", cache, "--tmp", tmp, "--seconds", str(a.seconds),
           "--trace", str(traced), "--out", out, "--t0", repr(time.time())]
    t0 = time.monotonic()
    try:
        code, peak, at_peak = run_child(cmd, env, deadline - time.monotonic(), sample_rss=True)
    except TimeoutError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return None
    if code != 0 or not os.path.exists(out):
        print(f"perfbench: worker exited with code {code}", file=sys.stderr)
        return None
    with open(out) as f:
        res = json.load(f)
    res["peak_rss_mb"] = peak / 2**20
    res["peak_rss_by_process_mb"] = at_peak
    res["worker_s"] = time.monotonic() - t0
    return res


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="full", help="input size preset (full | tiny)")
    a = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "pagerank_spark", "__init__.py")):
        print("perfbench: pagerank_spark not found next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import inputs, oracle

    if a.workload not in inputs.WORKLOADS or a.size not in inputs.SIZES:
        print(f"perfbench: unknown workload {a.workload!r} or size {a.size!r}", file=sys.stderr)
        return 2

    become_subreaper()
    # a terminated run still stops and waits for everything it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.monotonic()
    canary_first = canary_s()
    golden_problems = oracle.validate_on_golden()

    t0 = time.perf_counter()
    cache = generate(a, deadline=t_start + RUN_TIMEOUT_S)
    if cache is None:
        return 1
    gen_s = time.perf_counter() - t0
    with open(os.path.join(cache, "expected.json")) as f:
        expected = json.load(f)

    # a traced run compares its total_s with the untraced runs recorded in
    # this checkout; with none recorded yet it runs an untraced twin after
    # itself, if the run's time limit leaves room for one
    record = os.path.join(ROOT, ".bench_cache", f"untraced-{a.workload}-{a.size}.json")
    untraced_totals = _read_record(record)
    results = {}
    tmp_root = os.path.join(ROOT, ".bench_tmp")
    deadline = t_start + RUN_TIMEOUT_S
    try:
        res = run_once(a, cache, a.trace, os.path.join(tmp_root, f"{a.workload}-{a.trace}"),
                       deadline)
        if res is None:
            return 1
        results[a.trace] = res
        if (a.trace and not untraced_totals
                and deadline - time.monotonic() > TWIN_ROOM * res["worker_s"]):
            twin = run_once(a, cache, 0, os.path.join(tmp_root, f"{a.workload}-0"), deadline)
            if twin is not None:
                results[0] = twin
    finally:
        shutil.rmtree(tmp_root, ignore_errors=True)
    canary_last = canary_s()
    if 0 in results:
        untraced_totals.append(summarize(results[0], expected)["total_s"])
        _write_record(record, untraced_totals)

    res = results[a.trace]
    summary = summarize(res, expected)
    correct = not golden_problems and summary["ops_failed"] == 0 and not res["error"]
    meta = {
        "workload": a.workload, "seed": a.seed, "size": a.size, "gen_s": gen_s,
        "box": {**box_record(), **res["box"]},
        "canary_s": {"first": canary_first, "last": canary_last},
        "golden_check": golden_problems or "ok",
        "error": res["error"],
        "session_s": res["session_s"], "warm_up_s": res["warm_up_s"],
        "setup_reps_s": res["setup_reps_s"], "build_s": res["build_s"],
        "peak_rss_by_process_mb": res["peak_rss_by_process_mb"],
        "untraced_records": len(untraced_totals),
        **summary,
        "failed_ops": [f"{s['group']}: {s['error']}" for s in res["spans"] if s["error"]],
    }
    print("perfbench meta " + json.dumps(meta))

    if a.trace:
        vals = layer_metrics(res)
        # 0 when no untraced total is recorded and there was no room for a twin
        vals["trace.overhead_s"] = (summary["total_s"] - statistics.median(untraced_totals)
                                    if untraced_totals else 0.0)
        metrics = {n: {"value": vals[n], "unit": unit_of(n)} for n in per_layer_names()}
    else:
        metrics = {
            "setup_s": {"value": res["setup_s"], "unit": "s"},
            "total_s": {"value": summary["total_s"], "unit": "s"},
            "peak_rss_mb": {"value": res["peak_rss_mb"], "unit": "MB"},
        }
    print(json.dumps({
        "correct": correct, "attempted": max(1, summary["ops"]),
        "failed": summary["ops_failed"], "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
