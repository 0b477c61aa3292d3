"""CSR-Arrow path cross-check + durable checkpoint/resume (FIXTURES.md §6)."""

import pytest

from pagerank_spark.fixtures import GOLDEN_SMALL_EDGES, synth_edges
from pagerank_spark.oracle.pagerank_np import pagerank_np
from pagerank_spark.operators.graph_build import LinkGraph
from pagerank_spark.plans.checkpoint import IterationCheckpointer


def test_csr_matches_joinagg_and_oracle(spark):
    edges = synth_edges(n_vertices=50, n_edges=220, seed=5)
    raw = spark.createDataFrame(edges, ["src", "dst"])
    g = LinkGraph.from_edges(raw, apply_regex_filter=False, num_partitions=4)
    try:
        got_csr = {r["url"]: r["rank"] for r in g.pagerank_csr(epsilon=1e-8, num_blocks=3).collect()}
        got_v1 = {r["url"]: r["rank"] for r in g.pagerank(epsilon=1e-8).collect()}
        oracle, _, _ = pagerank_np(edges, epsilon=1e-8, apply_regex_filter=False)
        assert set(got_csr) == set(oracle) == set(got_v1)
        for u in oracle:
            assert got_csr[u] == pytest.approx(oracle[u], abs=1e-6), u
            # v1 vs v2 differ only by float summation order (~1e-9/iter drift)
            assert got_csr[u] == pytest.approx(got_v1[u], abs=1e-7), u
    finally:
        g.unpersist()


@pytest.mark.parametrize("method", ["pagerank", "pagerank_csr"])
def test_checkpoint_resume_bitexact(spark, tmp_path, golden_graph, method):
    """Kill-after-iteration-K scenario: a resumed run must equal an
    uninterrupted run bit-for-bit, on both backends (CSR re-derives its hash
    ids from the saved urls)."""
    run = getattr(golden_graph, method)
    ckdir_full = str(tmp_path / "full")
    ckdir_killed = str(tmp_path / "killed")

    full_ck = IterationCheckpointer(spark, ckdir_full, num_partitions=4, n_edges=10)
    full = {
        r["url"]: r["rank"]
        for r in run(epsilon=1e-6, checkpointer=full_ck).collect()
    }

    # simulate a kill: run only 7 iterations (max_iterations=7), manifests stay
    killed_ck = IterationCheckpointer(spark, ckdir_killed, num_partitions=4, n_edges=10)
    run(epsilon=1e-6, max_iterations=7, checkpointer=killed_ck)
    assert killed_ck.latest_complete() == 6

    # resume: new checkpointer on the same dir picks up at iteration 7
    resume_ck = IterationCheckpointer(spark, ckdir_killed, num_partitions=4, n_edges=10)
    resumed = {
        r["url"]: r["rank"]
        for r in run(epsilon=1e-6, checkpointer=resume_ck).collect()
    }
    assert resumed == full  # bit-for-bit: dict equality on float64

    manifests = resume_ck.read_manifests()
    assert [m["iteration"] for m in manifests] == list(range(len(manifests)))
    assert all("residual_hex" in m and m["rows"] == 6 for m in manifests)
    # resumed run recomputed nothing before iteration 7: manifest 6 unchanged
    assert manifests[-1]["residual"] < 1e-6


def test_csr_uri_scratch_end_to_end(spark, tmp_path):
    """scratch_dir as a file:// URI drives the NON-local pyarrow.fs code
    path (_fs_and_root / manifest IO / block download) end-to-end — the
    same plumbing an HDFS/S3 scratch uses on a real cluster. Results must
    equal the local-tempdir run bit-for-bit (same ids, same kernels)."""
    edges = synth_edges(n_vertices=40, n_edges=160, seed=9)
    raw = spark.createDataFrame(edges, ["src", "dst"])
    g_uri = LinkGraph.from_edges(raw, apply_regex_filter=False, num_partitions=4)
    g_loc = LinkGraph.from_edges(raw, apply_regex_filter=False, num_partitions=4)
    try:
        uri = f"file://{tmp_path}/csr_scratch"
        got_uri = {r["url"]: r["rank"] for r in
                   g_uri.pagerank_csr(epsilon=1e-8, num_blocks=3,
                                      scratch_dir=uri).collect()}
        got_loc = {r["url"]: r["rank"] for r in
                   g_loc.pagerank_csr(epsilon=1e-8, num_blocks=3).collect()}
        assert got_uri == got_loc
        # the spill really went through the URI root (run-<uuid> subdir
        # with a manifest), so a second graph sharing the same scratch_dir
        # cannot collide with this run's blocks
        import os
        runs = [d for d in os.listdir(f"{tmp_path}/csr_scratch")
                if d.startswith("run-")]
        assert len(runs) == 1
        assert os.path.exists(
            f"{tmp_path}/csr_scratch/{runs[0]}/_MANIFEST.json")
    finally:
        g_uri.unpersist()
        g_loc.unpersist()


def test_csr_unshared_scratch_refuses_instead_of_garbage(spark, tmp_path):
    """The two-session hazard: session B (or an executor that cannot see
    the shared filesystem) observes session A's spill WITHOUT its manifest
    — exactly what a concurrent reader sees before the manifest write, or
    what every executor sees when scratch_dir is a driver-local path on a
    multi-node cluster. The kernels must RAISE (refusing to treat blocks
    as absent), never converge to the teleport vector."""
    import shutil

    from pagerank_spark.operators import pagerank_csr as mod
    from pagerank_spark.operators.pagerank import power_iterate

    edges = synth_edges(n_vertices=30, n_edges=100, seed=3)
    raw = spark.createDataFrame(edges, ["src", "dst"])
    g = LinkGraph.from_edges(raw, apply_regex_filter=False, num_partitions=4)
    try:
        scratch_root = str(tmp_path / "shared")
        g.pagerank_csr(epsilon=1e-6, max_iterations=2, num_blocks=3,
                       scratch_dir=scratch_root)
        state = g._csr_state
        # session B's view: same blocks, manifest not (yet) visible
        import os
        run_dir = state["scratch"]
        b_view = str(tmp_path / "b_view" / "run-copy")
        shutil.copytree(run_dir, b_view)
        os.remove(f"{b_view}/{mod._MANIFEST}")

        with pytest.raises(Exception) as ei:
            power_iterate(g, mod._csr_spmv(3, b_view, state["salt"]),
                          max_iterations=2).collect()
        assert "no readable" in str(ei.value) or "_MANIFEST" in str(ei.value)
    finally:
        g.unpersist()
