"""Streaming ingest (availableNow file streams, deterministic) + CLI smoke."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _make_pages(spark, tmp_path, n_batches=2):
    """Write page batches with deterministic html; returns expected edges."""
    from datetime import datetime, timezone

    expected = []
    in_dir = tmp_path / "pages_in"
    in_dir.mkdir(parents=True)
    for b in range(n_batches):
        rows = []
        for i in range(4):
            url = f"www.s{b}.test-page{i}"
            targets = [f"www.s{b}.test-page{(i + k) % 4}" for k in range(1, 3)]
            html = "".join(f'<a href="http://{t}">x</a>' for t in targets)
            rows.append(
                (
                    url,
                    datetime(2024, 1, 1, b, i, tzinfo=timezone.utc),
                    html.encode(),
                    "x x",
                    "en",
                )
            )
            expected.extend((url, t) for t in targets)
        from pagerank_spark.streaming.ingest import PAGES_SCHEMA

        spark.createDataFrame(rows, PAGES_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(in_dir))
    return str(in_dir), expected


def test_streaming_edge_log_matches_batch_extractor(spark, tmp_path):
    from pagerank_spark.functions.extract import extract_edges_df
    from pagerank_spark.streaming.ingest import (
        extract_edges_stream,
        stream_pages,
        write_edge_log,
    )

    in_dir, expected = _make_pages(spark, tmp_path)
    out_dir = str(tmp_path / "edge_log")
    ck = str(tmp_path / "ck")

    q = write_edge_log(
        extract_edges_stream(stream_pages(spark, in_dir)), out_dir, ck, available_now=True
    )
    q.awaitTermination(120)
    got = [(r["src"], r["dst"]) for r in spark.read.parquet(out_dir).collect()]
    assert sorted(got) == sorted(expected)

    # batch extractor over the same pages produces the identical edge set
    batch = extract_edges_df(spark.read.parquet(in_dir))
    got_batch = [(r["src"], r["dst"]) for r in batch.collect()]
    assert sorted(got_batch) == sorted(expected)

    # incremental restart: a new batch is processed exactly once
    in_dir2, expected2 = _make_pages(spark, tmp_path / "x", n_batches=1)
    import shutil, os

    for f in os.listdir(in_dir2):
        if f.endswith(".parquet") and not f.startswith("."):
            shutil.copy(os.path.join(in_dir2, f), os.path.join(in_dir, "new_" + f))
    q2 = write_edge_log(
        extract_edges_stream(stream_pages(spark, in_dir)), out_dir, ck, available_now=True
    )
    q2.awaitTermination(120)
    got2 = [(r["src"], r["dst"]) for r in spark.read.parquet(out_dir).collect()]
    assert sorted(got2) == sorted(expected + expected2)


def test_windowed_indegree_stream(spark, tmp_path):
    from pagerank_spark.streaming.ingest import (
        extract_edges_stream,
        stream_pages,
        windowed_indegree,
    )

    in_dir, expected = _make_pages(spark, tmp_path, n_batches=1)
    agg = windowed_indegree(
        extract_edges_stream(stream_pages(spark, in_dir)), window="1 hour"
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("indeg_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select dst, in_degree from indeg_test").collect()
    from collections import Counter

    want = Counter(t for _, t in expected)
    assert {r["dst"]: r["in_degree"] for r in rows} == dict(want)


def test_cli_end_to_end_golden(spark, tmp_path, caplog):
    import gzip
    import logging

    from pagerank_spark.cli import build_parser, main
    from pagerank_spark.fixtures import GOLDEN_SMALL_EDGES

    # argparse surface mirrors the reference (pagerank.py:245-257)
    p = build_parser()
    a = p.parse_args(["--data", "x.csv", "--alpha", "0.9", "--search_query", "q -neg"])
    assert a.alpha == 0.9 and a.search_query == "q -neg"

    # the reference's input format: gzipped CSV with a source,target header
    data = tmp_path / "small.csv.gz"
    with gzip.open(data, "wt") as f:
        f.write("source,target\n")
        f.writelines(f"{s},{t}\n" for s, t in GOLDEN_SMALL_EDGES)

    with caplog.at_level(logging.INFO, logger="pagerank_spark"):
        rc = main(
            [
                "--data", str(data),
                "--no_regex_filter",
                "--max_results", "3",
            ],
            spark=spark,
        )
    assert rc == 0
    lines = [r.getMessage() for r in caplog.records if r.getMessage().startswith("rank=")]
    # reference golden top-3 (README.md:142-147)
    assert lines[0] == "rank=0 pagerank=6.6270e-01 url=4"
    assert lines[1] == "rank=1 pagerank=5.2179e-01 url=6"
    assert lines[2] == "rank=2 pagerank=4.1434e-01 url=5"


def test_cli_embeddings_query_expansion(spark, tmp_path, caplog):
    # reference pagerank.py:224-227: with vectors loaded, every positive term
    # is expanded with its top-5 most-similar words INSIDE the predicate, so
    # searching 'corona' also returns urls matching only expansion words
    import logging

    from pagerank_spark.cli import main

    edges = [
        ("www.covid-news", "www.pizza-blog"),
        ("www.pizza-blog", "www.covid-news"),
        ("www.court-today", "www.covid-news"),
    ]
    edge_path = str(tmp_path / "edges.parquet")
    spark.createDataFrame(edges, ["src", "dst"]).write.parquet(edge_path)
    # vocab sized so top-5 expansion of 'corona' excludes 'court' (cosine 0)
    vocab = [
        ("corona", [1.0, 0.0, 0.0]),
        ("covid", [0.95, 0.05, 0.0]),
        ("sars", [0.9, 0.1, 0.0]),
        ("virus", [0.85, 0.15, 0.0]),
        ("vaccine", [0.8, 0.2, 0.0]),
        ("mask", [0.75, 0.25, 0.0]),
        ("pizza", [0.1, 1.0, 0.0]),
        ("court", [0.0, 0.0, 1.0]),
    ]
    emb_path = str(tmp_path / "emb.parquet")
    spark.createDataFrame(vocab, ["word", "embedding"]).write.parquet(emb_path)

    def run(argv):
        caplog.clear()
        with caplog.at_level(logging.INFO, logger="pagerank_spark"):
            assert main(argv, spark=spark) == 0
        return [r.getMessage() for r in caplog.records if r.getMessage().startswith("rank=")]

    base = ["--data", edge_path, "--search_query", "corona", "--max_results", "5"]
    assert run(base) == []  # no url contains 'corona'
    expanded = run(base + ["--embeddings", emb_path])
    assert any("www.covid-news" in l for l in expanded)
    assert not any("court" in l for l in expanded)


def test_streaming_pagerank_refresh_warm_start(spark, tmp_path):
    # per micro-batch: append extracted edges, refresh PageRank warm-started
    # from the previous published vector; the warm start must cut iterations
    # vs a cold run on the same final edge log, and the published vector must
    # equal the batch-computed one
    from pagerank_spark.operators.graph_build import LinkGraph
    from pagerank_spark.streaming.ingest import (
        foreach_batch_rebuild,
        make_pagerank_refresh_rebuild,
        resolve_latest,
        stream_pages,
    )

    in_dir, expected = _make_pages(spark, tmp_path, n_batches=3)
    edge_log = str(tmp_path / "edge_log")
    ranks_dir = str(tmp_path / "ranks")
    ck = str(tmp_path / "ck_refresh")

    refresh_metrics: list = []
    rebuild = make_pagerank_refresh_rebuild(
        spark, edge_log, ranks_dir, refresh_metrics=refresh_metrics,
        alpha=0.85, epsilon=1e-6,
    )
    q = foreach_batch_rebuild(
        stream_pages(spark, in_dir), ck, rebuild, available_now=True
    )
    q.awaitTermination(300)
    assert len(refresh_metrics) >= 1

    # published vector equals a cold batch run over the full edge log
    import pyspark.sql.functions as F

    got = {r["url"]: r["rank"] for r in
           spark.read.parquet(resolve_latest(ranks_dir)).collect()}
    g = LinkGraph.from_edges(spark.read.parquet(edge_log).select("src", "dst"))
    cold_metrics: list = []
    want = {r["url"]: r["rank"] for r in
            g.pagerank(alpha=0.85, epsilon=1e-6, metrics=cold_metrics).collect()}
    g.unpersist()
    assert set(got) == set(want)
    for u in want:
        assert abs(got[u] - want[u]) < 1e-6, u
    # the last (warm) refresh took fewer iterations than the cold fixpoint
    # (identical final edge set) unless everything converged trivially
    assert len(refresh_metrics[-1]) <= len(cold_metrics)


def test_publish_ranks_manifest_mode(spark, tmp_path):
    # object-store-safe publisher: versioned dirs + atomic LATEST.json
    # pointer; keeps current + previous version, prunes older; resolve never
    # points at a missing dir
    import json
    import os

    from pagerank_spark.streaming.ingest import publish_ranks, resolve_latest

    ranks_dir = str(tmp_path / "ranks")
    assert resolve_latest(ranks_dir) is None

    dfs = [spark.createDataFrame([(f"u{i}", float(i))], ["url", "rank"])
           for i in range(3)]
    p0 = publish_ranks(dfs[0], ranks_dir, publish_mode="manifest")
    assert resolve_latest(ranks_dir) == p0 and p0.endswith("v0")
    p1 = publish_ranks(dfs[1], ranks_dir, publish_mode="manifest")
    p2 = publish_ranks(dfs[2], ranks_dir, publish_mode="manifest")
    assert resolve_latest(ranks_dir) == p2 and p2.endswith("v2")
    assert spark.read.parquet(p2).collect()[0]["url"] == "u2"
    # v0 pruned, v1 (previous) kept for in-flight readers
    assert not os.path.exists(os.path.join(ranks_dir, "v0"))
    assert os.path.exists(p1)
    with open(os.path.join(ranks_dir, "LATEST.json")) as f:
        assert json.load(f)["version_dir"] == "v2"


def test_publish_ranks_rename_mode_survives_stale_old(spark, tmp_path):
    # a crash between the two swap renames leaves a stale _old dir; the next
    # publish must clear it instead of raising on rename-onto-nonempty
    import os

    from pagerank_spark.streaming.ingest import publish_ranks, resolve_latest

    ranks_dir = str(tmp_path / "ranks")
    df1 = spark.createDataFrame([("a", 1.0)], ["url", "rank"])
    df2 = spark.createDataFrame([("b", 2.0)], ["url", "rank"])
    publish_ranks(df1, ranks_dir, publish_mode="rename")
    # simulate the crash artifact
    os.makedirs(os.path.join(ranks_dir, "_old"))
    with open(os.path.join(ranks_dir, "_old", "junk"), "w") as f:
        f.write("x")
    latest = publish_ranks(df2, ranks_dir, publish_mode="rename")
    assert resolve_latest(ranks_dir) == latest
    assert spark.read.parquet(latest).collect()[0]["url"] == "b"
    assert not os.path.exists(os.path.join(ranks_dir, "_old"))


def test_pagerank_refresh_csr_impl_parity(spark, tmp_path):
    # the refresh cadence can select the CSR/Arrow path; same published
    # result (1e-9: identical math, float summation order may differ) and
    # the same warm-start contract
    from pagerank_spark.fixtures import synth_edges
    from pagerank_spark.streaming.ingest import pagerank_refresh, resolve_latest

    edge_log = str(tmp_path / "edges")
    spark.createDataFrame(
        synth_edges(n_vertices=40, n_edges=160, seed=9), ["src", "dst"]
    ).write.parquet(edge_log)

    va = {r["url"]: r["rank"] for r in pagerank_refresh(
        spark, edge_log, str(tmp_path / "r_join"), apply_regex_filter=False,
        impl="joinagg").collect()}
    m_csr: list = []
    vb = {r["url"]: r["rank"] for r in pagerank_refresh(
        spark, edge_log, str(tmp_path / "r_csr"), apply_regex_filter=False,
        impl="csr", metrics=m_csr).collect()}
    assert set(va) == set(vb) and all(abs(va[u] - vb[u]) < 1e-9 for u in va)

    # second CSR refresh warm-starts from the published vector: immediate stop
    m2: list = []
    pagerank_refresh(spark, edge_log, str(tmp_path / "r_csr"),
                     apply_regex_filter=False, impl="csr", metrics=m2)
    assert resolve_latest(str(tmp_path / "r_csr")).endswith("v1")
    assert len(m2) < len(m_csr)


def test_recrawl_warm_start_fewer_iterations_same_result(spark, tmp_path):
    """Round-5 verdict item 8: on a RE-CRAWL batch (new edges appended to an
    already-ranked log) the warm-started refresh must converge in strictly
    fewer iterations than a cold run over the same final edge log, and the
    published vector must match the cold fixpoint to the reference bar
    (allclose 1e-6) — the spectrum barely moves, so the previous vector is
    already near the new fixpoint and the residual early-exit fires early."""
    from pagerank_spark.fixtures import synth_edges
    from pagerank_spark.operators.graph_build import LinkGraph
    from pagerank_spark.streaming.ingest import pagerank_refresh

    edge_log = str(tmp_path / "edges")
    ranks_dir = str(tmp_path / "ranks")
    base = synth_edges(n_vertices=80, n_edges=200, seed=3)
    spark.createDataFrame(base, ["src", "dst"]).write.parquet(edge_log)

    # epsilon=1e-8 on every run: two independent 1e-6 fixpoints can differ
    # by ~2e-6 per coordinate, which would make the 1e-6 value assertion
    # vacuous; at 1e-8 both vectors are well inside the comparison bar
    m1: list = []
    pagerank_refresh(spark, edge_log, ranks_dir,
                     apply_regex_filter=False, epsilon=1e-8, metrics=m1)

    # the re-crawl: a small batch of NEW edges lands in the log
    delta = synth_edges(n_vertices=80, n_edges=20, seed=11)
    spark.createDataFrame(delta, ["src", "dst"]).write.mode("append").parquet(edge_log)

    m_warm: list = []
    warm = {r["url"]: r["rank"] for r in pagerank_refresh(
        spark, edge_log, ranks_dir, apply_regex_filter=False,
        epsilon=1e-8, metrics=m_warm).collect()}

    g = LinkGraph.from_edges(
        spark.read.parquet(edge_log).select("src", "dst"),
        apply_regex_filter=False,
    )
    m_cold: list = []
    cold = {r["url"]: r["rank"] for r in
            g.pagerank(alpha=0.85, epsilon=1e-8, metrics=m_cold).collect()}
    g.unpersist()

    assert len(m_warm) < len(m_cold), (len(m_warm), len(m_cold))
    assert set(warm) == set(cold)
    for u in cold:
        assert abs(warm[u] - cold[u]) < 1e-6, u
