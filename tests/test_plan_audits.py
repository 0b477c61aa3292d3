"""Plan audits: assertions on the PHYSICAL plans of the contract queries.

The scale properties the engine claims (column pruning into the parquet
scan, broadcast-not-shuffle for query-sized sides, no nested-loop joins on
scale paths, SpMV stage parallelism pinned against AQE coalescing) are
invisible to result-correctness tests — these lock them in via
`.explain`-style plan introspection so a regression fails loudly.
"""

from __future__ import annotations

import pytest


def _formatted(df) -> str:
    jqe = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return jqe.explainString(mode)


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def docs_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plan_docs") / "documents.parquet")
    spark.createDataFrame(
        [(i, f"doc text number {i} with words", "en", i % 3) for i in range(50)],
        ["doc_id", "text", "lang", "bucket_col"],
    ).write.parquet(p)
    return p


def test_textops_scan_prunes_columns(spark, docs_path):
    # token stats must read (doc_id, text) ONLY — a scan pulling the whole
    # documents schema at 10^12 rows is reading data it throws away
    from pagerank_spark.operators.textops import with_token_stats

    q = with_token_stats(spark.read.parquet(docs_path)).select(
        "doc_id", "ws_tokens", "bpe_tokens", "n_chars_computed"
    )
    plan = _formatted(q)
    scan = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan, plan
    assert "text" in scan[0] and "doc_id" in scan[0]
    assert "lang" not in scan[0] and "bucket_col" not in scan[0]


def test_filter_pushed_into_scan(spark, docs_path):
    # a predicate on a scanned column must reach the parquet reader as a
    # PushedFilters entry, not run as a post-scan Filter only
    from pyspark.sql import functions as F

    df = spark.read.parquet(docs_path).where(F.col("lang") == "en").select("doc_id")
    plan = _formatted(df)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "lang" in pushed[0], plan


def test_lsh_pair_join_is_equi_join_not_nested_loop(spark):
    # the corpus-scale near-dup path must candidate-join on (tbl, bucket)
    # as a hash-partitionable equi-join — never a cartesian or broadcast
    # nested loop, which are the physical signatures of an accidental
    # all-pairs comparison. (ann_lsh_topk materializes its query-sized
    # result by design, so the lazy pairwise path is the one to audit.)
    import numpy as np

    from pagerank_spark.operators.similarity import lsh_near_duplicate_pairs

    rng = np.random.RandomState(4)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.randn(8)]) for i in range(60)],
        ["vec_id", "embedding"],
    )
    from pyspark.sql import functions as F

    from pagerank_spark.operators.similarity import (
        _exploded_tables,
        with_lsh_buckets,
    )

    # same construction lsh_near_duplicate_pairs uses internally (it
    # materializes its result, hiding the join from the returned plan)
    e = with_lsh_buckets(emb, planes=4, tables=2, dim=8)
    a = _exploded_tables(
        e.select(F.col("vec_id").alias("id_a"), "buckets"), ["id_a"], 4, probe=True
    )
    b = _exploded_tables(
        e.select(F.col("vec_id").alias("id_b"), "buckets"), ["id_b"], 4, probe=False
    )
    out = a.join(b, ["tbl", "bucket"]).where(F.col("id_a") < F.col("id_b"))
    plan = _physical(out)
    # keep the real operator's output green too
    assert lsh_near_duplicate_pairs(
        emb, threshold=0.9, planes=4, tables=2, dim=8
    ).count() >= 0
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    ), plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_search_topk_uses_take_ordered(spark, docs_path):
    # filtered top-k must be TakeOrderedAndProject (k-sized per-partition
    # heaps + one driver merge), never a full global Sort
    from pagerank_spark.operators.graph_build import LinkGraph
    from pagerank_spark.operators.search import search

    g = LinkGraph.from_edges(
        spark.createDataFrame([("a/x", "b/y"), ("b/y", "a/x")], ["src", "dst"]),
        apply_regex_filter=False,
    )
    ranks = g.pagerank(max_iterations=2)
    plan = _physical(search(ranks, "", 5))
    assert "TakeOrderedAndProject" in plan, plan
    g.unpersist()


def test_csr_spmv_stage_keeps_block_parallelism(spark):
    # regression guard for the AQE-coalescing bug: the vertex-sized input
    # to the SpMV groupBy(block) rides an explicit repartition(B, block),
    # which AQE preserves — so the stage keeps B partitions even though the
    # data is tiny. (AQE would otherwise coalesce to 1 partition and
    # serialize every block kernel through a single Python worker.)
    from pyspark.sql import functions as F

    from pagerank_spark.operators.pagerank_csr import _block_of

    B = 16
    x = spark.range(1000).select(
        F.col("id").alias("vid"), F.lit(1.0).alias("rank")
    )
    xb = x.select(
        "vid", "rank", _block_of(F.col("vid"), B).alias("block")
    ).repartition(B, "block")
    # AQE is ON in the test session; user repartitions are preserved, so
    # the materialized partition count must be exactly B, not 1
    assert xb.rdd.getNumPartitions() == B


@pytest.mark.parametrize("method,max_overhead", [("pagerank", 11), ("pagerank_csr", 10)])
def test_pagerank_job_budget(spark, golden_graph, method, max_overhead):
    # both backends run one shared loop: 5 Spark jobs per iteration (AQE
    # runs each query stage of the fused stats action as its own job) on
    # top of a fixed setup/teardown overhead that must not grow
    sc = spark.sparkContext
    run = getattr(golden_graph, method)
    run(max_iterations=1).count()  # warm graph caches and the CSR spill
    jobs = {}
    for k in (2, 4):
        group = f"job-budget-{method}-{k}"
        sc.setJobGroup(group, group)
        try:
            run(epsilon=0.0, max_iterations=k).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[k] = len(sc.statusTracker().getJobIdsForGroup(group))
    per_iter = (jobs[4] - jobs[2]) / 2
    assert per_iter == 5, jobs
    assert jobs[2] - 2 * per_iter <= max_overhead, jobs


def test_bucketed_edge_table_join_and_agg_are_exchange_free(spark, tmp_path):
    # the co-location contract: a bucketed+sorted edge table joins on its
    # bucket key and aggregates by it without any Exchange — at 100 TB that
    # is the difference between reading buckets and reshuffling the corpus
    from pyspark.sql import functions as F

    from pagerank_spark.sources.table_io import TableIO

    io = TableIO(spark)
    edges = spark.createDataFrame(
        [(f"u{i % 50}", f"u{(i * 7) % 50}", 1.0) for i in range(500)],
        ["src", "dst", "weight"],
    )
    io.write_bucketed_edges(
        edges, "edges_bucketed_audit", str(tmp_path / "eb"), buckets=8
    )
    t = io.read_table("edges_bucketed_audit")

    joined = t.alias("a").hint("merge").join(t.alias("b"), "src")
    plan = _physical(joined)
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, plan

    agg = t.groupBy("src").agg(F.sum("weight"))
    agg_plan = _physical(agg)
    assert "Exchange" not in agg_plan, agg_plan


def test_ivf_assign_has_no_exchange(spark):
    # IVF assignment is a per-row argmax over centroid literals: ONE scan,
    # ZERO shuffle. An Exchange here would mean the corpus moves just to be
    # labeled — the 100-TB regression this locks out.
    import numpy as np

    from pagerank_spark.operators.similarity import ivf_assign, ivf_centroids

    rng = np.random.RandomState(3)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.randn(8)]) for i in range(40)],
        ["vec_id", "embedding"],
    )
    cents = ivf_centroids(emb, n_lists=4)
    for method in ("exact", "arrow"):
        plan = _physical(ivf_assign(emb, cents, method=method))
        assert "Exchange" not in plan, plan


def test_repetition_stats_bounded_exchanges_with_map_side_combine(spark, docs_path):
    # the gram stream may shuffle at most thrice — (doc_id, gram-hash)
    # frequency count, per-doc rollup, join co-partitioning — and the wide
    # aggregations must partial-aggregate so gram counts combine map-side
    from pagerank_spark.operators.textops import repetition_stats

    plan = _physical(repetition_stats(spark.read.parquet(docs_path), n=3))
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 3, plan
    assert "partial_count" in plan or "partial" in plan.lower(), plan


def test_decontaminate_eval_side_broadcasts(spark, docs_path):
    # corpus-side shingles must meet the eval n-gram set via BroadcastHashJoin
    # (eval is benchmark-sized); a SortMergeJoin here shuffles the corpus
    from pagerank_spark.operators.dedup import decontaminate

    docs = spark.read.parquet(docs_path)
    ev = docs.limit(5)
    plan = _physical(decontaminate(docs, ev, n=3))
    assert "BroadcastHashJoin" in plan, plan


def test_pack_sequences_single_exchange(spark, docs_path):
    # concat-and-chunk packing must be ONE hash exchange on shard + a
    # per-partition window — a second exchange or a global sort would make
    # training-order assignment a corpus-wide shuffle at 100 TB
    from pagerank_spark.operators.sampling import pack_sequences

    plan = _physical(pack_sequences(spark.read.parquet(docs_path), ctx_len=64))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "rangepartitioning" not in plan, plan  # no global sort
    # column pruning: only (doc_id, text) leave the scan
    fmt = _formatted(pack_sequences(spark.read.parquet(docs_path), ctx_len=64))
    scan = [l for l in fmt.splitlines() if "ReadSchema" in l]
    assert scan and "lang" not in scan[0], fmt


@pytest.mark.parametrize("n_vertices, expect_broadcast", [(50, True), (10**10, False)])
def test_hits_join_strategy_flips_with_input_size(spark, n_vertices, expect_broadcast):
    # the broadcast auto-policy (resolve_broadcast, shared by hits/k_core/
    # label_propagation): a vertex-sized score table is the broadcast build
    # side while it fits an executor, and the SAME code path plans a shuffle
    # join once the vertex count crosses the threshold — so a cluster-scale
    # caller cannot OOM on a 10^9-row build side by default. Asserted on the
    # physical plan of the half-round with the planner's own small-table
    # broadcasting disabled, so the policy alone decides.
    from pyspark.sql import functions as F

    from pagerank_spark.operators.hits import _half_round, resolve_broadcast

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        e = spark.createDataFrame(
            [(f"u{i}", f"u{(i * 3) % 7}") for i in range(20)], ["src", "dst"]
        )
        verts = e.select(F.col("src").alias("url")).distinct()
        scores = verts.withColumn("h", F.lit(1.0))
        broadcast = resolve_broadcast(None, n_vertices)
        assert broadcast == expect_broadcast
        plan = _physical(
            _half_round(e, scores, verts, "src", "dst", "h", "a", broadcast)
        )
        assert ("BroadcastHashJoin" in plan) == expect_broadcast, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_stratified_filter_reaches_the_scan(spark, docs_path):
    # the md5 sampling predicate is a pure Column filter: it must run inside
    # the scan stage (no exchange at all), keeping sampling shuffle-free
    from pagerank_spark.operators.sampling import stratified_sample

    plan = _physical(
        stratified_sample(spark.read.parquet(docs_path), {"en": 0.5})
    )
    assert "Exchange" not in plan, plan


def test_pii_scrub_zero_exchange_and_pruned_scan(spark, docs_path):
    # the PII scrub is a pure per-row regexp pass: any Exchange (or Python
    # crossing) here would multiply the dominant cost of a 100-TB scrub
    from pagerank_spark.operators.textops import pii_scrub

    q = pii_scrub(spark.read.parquet(docs_path))
    plan = _physical(q)
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    fmt = _formatted(q)
    scan = [l for l in fmt.splitlines() if "ReadSchema" in l]
    assert scan and "lang" not in scan[0] and "bucket_col" not in scan[0], fmt


def test_c4_filter_zero_exchange(spark, docs_path):
    # C4 line rules run inside array lambdas on each row — one codegen'd
    # scan, nothing wide
    from pagerank_spark.operators.textsearch import c4_filter

    plan = _physical(c4_filter(spark.read.parquet(docs_path)))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_bm25_query_side_broadcasts_corpus_never_moves(spark, docs_path):
    # the query-term table is tiny and must BROADCAST to the postings; the
    # corpus side may shuffle only on the (term, doc_id)/doc_id agg keys —
    # a SortMergeJoin against the query terms would shuffle postings by term
    # a second time for a 3-row table
    from pagerank_spark.operators.textsearch import bm25_topk

    q = bm25_topk(spark.read.parquet(docs_path), ["doc", "words"], k=5)
    plan = _physical(q)
    assert "BroadcastHashJoin" in plan, plan
    # final top-k is a TakeOrderedAndProject, not a global sort
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_inverted_index_partial_aggregates(spark, docs_path):
    # both stacked aggregates must partial-aggregate (map-side combine) so
    # stopword-skewed term keys reduce before the exchange
    from pagerank_spark.operators.textsearch import inverted_index

    plan = _physical(inverted_index(spark.read.parquet(docs_path), min_df=2))
    assert "partial_count" in plan or "partial" in plan.lower(), plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_paragraph_dedup_winner_pick_partial_aggregates(spark, docs_path):
    # the first-occurrence winner must come from a map-side-combinable
    # min(struct) aggregate, NOT a row_number window partitioned by the
    # paragraph fingerprint (which would sort-buffer every copy of a hot
    # boilerplate paragraph in one task)
    from pagerank_spark.operators.dedup import paragraph_dedup

    plan = _physical(paragraph_dedup(spark.read.parquet(docs_path)))
    assert "partial_min" in plan, plan
    assert "row_number" not in plan, plan


def test_gopher_filter_zero_exchange_pruned_scan(spark, docs_path):
    # the Gopher verdict is a pure per-row pass over split arrays — any
    # Exchange or Python crossing multiplies the cost of a pass that sees
    # every crawled byte (it runs BEFORE dedup)
    from pagerank_spark.operators.textops import gopher_filter

    q = gopher_filter(spark.read.parquet(docs_path))
    plan = _physical(q)
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    fmt = _formatted(q)
    scan = [l for l in fmt.splitlines() if "ReadSchema" in l]
    assert scan and "lang" not in scan[0] and "bucket_col" not in scan[0], fmt


def test_dup_line_stats_bounded_exchanges(spark, docs_path):
    # line hashes shuffle at most twice — (doc_id, line-hash) frequency
    # count and the per-doc rollup — both partial-aggregated
    from pagerank_spark.operators.textops import dup_line_stats

    plan = _physical(dup_line_stats(spark.read.parquet(docs_path)))
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "partial" in plan.lower(), plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_unigram_logloss_bounded_exchanges(spark, docs_path):
    # token stream: vocab count (token key), join back (token key, reuses
    # the count's partitioning where AQE allows), doc rollup — the token
    # explode itself must NOT shuffle and everything partial-aggregates
    from pagerank_spark.operators.textops import unigram_logloss

    plan = _physical(unigram_logloss(spark.read.parquet(docs_path)))
    assert plan.count("Exchange hashpartitioning") <= 4, plan
    assert "partial" in plan.lower(), plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_canonical_url_groups_single_exchange(spark, docs_path):
    # the canonical key is computed per-row (regex Columns); the rollup is
    # ONE partial-aggregated hash exchange on that key
    from pyspark.sql import functions as F

    from pagerank_spark.functions.urls import canonical_url_groups

    df = spark.read.parquet(docs_path).select(
        F.concat(F.lit("http://www.h"), F.col("doc_id").cast("string"),
                 F.lit(".test/p/")).alias("url")
    )
    plan = _physical(canonical_url_groups(df))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_anchor_term_index_bounded_exchanges(spark):
    # (dst, term) tf count, per-dst anchor count, dst-keyed join — at most
    # three hash exchanges, everything partial-aggregated, no global sort
    from pagerank_spark.operators.textsearch import anchor_term_index

    anchors = spark.createDataFrame(
        [("s1", "t1", "big cats"), ("s2", "t1", "big dogs")],
        ["src", "dst", "anchor"],
    )
    plan = _physical(anchor_term_index(anchors))
    assert plan.count("Exchange hashpartitioning") <= 3, plan
    assert "rangepartitioning" not in plan, plan
    assert "partial" in plan.lower(), plan


def test_spearman_has_no_row_sized_global_sort(spark, docs_path):
    # ranks come from VALUE-HISTOGRAM windows, never a per-row global
    # ordering: the plan must contain no rangepartitioning (global sort of
    # the input); the SinglePartition windows it does contain run over the
    # distinct-value histograms only
    from pyspark.sql import functions as F

    df = spark.read.parquet(docs_path).select(
        (F.col("doc_id") % 7).alias("x"), (F.col("doc_id") % 5).alias("y")
    )
    # the production operator collect-materializes its one-row result
    # (cache hygiene), which hides the plan — audit the identical lazy build
    plan = _physical(_spearman_lazy(df))
    assert "rangepartitioning" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def _spearman_lazy(df):
    # rebuild the spearman plan WITHOUT the final collect-materialization so
    # the physical plan stays inspectable
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.orderBy("v")

    def rank2(col, name):
        hist = df.groupBy(F.col(col).alias("v")).agg(F.count(F.lit(1)).alias("c"))
        r2 = (2 * (F.sum("c").over(w) - F.col("c")) + F.col("c") + 1).cast(
            "decimal(38,0)"
        )
        return hist.select(F.col("v").alias(col), r2.alias(name))

    joined = df.select("x", "y").join(rank2("x", "rx"), "x").join(rank2("y", "ry"), "y")
    return joined.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rx").alias("sx"), F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
    )


def test_neighbor_jaccard_equi_join_not_nested_loop(spark, docs_path):
    # the wedge self-join and both degree joins must be hash equi-joins —
    # a nested-loop anywhere makes the pair stage vertex-quadratic
    from pyspark.sql import functions as F

    from pagerank_spark.operators.linkpred import neighbor_jaccard

    e = spark.read.parquet(docs_path).select(
        F.concat(F.lit("v"), (F.col("doc_id") % 10).cast("string")).alias("src"),
        F.concat(F.lit("v"), ((F.col("doc_id") * 3 + 1) % 10).cast("string")).alias("dst"),
    )
    plan = _physical(neighbor_jaccard(e, min_common=1))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_resolve_redirects_equi_joins_only_vertex_sized_state(spark):
    # pointer doubling must stay hash equi-joins over the vertex-sized
    # state table — a cartesian/nested-loop here is the signature of a
    # broken join condition, and at 10^9 aliases it never finishes
    from pagerank_spark.operators.redirects import resolve_redirects

    rows = [(f"n{i}", f"n{i + 1}") for i in range(12)]
    out = resolve_redirects(spark.createDataFrame(rows, ["src", "dst"]))
    plan = _physical(out)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # no Python crossing anywhere in the loop or the finalize
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_rewrite_edges_equi_joins_only(spark):
    from pagerank_spark.operators.redirects import resolve_redirects, rewrite_edges

    redirects = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("l0", "l1"), ("l1", "l0")], ["src", "dst"]
    )
    edges = spark.createDataFrame([("a", "x"), ("x", "b")], ["src", "dst"])
    plan = _physical(rewrite_edges(edges, resolve_redirects(redirects)))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_extract_links_single_arrow_crossing_jvm_explode(spark):
    # one ArrowEvalPython carrying a struct ARRAY per page; the per-link
    # fan-out must be a JVM Generate (explode), never a Python-side row
    # explosion
    from pagerank_spark.functions.extract import extract_links_df

    pages = spark.createDataFrame(
        [("h.test/p", b'<a href="http://t.test/x" rel="nofollow">x</a>')],
        ["url", "html"],
    )
    plan = _physical(extract_links_df(pages))
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "Generate explode" in plan, plan
    assert "BatchEvalPython" not in plan, plan


@pytest.fixture(scope="module")
def events_df(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, i % 5, t0 + dt.timedelta(minutes=7 * i), ("view", "click", "purchase")[i % 3], float(i))
        for i in range(60)
    ]
    return spark.createDataFrame(
        rows, "event_id INT, user_id INT, ts TIMESTAMP, event_type STRING, value DOUBLE"
    )


def test_sessionize_single_exchange_single_window(spark, events_df):
    # every window expression (gap flag, running session counter, running
    # session-start max, row numbers) shares partitionBy(user) orderBy(ts,
    # id), so the whole assignment is ONE hash exchange and ONE Window
    # operator — a second exchange here would double the cost of a pass
    # over the entire event log
    from pagerank_spark.operators.sessions import sessionize

    plan = _physical(sessionize(events_df))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Window") <= 2, plan  # lag+rn pass, running-sum+max pass
    assert "rangepartitioning" not in plan, plan  # no global sort
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_session_stats_reuses_session_partitioning(spark, events_df):
    # the (user, session_seq) rollup is satisfied by the sessionize
    # window's user-hash partitioning (session keys are user-local), so
    # the aggregate adds NO second exchange
    from pagerank_spark.operators.sessions import session_stats

    plan = _physical(session_stats(events_df))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_funnel_no_raw_log_self_join(spark, events_df):
    # each stage is a conditional min-aggregate joined on user_id — never a
    # cartesian/nested-loop of the raw log against itself, and the stage
    # joins stay hash/broadcast equi-joins
    from pagerank_spark.operators.sessions import funnel

    plan = _physical(funnel(events_df))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "partial_min" in plan or "partial" in plan.lower(), plan


def test_frontier_priority_no_cartesian_partial_agg(spark):
    # rank join is a src-keyed hash equi-join, the inflow aggregate is
    # partial-aggregated (map-side combine), the frontier cut a LEFT ANTI —
    # never a cartesian/nested-loop, never a Python crossing
    from pagerank_spark.operators.crawl import frontier_priority

    edges = spark.createDataFrame(
        [("a", "b", 0.5), ("a", "x", 0.5), ("b", "x", 1.0)],
        ["src", "dst", "weight"],
    )
    ranks = spark.createDataFrame([("a", 0.4), ("b", 0.6)], ["url", "rank"])
    plan = _physical(frontier_priority(edges, ranks))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "partial" in plan.lower(), plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_frontier_schedule_window_group_limit(spark):
    # the per-host politeness cut must lower to WindowGroupLimit so each
    # host keeps <= per_host rows IN the shuffle (same shape as
    # search_diversified) — a global sort of the frontier would be a
    # scale-killer
    from pagerank_spark.operators.crawl import frontier_schedule

    edges = spark.createDataFrame(
        [("a.test/1", "b.test/%d" % i, 0.1) for i in range(10)],
        ["src", "dst", "weight"],
    )
    ranks = spark.createDataFrame([("a.test/1", 1.0)], ["url", "rank"])
    plan = _physical(frontier_schedule(edges, ranks, per_host=2))
    assert "WindowGroupLimit" in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_edge_diff_change_sized_anti_joins(spark):
    # both directions are LEFT ANTI hash joins — a full outer join (or a
    # nested loop) would materialize the retained bulk, which at 100 TB is
    # ~the whole snapshot
    from pagerank_spark.operators.graphdiff import edge_diff

    old = spark.createDataFrame([("a", "b"), ("b", "c")], ["src", "dst"])
    new = spark.createDataFrame([("a", "b"), ("c", "d")], ["src", "dst"])
    plan = _physical(edge_diff(old, new))
    assert plan.count("LeftAnti") == 2, plan
    assert "FullOuter" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_rank_delta_take_ordered_no_global_sort(spark):
    # the top-k mover cut must be TakeOrderedAndProject over the joined
    # vertex table — k-sized result, no rangepartitioning of the corpus
    from pagerank_spark.operators.graphdiff import rank_delta

    old = spark.createDataFrame([("a", 0.5), ("b", 0.3)], ["url", "rank"])
    new = spark.createDataFrame([("a", 0.1), ("b", 0.6)], ["url", "rank"])
    plan = _physical(rank_delta(old, new, top_k=5))
    assert "TakeOrderedAndProject" in plan, plan


def test_host_resemblance_equi_joins_partial_aggs(spark, docs_path):
    # candidate pairs come from the shingle-keyed hash self-join (never a
    # host cartesian), the pair count is partial-aggregated, and with the
    # host-df cap active the hot-shingle filter is itself an equi-join —
    # no Python crossing anywhere. (The public operator eagerly checkpoints
    # for cache hygiene, which hides the plan — audit the lazy builder.)
    from pagerank_spark.operators.mirrors import (
        _host_resemblance_plan,
        host_shingles,
    )

    docs = spark.read.parquet(docs_path).selectExpr(
        "doc_id", "text", "CAST(bucket_col AS STRING) AS source"
    )
    sh = host_shingles(docs, n=2)
    plan = _physical(_host_resemblance_plan(sh, 1, 2))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "partial_count" in plan or "partial" in plan.lower(), plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_cohort_retention_single_log_branch_bounded_exchanges(spark):
    # user-keyed distinct + min, one (cohort, offset) aggregate; the cohort
    # size comes from a cohort-partitioned window over the AGGREGATED matrix
    # — the raw log subtree must appear in the plan exactly twice (activity
    # + first-seen arms of the user join), never re-derived a third time
    # for sizes, and nothing is range-partitioned
    import datetime as dt

    from pagerank_spark.operators.sessions import cohort_retention

    ev = spark.createDataFrame(
        [(i, i % 3, dt.datetime(2024, 1, 1 + i % 5)) for i in range(20)],
        "event_id INT, user_id INT, ts TIMESTAMP",
    )
    plan = _physical(cohort_retention(ev, period_seconds=86400))
    assert plan.count("Exchange hashpartitioning") <= 5, plan
    assert plan.count("Scan ExistingRDD") <= 2, plan
    assert "rangepartitioning" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_term_pmi_no_cartesian_df_filter_before_self_join(spark, docs_path):
    # the self-join is doc_id-keyed (hash equi-join); the df-cap semi-join
    # prunes stopword-grade terms BEFORE pairs are emitted; the one-row
    # n_docs table rides a broadcast
    from pagerank_spark.operators.textsearch import term_cooccurrence_pmi

    docs = spark.read.parquet(docs_path)
    plan = _physical(term_cooccurrence_pmi(docs, min_term_df=2, max_term_df=40))
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "partial_count" in plan or "partial" in plan.lower(), plan


def test_tfidf_keywords_window_group_limit(spark, docs_path):
    # the per-group top-k lowers to WindowGroupLimit (map-side rank
    # truncation) — no global sort, no full materialized rank
    from pagerank_spark.operators.textsearch import tfidf_keywords

    docs = spark.read.parquet(docs_path).selectExpr(
        "doc_id", "text", "CAST(bucket_col AS STRING) AS source"
    )
    plan = _physical(tfidf_keywords(docs, group_col="source", k=3))
    assert "WindowGroupLimit" in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_link_locality_single_exchange_partial_agg(spark):
    # per-host locality is ONE host-keyed groupBy over a pure-Column host
    # extraction: exactly one hash exchange, map-side combine, no Python
    from pyspark.sql import functions as F

    from pagerank_spark.operators.hostgraph import link_locality

    e = spark.range(200).select(
        F.concat(F.lit("http://h"), (F.col("id") % 7).cast("string"), F.lit(".x/p")).alias("src"),
        F.concat(F.lit("http://h"), (F.col("id") % 3).cast("string"), F.lit(".x/q")).alias("dst"),
    )
    plan = _physical(link_locality(e))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "partial" in plan.lower(), plan
    assert "Python" not in plan and "Arrow" not in plan, plan


def test_community_conductance_hash_joins_only(spark):
    # the label joins and the size/volume join must all be hash equi-joins;
    # the only nested-loop allowed is the single-row volume-total broadcast
    from pyspark.sql import functions as F

    from pagerank_spark.operators.graphstats import community_conductance

    e = spark.range(500).select(
        F.concat(F.lit("v"), (F.col("id") % 97).cast("string")).alias("src"),
        F.concat(F.lit("v"), ((F.col("id") * 31 + 5) % 97).cast("string")).alias("dst"),
    )
    labels = spark.range(97).select(
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("url"),
        (F.col("id") % 5).cast("string").alias("label"),
    )
    plan = _physical(community_conductance(e, labels, materialize=False))
    assert "CartesianProduct" not in plan, plan
    # one single-row cross join (the vol_total broadcast) is the ceiling
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan
    assert "rangepartitioning" not in plan, plan


def test_readability_zero_exchange_pruned_scan(spark, docs_path):
    # the Flesch pass is one codegen'd scan: any Exchange or Python node is
    # a regression, and only (doc_id, text) may leave the parquet reader
    from pagerank_spark.operators.textops import readability

    q = readability(spark.read.parquet(docs_path))
    plan = _physical(q)
    assert "Exchange" not in plan, plan
    assert "Python" not in plan and "Arrow" not in plan, plan
    fmt = _formatted(q)
    scan = [l for l in fmt.splitlines() if "ReadSchema" in l]
    assert scan and "lang" not in scan[0] and "bucket_col" not in scan[0], fmt


def test_bigram_logloss_bounded_exchanges_partial_agg(spark, docs_path):
    # bigram pairs form INSIDE the token array (no posexplode self-join);
    # the shuffles are the bigram count, the context rollup, and the two
    # join co-partitionings — bounded, with map-side combine on the counts
    from pagerank_spark.operators.textops import bigram_logloss

    plan = _physical(bigram_logloss(spark.read.parquet(docs_path)))
    assert plan.count("Exchange hashpartitioning") <= 5, plan
    assert "partial" in plan.lower(), plan
    assert "CartesianProduct" not in plan, plan


def test_doc_novelty_bounded_exchanges_int64_keys(spark, docs_path):
    # novelty rides the int64 shingle keys: df count + join back + doc
    # rollup — bounded exchanges, map-side combine, no Python
    from pagerank_spark.operators.dedup import doc_novelty

    plan = _physical(doc_novelty(spark.read.parquet(docs_path)))
    assert plan.count("Exchange hashpartitioning") <= 4, plan
    assert "partial" in plan.lower(), plan
    assert "Python" not in plan and "Arrow" not in plan, plan


def test_tfidf_cosine_hash_joins_only_no_python(spark, docs_path):
    # the all-pairs cosine join must stay hash equi-joins end to end: no
    # cartesian/nested-loop anywhere (the broadcast N-docs scalar rides a
    # BroadcastExchange), no Python crossing, partial-agg sums
    from pagerank_spark.operators.textsearch import tfidf_cosine_pairs

    plan = _physical(
        tfidf_cosine_pairs(spark.read.parquet(docs_path), max_term_df=40)
    )
    assert "CartesianProduct" not in plan, plan
    assert "Python" not in plan and "ArrowEval" not in plan, plan
    assert "partial" in plan.lower(), plan


def test_rank_fusion_take_ordered_partial_agg(spark):
    # the fused top-k must be TakeOrderedAndProject (no global sort of the
    # union) and the per-doc sum a partial-aggregated hash exchange; the
    # per-list windows run over k-sized retriever outputs by contract
    from pyspark.sql import functions as F

    from pagerank_spark.operators.textsearch import reciprocal_rank_fusion

    l1 = spark.range(100).select(
        F.concat(F.lit("d"), F.col("id").cast("string")).alias("doc_id"),
        (F.col("id") % 37).cast("double").alias("s"),
    ).limit(25)
    l2 = spark.range(100).select(
        F.concat(F.lit("d"), (F.col("id") * 3 % 100).cast("string")).alias("doc_id"),
        (F.col("id") % 41).cast("double").alias("s"),
    ).limit(25)
    plan = _physical(reciprocal_rank_fusion([(l1, "s"), (l2, "s")], top_k=10))
    assert "TakeOrderedAndProject" in plan, plan
    assert "partial" in plan.lower(), plan
    assert "Python" not in plan and "CartesianProduct" not in plan, plan


def test_change_rate_single_exchange_shared_partitioning(spark):
    # the lag window and the per-page rollup must share ONE url-keyed
    # exchange (the sessionization contract); no Python, no range sort of
    # the observation log
    from pyspark.sql import functions as F

    from pagerank_spark.operators.crawl import change_rate

    obs = spark.range(1000).select(
        F.concat(F.lit("p"), (F.col("id") % 50).cast("string")).alias("url"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id") * 60).alias("ts"),
        (F.col("id") % 7).alias("fingerprint"),
    )
    plan = _physical(change_rate(obs))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Python" not in plan, plan
    # the window sort is within-partition; a global range exchange of the
    # observation log would be a regression
    assert "Exchange rangepartitioning" not in plan, plan


def test_html_tag_stats_single_arrow_crossing_pruned_scan(spark, tmp_path):
    # one ArrowEvalPython over (url, html) only — extra page columns must
    # be pruned out of the parquet scan
    from pyspark.sql import functions as F

    from pagerank_spark.functions.extract import html_tag_stats_df

    p = str(tmp_path / "pages.parquet")
    spark.range(20).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
        F.encode(F.lit("<p>x</p>"), "UTF-8").alias("html"),
        F.lit("fr").alias("lang"),
        F.current_timestamp().alias("warc_ts"),
    ).write.parquet(p)
    q = html_tag_stats_df(spark.read.parquet(p))
    assert _physical(q).count("ArrowEvalPython") == 1, _physical(q)
    plan = _formatted(q)
    scan = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan and "html" in scan[0] and "url" in scan[0], plan
    assert "lang" not in scan[0] and "warc_ts" not in scan[0], plan


def test_quantile_buckets_no_row_sized_global_sort(spark, docs_path):
    # the running-sum window runs over the distinct-value HISTOGRAM — the
    # row table itself must never be range-partitioned (that is ntile's
    # global sort, the thing this operator exists to avoid)
    from pyspark.sql import functions as F

    from pagerank_spark.operators.sampling import quantile_buckets

    v = spark.read.parquet(docs_path).select(
        "doc_id", F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens")
    )
    plan = _physical(quantile_buckets(v, "n_tokens", k=10))
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Python" not in plan, plan
    assert "partial" in plan.lower(), plan


def test_extract_canonicals_single_arrow_crossing_jvm_filter(spark):
    # one ArrowEvalPython carrying one nullable string per page; the
    # null/self filter runs JVM-side after the crossing
    from pagerank_spark.functions.extract import extract_canonicals_df

    pages = spark.createDataFrame(
        [("h.test/p", b'<link rel="canonical" href="http://h.test/c">')],
        ["url", "html"],
    )
    plan = _physical(extract_canonicals_df(pages))
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "BatchEvalPython" not in plan, plan
    assert "Filter" in plan, plan


def test_ql_query_side_broadcasts_corpus_never_moves(spark, docs_path):
    # same contract as the BM25 audit: broadcast query/cf/stats tables,
    # TakeOrderedAndProject top-k, no global sort, no Python crossing
    from pagerank_spark.operators.textsearch import ql_topk

    q = ql_topk(spark.read.parquet(docs_path), ["doc", "words"], k=5)
    plan = _physical(q)
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_node2vec_partial_aggregated_no_python(spark):
    # the per-step draw must partially aggregate (map-side min_by combine
    # — the O(#walks) shuffle claim) and stay JVM-side; joins are hash
    # equi-joins, never a cartesian classification of (prev, dst)
    from pagerank_spark.operators.walks import node2vec_walks

    e = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "a", 1.0), ("b", "c", 1.0)],
        ["src", "dst", "weight"],
    )
    plan = _physical(node2vec_walks(e, walk_length=2, p=4.0, q=0.25))
    assert "partial_min_by" in plan or "partial" in plan.lower(), plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_sitemap_entries_zero_python_zero_shuffle(spark):
    # pure Column regex parse: one scan per arm, JVM Generate explodes,
    # no Python crossing, no Exchange anywhere
    from pagerank_spark.operators.crawl import sitemap_entries

    df = spark.createDataFrame(
        [("s", "<urlset><url><loc>http://a.test/p</loc></url></urlset>")],
        ["sitemap_url", "body"],
    )
    plan = _physical(sitemap_entries(df))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "Exchange" not in plan, plan
    assert "Generate" in plan, plan


def test_phrase_topk_pushed_filters_no_global_sort(spark, docs_path):
    # each phrase term's equality filter must reach the scan side (only
    # matching postings shuffle), joins are hash equi-joins, the cut is
    # TakeOrderedAndProject, everything JVM-side
    from pagerank_spark.operators.textsearch import phrase_topk

    plan = _physical(phrase_topk(spark.read.parquet(docs_path), ["doc", "words"], k=5))
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_chunk_documents_zero_shuffle_single_generate(spark, docs_path):
    # chunking is embarrassingly parallel: one scan, one JVM posexplode,
    # no Exchange, no Python
    from pagerank_spark.operators.sampling import chunk_documents

    plan = _physical(chunk_documents(spark.read.parquet(docs_path), size=40, stride=30))
    assert "Exchange" not in plan, plan
    assert plan.count("Generate") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_wl_partial_aggregated_folds_no_python(spark):
    # the per-side multiset folds must map-side combine (hub fan-in
    # collapses before the wire) and stay JVM-side; no global sort
    from pagerank_spark.operators.wl import wl_refinement

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], ["src", "dst"]
    )
    plan = _physical(wl_refinement(e, rounds=1, materialize=False))
    assert "partial" in plan.lower(), plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_vocab_growth_partial_min_no_row_sized_window(spark, docs_path):
    # the only corpus-sized shuffle is the term-keyed partial MIN; the
    # running-sum window runs over the bucket histogram (no row-sized
    # rangepartitioning), everything JVM-side
    from pagerank_spark.operators.textsearch import vocab_growth

    plan = _physical(vocab_growth(spark.read.parquet(docs_path), bucket_size=50))
    assert "partial_min" in plan or "partial" in plan.lower(), plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_quantize_encode_pass_zero_join_zero_shuffle(spark):
    # after the tiny stats collect, the packed encode is ONE codegen'd
    # scan: literal stat arrays, no join, no Exchange, no Python
    from pagerank_spark.operators.similarity import quantize_embeddings

    embs = spark.createDataFrame(
        [(1, [0.0, 1.0]), (2, [2.0, 3.0])], ["vec_id", "embedding"]
    )
    plan = _physical(quantize_embeddings(embs))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_warc_parse_zero_python_zero_shuffle(spark):
    from pagerank_spark.functions.warc import parse_warc_records

    df = spark.createDataFrame(
        [("WARC/1.0\r\nWARC-Type: response\r\n\r\nHTTP/1.1 200\r\n\r\nx",)],
        ["record"],
    )
    plan = _physical(parse_warc_records(df))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "Exchange" not in plan, plan


def test_rmat_zero_shuffle_zero_python(spark):
    from pyspark.sql import functions as F

    from pagerank_spark.operators.gengraph import rmat_edges

    idx = spark.range(0, 10).select(F.col("id").alias("edge_id"))
    plan = _physical(rmat_edges(idx, scale=8))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_lexical_diversity_zero_shuffle(spark, docs_path):
    from pagerank_spark.operators.textops import lexical_diversity

    plan = _physical(lexical_diversity(spark.read.parquet(docs_path)))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_linear_classifier_broadcast_model_one_rollup_exchange(spark, docs_path):
    # the model must BROADCAST (never shuffle the token stream against it)
    # and the only exchanges allowed are the doc_id rollup + the final
    # left join back to the doc list — both partial-aggregated / hash joins
    from pyspark.sql import functions as F

    from pagerank_spark.operators.classify import linear_text_classifier
    from pagerank_spark.operators.sampling import uniform01

    w = spark.range(64).select(
        F.col("id").alias("bucket"),
        (F.lit(2.0) * uniform01(F.col("id"), "qw") - F.lit(1.0)).alias("weight"),
    )
    out = linear_text_classifier(spark.read.parquet(docs_path), w, 64)
    plan = _physical(out)
    assert "BroadcastHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    n_exchange = sum(
        1 for l in plan.splitlines() if "Exchange" in l and "Broadcast" not in l
    )
    assert n_exchange <= 3, plan
    assert "partial_count" in plan or "partial" in plan.lower(), plan


def test_core_numbers_histogram_window_is_vertex_partitioned(spark):
    # the h-index window must partition by vertex (tiny per-vertex
    # histogram groups), never a global single-partition sort
    from pagerank_spark.operators.kcore import core_numbers

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")], ["src", "dst"]
    )
    out = core_numbers(edges)
    plan = _physical(out)
    assert "SinglePartition" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_script_profile_zero_shuffle_zero_python(spark, docs_path):
    from pagerank_spark.operators.textops import script_profile

    plan = _physical(script_profile(spark.read.parquet(docs_path)))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_bloom_probe_broadcasts_bits_no_python(spark, docs_path):
    from pyspark.sql import functions as F

    from pagerank_spark.operators.bloom import bloom_might_contain, build_bloom

    keys = spark.read.parquet(docs_path).select(
        F.concat(F.lit("u"), F.col("doc_id")).alias("url")
    )
    bits = build_bloom(keys, m_bits=4096)
    plan = _physical(bloom_might_contain(bits, keys, m_bits=4096))
    assert "BroadcastHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_hll_registers_partial_aggregated(spark, docs_path):
    from pyspark.sql import functions as F

    from pagerank_spark.operators.sketches import hll_registers

    df = spark.read.parquet(docs_path).select(
        F.concat(F.lit("u"), F.col("doc_id")).alias("url")
    )
    plan = _physical(hll_registers(df, "url"))
    # the register max must combine map-side: partial then final aggregate
    assert "partial_max" in plan or "partial" in plan.lower(), plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_vocab_coverage_no_vocabulary_sort(spark, docs_path):
    from pagerank_spark.operators.textsearch import vocab_coverage

    plan = _physical(vocab_coverage(spark.read.parquet(docs_path)))
    assert "rangepartitioning" not in plan.lower(), plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_crawl_trend_window_after_daily_collapse(spark):
    import datetime

    from pagerank_spark.operators.sessions import crawl_volume_trend

    df = spark.createDataFrame(
        [(datetime.datetime(2024, 1, 1 + i % 5, 8, 0, 0),) for i in range(50)],
        ["ts"],
    )
    plan = _physical(crawl_volume_trend(df))
    # the single-partition window is fine ONLY because it runs on the
    # day-collapsed aggregate: the partial agg must appear BELOW the window
    w = plan.lower().find("window")
    agg = plan.lower().find("partial_count")
    assert w != -1 and agg != -1 and agg > w, plan


def test_bitext_join_is_hash_equi_no_cartesian(spark, docs_path):
    from pyspark.sql import functions as F

    from pagerank_spark.operators.bitext import bitext_candidates

    df = spark.read.parquet(docs_path).select(
        "doc_id", "text", F.col("lang")
    )
    plan = _physical(bitext_candidates(df))
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_align_spans_windows_are_pair_partitioned(spark, docs_path):
    from pyspark.sql import functions as F

    from pagerank_spark.operators.dedup import align_spans

    docs = spark.read.parquet(docs_path).select("doc_id", "text")
    pairs = spark.createDataFrame([(1, 2), (3, 4)], ["doc_a", "doc_b"])
    plan = _physical(align_spans(docs, pairs))
    assert "SinglePartition" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_tokenizer_fertility_one_rollup_no_python(spark, docs_path):
    from pagerank_spark.operators.textops import tokenizer_fertility

    plan = _physical(tokenizer_fertility(spark.read.parquet(docs_path)))
    n_exchange = sum(
        1 for l in plan.splitlines() if "Exchange" in l and "Broadcast" not in l
    )
    assert n_exchange <= 2, plan  # lang rollup (+ AQE final) only
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_host_churn_no_full_outer_on_edges(spark):
    from pagerank_spark.operators.graphdiff import host_churn

    old = spark.createDataFrame(
        [("http://a.test/1", "http://x.test/1")], ["src", "dst"]
    )
    new = spark.createDataFrame(
        [("http://a.test/2", "http://x.test/2")], ["src", "dst"]
    )
    plan = _physical(host_churn(old, new))
    # the one FullOuter allowed is the HOST-sized merge; the edge-sized
    # diffs must stay anti joins
    n_full = plan.count("FullOuter")
    assert n_full <= 1, plan
    assert "LeftAnti" in plan, plan


def test_table_profile_single_pass(spark, docs_path):
    from pagerank_spark.operators.profile import table_profile

    plan = _physical(table_profile(spark.read.parquet(docs_path)))
    # one aggregate over one scan — profiling k columns must not scan k times
    n_scans = plan.count("Scan parquet")
    assert n_scans == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_validate_expectations_single_pass(spark, docs_path):
    from pyspark.sql import functions as F

    from pagerank_spark.operators.profile import validate_expectations

    df = spark.read.parquet(docs_path)
    rules = [(f"r{i}", F.col("doc_id") > i) for i in range(6)]
    plan = _physical(validate_expectations(df, rules))
    assert plan.count("Scan parquet") == 1, plan


def test_skew_report_histogram_partial_aggregated(spark, docs_path):
    from pagerank_spark.operators.skew import skew_report

    plan = _physical(skew_report(spark.read.parquet(docs_path), "lang"))
    assert "partial_count" in plan or "partial" in plan.lower(), plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
