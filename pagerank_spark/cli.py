"""spark-submit CLI mirroring the reference's argument surface.

Reference: pagerank.py:245-267 (argparse flags --data
--personalization_vector_query --search_query --filter_ratio --alpha
--max_iterations --epsilon --max_results --verbose) plus pagerank2.py:301-302
(--power --s_weight for the embedding-boosted re-scoring).

Run (spark-submit takes a script file, not -m; the launcher just calls
``main()`` — build the zip with ``python tools/make_pyfiles_zip.py``):

    spark-submit --py-files pagerank_spark.zip spark_submit_launcher.py \\
        --data pages.parquet --search_query corona

or locally: python -m pagerank_spark.cli --data small.csv.gz

``--data`` accepts a gzipped edge CSV (header source,target — the reference's
format), a parquet edge table (src,dst), or a parquet pages table
(url,warc_ts,html,...) which is routed through the Arrow link extractor.
Output format matches the reference's log lines: ``rank=K pagerank=X url=U``
(pagerank.py:192, {pagerank:0.4e}).
"""

from __future__ import annotations

import argparse
import logging
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="pagerank_spark")
    p.add_argument("--data", required=True, help="edge csv(.gz), edge parquet, or pages parquet")
    p.add_argument("--personalization_vector_query", default=None)
    p.add_argument("--search_query", default="")
    p.add_argument("--filter_ratio", type=float, default=None)
    p.add_argument("--alpha", type=float, default=0.85)
    p.add_argument("--max_iterations", type=int, default=1000)
    p.add_argument("--epsilon", type=float, default=1e-6)
    p.add_argument("--max_results", type=int, default=10)
    p.add_argument("--max_nnz", type=int, default=None)
    p.add_argument("--no_regex_filter", action="store_true",
                   help="skip the reference's multi-segment/trailing-slash url filter")
    p.add_argument("--checkpoint_dir", default=None,
                   help="durable per-iteration checkpoints; resumes if present")
    p.add_argument("--csr", action="store_true", help="use the CSR-blocked Arrow SpMV path")
    p.add_argument("--s_weight", type=float, default=None,
                   help="embedding-boost weight (reference pagerank2.py)")
    p.add_argument("--power", type=float, default=30.0)
    p.add_argument("--embeddings", default=None,
                   help="parquet word-vector table (word, embedding); enables "
                        "the reference's query expansion: every positive "
                        "search term is expanded with its top-5 most-similar "
                        "words (pagerank.py:224-227) and --s_weight boosts by "
                        "the top-10 neighbors of the query (pagerank2.py:267)")
    p.add_argument("--verbose", action="store_true")
    return p


def load_graph(spark, args):
    from pagerank_spark.operators.graph_build import LinkGraph

    kwargs = dict(
        max_nnz=args.max_nnz,
        filter_ratio=args.filter_ratio,
        apply_regex_filter=not args.no_regex_filter,
    )
    if args.data.endswith((".csv", ".csv.gz")):
        return LinkGraph.from_csv(spark, args.data, **kwargs)
    df = spark.read.parquet(args.data)
    if "html" in df.columns:
        return LinkGraph.from_pages(df, **kwargs)
    return LinkGraph.from_edges(df, **kwargs)


def main(argv=None, spark=None) -> int:
    args = build_parser().parse_args(argv)
    logging.basicConfig(
        level=logging.DEBUG if args.verbose else logging.INFO,
        format="%(levelname)s:%(name)s:%(message)s",
    )
    log = logging.getLogger("pagerank_spark")

    owns_session = spark is None
    if owns_session:
        from pagerank_spark.session import get_spark

        spark = get_spark("pagerank_spark-cli")
    graph = load_graph(spark, args)

    v_df = None
    if args.personalization_vector_query is not None:
        v_df = graph.make_personalization_vector(args.personalization_vector_query)

    checkpointer = None
    if args.checkpoint_dir:
        from pagerank_spark.plans.checkpoint import IterationCheckpointer

        checkpointer = IterationCheckpointer(
            spark, args.checkpoint_dir, graph.num_partitions, n_edges=graph.num_edges()
        )

    metrics: list = []
    pr = graph.pagerank_csr if args.csr else graph.pagerank
    ranks = pr(
        alpha=args.alpha,
        v_df=v_df,
        max_iterations=args.max_iterations,
        epsilon=args.epsilon,
        metrics=metrics,
        checkpointer=checkpointer,
    )

    for m in metrics:
        log.debug("i=%d residual=%.4e", m["iteration"], m["residual"])

    emb_df = None
    if args.embeddings:
        emb_df = spark.read.parquet(args.embeddings)

    if args.s_weight is not None:
        from pagerank_spark.functions.url_query import most_similar
        from pagerank_spark.operators.search import rescore_with_boost

        # reference pagerank2.py:267: S = vectors.most_similar(search_query)
        # (the raw query string as one token), top-10 by default
        expansion = (
            most_similar(emb_df, args.search_query, topn=10)
            if emb_df is not None
            else []
        )
        ranks = rescore_with_boost(
            ranks, args.search_query, expansion=expansion,
            s_weight=args.s_weight, power=args.power,
        )

    search_query = args.search_query
    if emb_df is not None:
        from pagerank_spark.functions.url_query import expand_terms

        # reference pagerank.py:224-227 expands every positive term inside
        # url_satisfies_query itself, so the search predicate matches the
        # expansion words too
        search_query = expand_terms(args.search_query, emb_df)

    for r in graph.search(ranks, search_query, args.max_results).collect():
        log.info("rank=%d pagerank=%0.4e url=%s", r["result_rank"], r["pagerank"], r["url"])
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
