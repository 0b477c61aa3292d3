"""Edge-table construction with the reference's exact ingest semantics.

Pipeline (reference WebGraph.__init__, pagerank.py:22-78), re-expressed as one
lazy DataFrame chain so Catalyst pushes filters into the scan:

  raw edges (src,dst strings)
    -> limit(max_nnz+1)                  (pagerank.py:40-41, off-by-one kept)
    -> regex filter on src OR dst        (pagerank.py:42-45)
    -> [in-link-ratio filter]            (pagerank.py:51-57; in-degrees counted
                                          pre-filter and including duplicates;
                                          the vertex set is NOT shrunk)
    -> 1/outdeg weights                  (pagerank.py:60-71; groupBy('src')
                                          semantics == run-length under the
                                          sorted-by-source precondition)
    -> duplicate-edge SUM                (pagerank.py:74-77: sparse COO sums)
    -> repartition(P, 'src') + persist   (scale: co-partition with ranks so the
                                          per-iteration join is shuffle-free)

The regex filter is the reference's ``.*((/$)|(/.*/)).*`` with its ``.*``
affixes dropped: ``rlike`` is Java ``Matcher.find``, which may start and end a
match anywhere, and ``.*`` can match the empty string, so
``find(".*X.*") == find("X")`` on every string. ``$`` and ``.`` still see line
terminators exactly as before (tests/test_properties.py checks both spellings
row for row over every Java line terminator). The affixes only made the
matcher backtrack: filtering 43.6k crawl-shaped raw edges at local[4] on a
4-core box takes ~0.2 s without them and 0.5-0.7 s with them (warm, counted
alone). The NumPy oracle and the DuckDB twin keep the reference spelling,
so they stay independent witnesses.

Vertices are keyed by url string throughout — the reference's dense-int
dictionary (pagerank.py:81-94) exists only because torch needs integer
indices; Spark joins on strings directly. Dense ids are materialized lazily
only for the CSR/Arrow SpMV path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# reference pagerank.py:42-45 spells it ".*((/$)|(/.*/)).*" (module docstring)
EDGE_FILTER_REGEX = r"/$|/.*/"


class LinkGraph:
    """Distributed link graph: edges (src, dst, weight) + vertices (url).

    Mirrors the reference's programmatic surface (WebGraph, pagerank.py:22):
    ``from_edges`` / ``from_pages`` / ``from_csv`` constructors,
    ``pagerank()``, ``make_personalization_vector()``, ``search()``.
    """

    def __init__(self, edges: DataFrame, vertices: DataFrame, num_partitions: int | None = None,
                 aux_caches: list | None = None):
        spark = edges.sparkSession
        self.num_partitions = num_partitions or int(
            spark.conf.get("spark.sql.shuffle.partitions", "32")
        )
        # co-partition edges on src AND pre-sort within partitions: the cached
        # relation then reports ordering(src), so the per-iteration
        # sort-merge join in pagerank's co-partitioned shuffle mode skips
        # both the exchange and the big-side sort (one-time cost here,
        # measured ~10% per-iteration win at 16M edges)
        self.edges = (
            edges.repartition(self.num_partitions, "src")
            .sortWithinPartitions("src")
            .persist()
        )
        self.vertices = vertices.repartition(self.num_partitions, "url").persist()
        # upstream persisted intermediates (e.g. the ratio filter's pre-filter
        # edge cache) released together with the graph in unpersist()
        self._aux_caches = list(aux_caches or [])
        # per-graph CSR spill state (operators/pagerank_csr.py) + cleanup
        # hooks run at unpersist (scratch dirs, etc.)
        self._csr_state = None
        self._cleanups: list = []

    def _register_cleanup(self, fn) -> None:
        self._cleanups.append(fn)

    # -- constructors --------------------------------------------------------

    @classmethod
    def from_edges(
        cls,
        raw: DataFrame,
        max_nnz: int | None = None,
        filter_ratio: float | None = None,
        apply_regex_filter: bool = True,
        num_partitions: int | None = None,
    ) -> "LinkGraph":
        """``raw``: DataFrame (src string, dst string), one row per link."""
        df = raw.select(
            F.col("src").cast("string").alias("src"),
            F.col("dst").cast("string").alias("dst"),
        )
        if max_nnz is not None:
            # reference keeps max_nnz+1 rows (pagerank.py:40-41 breaks at i>max_nnz)
            df = df.limit(max_nnz + 1)
        if apply_regex_filter:
            df = df.filter(
                ~(F.col("src").rlike(EDGE_FILTER_REGEX) | F.col("dst").rlike(EDGE_FILTER_REGEX))
            )
        # vertices are interned BEFORE the ratio filter (pagerank.py:46-47):
        # a fully-filtered target stays in P's dimension (typically dangling)
        vertices = (
            df.select(F.col("src").alias("url"))
            .union(df.select(F.col("dst").alias("url")))
            .distinct()
        )
        aux_caches = []
        if filter_ratio is not None:
            df, cached = cls._apply_ratio_filter(df, filter_ratio)
            aux_caches.append(cached)
        edges = cls._weight_and_dedup(df)
        return cls(edges, vertices, num_partitions, aux_caches=aux_caches)

    @classmethod
    def from_csv(cls, spark: SparkSession, path: str, **kwargs) -> "LinkGraph":
        """Gzipped CSV with header source,target (reference pagerank.py:38-39)."""
        raw = (
            spark.read.option("header", True)
            .csv(path)
            .select(F.col("source").alias("src"), F.col("target").alias("dst"))
        )
        return cls.from_edges(raw, **kwargs)

    @classmethod
    def from_pages(cls, pages: DataFrame, **kwargs) -> "LinkGraph":
        """Build from a Common-Crawl-style pages table (url, warc_ts, html, ...).

        Extracts one edge per <a href> via the Arrow-vectorized extractor.
        Extraction order is not a total order (the extractor rebalances
        pages across tasks): with ``max_nnz=K`` the K+1 edges kept are any
        K+1 of them. For a deterministic cut, order the extracted edges
        totally and pass them to ``from_edges``.
        """
        from pagerank_spark.functions.extract import extract_edges_df

        return cls.from_edges(extract_edges_df(pages), **kwargs)

    # -- ingest stages -------------------------------------------------------

    @staticmethod
    def _apply_ratio_filter(df: DataFrame, filter_ratio: float):
        """Drop edges whose target's in-degree >= ratio * n (pagerank.py:51-57).

        n = vertex count after the regex filter; in-degrees counted before this
        filter and including duplicate edges. The in-degree side is a per-vertex
        aggregate — orders of magnitude smaller than the edge table — so it is
        broadcast when it fits; AQE handles it otherwise.

        Returns (kept_edges, cached_df); the caller owns unpersisting the
        cache (it backs both the in-degree aggregate and the filter side
        until the graph's own edge cache materializes).
        """
        df = df.persist()
        n = (
            df.select(F.col("src").alias("url"))
            .union(df.select(F.col("dst").alias("url")))
            .distinct()
            .count()
        )
        # per-vertex aggregate: broadcast-able at test scale, AQE decides at 100 TB
        in_deg = df.groupBy("dst").agg(F.count(F.lit(1)).alias("_indeg"))
        kept = (
            df.join(in_deg, "dst")
            .filter(F.col("_indeg") < F.lit(float(filter_ratio)) * F.lit(float(n)))
            .drop("_indeg")
        )
        return kept, df

    @staticmethod
    def _weight_and_dedup(df: DataFrame) -> DataFrame:
        """1/outdeg weights then duplicate-edge sum (pagerank.py:60-77).

        outdeg counts edge ROWS (duplicates included), matching the reference's
        run-length pass over sorted input; a duplicated edge then sums to
        k/outdeg exactly like torch COO construction. Expressed as a single
        groupBy(src,dst).count + a per-src window-free join so there is exactly
        one wide shuffle on (src,dst) and one on src.
        """
        pair_counts = df.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("_k"))
        out_deg = pair_counts.groupBy("src").agg(F.sum("_k").alias("_outdeg"))
        edges = (
            pair_counts.join(out_deg, "src")
            .withColumn("weight", F.col("_k").cast("double") / F.col("_outdeg").cast("double"))
            .drop("_k", "_outdeg")
        )
        return edges

    # -- stats ---------------------------------------------------------------

    def degrees(self) -> DataFrame:
        """(url, out_degree, in_degree) over the deduplicated edge table."""
        out_d = self.edges.groupBy(F.col("src").alias("url")).agg(
            F.count(F.lit(1)).alias("out_degree")
        )
        in_d = self.edges.groupBy(F.col("dst").alias("url")).agg(
            F.count(F.lit(1)).alias("in_degree")
        )
        return (
            self.vertices.join(out_d, "url", "left")
            .join(in_d, "url", "left")
            .fillna(0, ["out_degree", "in_degree"])
        )

    def num_vertices(self) -> int:
        return self.vertices.count()

    def num_edges(self) -> int:
        return self.edges.count()

    # -- algorithms (delegate to operator modules) ---------------------------

    def pagerank(self, **kwargs):
        from pagerank_spark.operators.pagerank import pagerank

        return pagerank(self, **kwargs)

    def pagerank_csr(self, **kwargs):
        from pagerank_spark.operators.pagerank_csr import pagerank_csr

        return pagerank_csr(self, **kwargs)

    def make_personalization_vector(self, query: str | None = None) -> DataFrame:
        """(url, v) — indicator over query matches, L1-normalized
        (reference pagerank.py:97-119; the power method re-normalizes to L2)."""
        from pagerank_spark.functions.url_query import url_satisfies_query_col

        if query is None:
            v = self.vertices.withColumn("v", F.lit(1.0))
        else:
            v = self.vertices.withColumn(
                "v",
                F.when(url_satisfies_query_col(F.col("url"), query), 1.0).otherwise(0.0),
            )
        total = v.agg(F.sum("v")).first()[0]
        assert total and total > 0, "personalization query matches no urls"
        return v.withColumn("v", F.col("v") / F.lit(float(total)))

    def search(self, ranks: DataFrame, query: str = "", max_results: int = 10) -> DataFrame:
        from pagerank_spark.operators.search import search

        return search(ranks, query=query, max_results=max_results)

    def connected_components(self, **kwargs) -> DataFrame:
        from pagerank_spark.operators.components import connected_components

        return connected_components(self.edges, **kwargs)

    def label_propagation(self, **kwargs) -> DataFrame:
        from pagerank_spark.operators.labelprop import label_propagation

        return label_propagation(self.edges, **kwargs)

    def triangle_count(self, **kwargs) -> DataFrame:
        from pagerank_spark.operators.triangles import triangle_count

        return triangle_count(self.edges, **kwargs)

    def unpersist(self):
        self.edges.unpersist()
        self.vertices.unpersist()
        for c in self._aux_caches:
            try:
                c.unpersist()
            except Exception:
                pass
        self._aux_caches = []
        for fn in self._cleanups:
            try:
                fn()
            except Exception:
                pass
        self._cleanups = []
