"""Whole-graph structural statistics: local clustering coefficients,
a one-row graph summary (reciprocity, self-loops, degree maxima), and a
log2-bucketed degree distribution.

These are the standard first-look reports over a crawled link graph
(reference scope: the LinkGraph the reference builds in pagerank.py:60-108
feeds exactly these kinds of sanity reports before ranking). All three are
pure DataFrame compositions:

- ``clustering_coefficients`` is one per-vertex run of the degree-ordered
  triangle counter (triangles.py) — the wedge explosion on power-law
  graphs is already tamed there by low-(degree,id) orientation — plus a
  projection: it runs exactly that count's Spark jobs (pinned in
  tests/test_plan_audits.py), so its scale ceiling is the triangle count
  itself.
- ``graph_summary`` is a handful of map-side-combined aggregates plus one
  int-keyed LEFT SEMI self-join for reciprocity; every intermediate is
  either edge-shaped (one pass) or a single row.
- ``degree_distribution`` buckets by the BINARY LENGTH of the degree
  (``conv(d, 10, 2)``), not ``floor(log2(d))`` — exact integer math that
  DuckDB's ``bin()`` reproduces bit-for-bit, immune to the
  ln(8)/ln(2) = 2.999… float trap. Output is O(log max-degree) rows.

``rich_club`` reads the simple undirected graph of ``kcore._undirect``
and its degree table (``kcore._degree``), like the triangle counter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pagerank_spark.operators.kcore import _degree, _undirect
from pagerank_spark.operators.triangles import triangle_count
from pagerank_spark.plans.caching import checkpoint_release, collect_release


def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """Per-vertex local clustering coefficient over the undirected simple
    graph: (url, degree, triangles, lcc) with lcc = 2T / (d(d-1)), 0.0 for
    degree < 2, rounded to 6 dp (cross-engine float hygiene).

    Cost = exactly one triangle count (degree-ordered, see triangles.py):
    the undirected dedup and the degree aggregate ride along inside it
    (``with_degree=True``), so nothing is scanned or deduplicated twice; the
    lcc is a pure projection on top. At web scale the triangle phase
    dominates and its skew story carries over unchanged.
    """
    tri = triangle_count(edges, per_vertex=True, with_degree=True)
    lcc = F.when(
        F.col("degree") >= 2,
        F.round(
            2.0 * F.col("triangles") / (F.col("degree") * (F.col("degree") - 1)), 6
        ),
    ).otherwise(F.lit(0.0))
    return tri.select(
        "url",
        F.col("degree").cast("long").alias("degree"),
        F.col("triangles").cast("long").alias("triangles"),
        lcc.alias("lcc"),
    )


def graph_summary(edges: DataFrame) -> DataFrame:
    """One-row structural profile of a directed graph:
    (n_vertices, n_edges, n_self_loops, n_reciprocal, reciprocity,
    max_out_degree, max_in_degree).

    ``n_edges`` counts DISTINCT directed edges excluding self-loops;
    ``n_reciprocal`` counts those whose reverse edge also exists, so
    ``reciprocity = n_reciprocal / n_edges`` is the classic Newman
    definition. Everything is one distinct pass over the edge table, two
    map-side-combined degree aggregates, and an int-keyed LEFT SEMI
    self-join — no vertex-quadratic anything, no collect.
    """
    de = edges.select("src", "dst").distinct().persist()
    loops = de.where(F.col("src") == F.col("dst"))
    e = de.where(F.col("src") != F.col("dst"))

    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = e.join(rev, ["src", "dst"], "left_semi")

    verts = (
        de.select(F.col("src").alias("url"))
        .union(de.select(F.col("dst").alias("url")))
        .distinct()
    )
    outd = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    ind = e.groupBy("dst").agg(F.count(F.lit(1)).alias("d"))

    row = (
        verts.agg(F.count(F.lit(1)).alias("n_vertices"))
        .crossJoin(e.agg(F.count(F.lit(1)).alias("n_edges")))
        .crossJoin(loops.agg(F.count(F.lit(1)).alias("n_self_loops")))
        .crossJoin(recip.agg(F.count(F.lit(1)).alias("n_reciprocal")))
        .crossJoin(outd.agg(F.max("d").alias("max_out_degree")))
        .crossJoin(ind.agg(F.max("d").alias("max_in_degree")))
    )
    out = row.select(
        F.col("n_vertices").cast("long").alias("n_vertices"),
        F.col("n_edges").cast("long").alias("n_edges"),
        F.col("n_self_loops").cast("long").alias("n_self_loops"),
        F.col("n_reciprocal").cast("long").alias("n_reciprocal"),
        F.round(F.col("n_reciprocal") / F.col("n_edges"), 6).alias("reciprocity"),
        F.col("max_out_degree").cast("long").alias("max_out_degree"),
        F.col("max_in_degree").cast("long").alias("max_in_degree"),
    )
    # one-row result: materialize it, release the shared distinct-edge cache
    return collect_release(out, (de,))


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    vertex_col: str = "url",
    label_col: str = "label",
) -> DataFrame:
    """Directed Newman modularity of a community assignment, one row:
    (m, within_edges, degree_product_sum, modularity) with

        Q = within/m - Σ_c (outdeg_c * indeg_c) / m²

    — the standard quality score for label-propagation / component output
    (Leicht & Newman 2008, directed form). ``edges`` is the directed edge
    multiset (duplicates count, matching the engine's duplicate-edge-sum
    ingest); ``labels`` maps every vertex to a community.

    Plan shape: two vertex-keyed label joins onto the edge table (labels are
    vertex-sized — broadcast-able at any realistic community count), one
    map-side-combined groupBy per degree side on the COMMUNITY key (output
    is community-sized, tiny), one community-keyed join of the two, and
    single-row aggregates. No vertex-quadratic term anywhere.

    Cross-engine float hygiene: m, within and Σ(outdeg_c·indeg_c) are exact
    integers (the product sum in DECIMAL(38,0) — outdeg_c·indeg_c can pass
    2^63 on a 10^12-edge graph); Q is the fixed expression tree
    ``within/m - (sumprod/m)/m`` over those integers — two IEEE divisions
    and one subtraction, no data-dependent summation order — rounded 9 dp.
    """
    el = (
        edges.select("src", "dst")
        .join(
            labels.select(
                F.col(vertex_col).alias("src"), F.col(label_col).alias("c_src")
            ),
            "src",
        )
        .join(
            labels.select(
                F.col(vertex_col).alias("dst"), F.col(label_col).alias("c_dst")
            ),
            "dst",
        )
        .persist()
    )
    totals = el.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum(F.when(F.col("c_src") == F.col("c_dst"), 1).otherwise(0))
        .cast("long")
        .alias("within_edges"),
    )
    outd = el.groupBy(F.col("c_src").alias("c")).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("od")
    )
    ind = el.groupBy(F.col("c_dst").alias("c")).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("idg")
    )
    prod = outd.join(ind, "c").agg(
        F.sum(F.col("od") * F.col("idg")).cast("decimal(38,0)").alias("degree_product_sum")
    )
    row = totals.crossJoin(prod)
    out = row.select(
        "m",
        "within_edges",
        # report column as double (exact decimal → one deterministic cast;
        # pandas/DuckDB render DECIMAL(38,0) inconsistently)
        F.col("degree_product_sum").cast("double").alias("degree_product_sum"),
        F.round(
            F.col("within_edges").cast("double") / F.col("m")
            - F.col("degree_product_sum").cast("double") / F.col("m") / F.col("m"),
            9,
        ).alias("modularity"),
    )
    # one-row result: materialize, release the labeled-edge cache
    return collect_release(out, (el,))


def community_conductance(
    edges: DataFrame,
    labels: DataFrame,
    vertex_col: str = "url",
    label_col: str = "label",
    materialize: bool = True,
) -> DataFrame:
    """Per-community conductance of a community assignment — the standard
    cut-quality complement to :func:`modularity` (Kannan/Vempala/Vetta 2004;
    the score community-detection surveys report per cluster):

        phi(C) = cut(C) / min(vol(C), vol_total - vol(C))

    over the directed edge multiset viewed as an undirected multigraph:
    each edge adds one endpoint to its src's and one to its dst's community
    volume; ``cut(C)`` counts edges with exactly one endpoint in C (each
    crossing edge contributes to BOTH touched communities' cuts).

    Output: (label, n_vertices, volume, cut_edges, conductance) —
    community-sized. ``conductance`` is NULL when the min-side volume is 0
    (an edgeless community, or a single community holding every endpoint).

    Plan shape: two vertex-sized label joins onto the edge table (same
    shape as modularity — broadcast-able at any realistic community count),
    ONE endpoint explosion (2 rows/edge, map-side combined immediately), a
    community-keyed groupBy, and a vertex-sized groupBy for sizes. The
    volume total rides a single-row aggregate over the community-sized
    volume table — no second edge pass.

    Cross-engine float hygiene: cut, volumes and the min-side are exact
    BIGINTs; conductance is one IEEE division of two exact integers,
    rounded 9 dp.
    """
    el = (
        edges.select("src", "dst")
        .join(
            labels.select(
                F.col(vertex_col).alias("src"), F.col(label_col).alias("c_src")
            ),
            "src",
        )
        .join(
            labels.select(
                F.col(vertex_col).alias("dst"), F.col(label_col).alias("c_dst")
            ),
            "dst",
        )
        .persist()
    )
    ends = el.select(
        F.explode(F.array("c_src", "c_dst")).alias("c"),
        (F.col("c_src") != F.col("c_dst")).cast("long").alias("crossing"),
    )
    per_c = ends.groupBy("c").agg(
        F.count(F.lit(1)).cast("long").alias("volume"),
        F.sum("crossing").cast("long").alias("cut_edges"),
    )
    sizes = labels.groupBy(F.col(label_col).alias("c")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vertices")
    )
    total = per_c.agg(F.sum("volume").cast("long").alias("vol_total"))
    joined = (
        sizes.join(per_c, "c", "left")
        .crossJoin(F.broadcast(total))
        .select(
            F.col("c").alias("label"),
            "n_vertices",
            F.coalesce(F.col("volume"), F.lit(0)).cast("long").alias("volume"),
            F.coalesce(F.col("cut_edges"), F.lit(0)).cast("long").alias("cut_edges"),
            "vol_total",
        )
    )
    min_side = F.least(F.col("volume"), F.col("vol_total") - F.col("volume"))
    out = joined.select(
        "label",
        "n_vertices",
        "volume",
        "cut_edges",
        F.when(
            min_side > 0,
            F.round(F.col("cut_edges").cast("double") / min_side.cast("double"), 9),
        ).alias("conductance"),
    )
    # community-sized result: flatten lineage, release the labeled-edge cache
    # (materialize=False returns the raw lazy plan — plan audits; the
    # labeled-edge cache is released immediately, so branches recompute)
    if not materialize:
        el.unpersist()
        return out
    return checkpoint_release(out, (el,))


def spearman_correlation(
    df: DataFrame, x_col: str, y_col: str
) -> DataFrame:
    """One-row Spearman rank correlation between two per-row metrics with
    STANDARD average-rank tie handling: (n, spearman_rho).

    The classic use is scoring how well a cheap signal proxies an expensive
    one (in-degree vs converged PageRank — the question web-IR settled with
    rho ≈ 0.7-0.9; Fogaras & Rácz 2005).

    Scale design — no per-row global ordering anywhere: average ranks
    depend only on each metric's VALUE HISTOGRAM (avg rank of value v =
    C(v) + (c(v)+1)/2 with C = count below), so ranks are computed with one
    groupBy per metric plus a cumulative window over the DISTINCT VALUES
    (degree histograms and 6dp-rounded scores collapse to a tiny table —
    that window is value-histogram-sized, never row-sized), then joined
    back on the value key. Doubling the rank (2C + c + 1) keeps it an exact
    INTEGER; Pearson over the doubled ranks equals Pearson over the ranks
    (affine invariance), and its five sufficient sums accumulate in
    DECIMAL(38,0) — exact and order-independent, so both engines hash-agree
    bit-for-bit. rho is one fixed double tree over the exact sums, rounded
    6 dp. DECIMAL(38,0) bounds the exact path at ~10^12 rows (n·Σxy ≤
    ~10^38) — the contract scale and any realistic vertex count.
    """
    w = Window.orderBy("v")

    def rank2(col: str, name: str):
        hist = df.groupBy(F.col(col).alias("v")).agg(
            F.count(F.lit(1)).alias("c")
        )
        # 2*C(v) + c(v) + 1 == twice the average rank of value v
        r2 = (
            2 * (F.sum("c").over(w) - F.col("c")) + F.col("c") + 1
        ).cast("decimal(38,0)")
        return hist.select(F.col("v").alias(col), r2.alias(name))

    joined = (
        df.select(x_col, y_col)
        .join(rank2(x_col, "rx"), x_col)
        .join(rank2(y_col, "ry"), y_col)
    )
    sums = joined.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("rx").cast("decimal(38,0)").alias("sx"),
        F.sum("ry").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("rx") * F.col("rx")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).cast("decimal(38,0)").alias("syy"),
        F.sum(F.col("rx") * F.col("ry")).cast("decimal(38,0)").alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    out = sums.select(
        F.col("n").cast("long").alias("n"),
        F.round(num / (F.sqrt(vx) * F.sqrt(vy)), 6).alias("spearman_rho"),
    )
    return collect_release(out, ())


def degree_distribution(edges: DataFrame) -> DataFrame:
    """Log2-bucketed degree histogram: (direction, bucket, n_vertices) for
    direction in {'out','in'}, bucket = floor(log2(degree)) computed EXACTLY
    as ``length(binary(degree)) - 1`` (power-law fit input; O(log d) rows).

    Over distinct directed edges with self-loops dropped. Two
    map-side-combined aggregates and a union — the whole report is one scan
    wide and a few dozen rows tall at any corpus size.
    """
    de = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .persist()
    )
    bucket = F.expr("CAST(length(conv(CAST(d AS STRING), 10, 2)) - 1 AS BIGINT)")

    def hist(col: str, name: str) -> DataFrame:
        return (
            de.groupBy(F.col(col).alias("url"))
            .agg(F.count(F.lit(1)).alias("d"))
            .select(F.lit(name).alias("direction"), bucket.alias("bucket"))
            .groupBy("direction", "bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("n_vertices"))
        )

    # O(log max-degree) rows: materialize, release the distinct-edge cache
    return collect_release(hist("src", "out").unionAll(hist("dst", "in")), (de,))


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """One-row out-in degree assortativity: the Pearson correlation of
    (outdeg(src), indeg(dst)) over distinct directed non-loop edges
    (Newman 2002's r, directed out-in flavor): (m, r).

    Every sufficient statistic is an EXACT integer sum (degrees are ints;
    sums of d, d², dx·dy are BIGINT/DECIMAL — no float accumulation), so
    the result is bit-identical across engines and partitionings; only the
    final one-expression Pearson quotient is floating point, rounded 6dp.
    Cost: one distinct edge pass, two degree aggregates, two edge-keyed
    joins, one map-side-combined global sum.
    """
    de = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .persist()
    )
    outd = de.groupBy("src").agg(F.count(F.lit(1)).alias("dx"))
    ind = de.groupBy("dst").agg(F.count(F.lit(1)).alias("dy"))
    pairs = de.join(outd, "src").join(ind, "dst")
    s = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("dx").cast("decimal(28,0)").alias("sx"),
        F.sum("dy").cast("decimal(28,0)").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).cast("decimal(28,0)").alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).cast("decimal(28,0)").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("decimal(28,0)").alias("syy"),
    )
    m = F.col("m").cast("double")
    num = m * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double")
    denx = m * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double")
    deny = m * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double")
    out = s.select(
        F.col("m"),
        F.round(num / F.sqrt(denx * deny), 6).alias("r"),
    )
    return collect_release(out, (de,))


def avg_neighbor_degree(edges: DataFrame) -> DataFrame:
    """Average-neighbor-degree curve knn(k): (k, n_vertices, knn) — for
    each out-degree k, the mean over vertices of out-degree k of the mean
    IN-degree of their distinct out-neighbors (Pastor-Satorras et al.
    2001's k_nn, directed out-in flavor — the same edge-role convention as
    :func:`degree_assortativity`, of which this is the disaggregated view:
    a falling curve is the disassortative structure a single negative r
    summarizes, and hubs-link-to-hubs shows up as the rising tail r alone
    can hide).

    Scale shape: one distinct edge pass, one in-degree partial agg, one
    dst-keyed equi-join, one src rollup (per-vertex mean = exact-BIGINT
    sum / count), one k rollup. Per-vertex means are 9dp-quantized then
    DECIMAL-summed per bucket so the bucket average is order-independent
    and bit-identical across engines; output is O(max out-degree) rows.
    """
    de = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .persist()
    )
    ind = de.groupBy("dst").agg(F.count(F.lit(1)).cast("long").alias("dy"))
    pv = (
        de.join(ind, "dst")
        .groupBy("src")
        .agg(
            F.count(F.lit(1)).cast("long").alias("k"),
            F.sum("dy").cast("long").alias("sdy"),
        )
    )
    mean9 = F.round(
        F.col("sdy").cast("double") / F.col("k").cast("double"), 9
    ).cast("decimal(28,9)")
    out = (
        pv.select("k", mean9.alias("m9"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vertices"),
            F.round(
                F.sum("m9").cast("double") / F.count(F.lit(1)), 6
            ).alias("knn"),
        )
    )
    # O(max out-degree) rows: collect-materialize, release the edge cache
    return collect_release(out, (de,))


def rich_club(edges: DataFrame, ks: list[int] = (2, 4, 8, 16)) -> DataFrame:
    """Rich-club coefficients over the undirected simple graph: for each
    degree threshold k, (k, n_k, e_k, phi) with n_k = |{v : deg(v) > k}|,
    e_k = edges among them, phi = 2·e_k / (n_k·(n_k−1)) (Zhou & Mondragón
    2004). All counts are exact integers; phi is one float division, 6dp.

    One degree aggregate + per-k two semi-join-filtered counts (|ks| is a
    handful; each pass is edge-shaped with the degree table broadcast by
    the planner when it fits).
    """
    und = _undirect(edges, "src", "dst")[0].persist()
    deg = _degree(und).persist()
    rows = None
    for k in ks:
        rich = deg.where(F.col("d") > k).select(F.col("x").alias("v"))
        nk = rich.agg(F.count(F.lit(1)).alias("n_k"))
        ek = (
            und.join(rich.withColumnRenamed("v", "a"), "a", "left_semi")
            .join(rich.withColumnRenamed("v", "b"), "b", "left_semi")
            .agg(F.count(F.lit(1)).alias("e_k"))
        )
        row = (
            nk.crossJoin(ek)
            .select(
                F.lit(k).cast("long").alias("k"),
                F.col("n_k").cast("long"),
                F.col("e_k").cast("long"),
                F.when(
                    F.col("n_k") >= 2,
                    F.round(
                        2.0 * F.col("e_k") / (F.col("n_k") * (F.col("n_k") - 1)), 6
                    ),
                ).otherwise(F.lit(0.0)).alias("phi"),
            )
        )
        rows = row if rows is None else rows.unionAll(row)
    # |ks| rows: materialize, release the undirected-edge and degree caches
    return collect_release(rows, (und, deg))


def powerlaw_alpha(edges: DataFrame, d_min: int = 2) -> DataFrame:
    """One-row Clauset-Shalizi-Newman continuous MLE for the in-degree
    power-law exponent: (n_tail, alpha) with
    alpha = 1 + n / Σ ln(d / (d_min − 1/2)) over vertices with indeg ≥ d_min.

    Per-vertex log terms are ROUND(…,9)-quantized then DECIMAL-summed —
    exact, order-independent (the linkpred.py recipe) — so the estimate is
    hash-stable; one degree aggregate + one map-side-combined sum.
    """
    ind = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .groupBy("dst")
        .agg(F.count(F.lit(1)).alias("d"))
        .where(F.col("d") >= d_min)
    )
    term = F.round(F.log(F.col("d") / (d_min - 0.5)), 9).cast("decimal(28,9)")
    s = ind.agg(
        F.count(F.lit(1)).cast("long").alias("n_tail"),
        F.sum(term).alias("slog"),
    )
    return s.select(
        "n_tail",
        F.round(
            1.0 + F.col("n_tail").cast("double") / F.col("slog").cast("double"), 6
        ).alias("alpha"),
    )


def attack_robustness(
    edges: DataFrame, ks: list[int] | tuple[int, ...] = (0, 10, 50)
) -> DataFrame:
    """(k, n_vertices, largest_cc, frac) — the targeted-attack robustness
    curve (Albert, Jeong & Barabási 2000): remove the top-``k`` vertices
    by total degree (ties broken by url ascending — deterministic hub
    sets), and measure the largest connected component of what remains as
    a fraction of the REMAINING vertices. Scale-free graphs collapse fast
    under hub removal while staying robust to random failure — the
    diagnostic a crawl/CDN planner reads off this curve. k=0 rows give
    the baseline.

    Scale shape per k: one map-side-combined degree aggregate, a top-k
    hub cut (TakeOrderedAndProject — k is small), two vertex-keyed LEFT
    ANTI joins against the broadcast hub set, then the star-contraction
    components run and ONE tiny aggregate; the per-k outputs are one row
    each, union'd driver-free. The edge table is scanned per k (ks is a
    handful of thresholds by design).
    """
    from pagerank_spark.operators.components import connected_components

    spark = edges.sparkSession
    e = edges.select(F.col("src").cast("string"), F.col("dst").cast("string"))
    deg = (
        e.select(F.col("src").alias("url"))
        .union(e.select(F.col("dst").alias("url")))
        .groupBy("url")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    outs = []
    for k in ks:
        if k < 0:
            raise ValueError("k must be >= 0")
        if k == 0:
            cut = e
        else:
            hubs = deg.orderBy(F.desc("deg"), F.col("url")).limit(int(k)).select("url")
            cut = e
            for col in ("src", "dst"):
                cut = cut.join(
                    F.broadcast(hubs.withColumnRenamed("url", col)), col, "left_anti"
                )
        comp = connected_components(cut)
        sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("_s"))
        row = sizes.agg(
            F.sum("_s").cast("long").alias("n_vertices"),
            F.max("_s").cast("long").alias("largest_cc"),
        ).select(
            F.lit(int(k)).cast("long").alias("k"),
            F.coalesce("n_vertices", F.lit(0)).cast("long").alias("n_vertices"),
            F.coalesce("largest_cc", F.lit(0)).cast("long").alias("largest_cc"),
            F.when(
                F.coalesce("n_vertices", F.lit(0)) > 0,
                F.round(
                    F.col("largest_cc").cast("double")
                    / F.col("n_vertices").cast("double"),
                    6,
                ),
            ).alias("frac"),
        )
        outs.append(row)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def random_failure(
    edges: DataFrame,
    fracs: list[float] | tuple[float, ...] = (0.0, 0.1, 0.3),
    seed: str = "fail",
) -> DataFrame:
    """(frac, n_vertices, largest_cc, cc_frac) — the RANDOM-failure
    complement of :func:`attack_robustness` (Albert, Jeong & Barabási
    2000's second curve): independently remove each VERTEX with
    probability ``frac`` via the engine's deterministic md5 coin
    (uniform01(url, seed) < frac — the stratified_sample filter, so
    re-runs and the twin pick identical victims), drop its incident
    edges, and measure the largest remaining component. Scale-free
    graphs barely notice random failure at rates that would be fatal as
    targeted attacks — reading the two curves together is the point.

    Same per-threshold shape as attack_robustness: a pure-Column filter
    (no hub table needed at all), the components run, one aggregate.
    """
    from pagerank_spark.operators.components import connected_components
    from pagerank_spark.operators.sampling import uniform01

    e = edges.select(F.col("src").cast("string"), F.col("dst").cast("string"))
    outs = []
    for frac in fracs:
        if not (0.0 <= frac < 1.0):
            raise ValueError("frac must be in [0, 1)")
        cut = e.where(
            (uniform01(F.col("src"), seed) >= frac)
            & (uniform01(F.col("dst"), seed) >= frac)
        )
        comp = connected_components(cut)
        sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("_s"))
        outs.append(
            sizes.agg(
                F.sum("_s").cast("long").alias("n_vertices"),
                F.max("_s").cast("long").alias("largest_cc"),
            ).select(
                F.lit(float(frac)).alias("frac"),
                F.coalesce("n_vertices", F.lit(0)).cast("long").alias("n_vertices"),
                F.coalesce("largest_cc", F.lit(0)).cast("long").alias("largest_cc"),
                F.when(
                    F.coalesce("n_vertices", F.lit(0)) > 0,
                    F.round(
                        F.col("largest_cc").cast("double")
                        / F.col("n_vertices").cast("double"),
                        6,
                    ),
                ).alias("cc_frac"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def reciprocity(edges: DataFrame) -> DataFrame:
    """One row (n_edges, n_reciprocated, reciprocity) over the DISTINCT
    directed edge set (self-loops dropped): the fraction of edges whose
    reverse also exists — Garlaschelli & Loffredo's r, and at host level
    the classic nepotistic link-exchange signal (Davison 2000): organic
    web linking is strongly asymmetric, so a high-reciprocity host
    neighborhood is a trade ring. One distinct pass + one self-equi-join
    on the reversed key (LEFT SEMI — the match list never materializes)
    + one tiny aggregate.
    """
    e = (
        edges.select(F.col("src").cast("string"), F.col("dst").cast("string"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = e.join(rev, ["src", "dst"], "left_semi")
    n = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    r = recip.agg(F.count(F.lit(1)).cast("long").alias("n_reciprocated"))
    return n.crossJoin(r).select(
        "n_edges",
        "n_reciprocated",
        F.when(
            F.col("n_edges") > 0,
            F.round(
                F.col("n_reciprocated").cast("double")
                / F.col("n_edges").cast("double"),
                6,
            ),
        ).alias("reciprocity"),
    )


def rank_biased_overlap(
    a: DataFrame,
    b: DataFrame,
    d: int = 50,
    p: float = 0.9,
    id_col: str = "url",
    score_col: str = "score",
) -> DataFrame:
    """One row (n_common, rbo) — fixed-depth Rank-Biased Overlap (Webber,
    Moffat & Zobel, TOIS 2010) between two rankings' top-``d`` prefixes:

        RBO@d = (1-p) * Σ_{k=1..d} p^(k-1) * |A_k ∩ B_k| / k

    re-expressed per ELEMENT: an item at positions (pa, pb) in the two
    lists joins every prefix k >= max(pa, pb), so it contributes
    w(m) = Σ_{k=m..d} p^(k-1)/k with m = max(pa, pb) — the weights are
    precomputed driver-side (d scalars) and embedded as one literal
    array, making the measure two top-d cuts (TakeOrderedAndProject) +
    one d-row join + a tiny DECIMAL-quantized sum. Top-heavy by design:
    agreement at rank 1 outweighs agreement at rank 50 — the right
    comparison for search rankings where Spearman over all vertices
    drowns the head in the tail. Ties break by id ascending (the
    engine-wide determinism contract); callers should pre-round scores
    the way the contract queries do.
    """
    if d < 1:
        raise ValueError("d must be >= 1")
    if not (0 < p < 1):
        raise ValueError("p must be in (0, 1)")
    weights = []
    for m in range(1, d + 1):
        weights.append(sum(p ** (k - 1) / k for k in range(m, d + 1)))
    warr = F.array(*[F.lit(float(w)) for w in weights])

    def topd(df, pos_name):
        cut = df.select(
            F.col(id_col).alias("_id"), F.col(score_col).alias("_s")
        ).orderBy(F.desc("_s"), F.col("_id")).limit(d)
        w = Window.orderBy(F.desc("_s"), F.col("_id"))
        return cut.select(
            "_id", F.row_number().over(w).alias(pos_name)
        )

    joined = topd(a, "_pa").join(topd(b, "_pb"), "_id")
    contr = F.element_at(warr, F.greatest("_pa", "_pb"))
    agg = joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_common"),
        F.sum(F.round(contr, 9).cast("decimal(28,9)")).alias("_w"),
    )
    return agg.select(
        "n_common",
        F.round(
            F.lit(1.0 - p) * F.coalesce(F.col("_w").cast("double"), F.lit(0.0)),
            6,
        ).alias("rbo"),
    )


def degree_percentiles(
    edges: DataFrame, ps: tuple[float, ...] = (0.5, 0.9, 0.99)
) -> DataFrame:
    """(direction, p, value) — EXACT in/out-degree percentiles computed
    from the degree VALUE HISTOGRAM (the quantile_buckets recipe): the
    percentile is the smallest degree whose cumulative vertex count
    reaches ceil(p * n), found with one running-sum window over the
    DISTINCT degree values — never a row-sized sort. Dangling /
    source-only vertices count as degree 0 on the missing side (the part
    approx_percentile-over-joined-degrees silently gets wrong when the
    join drops zeros). The web-graph p99/median contrast IS the
    power-law story in two numbers.
    """
    for p in ps:
        if not (0 < p <= 1):
            raise ValueError("percentiles must be in (0, 1]")
    e = edges.select(F.col("src").cast("string"), F.col("dst").cast("string"))
    verts = (
        e.select(F.col("src").alias("url"))
        .union(e.select(F.col("dst").alias("url")))
        .distinct()
    )
    outs = []
    for direction, key in (("out", "src"), ("in", "dst")):
        deg = (
            verts.join(
                e.groupBy(F.col(key).alias("url")).agg(
                    F.count(F.lit(1)).cast("long").alias("deg")
                ),
                "url",
                "left",
            )
            .select(F.coalesce("deg", F.lit(0)).cast("long").alias("deg"))
        )
        hist = deg.groupBy("deg").agg(F.count(F.lit(1)).cast("long").alias("c"))
        w = Window.orderBy("deg").rowsBetween(Window.unboundedPreceding, 0)
        cum = hist.select(
            "deg", F.sum("c").over(w).cast("long").alias("cum")
        ).crossJoin(
            F.broadcast(hist.agg(F.sum("c").cast("long").alias("n")))
        )
        for p in ps:
            # smallest degree with cum >= ceil(p*n), exact integer target
            target = F.ceil(F.lit(float(p)) * F.col("n")).cast("long")
            outs.append(
                cum.where(F.col("cum") >= target)
                .agg(F.min("deg").alias("value"))
                .select(
                    F.lit(direction).alias("direction"),
                    F.lit(float(p)).alias("p"),
                    F.col("value").cast("long").alias("value"),
                )
            )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
