"""Deterministic uniform random walks over the link graph (DeepWalk corpus).

The reference consumes PRETRAINED word vectors (gensim downloads,
pagerank.py:16 / pagerank2.py:14) to expand queries; a web-native engine
can train its own url embeddings from the graph itself. The
graph-structure half of that pipeline — generating the walk corpus that
word2vec/DeepWalk trains on (Perozzi et al., KDD'14) — is pure dataflow
and lives here; the trained vectors then flow back in through the
word2vec-text contract in functions/embeddings_io.py.

Determinism instead of RNG state: step ``t`` of walk ``w`` at vertex ``u``
moves to ``argmin_{(u,d) in E} md5_60(w || '|t|' || d)`` — the argmin of a
60-bit hash over the out-neighbors IS a uniform draw (each neighbor is
equally likely to hold the minimum), but it is reproducible across runs,
engines and partitionings, needs no seed plumbing into executors, and is
insensitive to duplicate edges (the hash depends only on the neighbor, so
multiplicity never skews the draw — no dedup pass needed). A tie would
require an md5 collision between two 60-bit neighbor hashes within one
step; treated as absent.

Spark shape (per step, the same at 10^11 edges)
-----------------------------------------------
  1. join walk state (one row per live walk) to edges on cur == src —
     the edge table is the big side and arrives pre-partitioned by src
     (LinkGraph caches it that way), so only the walk state shuffles;
  2. groupBy(walk_id).agg(min_by(dst, hash)) — every candidate row for a
     walk comes from the single src partition that held its current
     vertex, so the partial aggregate collapses each walk to ONE row
     before the exchange; the shuffle carries O(#walks), never O(edges).

Walks that reach a dangling vertex simply drop out of the join (the
standard DeepWalk truncation). Lineage is cut with an eager
``localCheckpoint`` every ``CHECKPOINT_EVERY`` steps. The steps run no
other action, so they stay off plans/fixpoint.iterate (which would add
one per step).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.operators.textops import hexint15

CHECKPOINT_EVERY = 8


def random_walks(
    edges: DataFrame,
    walk_length: int,
    walks_per_vertex: int = 1,
    starts: DataFrame | None = None,
) -> DataFrame:
    """(walk_id, step, url) rows for deterministic uniform random walks.

    ``edges``: (src, dst) string columns (extra columns ignored; duplicate
    edges harmless, see module docstring). ``starts``: optional (url)
    DataFrame of start vertices — defaults to every vertex with at least
    one out-edge. Each start spawns ``walks_per_vertex`` walks with ids
    ``url#0 .. url#<w-1>``; step 0 is the start vertex itself and a walk
    contributes ``walk_length + 1`` rows unless truncated at a dangling
    vertex.
    """
    if walk_length < 0:
        raise ValueError("walk_length must be >= 0")
    if walks_per_vertex < 1:
        raise ValueError("walks_per_vertex must be >= 1")
    e = edges.select(F.col("src").cast("string"), F.col("dst").cast("string"))
    if starts is None:
        starts = e.select(F.col("src").alias("url")).distinct()
    state = starts.select(
        F.col("url").cast("string").alias("url"),
        F.explode(F.sequence(F.lit(0), F.lit(walks_per_vertex - 1))).alias("_r"),
    ).select(
        F.concat(F.col("url"), F.lit("#"), F.col("_r").cast("string")).alias("walk_id"),
        "url",
    )
    steps = [state.withColumn("step", F.lit(0).cast("int"))]
    for t in range(1, walk_length + 1):
        cand = state.join(e, state["url"] == e["src"]).select(
            "walk_id",
            F.col("dst"),
            hexint15(F.concat(F.col("walk_id"), F.lit(f"|{t}|"), F.col("dst"))).alias("_h"),
        )
        state = cand.groupBy("walk_id").agg(F.min_by("dst", "_h").alias("url"))
        if t % CHECKPOINT_EVERY == 0 and t < walk_length:
            state = state.localCheckpoint(eager=True)
        steps.append(state.withColumn("step", F.lit(t).cast("int")))
    out = reduce(DataFrame.unionByName, steps)
    return out.select("walk_id", "step", "url")


def weighted_random_walks(
    edges: DataFrame,
    walk_length: int,
    walks_per_vertex: int = 1,
    starts: DataFrame | None = None,
    weight_col: str = "weight",
) -> DataFrame:
    """(walk_id, step, url) — deterministic WEIGHTED random walks: step
    ``t`` of walk ``w`` at vertex ``u`` moves to

        argmin_{(u,d,wt) in E}  -ln(u01) / wt,   u01 = (md5_60(w|t|d)+1)/2^60

    — the exponential-race (Gumbel-trick) form of a draw proportional to
    the edge weight: each candidate's key is an Exponential(wt) variate
    driven by its own deterministic uniform, and the minimum lands on edge
    i with probability wt_i / Σ wt (Efraimidis & Spirakis 2006, the k=1
    case — the same key :func:`pagerank_spark.operators.sampling.
    weighted_sample` ranks by). With 1/outdeg LinkGraph weights this walks
    the EXACT PageRank transition kernel; with raw counts it is the
    node2vec p=q=1 weighted walk.

    Unlike the uniform variant, parallel edges must be pre-summed
    (LinkGraph's duplicate-edge coalesce does this): the uniform is a pure
    function of (walk, step, dst), so two rows for one dst race with the
    SAME u01 and behave as max(wt), not the sum. Edges with weight <= 0
    are dropped (zero selection probability). Spark shape is identical to
    :func:`random_walks`: the per-step shuffle carries O(#walks) rows via
    the map-side min_by partial aggregate.
    """
    if walk_length < 0:
        raise ValueError("walk_length must be >= 0")
    if walks_per_vertex < 1:
        raise ValueError("walks_per_vertex must be >= 1")
    e = edges.select(
        F.col("src").cast("string"),
        F.col("dst").cast("string"),
        F.col(weight_col).cast("double").alias("_w"),
    ).where(F.col("_w") > 0)
    if starts is None:
        starts = e.select(F.col("src").alias("url")).distinct()
    state = starts.select(
        F.col("url").cast("string").alias("url"),
        F.explode(F.sequence(F.lit(0), F.lit(walks_per_vertex - 1))).alias("_r"),
    ).select(
        F.concat(F.col("url"), F.lit("#"), F.col("_r").cast("string")).alias("walk_id"),
        "url",
    )
    two60 = float(1 << 60)
    steps = [state.withColumn("step", F.lit(0).cast("int"))]
    for t in range(1, walk_length + 1):
        h = hexint15(F.concat(F.col("walk_id"), F.lit(f"|{t}|"), F.col("dst")))
        # (h+1)/2^60 in (0, 1]: exact int scaled by a power of two — the
        # double is bit-identical across engines; ln(u)=0 at u=1 is a
        # valid race key, and u=0 (NULL ln) cannot occur
        key = -F.log((h + F.lit(1)).cast("double") / F.lit(two60)) / F.col("_w")
        cand = state.join(e, state["url"] == e["src"]).select(
            "walk_id", F.col("dst"), key.alias("_k")
        )
        state = cand.groupBy("walk_id").agg(F.min_by("dst", "_k").alias("url"))
        if t % CHECKPOINT_EVERY == 0 and t < walk_length:
            state = state.localCheckpoint(eager=True)
        steps.append(state.withColumn("step", F.lit(t).cast("int")))
    out = reduce(DataFrame.unionByName, steps)
    return out.select("walk_id", "step", "url")


def node2vec_walks(
    edges: DataFrame,
    walk_length: int,
    p: float = 1.0,
    q: float = 1.0,
    walks_per_vertex: int = 1,
    starts: DataFrame | None = None,
    weight_col: str = "weight",
) -> DataFrame:
    """(walk_id, step, url) — deterministic node2vec second-order biased
    walks (Grover & Leskovec, KDD'16). Step 1 is the plain weighted draw
    (no predecessor yet); from step 2 on, a candidate edge (cur, dst, wt)
    with predecessor ``prev`` races with effective weight

        wt * 1/p   if dst == prev             (return)
        wt * 1     if (prev, dst) is an edge  (stay near)
        wt * 1/q   otherwise                  (explore outward)

    via the same exponential-race argmin as
    :func:`weighted_random_walks` — deterministic, seed-free,
    engine-reproducible. Low p → BFS-like homophily walks, low q →
    DFS-like structural walks; the resulting corpus feeds the word2vec
    contract exactly like the uniform DeepWalk one.

    Spark shape: the walk state carries (walk_id, cur, prev) — still one
    row per live walk. Per step, candidates = state ⋈ edges on cur == src
    (the cached src partitioning; only the walk state shuffles), then the
    SECOND-ORDER cost every distributed node2vec pays: a LEFT probe of
    the candidate rows against the distinct edge set on (prev, dst) to
    classify distance-1 neighbors — O(#walks x outdeg(cur)) rows shuffled
    on the prev key, vs the first-order walk's O(#walks). That factor is
    intrinsic to the bias (the alternative, materializing alias tables
    per vertex pair, is O(sum d^2) preprocessing); hub fan-out stays
    map-side for the draw itself via the min_by partial aggregate.

    Same preconditions as the weighted variant: parallel edges must be
    pre-summed, weight <= 0 dropped.
    """
    if walk_length < 0:
        raise ValueError("walk_length must be >= 0")
    if walks_per_vertex < 1:
        raise ValueError("walks_per_vertex must be >= 1")
    if p <= 0 or q <= 0:
        raise ValueError("p and q must be > 0")
    e = edges.select(
        F.col("src").cast("string"),
        F.col("dst").cast("string"),
        F.col(weight_col).cast("double").alias("_w"),
    ).where(F.col("_w") > 0)
    adj = e.select(F.col("src").alias("_asrc"), F.col("dst").alias("_adst"))
    if starts is None:
        starts = e.select(F.col("src").alias("url")).distinct()
    state = starts.select(
        F.col("url").cast("string").alias("url"),
        F.explode(F.sequence(F.lit(0), F.lit(walks_per_vertex - 1))).alias("_r"),
    ).select(
        F.concat(F.col("url"), F.lit("#"), F.col("_r").cast("string")).alias("walk_id"),
        "url",
    )
    two60 = float(1 << 60)
    steps = [state.withColumn("step", F.lit(0).cast("int"))]
    for t in range(1, walk_length + 1):
        h = hexint15(F.concat(F.col("walk_id"), F.lit(f"|{t}|"), F.col("dst")))
        u01 = (h + F.lit(1)).cast("double") / F.lit(two60)
        if t == 1:
            cand = state.join(e, state["url"] == e["src"]).select(
                "walk_id",
                state["url"].alias("_cur"),
                F.col("dst"),
                (-F.log(u01) / F.col("_w")).alias("_k"),
            )
        else:
            # flatten to unique names before the adjacency probe — adj
            # shares lineage with e, so qualified refs would be ambiguous
            flat = state.join(e, state["url"] == e["src"]).select(
                "walk_id",
                state["url"].alias("_cur"),
                "prev",
                "dst",
                "_w",
            )
            joined = flat.join(
                adj,
                (flat["prev"] == adj["_asrc"]) & (flat["dst"] == adj["_adst"]),
                "left",
            )
            bias = (
                F.when(F.col("dst") == F.col("prev"), F.lit(1.0 / p))
                .when(F.col("_asrc").isNotNull(), F.lit(1.0))
                .otherwise(F.lit(1.0 / q))
            )
            cand = joined.select(
                "walk_id",
                "_cur",
                F.col("dst"),
                (-F.log(u01) / (F.col("_w") * bias)).alias("_k"),
            )
        state = (
            cand.groupBy("walk_id", "_cur")
            .agg(F.min_by("dst", "_k").alias("url"))
            .select("walk_id", "url", F.col("_cur").alias("prev"))
        )
        if t % CHECKPOINT_EVERY == 0 and t < walk_length:
            state = state.localCheckpoint(eager=True)
        steps.append(
            state.select("walk_id", "url").withColumn("step", F.lit(t).cast("int"))
        )
    out = reduce(DataFrame.unionByName, steps)
    return out.select("walk_id", "step", "url")


def walk_sentences(walks: DataFrame) -> DataFrame:
    """(walk_id, sentence) — each walk's vertices space-joined in step order,
    the exact line format word2vec-style trainers consume (and that
    functions/embeddings_io.py round-trips). One partial-aggregated
    groupBy; the in-group sort is a vertex-array sort per walk, never a
    global one."""
    return walks.groupBy("walk_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("step", "url"))),
                lambda s: s["url"],
            ),
            " ",
        ).alias("sentence")
    )
