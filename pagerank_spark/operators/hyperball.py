"""HyperBall: approximate neighborhood function, effective diameter and
harmonic centrality over the link graph (Boldi & Vigna, "In-Core
Computation of Geometric Centralities with HyperBall", 2013; Flajolet et
al. HyperLogLog, AofA'07).

The reference engine ranks pages by PageRank only; at web scale the other
standard link-graph statistics — "how many pages are within r clicks",
the graph's effective diameter, and harmonic centrality (the
distance-based authority score that, unlike closeness, is well-defined on
disconnected web graphs) — all come from the neighborhood function
N(v, r) = |{w : dist(v, w) <= r}|. Exact per-vertex balls need |V| BFS
runs; HyperBall gets all of them simultaneously in r rounds by giving
every vertex a HyperLogLog counter of its ball and unioning counters
along edges:

    B_0(v) = {v};   B_{t+1}(v) = B_t(v)  UNION  B_t(w) for every (v,w) in E

HLL counters make the union a per-register MAX — associative and
commutative, so the whole round is ONE relational aggregate.

Spark shape (per round, the same at 10^12 documents)
----------------------------------------------------
The m registers live as m integer COLUMNS (the same layout the MinHash
signatures use, operators/dedup.py): a round is

    edges JOIN counters ON dst   (counter side vertex-sized; broadcast
                                  below the shared 10M auto-threshold,
                                  hits.resolve_broadcast, else shuffle)
    UNION ALL own counters
    groupBy(url).agg(max(r_0) .. max(r_{m-1}))

so the only edge-sized operation is the join, and the exchange feeding
the aggregate carries partial maxima (map-side combine collapses each
vertex's candidates per partition first). The rounds run on
plans/fixpoint.iterate: each round checkpoints only the new counters, and
the state is the union of every round's counters tagged with a literal
``round``, so a round reads just the previous round's checkpoint and the
result is one estimate per (url, round). No Python touches rows at any
point — registers, estimates and corrections are all JVM Column
expressions.

Determinism across engines/partitionings: the register index and rank
derive from the 60-bit md5 hash (textops.hexint15) of the url —
bucket = h % m, rank = 1 + trailing-zero count of (h >> log2m) — so a
DuckDB twin rebuilds identical registers, and MAX/union is
order-insensitive. The estimator is the classic HLL form
alpha_m * m^2 / sum_j 2^-r_j with the small-range linear-counting
correction; every floating-point reduction is written as a FIXED
left-to-right chain over the m columns so both engines round
identically.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pagerank_spark.operators.hits import resolve_broadcast
from pagerank_spark.operators.textops import hexint15
from pagerank_spark.plans.fixpoint import iterate, materialize

HB_LOG2M = 4  # default m=16 registers: +-26% per-vertex, exact small balls


def _alpha(m: int) -> float:
    return {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1 + 1.079 / m))


def _reg_cols(m: int) -> list[str]:
    return [f"_hb{j}" for j in range(m)]


def init_counters(vertices: DataFrame, log2m: int = HB_LOG2M) -> DataFrame:
    """(url, _hb0 .. _hb{m-1}): each vertex's HLL counter holding just
    itself — register ``h % m`` set to 1 + trailing-zeros of ``h >> log2m``
    (a geometric(1/2) rank, the HLL requirement; trailing zeros instead of
    leading keeps the rank math exact integer/bit ops in both engines).
    ``h >> log2m == 0`` (all 60-log2m bits zero) gets the max rank."""
    m = 1 << log2m
    maxrank = 61 - log2m
    h = hexint15(F.col("url"))
    rest = F.shiftright(h, log2m)
    low = rest.bitwiseAND(-rest)  # isolates lowest set bit: exact power of 2
    rho = F.when(rest == 0, F.lit(maxrank)).otherwise(
        F.round(F.log2(low.cast("double"))).cast("int") + 1
    )
    bucket = F.pmod(h, F.lit(m))
    return vertices.select(
        "url",
        *[
            F.when(bucket == j, rho).otherwise(0).cast("int").alias(c)
            for j, c in enumerate(_reg_cols(m))
        ],
    )


def ball_estimate(log2m: int = HB_LOG2M) -> Column:
    """HLL cardinality estimate from the m register columns, as one JVM
    expression: raw = alpha_m * m^2 / sum_j 2^-r_j, replaced by linear
    counting m*ln(m/V) when raw <= 2.5m and V (empty registers) > 0. Both
    sums are fixed left-to-right chains so the DuckDB twin's floating
    point matches bit-for-bit."""
    m = 1 << log2m
    cols = _reg_cols(m)
    s = reduce(
        lambda acc, c: acc + F.pow(F.lit(2.0), -F.col(c)),
        cols[1:],
        F.pow(F.lit(2.0), -F.col(cols[0])),
    )
    v = reduce(
        lambda acc, c: acc + F.when(F.col(c) == 0, 1).otherwise(0),
        cols[1:],
        F.when(F.col(cols[0]) == 0, 1).otherwise(0),
    )
    raw = F.lit(_alpha(m) * m * m) / s
    lc = F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double"))
    return F.when((raw <= 2.5 * m) & (v > 0), lc).otherwise(raw)


def hyperball(
    edges: DataFrame,
    rounds: int,
    log2m: int = HB_LOG2M,
    broadcast_counters: bool | None = None,
) -> DataFrame:
    """(url, round, ball) for round 0..``rounds``: the estimated number of
    vertices within ``round`` hops of ``url`` along OUT-edges (round 0 is
    always ~1). One join + one max-aggregate per round on
    plans/fixpoint.iterate; counters are vertex-sized throughout, and
    every round's checkpoint stays in the state (the result reads all of
    them). ``broadcast_counters`` None = auto by vertex count
    (hits.resolve_broadcast's shared 10M threshold)."""
    if rounds < 0:
        raise ValueError("rounds must be >= 0")
    e = edges.select(F.col("src").cast("string"), F.col("dst").cast("string"))
    verts = (
        e.select(F.col("src").alias("url"))
        .unionByName(e.select(F.col("dst").alias("url")))
        .distinct()
    )
    cols = _reg_cols(1 << log2m)
    x0, row = materialize(init_counters(verts, log2m), [F.count(F.lit(1)).alias("n")])
    if broadcast_counters is None:
        broadcast_counters = resolve_broadcast(None, row["n"])
    hist = None

    def step(x: DataFrame, t: int) -> DataFrame:
        nonlocal hist
        hist = x
        cur = x.where(F.col("round") == t - 1).select("url", *cols)
        side = F.broadcast(cur) if broadcast_counters else cur
        pulled = e.join(side, e["dst"] == side["url"]).select(e["src"].alias("url"), *cols)
        return cur.unionByName(pulled).groupBy("url").agg(*[F.max(c).alias(c) for c in cols])

    x = iterate(
        "hyperball", x0.withColumn("round", F.lit(0)), step, range(1, rounds + 1),
        project=lambda ck, _row, t: (hist.unionByName(ck.withColumn("round", F.lit(t))), None),
    )
    return x.select("url", "round", ball_estimate(log2m).alias("ball"))


def neighborhood_function(balls: DataFrame) -> DataFrame:
    """(round, nf): the global neighborhood function — the sum over
    vertices of the per-vertex ball estimates at each radius. Per-vertex
    values are rounded to 4dp and summed as DECIMAL so the total is
    independent of aggregation order (cross-engine and cross-partitioning
    reproducible)."""
    return (
        balls.groupBy("round")
        .agg(
            F.sum(F.round(F.col("ball"), 4).cast("decimal(28,4)")).alias("nf")
        )
        .select("round", F.col("nf").cast("double").alias("nf"))
    )


def effective_diameter(balls: DataFrame, quantile: float = 0.9) -> int:
    """Smallest radius r whose global neighborhood function reaches
    ``quantile`` of its final value — the standard "90% effective
    diameter". One tiny collect of (rounds+1) rows."""
    rows = sorted(
        neighborhood_function(balls).collect(), key=lambda r: r["round"]
    )
    target = quantile * rows[-1]["nf"]
    for r in rows:
        if r["nf"] >= target:
            return int(r["round"])
    return int(rows[-1]["round"])


def harmonic_centrality(balls: DataFrame) -> DataFrame:
    """(url, harmonic): Boldi-Vigna harmonic centrality estimate
    sum_{r>=1} (|B(v,r)| - |B(v,r-1)|) / r — each radius-r shell weighted
    by 1/r, truncated at the rounds hyperball() ran. The per-vertex sum
    folds an array_sort'ed collect_list so addition order is fixed
    (round-ascending) in every engine and partitioning; the twin spells
    it SUM(x ORDER BY round)."""
    w = balls.groupBy("url").agg(
        F.array_sort(F.collect_list(F.struct("round", "ball"))).alias("_s")
    )
    shells = F.filter(
        F.zip_with(
            F.slice(F.col("_s"), 2, 10000),
            F.slice(F.col("_s"), 1, 10000),
            lambda cur, prev: F.struct(
                cur["round"].alias("r"), (cur["ball"] - prev["ball"]).alias("d")
            ),
        ),
        lambda x: x["r"].isNotNull(),
    )
    total = F.aggregate(
        shells,
        F.lit(0.0),
        lambda acc, x: acc + x["d"] / x["r"].cast("double"),
    )
    return w.select("url", total.alias("harmonic"))


def mean_distance(balls: DataFrame) -> DataFrame:
    """One row (n_vertices, reachable_pairs, mean_distance) — the
    Boldi-Vigna average-distance estimate from the HyperBall counters:

        mean = Σ_{r>=1} r * (NF(r) - NF(r-1)) / (NF(R) - NF(0))

    where NF is the global neighborhood function, NF(0) = |V| and
    NF(R) - NF(0) estimates the reachable ordered pairs. All the work
    happens on the (rounds+1)-row NF table — the lag window and the
    final quotient touch a handful of rows; per-radius terms are
    6dp-quantized and DECIMAL-summed so the tiny fold is still
    order-independent. NULL mean when nothing is reachable."""
    from pyspark.sql import Window

    nf = neighborhood_function(balls)
    w = Window.orderBy("round")
    shells = nf.select(
        "round",
        "nf",
        (F.col("nf") - F.lag("nf").over(w)).alias("_d"),
    )
    agg = shells.agg(
        F.min_by("nf", "round").alias("_nf0"),
        F.max_by("nf", "round").alias("_nfR"),
        F.sum(
            F.round(F.col("round") * F.col("_d"), 6).cast("decimal(28,6)")
        ).alias("_num"),
    )
    reachable = F.col("_nfR") - F.col("_nf0")
    return agg.select(
        F.round("_nf0", 4).alias("n_vertices"),
        F.round(reachable, 4).alias("reachable_pairs"),
        F.when(
            reachable > 0,
            F.round(F.col("_num").cast("double") / reachable, 6),
        ).alias("mean_distance"),
    )
