"""Redirect-chain resolution by pointer doubling (Wyllie list ranking).

Web crawls are full of redirects (301/302, meta refresh, rel=canonical):
the frontier and the link graph must collapse every alias chain to its
final target before ranking or dedup runs, or authority splits across
aliases. The reference repo consumes an already-resolved edge CSV
(README.md:42-64 describes the crawl); at 100-TB crawl scale the
resolution itself is a distributed job over billions of alias rows.

Formulation: classic pointer doubling. State is one vertex-sized table
``(url, ptr, hops)`` over the redirect SOURCES only — never edge-sized,
never the full crawl. Each round every pointer jumps to its pointee's
pointer (one hash equi-join of the state table against itself), so a
chain of length L resolves in ceil(log2 L) rounds: 30 rounds cover a
billion-hop chain. The rounds run on plans/fixpoint.iterate: each round's
one action is the mover count over its lazy localCheckpoint, so lineage
stays flat and the next self-join reads a materialized table.

Loops (redirect cycles, self-redirects, and chains that lead INTO a
cycle) can never resolve. They are detected by PROGRESS STALL: while any
resolvable row remains, the per-round mover count strictly decreases —
every suffix of a chain is itself a chain, so distances 1..L are all
present and round k retires exactly the rows at distance (2^(k-1), 2^k],
a non-empty interval. Two consecutive rounds with equal mover counts
therefore certify the residue is loop-bound. Loop rows return
``is_loop = true`` with sentinel ``final = ''`` / ``hops = -1`` (stable
non-nullable dtypes for the oracle value hash).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.plans.fixpoint import iterate


def resolve_redirects(
    redirects: DataFrame, max_rounds: int = 64, metrics: dict | None = None
) -> DataFrame:
    """(url, final, hops, is_loop) for every redirect source url.

    ``redirects`` is (src, dst) alias rows; multiple targets per src
    collapse deterministically to MIN(dst) (a crawl can observe
    conflicting redirects for one url — the tie-break must be stable for
    re-runs to agree). ``final`` is the chain endpoint (a url that is not
    itself a redirect source) and ``hops`` the exact chain length;
    loop-bound rows carry the sentinels described in the module docstring.

    ``max_rounds`` is a backstop only — 64 doublings cover chains of
    length 2^64; the stall rule exits after ~log2(longest chain) + 2
    rounds in practice. ``metrics``, if given, records ``rounds`` and the
    per-round ``movers`` counts (tests pin the logarithmic round count).
    """
    rmap = (
        redirects.select(
            F.col("src").cast("string").alias("src"),
            F.col("dst").cast("string").alias("dst"),
        )
        .groupBy("src")
        .agg(F.min("dst").alias("dst"))
    )
    f = rmap.select(
        F.col("src").alias("url"),
        F.col("dst").alias("ptr"),
        F.lit(1).cast("long").alias("hops"),
    ).localCheckpoint(eager=True)

    def step(f: DataFrame, _k: int) -> DataFrame:
        m = f.select(
            F.col("url").alias("m_url"),
            F.col("ptr").alias("m_ptr"),
            F.col("hops").alias("m_hops"),
        )
        return f.join(m, f["ptr"] == m["m_url"], "left").select(
            "url",
            F.coalesce("m_ptr", "ptr").alias("ptr"),
            (F.col("hops") + F.coalesce("m_hops", F.lit(0))).alias("hops"),
            F.col("m_url").isNotNull().alias("_moved"),
        )

    records: list[dict] = []

    def stop(r: dict) -> bool:
        prev = records[-2]["movers"] if len(records) > 1 else -1
        return r["movers"] in (0, prev)

    f = iterate(
        "resolve_redirects", f, step, range(max_rounds),
        stats=[F.count_if("_moved").alias("movers")],
        project=lambda f, row, _k: (f.drop("_moved"), {"movers": row["movers"]}),
        stop=stop, metrics=records,
    )
    if metrics is not None:
        metrics["rounds"] = len(records)
        metrics["movers"] = [r["movers"] for r in records]

    keys = rmap.select(F.col("src").alias("_k"))
    return f.join(keys, f["ptr"] == keys["_k"], "left").select(
        "url",
        F.when(F.col("_k").isNull(), F.col("ptr")).otherwise(F.lit("")).alias("final"),
        F.when(F.col("_k").isNull(), F.col("hops"))
        .otherwise(F.lit(-1).cast("long"))
        .alias("hops"),
        F.col("_k").isNotNull().alias("is_loop"),
    )


def rewrite_edges(edges: DataFrame, resolved: DataFrame) -> DataFrame:
    """Collapse a link graph's aliases: rewrite both endpoints of ``edges``
    (src, dst) through a ``resolve_redirects`` output, dropping edges whose
    endpoint is loop-bound (no well-defined target). Two hash equi-joins;
    urls that are not redirect sources pass through unchanged — the common
    case, so the joins are LEFT and the redirect table is the (small)
    build side a broadcast hint suits when it fits.
    """
    alias = resolved.filter(~F.col("is_loop")).select("url", "final")
    looped = resolved.filter(F.col("is_loop")).select("url")
    out = edges.select(
        F.col("src").cast("string").alias("src"),
        F.col("dst").cast("string").alias("dst"),
    )
    for col in ("src", "dst"):
        out = (
            out.join(looped.withColumnRenamed("url", col), col, "left_anti")
            .join(alias.withColumnRenamed("url", col), col, "left")
            .withColumn(col, F.coalesce("final", col))
            .drop("final")
        )
    return out
