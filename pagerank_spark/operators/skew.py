"""Shuffle-skew tooling: diagnosis + the salting rewrite.

Hub vertices and hot keys are THE failure mode of web-graph shuffles (a
10^7-in-degree page turns one reducer into the job's critical path).
This module gives the two halves of the standard answer as first-class
operators:

  * ``skew_report`` — measure it: the key histogram's heavy hitters and
    the skew factor (heaviest key vs mean), computed map-side — the
    number a planner compares against its AQE skew-join threshold and
    uses to size the salt.
  * ``salted_join``  — fix it: the classic salting rewrite (big side's
    key gets a deterministic salt in [0, n); small side replicates n
    ways) with a RESULT-INVARIANCE contract — the output is row-for-row
    the plain join's output, only the partitioning changed. The DuckDB
    twin IS the plain join, so the oracle gate itself certifies the
    invariance.

Salt choice: md5-derived from the ROW (the engine's hexint15 primitive
over a caller-named tie-break column), not round-robin — deterministic
across retries/resumes, which keeps checkpoint-resumed jobs bit-stable.
Spark's own AQE skew-join splitting (spark.sql.adaptive.skewJoin) covers
sort-merge joins at runtime; the explicit rewrite remains the tool for
aggregate-side skew and for engines/joins AQE doesn't split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.operators.textops import hexint15


def skew_report(df: DataFrame, key_col: str, top_k: int = 10) -> DataFrame:
    """(key, n_rows_key, n_keys, total_rows, mean_rows_per_key,
    skew_factor) — the ``top_k`` heaviest join/groupBy keys with the
    table-wide context: skew_factor = key rows / mean rows per key (the
    heaviest row's factor is the one compared against AQE's
    skewedPartitionFactor). Deterministic (count desc, key asc with
    NULL last, as DuckDB's ASC); NULL keys count as a key.

    Shape: ONE map-side-combined key histogram, a 1-row stats aggregate,
    and a TakeOrdered top-k — the corpus never moves unaggregated."""
    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    hist = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows_key")
    )
    stats = hist.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("n_rows_key").cast("long").alias("total_rows"),
    )
    top = hist.orderBy(F.desc("n_rows_key"), F.col("key").asc_nulls_last()).limit(int(top_k))
    return top.crossJoin(F.broadcast(stats)).select(
        "key",
        "n_rows_key",
        "n_keys",
        "total_rows",
        F.round(
            F.col("total_rows").cast("double") / F.col("n_keys"), 6
        ).alias("mean_rows_per_key"),
        F.round(
            (F.col("n_rows_key") * F.col("n_keys")).cast("double")
            / F.col("total_rows"),
            6,
        ).alias("skew_factor"),
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    salt_col: str,
    n_salts: int = 8,
) -> DataFrame:
    """INNER-join ``big`` with ``small`` on ``on`` with the skew-salting
    rewrite: big rows get salt = md5(salt_col) % n_salts, small rows
    replicate across every salt, and the join key becomes
    (on, salt) — a hot key's rows spread over ``n_salts`` reducers
    instead of one. The RESULT equals the plain inner join exactly
    (same rows, same multiplicity); only the shuffle layout differs.
    ``salt_col`` must be non-null on ``big`` (any row-id column works);
    columns are returned as big's columns then small's non-key columns,
    like a plain ``join(..., on)``."""
    if n_salts < 1:
        raise ValueError("n_salts must be >= 1")
    b = big.withColumn(
        "_salt",
        (hexint15(F.col(salt_col).cast("string")) % F.lit(int(n_salts))).cast(
            "int"
        ),
    )
    salts = big.sparkSession.range(int(n_salts)).select(
        F.col("id").cast("int").alias("_salt")
    )
    s = small.crossJoin(F.broadcast(salts))
    return b.join(s, [on, "_salt"]).drop("_salt")
