"""Skew handling: salting helpers + AQE posture (SURVEY §4 X10).

The reference suffers skew silently (mega-changesets, README.md:77; the
9.5 h Indonesia load, README.md:193). The engine's layered defense:

1. AQE skew-join splitting is always on (session.py) — free at runtime.
2. Aggregations over a skewed key use two-level salted aggregation
   (`salted_agg`) — partial agg on (key, salt) then final on key.
3. Joins against a skewed build side replicate the small side per salt
   (`salted_join_keys`).

Salt = pmod(hash(disambiguator), buckets): deterministic, no RNG, so
retries/resumes produce identical partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, cols: list[str], buckets: int) -> DataFrame:
    return df.withColumn("_salt", F.pmod(F.hash(*cols), F.lit(buckets)))


def salted_agg(
    df: DataFrame,
    group_cols: list[str],
    aggs: dict[str, Column],
    salt_source_cols: list[str],
    buckets: int = 16,
) -> DataFrame:
    """Two-level aggregation for SUM/COUNT-decomposable aggregates.

    `aggs` maps output name → first-level aggregate column; the second
    level re-SUMs the partials. (countDistinct is NOT decomposable this
    way — use the dedicated distinct path.)
    """
    salted = with_salt(df, salt_source_cols, buckets)
    partial = salted.groupBy(*group_cols, "_salt").agg(
        *[c.alias(name) for name, c in aggs.items()]
    )
    return partial.groupBy(*group_cols).agg(
        *[F.sum(name).alias(name) for name in aggs]
    )


def top_keys(df: DataFrame, key_cols: list[str], threshold_rows: int) -> DataFrame:
    """Keys whose row count exceeds the threshold — the explicit hot list.

    At 100 TB you don't guess hot keys; you measure them with one cheap
    agg (often on a sample) and route only those through the salted path.
    """
    return (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > threshold_rows)
        .select(*key_cols)
    )


def salted_group_apply(
    df: DataFrame,
    key_cols: list[str],
    partial_fn,
    partial_schema: str,
    merge_aggs: dict[str, Column],
    salt_source_cols: list[str],
    buckets: int = 16,
    hot_threshold_rows: int | None = None,
) -> DataFrame:
    """Two-level ``applyInPandas`` for per-key Python kernels — the
    aggregation class where salting is genuinely load-bearing.

    Decomposable JVM aggregates rarely skew: map-side combine collapses a
    hot key to one partial row per map task before the shuffle. A custom
    Arrow kernel (geometry construction, per-changeset stats — the
    reference's mega-changeset profile, README.md:77,193) has NO map-side
    combine, and AQE cannot split an AGGREGATION partition the way it
    splits a skewed join side — so one mega-key serializes its entire row
    set through ONE Python worker. Here the kernel runs per (key, salt):
    the hot key streams through `buckets` workers in parallel, and a cheap
    JVM-side second level merges the bounded partials (one row per (key,
    salt)). Decomposability of the kernel is the caller's contract, same
    as `salted_agg`.

    `partial_fn(pdf) -> pdf` must emit one row per group carrying the key
    columns plus partial stats; `merge_aggs` maps output name → second-
    level aggregate over those partial columns.

    SALT ONLY THE HOT KEYS (`hot_threshold_rows`): blanket salting
    multiplies the GROUP COUNT by `buckets`, and applyInPandas pays a
    fixed per-group cost (Arrow slice + pandas frame) — on a
    many-small-keys profile that overhead dwarfs the straggler it removes
    (measured 27× SLOWER than plain at 10k cold keys × 32 salts,
    bench/skew.py). With a threshold, keys are first measured (`top_keys`,
    one cheap count — at 100 TB you measure hot keys, never guess) and
    only keys above it get a real salt; cold keys keep salt 0, so the
    group count stays ~|keys| + buckets·|hot keys|.
    """
    salted = with_salt(df, salt_source_cols, buckets)
    if hot_threshold_rows is not None:
        hot = top_keys(df, key_cols, hot_threshold_rows).withColumn(
            "_hot", F.lit(1)
        )
        salted = (
            salted.join(F.broadcast(hot), key_cols, "left")
            .withColumn(
                "_salt",
                F.when(F.col("_hot").isNotNull(), F.col("_salt"))
                .otherwise(F.lit(0)),
            )
            .drop("_hot")
        )
    partial = salted.groupBy(*key_cols, "_salt").applyInPandas(
        partial_fn, partial_schema
    )
    return partial.groupBy(*key_cols).agg(
        *[c.alias(name) for name, c in merge_aggs.items()]
    )


def salted_join_skewed(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_source_cols: list[str],
    buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Join against a skewed key with the FACT side salted and the DIM
    side replicated once per salt — one hot key's rows spread across
    `buckets` tasks instead of one straggler.

    The dim replication factor is exactly `buckets` (explode over a
    literal sequence — no shuffle added on the dim side when it broadcasts;
    on a shuffle join the dim side is small by premise). Works for
    `inner`/`left_semi`/`left_anti`: a fact row carries ONE salt value and
    the dim carries ALL of them, so (key, salt) matches iff key matches.
    The salt column is internal and dropped from the result.
    """
    salted = with_salt(fact, salt_source_cols, buckets)
    rep = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)))
    ).withColumn("_salt", F.col("_salt").cast("int"))
    out = salted.join(rep, [key, "_salt"], how)
    return out.drop("_salt")
