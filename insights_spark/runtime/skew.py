"""Skew handling: salting helpers + AQE posture (SURVEY §4 X10).

The reference suffers skew silently (mega-changesets, README.md:77; the
9.5 h Indonesia load, README.md:193). The engine's defense is AQE: skew-join
splitting is always on (session.py) and free at runtime. The two explicit
salted paths below are physical rewrites of a plain aggregate and a plain
join, each checked against the unsalted oracle by a registered query:

- `salted_agg`: two-level aggregation — partial agg on (key, salt), then
  final on key.
- `salted_join_skewed`: the fact side salted, the dim side replicated per
  salt.

Salt = pmod(hash(disambiguator), 16): deterministic, no RNG, so
retries/resumes produce identical partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_BUCKETS = 16


def with_salt(df: DataFrame, cols: list[str], buckets: int) -> DataFrame:
    return df.withColumn("_salt", F.pmod(F.hash(*cols), F.lit(buckets)))


def salted_agg(
    df: DataFrame,
    group_cols: list[str],
    aggs: dict[str, Column],
    salt_source_cols: list[str],
) -> DataFrame:
    """Two-level aggregation for SUM/COUNT-decomposable aggregates.

    `aggs` maps output name → first-level aggregate column; the second
    level re-SUMs the partials. (countDistinct is NOT decomposable this
    way — use the dedicated distinct path.)
    """
    salted = with_salt(df, salt_source_cols, _BUCKETS)
    partial = salted.groupBy(*group_cols, "_salt").agg(
        *[c.alias(name) for name, c in aggs.items()]
    )
    return partial.groupBy(*group_cols).agg(
        *[F.sum(name).alias(name) for name in aggs]
    )


def salted_join_skewed(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_source_cols: list[str],
    how: str = "inner",
) -> DataFrame:
    """Join against a skewed key with the FACT side salted and the DIM
    side replicated once per salt — one hot key's rows spread across
    16 tasks instead of one straggler.

    The dim replication factor is exactly 16 (explode over a
    literal sequence — no shuffle added on the dim side when it broadcasts;
    on a shuffle join the dim side is small by premise). Works for
    `inner`/`left_semi`/`left_anti`: a fact row carries ONE salt value and
    the dim carries ALL of them, so (key, salt) matches iff key matches.
    The salt column is internal and dropped from the result.
    """
    salted = with_salt(fact, salt_source_cols, _BUCKETS)
    rep = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(_BUCKETS - 1)))
    ).withColumn("_salt", F.col("_salt").cast("int"))
    out = salted.join(rep, [key, "_salt"], how)
    return out.drop("_salt")
