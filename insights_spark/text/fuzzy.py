"""Fuzzy string self-join via deletion neighborhoods (FastSS — public
algorithm, Bocek et al. 2007): all pairs of rows whose strings are within
edit distance 1, WITHOUT an all-pairs comparison.

The near-identical-title problem every crawl dedup hits ("Breaking news:
..." vs "Breaking news:  ..." one keystroke apart) sits between exact
dedup (hash equality — misses them) and MinHash (gram sets of two strings
one edit apart are nearly identical, but so are many unrelated short
strings — wrong tool at title length). Deletion neighborhoods solve it
exactly: for k = 1, the neighborhood of s is {s} ∪ {s with one character
deleted}, and two strings with levenshtein(a, b) ≤ 1 ALWAYS share a
neighborhood member (equal: s itself; substitution at i: both delete
position i; insertion/deletion: the longer one deletes the extra
character). So a variant-keyed equi-join yields a provably complete
candidate set, and the built-in ``levenshtein`` (same DP in Spark and
DuckDB) verifies exactly.

Scale posture (100 TB): ONE shuffle keyed on the variant string;
per-string fan-out is length+1 (distinct-deduped), so candidate volume
is Σ bucket², bounded by how many strings actually collide on a variant
— never n². The verify is a codegen'd JVM expression. A pair sharing
several variants is collapsed by a groupBy on the (a, b) key BEFORE
emitting, the same canonical-bucket discipline the LSH joins use.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def deletion_variants(s: Column) -> Column:
    """{s} ∪ {s minus one character}, distinct — the k=1 FastSS key set,
    as one codegen'd transform over character positions."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.length(s)),
            lambda i: F.concat(
                s.substr(F.lit(1), i), s.substr(i + 2, F.length(s))
            ),
        )
    )


def fuzzy_pairs(df: DataFrame) -> DataFrame:
    """Unordered pairs (a, b, dist) with levenshtein(str_a, str_b) ≤ 1
    and a < b. NULL/empty strings produce no variants beyond themselves
    and join only with their exact equals."""
    v = df.select(
        F.col("doc_id").alias("a"),
        F.col("title").alias("_sa"),
        F.explode(deletion_variants(F.col("title"))).alias("_var"),
    )
    w = v.select(
        F.col("a").alias("b"),
        F.col("_sa").alias("_sb"),
        F.col("_var"),
    )
    return (
        v.join(w, "_var")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")  # collapse multi-variant hits before emitting
        .agg(F.levenshtein(F.first("_sa"), F.first("_sb")).alias("dist"))
        .filter(F.col("dist") <= 1)
        .select("a", "b", "dist")
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    key_col: str,
) -> DataFrame:
    """Sorted-neighborhood dedup blocking (Hernández & Stolfo SIGMOD'95,
    public) — the third blocking family next to MinHash-LSH
    (probabilistic, set similarity) and FastSS deletion variants (exact,
    edit distance ≤ k): sort every record by a blocking key, candidates
    are the pairs within 4 positions. The classic
    merge/purge shape for messy entity data whose errors DON'T move the
    sort key far (trailing typos, suffix noise); its known blind spot —
    a typo in the key's first character teleports the record — is why
    production systems multi-pass with rotated keys (compose this
    operator per key and union).

    Output: (a, b, dist — rank distance 1..4, lev — exact
    Levenshtein between the two keys, JVM-side) with rank(a) < rank(b).
    A downstream dedup keeps pairs with small ``lev``; emitting the
    distance instead of a verdict keeps the operator a pure
    blocking+measure stage.

    Scale posture (100 TB): the global sort rank rides the shared
    two-phase distributed prefix scan (text/pack.py:global_cumsum — NO
    single-partition window); the band pairing is a 4-way explode + ONE
    equi-join on the target rank — candidates are exactly n·4, NEVER
    quadratic, and skew-free by construction (ranks are
    unique). Levenshtein evaluates JVM-side on the bounded candidate
    set only.
    """
    from .pack import global_cumsum

    keyed = df.select(
        F.col("doc_id").alias("id"),
        F.col(key_col).alias("key"),
        F.lit(1).cast("long").alias("_one"),
    )
    ranked = global_cumsum(
        keyed, "_one", [F.asc("key"), F.asc("id")], "rank"
    ).drop("_one")
    fan = ranked.select(
        F.col("id").alias("a"),
        F.col("key").alias("_ka"),
        F.col("rank").alias("_ra"),
        F.explode(
            F.sequence(F.col("rank") + 1, F.col("rank") + F.lit(4))
        ).alias("_target"),
    )
    right = ranked.select(
        F.col("rank").alias("_target"),
        F.col("id").alias("b"),
        F.col("key").alias("_kb"),
    )
    return fan.join(right, "_target").select(
        "a",
        "b",
        (F.col("_target") - F.col("_ra")).cast("long").alias("dist"),
        F.levenshtein(F.col("_ka"), F.col("_kb")).cast("long")
        .alias("lev"),
    )
