"""hstore-equivalent tag-map operators (SURVEY §2.2 P1-P12, §2.7 U1).

The reference stores OSM tags as Postgres ``hstore``; the engine uses
``MapType(string,string)``. Every operator here is a pure Column expression
— JVM-side, codegen'd, pushdown-friendly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# P9 delimiter classes — NOTE the two classes differ on purpose
# (reference changesetmd.py:75-77): the `hashtags` tag splits on [\s,;],
# comment text splits on [\s;,.@].
HASHTAGS_DELIMS = r"[\s,;]"
COMMENT_DELIMS = r"[\s;,.@]"


def tag_exists(tags: Column, key: str) -> Column:
    """P1 — hstore ``tags ? 'k'`` (key present, even with NULL-ish value).

    ``element_at(tags,k).isNotNull()`` would be wrong for present-but-null
    values; ``map_contains_key`` is the faithful translation
    (reference changesetStats.py:62-67).
    """
    return F.map_contains_key(tags, F.lit(key))


def tag_get(tags: Column, key: str) -> Column:
    """P2 — hstore ``tags -> 'k'`` (value or NULL; reference README.md:114)."""
    return F.element_at(tags, F.lit(key))


def tokenize(col: Column, delims: str) -> Column:
    """P9 core — regexp split → trim → keep '#'-prefixed tokens
    (reference changesetmd.py:72-81)."""
    tok = F.explode(F.split(col, delims))
    return tok  # caller trims/filters — explode must sit in a select


def hashtag_tokens(df: DataFrame, col: str, delims: str) -> DataFrame:
    """Distinct '#'-tokens of one source column."""
    return (
        df.select(F.explode(F.split(F.col(col), delims)).alias("_tok"))
        .select(F.trim(F.col("_tok")).alias("hashtag"))
        .filter(F.col("hashtag").startswith("#"))
    )


def hashtag_vocabulary(changesets: DataFrame) -> DataFrame:
    """U1/A9 — distinct hashtag set from both tag sources
    (reference changesetmd.py:67-88): UNION of tokenized `hashtags` tag
    (split [\\s,;]) and `comment` tag (split [\\s;,.@])."""
    from_hashtags = hashtag_tokens(
        changesets.select(tag_get(F.col("tags"), "hashtags").alias("src"))
        .filter(F.col("src").isNotNull()),
        "src",
        HASHTAGS_DELIMS,
    )
    from_comment = hashtag_tokens(
        changesets.select(tag_get(F.col("tags"), "comment").alias("src"))
        .filter(F.col("src").isNotNull()),
        "src",
        COMMENT_DELIMS,
    )
    return from_hashtags.union(from_comment).distinct()
