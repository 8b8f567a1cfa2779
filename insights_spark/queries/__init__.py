"""Query registry: every registered query is a Spark builder paired with
the DuckDB SQL that checks it.

A query is declared once, in the module of its domain (``geo``, ``text``,
``ops``), with its oracle SQL in the decorator::

    @query("my_query", headline=True, oracle="SELECT ... FROM events")
    def _q_my_query(spark, sf_dir):
        return ...

An oracle that another oracle composes is a module constant defined right
above its query. ``__spark_entry__`` builds the driver contract
(``queries()``, ``oracle_sql()``) from :data:`REGISTRY`; ``bench.py``
reads the headline flag and the sf1 exclusions from it.

Cross-engine exactness rules used throughout (so value-hashes match):
- integer arithmetic everywhere possible; DuckDB SUM(int) returns HUGEINT,
  so every oracle sum is CAST(... AS BIGINT).
- double expressions only where both engines evaluate the identical IEEE
  expression tree (ratios of ints, squared distances, sequential dot-product
  folds) — never engine-reassociated SUM(double).
- every computed column aliased identically on both sides.
- deterministic tie-breaks (rank by (score, id)) everywhere top-k appears.

Synthetic geo derivation (documented, same formula both sides):
    lon = mod(key * 7919,  360000) / 1000.0 - 180.0
    lat = mod(key * 104729, 170000) / 1000.0 - 85.0
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    """One registered query.

    ``oracle`` is the DuckDB SQL over the same parquet tables; ``None``
    only for the rows-only HLL queries, whose docstrings say why.
    ``headline`` puts the query in the ``bench.py`` suite: the scale-path
    variants, not the exact O(n²) baselines that exist for the correctness
    gate. ``sf1_skip`` names why the query is left out of the bench's sf1
    scale step (its output or candidate volume is super-linear by
    construction).
    """

    name: str
    build: Builder
    oracle: str | None
    headline: bool = False
    sf1_skip: str | None = None


REGISTRY: list[Query] = []


def query(name: str, *, oracle: str | None, headline: bool = False,
          sf1_skip: str | None = None) -> Callable[[Builder], Builder]:
    """Register the decorated builder as ``name``; returns it unchanged, so
    decorators stack to register one builder under several names."""

    def register(build: Builder) -> Builder:
        if any(q.name == name for q in REGISTRY):
            raise ValueError(f"query {name!r} is already registered")
        REGISTRY.append(Query(name, build, oracle, headline, sf1_skip))
        return build

    return register


# registration order follows this import: geo, ops, text
from insights_spark.queries import geo, ops, text  # noqa: E402,F401,I001
