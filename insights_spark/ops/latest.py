"""Latest-version dedup — THE decorrelation rewrite of the codebase.

The reference expresses "current state of an element" as a correlated
max-per-group subquery (reference advanced-queries.md:129,143-150, variant
without cutoff at :172,178):

    version = (SELECT max(version) FROM osm_element_history i
               WHERE i.type = o.type AND i.id = o.id
                 AND i.timestamp < cutoff)

The engine rewrites it as a window dedup (SURVEY §2.3 J5): one shuffle on
(type, id), rank by version desc, keep row 1 — deterministic, AQE-skew-safe,
and reusable as the as-of primitive for way-geometry reconstruction and
month-end country insights.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def top_k(df: DataFrame, keys: Sequence[str], order: Sequence[Column | str],
          k: int | Column = 1, rank: str | None = None) -> DataFrame:
    """The one per-key selection rule: rank the rows inside each key by
    `order` (Columns, or names for ascending; put a unique tiebreak last so
    the pick is deterministic) and keep the first `k` rows of each key.

    `k` may be a Column (a per-row quota, as in ``mix_sources``). The
    rank survives as column `rank` only when a name is given. Plan: one
    `row_number()` window over `keys`, one shuffle on them; with a literal
    `k` Spark also puts a WindowGroupLimit under the window.
    """
    col = rank or "_rk"
    w = Window.partitionBy(*keys).orderBy(*order)
    out = df.withColumn(col, F.row_number().over(w)).filter(F.col(col) <= k)
    return out if rank else out.drop(col)


def latest_version(
    df: DataFrame,
    keys: tuple[str, ...] = ("type", "id"),
    version_col: str = "version",
    cutoff_col: str = "timestamp",
    cutoff=None,
) -> DataFrame:
    """Keep the max-version row per key, optionally as-of a cutoff timestamp.

    `cutoff` may be a literal/Column; rows with cutoff_col >= cutoff are
    excluded BEFORE ranking (strict '<', matching the reference's
    ``timestamp < '{by_month}'``). Pushdown-friendly: the cutoff filter sits
    under the window so Parquet row-group skipping applies.
    """
    if cutoff is not None:
        df = df.filter(F.col(cutoff_col) < cutoff)
    return top_k(df, keys, [F.desc(version_col)])


def scalar_pick(
    df: DataFrame,
    group_keys: tuple[str, ...],
    value_col: str,
    order_col: str,
) -> DataFrame:
    """J4 — deterministic replacement for correlated ``(SELECT v ... LIMIT 1)``.

    The reference's username lookup (advanced-queries.md:53,73-74) uses
    LIMIT 1 with no ORDER BY — nondeterministic. Engine rule (SURVEY §7):
    the value from the row with MAX(order_col) wins. Returns one row per
    group: (group_keys..., value_col).
    """
    return top_k(df, group_keys, [F.desc(order_col)]).select(*group_keys, value_col)


def scd2_intervals(df: DataFrame, version_col: str = "version") -> DataFrame:
    """SCD Type-2 history build: per-version validity intervals.

    The reference keeps element history as one row per version and answers
    "state as of T" with a per-query window (latest_version); the warehouse
    twin of that is materializing [valid_from, valid_to) per version once,
    so as-of lookups become a range predicate instead of a window. Per key
    ordered by version: valid_from = own timestamp, valid_to = next
    version's timestamp (NULL = current), is_current = 1 on the open row.

    Plan shape: ONE window over the key partition — the same id-keyed
    shuffle latest_version already pays; no join, no second pass. At 100 TB
    the history table is hash-partitioned by (type, id), so the sort is
    partition-local and AQE sizes the exchange.

    Requires version to be unique per key (the caller's contract, same as
    latest_version's deterministic pick); ties would make lead()
    nondeterministic.
    """
    w = Window.partitionBy("type", "id").orderBy(version_col)
    return (
        df.withColumn("valid_from", F.col("timestamp"))
        .withColumn("valid_to", F.lead("timestamp").over(w))
        .withColumn(
            "is_current", F.when(F.col("valid_to").isNull(), 1).otherwise(0)
        )
    )


def scd2_merge(scd2: DataFrame, batch: DataFrame) -> DataFrame:
    """Incremental SCD2 maintenance: apply a batch of NEW versions to a
    stored SCD2 table without re-reading raw history.

    The trick making this cheap: an SCD2 row is self-contained —
    valid_from IS its version's timestamp — so the version rows of any
    key can be recovered from the dimension table itself. The merge is
    then: keys untouched by the batch pass through without a shuffle of
    their history; touched keys rebuild from (their stored rows ∪ batch)
    through the SAME window as scd2_intervals. That makes the result
    EXACT under arbitrary interleaving (late/out-of-order versions
    splice into the middle of a key's timeline, closing and re-opening
    intervals correctly) — not just under append-at-the-end arrival.

    Replay-idempotent: a version already present dedups before the
    rebuild (exactly-once convergence, same contract as the upsert
    sinks). Cost ∝ touched keys + batch, never table size: one semi- and
    one anti-join on the key (broadcast when the batch key set is small)
    plus the window over touched histories only.

    Keys are (type, id). Output schema = canonical SCD2: (type, id,
    version, valid_from, valid_to, is_current).
    """
    cols = ["type", "id", "version", "valid_from", "valid_to", "is_current"]
    tk = batch.select("type", "id").distinct()
    untouched = scd2.join(tk, ["type", "id"], "left_anti").select(*cols)
    old_versions = scd2.join(tk, ["type", "id"], "left_semi").select(
        "type", "id", "version", F.col("valid_from").alias("timestamp")
    )
    hist = (
        old_versions.unionByName(batch.select("type", "id", "version", "timestamp"))
        .dropDuplicates(["type", "id", "version"])
    )
    rebuilt = scd2_intervals(hist).select(*cols)
    return untouched.unionByName(rebuilt)


def scd2_lookup(
    facts: DataFrame,
    scd2: DataFrame,
    keys: tuple[str, ...],
    attrs: tuple[str, ...] = (),
) -> DataFrame:
    """Enrich facts with the dimension state AS OF each fact's event time
    — the payoff of materializing SCD2: the lookup is a key equi-join
    plus a [valid_from, valid_to) range predicate, NOT a per-query
    window over version history (latest_version) or a sort-merge as-of
    (asof_join). Each fact matches AT MOST one interval (intervals tile
    the key's timeline gaplessly — pytest-pinned in scd2_intervals), so
    the join never fans out.

    Plan shape: ONE equi-join on the key (the range predicate rides as a
    post-join filter Spark evaluates inside the join), co-partitioned
    with however the dimension is stored; broadcast when the dimension
    fits. Facts before the key's first version (or with no key) keep
    NULL attrs — left join, never dropped.
    """
    dim = scd2.select(
        *[F.col(k).alias(f"_dk_{k}") for k in keys],
        F.col("valid_from").alias("_vf"),
        F.col("valid_to").alias("_vt"),
        *[F.col(a) for a in attrs],
    )
    cond = F.lit(True)
    for k in keys:
        cond = cond & (F.col(k) == F.col(f"_dk_{k}"))
    cond = cond & (F.col("ts") >= F.col("_vf")) & (
        F.col("_vt").isNull() | (F.col("ts") < F.col("_vt"))
    )
    return facts.join(dim, cond, "left").drop(
        *[f"_dk_{k}" for k in keys], "_vf", "_vt"
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    right_cols: list[str] | None = None,
) -> DataFrame:
    """Generic two-table AS-OF join: every left row gets the LATEST right
    row with ``right.ts <= left.ts`` for the same key (NULLs if none) —
    the telemetry/market-data join Spark has no built-in for.

    Physical strategy (the scalable one): UNION the two streams with a
    side tag, ONE window pass per key ordered by (ts, side, right-order):
    ``last_value(ignorenulls)`` of each right attribute at a left row is
    exactly its as-of match. One shuffle on the key, state bounded by the
    window sort — never the per-left-row correlated scan the naive SQL
    runs (the reference's correlated max-version subqueries are the
    single-table special case, advanced-queries.md:129,143-150; J5's
    ``latest_version`` is this operator with left == right).

    Ties: a right row AT the left timestamp matches (inclusive ≤, right
    side sorts before left at equal ts); equal right timestamps resolve
    by the first right column ascending — the LARGEST value wins (put a
    version/id column first).
    """
    if right_cols is not None and not right_cols:
        raise ValueError("asof_join: right_cols, when passed, must be non-empty")
    rcols = (list(right_cols) if right_cols is not None
             else [c for c in right.columns if c not in (on, "ts")])
    if not rcols:
        # right carries nothing beyond (key, ts): surface the matched right
        # timestamp itself so the join still returns something useful, under
        # a name that cannot collide with a left column
        right = right.withColumn("_asof_ts", F.col("ts"))
        rcols = ["_asof_ts"]
    # equal-ts tiebreak: first right attribute — never an IndexError
    # (and the column-order dependence is documented above)
    ordc = rcols[0]
    # the right attributes travel as ONE struct: last(ignorenulls) must
    # pick the whole latest right ROW — per-attribute lasts would
    # resurrect an older non-null value wherever the matched row holds a
    # legitimate NULL attribute
    r = right.select(
        F.col(on).alias("_k"),
        F.col("ts").alias("_ts"),
        F.lit(0).alias("_side"),
        F.col(ordc).alias("_rord"),
        F.struct(*[F.col(c) for c in rcols]).alias("_rrow"),
    )
    lcols = left.columns
    l = left.select(
        F.col(on).alias("_k"),
        F.col("ts").alias("_ts"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(r.schema["_rord"].dataType).alias("_rord"),
        F.lit(None).cast(r.schema["_rrow"].dataType).alias("_rrow"),
        F.struct(*lcols).alias("_lrow"),
    )
    r = r.withColumn("_lrow", F.lit(None).cast(l.schema["_lrow"].dataType))
    w = (
        Window.partitionBy("_k")
        .orderBy(F.asc("_ts"), F.asc("_side"), F.asc("_rord"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = r.unionByName(l).select(
        "_side", "_lrow",
        F.last("_rrow", ignorenulls=True).over(w).alias("_rrow"),
    )
    out = merged.filter(F.col("_side") == 1)
    return out.select(
        *[F.col("_lrow")[c].alias(c) for c in lcols],
        *[F.col("_rrow")[c].alias(c) for c in rcols],
    )
