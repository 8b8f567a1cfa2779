"""Interval-overlap join — the time-domain sibling of the spatial
within-distance range join (geo/knn.py).

Spark has no range-join operator; a naive theta-join
``l.start <= r.end AND r.start <= l.end`` compiles to a broadcast
nested-loop or cartesian plan — all-pairs work at scale. The standard
rewrite (same algebra as the hex-cell bucketing): CHUNK time into
fixed-length buckets, replicate each interval into every chunk it
touches, equi-join on the chunk id, verify the exact overlap predicate,
and de-duplicate pairs that share several chunks.

Completeness is mathematical, not tuned: two overlapping intervals both
contain the instant max(l.start, r.start), so both are replicated into
that instant's chunk and meet there — every true pair survives, on ANY
chunk length. Chunk length trades replication factor (interval span /
chunk) against bucket width (chunk / typical density): pick it near the
median interval length.

The overlap verification compares the RAW timestamps (exact microsecond
integers on both engines); chunk ids exist only on the Spark side, so
the oracle is the plain brute-force range join — bucketing must be
invisible in the result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def auto_chunk_seconds(
    left: DataFrame,
    right: DataFrame,
    left_cols: tuple[str, str, str] = ("id", "start_ts", "end_ts"),
    right_cols: tuple[str, str, str] = ("id", "start_ts", "end_ts"),
) -> int:
    """Chunk length ≈ the MEDIAN interval span over both inputs — the
    tradeoff point the module docstring documents: at chunk = median span,
    the typical row replicates into ~2 chunks (span/chunk + 1) while the
    bucket width stays at the density scale of the data. ONE cheap
    mergeable aggregate (approx median over the unioned spans); degenerate
    (end < start) intervals are excluded, and the result clamps to ≥ 1 s.
    """

    def spans(df, cols):
        _, s, e = cols
        return df.select(
            (F.col(e).cast("timestamp").cast("long")
             - F.col(s).cast("timestamp").cast("long")).alias("_span")
        ).filter(F.col("_span") >= 0)

    med = (
        spans(left, left_cols).unionByName(spans(right, right_cols))
        .agg(F.percentile_approx("_span", F.lit(0.5), F.lit(10000)).alias("m"))
        .first()["m"]
    )
    return max(int(med or 0), 1)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    left_cols: tuple[str, str, str] = ("id", "start_ts", "end_ts"),
    right_cols: tuple[str, str, str] = ("id", "start_ts", "end_ts"),
) -> DataFrame:
    """Pairs (a, b) whose [start, end] intervals overlap (inclusive ends).

    Output: (a, b, a_start, b_start) — one row per overlapping pair.
    One shuffle keyed on the chunk id; replication factor per row =
    ceil(interval length / chunk_seconds) + 1, with the chunk length from
    `auto_chunk_seconds` (≈ median span); results are chunk-size
    invariant. Degenerate (end < start) intervals never match anything.
    """
    chunk_seconds = auto_chunk_seconds(left, right, left_cols, right_cols)
    lid, ls, le = left_cols
    rid, rs, re_ = right_cols

    def chunked(df, idc, sc, ec, side):
        sec_s = F.col(sc).cast("timestamp").cast("long")
        sec_e = F.col(ec).cast("timestamp").cast("long")
        c0 = F.floor(sec_s / chunk_seconds)
        c1 = F.floor(sec_e / chunk_seconds)
        # empty-interval rule must be EXPLICIT (raw-timestamp comparison):
        # relying on c1 < c0 to drop end<start rows is chunk-size-dependent
        # — a coarse chunk puts both ends in one bucket and the degenerate
        # row would match (caught by the multi-chunk brute-force test)
        df = df.filter(F.col(ec) >= F.col(sc))
        return df.select(
            F.col(idc).alias(f"{side}_id"),
            F.col(sc).alias(f"{side}_start"),
            F.col(ec).alias(f"{side}_end"),
            F.explode(
                F.when(c1 >= c0, F.sequence(c0, c1))
                .otherwise(F.array().cast("array<bigint>"))
            ).alias("chunk"),
        )

    l = chunked(left, lid, ls, le, "a")
    r = chunked(right, rid, rs, re_, "b")
    overlap = (F.col("a_start") <= F.col("b_end")) & (
        F.col("b_start") <= F.col("a_end")
    )
    # canonical-chunk rule instead of distinct(): a pair replicated into
    # several shared chunks emits ONLY from the chunk containing the
    # overlap's start (max of the two starts) — exactly-once by
    # construction, saving a full dedup shuffle on the pair set
    canonical = (
        F.floor(
            F.greatest(F.col("a_start"), F.col("b_start"))
            .cast("timestamp").cast("long") / chunk_seconds
        )
        == F.col("chunk")
    )
    return (
        l.join(r, "chunk")
        .filter(overlap & canonical)
        .select(
            F.col("a_id").alias("a"), F.col("b_id").alias("b"),
            "a_start", "b_start",
        )
    )


def concurrency_sweep(intervals: DataFrame) -> DataFrame:
    """Sweep-line concurrency over CLOSED intervals [start, end] — the
    "how many sessions were active at once" primitive behind peak-load
    sizing and capacity planning (the classic event-boundary sweep,
    public textbook material).

    One row per distinct boundary timestamp t:

    - ``n_starts`` / ``n_ends``     boundaries at exactly t
    - ``concurrent``                #{i : start_i ≤ t ≤ end_i} — ends at
                                    t still count (closed intervals, the
                                    sessionize output contract where
                                    session_end is the last event's ts)
    - ``concurrent_after``          #{i : start_i ≤ t < end_i} — the
                                    level that persists after t; its max
                                    equals the half-open-reading peak

    Both derive from ONE pair of global running sums: concurrent =
    cum_starts(≤t) − cum_ends(<t) = cs − (ce − n_ends); after = cs − ce.
    The peak is ``max(concurrent)`` downstream; single-point intervals
    (start == end) contribute a +1/−1 at the same t and are counted at
    exactly that instant.

    Scale posture (100 TB): boundaries roll up by timestamp FIRST (one
    decomposable shuffle — the output is bounded by DISTINCT boundary
    instants, not intervals), then both running sums ride the shared
    two-phase distributed prefix scan (text/pack.py:global_cumsum_multi)
    in ONE ordered exchange — no single-partition window anywhere
    (suite-wide plan test). All integer, engine-exact.
    """
    from insights_spark.text.pack import global_cumsum_multi

    b = intervals.select(
        F.col("session_start").alias("t"),
        F.lit(1).cast("long").alias("_s"),
        F.lit(0).cast("long").alias("_e"),
    ).unionByName(
        intervals.select(
            F.col("session_end").alias("t"),
            F.lit(0).cast("long").alias("_s"),
            F.lit(1).cast("long").alias("_e"),
        )
    )
    g = b.groupBy("t").agg(
        F.sum("_s").alias("n_starts"),
        F.sum("_e").alias("n_ends"),
    )
    c = global_cumsum_multi(
        g, ["n_starts", "n_ends"], [F.asc("t")], ["_cs", "_ce"]
    )
    return c.select(
        "t",
        "n_starts",
        "n_ends",
        (F.col("_cs") - (F.col("_ce") - F.col("n_ends")))
        .cast("long").alias("concurrent"),
        (F.col("_cs") - F.col("_ce")).cast("long")
        .alias("concurrent_after"),
    )
