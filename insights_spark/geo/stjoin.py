"""Spatiotemporal proximity self-join — pairs of events that are close
in SPACE and TIME simultaneously ("who edited near here, around then":
the co-location primitive behind vandalism-ring detection, disaster-
response coordination views, and dedup of re-submitted edits; reference
rolls up activity by region × month — insights advanced-queries.md — this
is the pair-level operator underneath).

Neither single-dimension bucketing suffices at scale: a busy city cell
holds months of edits (spatial bucket too big), a busy hour spans the
globe (temporal bucket too big). The shuffle key here is the COMPOSITE
(hex cell, time chunk): candidates are replicated to their ring-``rings``
neighbor cells (the within_distance certificate guarantees spatial
completeness — geo/knn.py:certified_res) × their chunk ± 1 (with
chunk = ⌊epoch/τ⌋, any pair with |Δt| ≤ τ shares-or-straddles a chunk
boundary, so query-chunk ∈ {cand-chunk−1, …+1} — the classic interval
trick). Queries are NOT replicated — each query point lives in exactly
one (cell, chunk) bucket, so every pair is examined at most once: no
distinct, no double counting, same argument as the kNN cell join.

Scale posture (100 TB): ONE shuffle on (cell, chunk); replication factor
is ring size × 3 on the candidate side only (21 at rings=1). Bucket
population is events-per-cell-per-τ-window — bounded by LOCAL density ×
τ, not by global density or global history, which is exactly what makes
this survive a 1000× scale-up where the pure spatial join's buckets grow
with total history. Exact predicates (planar dist² ≤ r², |Δt| ≤ τ)
verify inside the bucket join; all arithmetic is integer/IEEE and
reproduced bit-for-bit by the brute-force SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import pin
from . import cells
from .knn import certified_res, dist2


def st_within(
    points: DataFrame,
    radius_deg: float,
    tau_seconds: int,
    id_col: str = "id",
    rings: int = 1,
) -> DataFrame:
    """EXACT space-time pair join: unordered pairs (a, b, dist2, dt_s)
    with planar degree distance ≤ ``radius_deg`` AND |Δts| ≤
    ``tau_seconds``. The resolution is the finest one whose
    ring-``rings`` coverage certifies the radius (smallest complete
    buckets), through the same ``certified_res`` guard as
    within_distance."""
    res = certified_res(radius_deg, rings)
    tau = int(tau_seconds)
    base = pin(points.select(
        F.col(id_col).alias("id"),
        "lon",
        "lat",
        # NTZ has no direct long cast; session TZ is UTC so the hop
        # through TIMESTAMP preserves the instant
        F.col("ts").cast("timestamp").cast("long").alias("_ep"),
    ).withColumn(
        "home_cell",
        cells.hex_udf(res)(F.col("lon"), F.col("lat")),
    ).withColumn(
        "_chunk", F.expr(f"_ep DIV {tau}")
    ))  # encoded once; feeds both join sides

    q = base.select(
        F.col("home_cell").alias("cell"), "_chunk", "id", "lon", "lat", "_ep"
    )
    # HALF-FAN (r6, guide §2.3): the symmetric fan + a<b filter examines
    # every unordered pair twice, once per orientation. Candidates now fan
    # only the lexicographically-positive half of the composite
    # (cell-offset, chunk-offset) space — (o_c > 0) × {-1,0,+1} plus
    # (o_c = 0, o_t = +1) — so any pair with a nonzero composite delta
    # lands in exactly one bucket under exactly one orientation; pairs in
    # the SAME (cell, chunk) bucket come from an un-replicated self-join
    # with the id inequality. Join volume is halved; the output pair set
    # is identical (dist2/dt are symmetric expressions, and a/b are
    # re-canonicalized via least/greatest).
    nside = [
        F.col("id").alias("neighbor_id"),
        F.col("lon").alias("_nlon"),
        F.col("lat").alias("_nlat"),
        F.col("_ep").alias("_nep"),
    ]
    pos = [o for o in cells.hex_ring_offsets(rings) if o > 0]
    cand_cross = base.select(
        F.explode(
            F.when(
                F.col("home_cell").isNotNull(),
                cells.hex_fan(F.col("home_cell"), pos),
            )
        ).alias("cell"),
        F.col("_chunk").alias("_c0"),
        *nside,
    ).select(  # one generator per projection: chunk fan-out goes second
        "cell",
        F.explode(
            F.array(F.col("_c0") - 1, F.col("_c0"), F.col("_c0") + 1)
        ).alias("_chunk"),
        "neighbor_id",
        "_nlon",
        "_nlat",
        "_nep",
    )
    cand_samecell = base.select(
        F.col("home_cell").alias("cell"),
        (F.col("_chunk") + 1).alias("_chunk"),
        *nside,
    )
    dt = F.abs(F.col("_ep") - F.col("_nep"))
    crossed = q.join(
        cand_cross.unionByName(cand_samecell), ["cell", "_chunk"]
    )
    same = q.join(
        base.select(F.col("home_cell").alias("cell"), "_chunk", *nside),
        ["cell", "_chunk"],
    ).filter(F.col("id") < F.col("neighbor_id"))
    return (
        crossed.unionByName(same)
        .withColumn("dist2", dist2())
        .withColumn("dt_s", dt)
        .filter(
            (F.col("dist2") <= F.lit(radius_deg * radius_deg))
            & (F.col("dt_s") <= F.lit(tau))
        )
        .select(
            F.least("id", "neighbor_id").alias("a"),
            F.greatest("id", "neighbor_id").alias("b"),
            "dist2",
            "dt_s",
        )
    )
