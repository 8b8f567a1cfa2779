"""Weighted (PPS) corpus sampling — integer-exact systematic sampling.

Drawing a training subset with inclusion probability proportional to
size (token/char count) is how a pipeline downsamples a corpus while
preserving its token mix — uniform doc sampling over-represents short
docs in token space. The classic A-ES / exponential-race algorithms
need `u^(1/w)` or `-ln(u)/w` keys, i.e. libm `pow`/`log`, whose final
ulp differs across engines (the repo-wide rule that already steered
`source_drift` to χ² instead of KL). This module uses **systematic PPS
sampling** (Madow 1949, public textbook method), which is pure integer
arithmetic and therefore bit-identical on any engine:

1. lay the items on a line in a content-stable pseudo-random order
   (multiplicative id hash — the `per_source_cap` idiom: survives
   repartitioning, re-ingestion, appends), each item occupying a
   segment of length `w_i`;
2. drop `n` equally-spaced grid points (spacing `W/n`) on the line;
3. select every item whose segment contains a grid point. An item with
   `w_i ≥ W/n` is ALWAYS selected (its segment cannot dodge the grid)
   — the defining PPS property.

Selected-count per item = ⌊c_i·n/W⌋ − ⌊(c_i−w_i)·n/W⌋ (c_i = inclusive
prefix sum of weights). The products reach `W·n` (~10²⁰ at a 10¹³-token
corpus × 10⁶ samples), beyond int64 — they are computed as
DECIMAL(38,0), and the floor-quotient comparison is rewritten mod-only
because **Spark's `DIV` on DECIMAL(38,0) silently wraps to BIGINT**
(measured in-sandbox; `pmod` is exact):

    ⌊a/W⌋ > ⌊b/W⌋  ⇔  (a − b) > pmod(a,W) − pmod(b,W)      (a ≥ b ≥ 0)

Scale shape: the global prefix sum rides the shared two-phase
distributed scan (`text.pack.global_cumsum` — range partition → local
cumsum → bounded totals collect → broadcast offsets; never a
single-partition window), the total `W` is a one-row broadcast, and the
selection itself is a map-only column predicate. One exchange
end-to-end at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from insights_spark.text.clean import id_hash
from insights_spark.text.pack import global_cumsum

_DEC = "decimal(38,0)"


def pps_sample(docs: DataFrame, n: int) -> DataFrame:
    """Select ~`n` docs with probability proportional to `n_chars`.

    Exactly `n` grid points are consumed; an item heavy enough to cover
    several grid points (w_i ≥ 2·W/n) is still returned once (sampling
    WITHOUT replacement), so the returned count can fall below `n` in
    heavy-tailed corpora — the standard systematic-PPS behaviour, and
    the honest one (duplicating a training doc is never wanted).

    Rows with `n_chars` ≤ 0 are excluded (zero-length docs carry no
    sampling mass). Output: the input columns of the selected docs,
    unchanged. Deterministic and partitioning-invariant: the order key
    is a content-stable id hash with the id itself as tiebreak.
    """
    pos = docs.filter(F.col("n_chars") > 0)
    tagged = pos.withColumn("_h", id_hash(F.col("doc_id"), 29, 1 << 31))
    cum = global_cumsum(
        tagged, "n_chars", [F.col("_h"), F.col("doc_id")], "_c"
    )
    total = cum.agg(F.max("_c").cast(_DEC).alias("_W"))
    a = F.col("_c").cast(_DEC) * F.lit(n)
    b = (F.col("_c") - F.col("n_chars")).cast(_DEC) * F.lit(n)
    keep = (F.col("n_chars").cast(_DEC) * F.lit(n)) > (
        F.pmod(a, F.col("_W")) - F.pmod(b, F.col("_W"))
    )
    out_cols = docs.columns
    return (
        cum.crossJoin(F.broadcast(total))  # one-row total, broadcast NLJ
        .filter(keep)
        .select(*out_cols)
    )
