"""Column profiling — the data-quality sweep a warehouse load runs after
every ingest (the reference eyeballs row counts per batch, insights.py's
per-chunk logging; this is the set-based engine twin).

One aggregation pass computes per-column null counts, distinct counts and
min/max; the single 1-row result is then exploded to one row per column —
no second scan, no per-column jobs. Distinct counts are EXACT (multiple
count-distincts compile to one Expand + shuffle — rows × #cols, the
documented cost), so the oracle compares them bit for bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType


def column_profile(df: DataFrame) -> DataFrame:
    """Profile every column: (col_name, n_rows, n_null, n_distinct, min_str,
    max_str, min_num, max_num).

    Numeric columns report min/max as DOUBLE (min_num/max_num; exact value
    semantics, no string-formatting ambiguity between engines); all other
    types report CAST-to-string min/max (dates/strings format identically
    everywhere). NULLs are excluded from distinct counts (SQL semantics on
    both engines).
    """
    cols = [f.name for f in df.schema.fields]
    by_name = {f.name: f.dataType for f in df.schema.fields}
    aggs = [F.count(F.lit(1)).cast("bigint").alias("_n")]
    for c in cols:
        is_num = isinstance(by_name[c], NumericType)
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"_null_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"_dist_{c}"))
        if is_num:
            aggs.append(F.min(c).cast("double").alias(f"_min_{c}"))
            aggs.append(F.max(c).cast("double").alias(f"_max_{c}"))
        else:
            aggs.append(F.min(c).cast("string").alias(f"_min_{c}"))
            aggs.append(F.max(c).cast("string").alias(f"_max_{c}"))
    one = df.agg(*aggs)
    per_col = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col("_n").alias("n_rows"),
            F.col(f"_null_{c}").cast("bigint").alias("n_null"),
            F.col(f"_dist_{c}").cast("bigint").alias("n_distinct"),
            (F.col(f"_min_{c}").cast("string")
             if not isinstance(by_name[c], NumericType)
             else F.lit(None).cast("string")).alias("min_str"),
            (F.col(f"_max_{c}").cast("string")
             if not isinstance(by_name[c], NumericType)
             else F.lit(None).cast("string")).alias("max_str"),
            (F.col(f"_min_{c}").cast("double")
             if isinstance(by_name[c], NumericType)
             else F.lit(None).cast("double")).alias("min_num"),
            (F.col(f"_max_{c}").cast("double")
             if isinstance(by_name[c], NumericType)
             else F.lit(None).cast("double")).alias("max_num"),
        )
        for c in cols
    ]
    return one.select(F.explode(F.array(*per_col)).alias("p")).select("p.*")


def equi_depth_histogram(df: DataFrame, col: str) -> DataFrame:
    """Equal-population histogram of a numeric column — the optimizer-
    style column statistic (equi-depth beats equi-width under skew: every
    bucket carries ~n/k rows, so selectivity estimates stay honest).

    Eight buckets; boundaries are the exact interpolated percentiles at k/8
    (Spark `percentile` == DuckDB quantile_cont — the
    lang_quality_median parity precedent). Bucket of a value =
    1 + Σ_k [v > bound_k] — a branch-free total rule both engines
    evaluate identically; NULLs are excluded. Two passes: one
    aggregation for the bounds row (broadcast back), one groupBy for the
    counts.

    Output: (bucket int 1-based, lo, hi, n) — lo/hi are the bucket's
    boundary values (global min/max at the edges); empty buckets
    (possible under heavy value duplication) are omitted.
    """
    fracs = ", ".join(str(k / 8) for k in range(1, 8))
    bounds = df.filter(F.col(col).isNotNull()).agg(
        F.expr(f"percentile({col}, array({fracs}))").alias("_bs"),
        F.min(col).cast("double").alias("_lo"),
        F.max(col).cast("double").alias("_hi"),
    )
    v = F.col(col).cast("double")
    bucket = F.lit(1)
    for k in range(1, 8):
        bucket = bucket + (v > F.element_at("_bs", k)).cast("int")
    counts = (
        df.filter(F.col(col).isNotNull())
        .crossJoin(F.broadcast(bounds))
        .withColumn("bucket", bucket.cast("int"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    lo = F.when(F.col("bucket") == 1, F.col("_lo")).otherwise(
        F.element_at("_bs", F.col("bucket") - 1)
    )
    hi = F.when(F.col("bucket") == 8, F.col("_hi")).otherwise(
        F.element_at("_bs", F.col("bucket"))
    )
    return (
        counts.crossJoin(F.broadcast(bounds))
        .select(
            "bucket",
            lo.cast("double").alias("lo"),
            hi.cast("double").alias("hi"),
            "n",
        )
    )


def check_constraints(df: DataFrame, rules: list[dict]) -> DataFrame:
    """Declarative data-quality gate (the dbt-tests / expectations shape):
    evaluate a rule list against a table in as few passes as possible and
    return one row per rule with its violation count.

    Rule specs (dicts):
      {"rule": "not_null", "col": c}
      {"rule": "range", "col": c, "lo": x, "hi": y}   # inclusive, NULL ok
      {"rule": "accepted", "col": c, "values": [...]} # NULL ok
      {"rule": "unique", "col": c}                    # NULLs ignored
      {"rule": "ref", "col": c, "other": DataFrame, "other_col": k}

    Row-local rules (not_null/range/accepted) compile to conditional sums
    in ONE aggregation pass; unique adds count vs count-distinct to the
    SAME pass (one Expand shuffle for all of them); each ref rule is one
    anti-join against the (deduped, broadcastable) key side. Output:
    (rule, col, violations, passed) — a gate wired after every load, so
    the cheap path had to be the default.
    """
    aggs, names = [], []
    for r in rules:
        if r["rule"] == "not_null":
            aggs.append(F.sum(F.col(r["col"]).isNull().cast("long")))
            names.append(("not_null", r["col"]))
        elif r["rule"] == "range":
            c = F.col(r["col"])
            bad = c.isNotNull() & ((c < r["lo"]) | (c > r["hi"]))
            aggs.append(F.sum(bad.cast("long")))
            names.append(("range", r["col"]))
        elif r["rule"] == "accepted":
            c = F.col(r["col"])
            bad = c.isNotNull() & ~c.isin(*r["values"])
            aggs.append(F.sum(bad.cast("long")))
            names.append(("accepted", r["col"]))
        elif r["rule"] == "unique":
            c = F.col(r["col"])
            aggs.append(
                F.sum(c.isNotNull().cast("long")) - F.count_distinct(c)
            )
            names.append(("unique", r["col"]))
        elif r["rule"] != "ref":
            raise ValueError(f"unknown rule {r['rule']}")
    out = None
    if aggs:
        one = df.agg(*[a.alias(f"_v{i}") for i, a in enumerate(aggs)])
        rows = [
            F.struct(
                F.lit(rule).alias("rule"),
                F.lit(col).alias("col"),
                F.coalesce(F.col(f"_v{i}"), F.lit(0)).cast("bigint")
                .alias("violations"),
            )
            for i, (rule, col) in enumerate(names)
        ]
        out = one.select(F.explode(F.array(*rows)).alias("r")).select("r.*")
    for r in rules:
        if r["rule"] != "ref":
            continue
        keys = r["other"].select(
            F.col(r["other_col"]).alias(r["col"])
        ).distinct()
        orphans = (
            df.filter(F.col(r["col"]).isNotNull())
            .join(keys, r["col"], "left_anti")
            .agg(F.count(F.lit(1)).cast("bigint").alias("violations"))
            .select(
                F.lit("ref").alias("rule"),
                F.lit(r["col"]).alias("col"),
                "violations",
            )
        )
        out = orphans if out is None else out.unionByName(orphans)
    if out is None:
        raise ValueError("no rules given")
    return out.withColumn(
        "passed", (F.col("violations") == 0).cast("int")
    )
