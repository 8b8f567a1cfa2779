"""End-to-end pipeline: pages → extract → enrich → analytics tables.

The spark-submit entrypoint (north_rule: ships via --py-files):

    spark-submit --py-files insights_spark.zip -m insights_spark.jobs.pipeline \
        --pages /path/pages_parquet --out /path/warehouse [--resume]

Stages (each checkpointed + lineage-logged, resumable from the last
committed sequence):

  1. extract     pages → changesets / changeset_comments / element_history
  2. enrich      element_history + country (broadcast PIP) + s2/h3 cells
  3. propagate   way/relation locations from first node/member
  4. stats       all_changesets_stats — INCREMENTAL: recompute only
                 batch-touched ∪ missed changesets, then MERGE
  5. tiles       z/x/y edit-density pyramid — INCREMENTAL: aggregate the
                 appended delta, merge-SUM into the existing pyramid
  6. vocabulary  distinct hashtag set — INCREMENTAL: append only new tags

Sequence = max(warc_ts) of the processed batch (epoch seconds). A re-run
with --resume processes only pages with warc_ts after the checkpoint and
appends idempotently (dedup keys: changeset id / (id,version,type)).

Physical layout choices (the engine's answer to the reference's index DDL,
SURVEY §4 X3): element_history is written partitioned by `type` and sorted
within partitions by (country, h3_r8, changeset) — Parquet min/max pages
then serve country/cell/changeset predicates the way btree/GIN/GIST did.
"""

from __future__ import annotations

import argparse
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import extract, synth
from ..geo import cells, pip, tiles
from ..ops import propagate as prop
from ..ops import stats as stats_ops
from ..ops import tags as tags_ops
from ..runtime.checkpoint import CheckpointStore, incremental_filter
from ..runtime.lineage import LineageLog
from ..session import pin, release_pins

PIPELINE = "pages_to_insights"


def run(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    boundary_rows: list[dict] | None = None,
    resume: bool = False,
) -> dict[str, str]:
    """Run the full pipeline; returns {table_name: path}. Every table is
    a directory-parquet table written through runtime.sinks.ParquetSinks."""
    try:
        ckpt = CheckpointStore(spark, os.path.join(out_dir, "_checkpoints"))
        lin = LineageLog(spark, os.path.join(out_dir, "_lineage"))
        boundary_rows = boundary_rows or synth.gen_boundaries()

        last = ckpt.last_sequence(PIPELINE, "extract") if resume else None
        if last is not None:
            from datetime import datetime, timezone

            cutoff = datetime.fromtimestamp(int(last), tz=timezone.utc).replace(tzinfo=None)
            batch = incremental_filter(pages, "warc_ts",
                                       F.lit(cutoff).cast("timestamp_ntz"))
        else:
            batch = pages
        seq_row = batch.agg(F.max("warc_ts").alias("m")).collect()[0]
        if seq_row["m"] is None:
            return {}  # nothing new past the checkpoint
        sequence = int(seq_row["m"].timestamp())

        out: dict[str, str] = {}

        # 1. extract ----------------------------------------------------------
        from ..runtime.sinks import ParquetSinks

        sink_ops = ParquetSinks(spark)

        # one parse pass for both changeset outputs (persisted bundle)
        bundles = pin(extract.extract_changeset_bundles(batch))
        changesets = bundles.select(F.explode("changesets").alias("c")).select("c.*")
        comments = bundles.select(F.explode("comments").alias("m")).select("m.*")
        # S12 delete-then-insert semantics: replayed changesets take the NEW row
        sink_ops.merge(changesets, os.path.join(out_dir, "changesets"), keys=["id"])
        out["changesets"] = os.path.join(out_dir, "changesets")
        sink_ops.append_dedup(
            comments, os.path.join(out_dir, "changeset_comments"),
            keys=["comment_changeset_id", "comment_user_id", "comment_date"],
        )
        out["changeset_comments"] = os.path.join(out_dir, "changeset_comments")
        lin.record("extract", batch.select("url"), changesets, sequence)

        # 2.+3. enrich + propagate ---------------------------------------------
        # fused kernel: parse + PIP + cells in one JVM↔Python crossing.
        # propagated is persisted: the sink AND the lineage count both consume
        # it — lineage would otherwise re-execute the propagation joins.
        enriched = extract.extract_elements_enriched(batch, boundary_rows)
        propagated = pin(prop.propagate_locations(enriched))
        # physical design: partition by element type, cluster by the former
        # "index" columns (X3) — replaces btree/GIN/GIST; S10 ON CONFLICT DO
        # NOTHING semantics on the natural key
        el_path = os.path.join(out_dir, "element_history")
        appended = sink_ops.append_dedup(
            propagated,
            el_path,
            keys=["id", "version", "type"],
            partition_by=["type"],
            # clustering happens inside the sink AFTER the dedup shuffle, on the
            # full composite — repartition("type") alone would collapse the
            # write to 3 tasks (one per element type)
            cluster_by=["type", "country", "h3_r8"],
            sort_by=["country", "h3_r8", "changeset"],
        )
        out["element_history"] = el_path
        lin.record("enrich", None, propagated, sequence)

        # 4. stats --------------------------------------------------------------
        # INCREMENTAL: recompute stats only for changesets touched by this
        # batch ∪ changesets missing a stats row (the J3 repair anti-join),
        # then MERGE — per-batch work is O(batch ∪ missed), never O(history).
        # Touched changesets still aggregate over their FULL element history
        # (semi-join pulls all their rows from the read-back table).
        el = sink_ops.read(el_path)
        stats_path = os.path.join(out_dir, "all_changesets_stats")
        touched = appended.select("changeset").distinct()
        existing_stats = sink_ops.read(stats_path)
        if existing_stats is not None:
            touched = touched.unionByName(
                stats_ops.missed_changesets(el, existing_stats)
            ).distinct()
        el_touched = pin(el.join(touched, "changeset", "left_semi"))
        st = pin(stats_ops.changeset_stats_with_meters(el_touched))
        sink_ops.merge(st, stats_path, keys=["changeset"])
        out["all_changesets_stats"] = stats_path
        # lineage records the stage's actual increment: rows_in = touched
        # element-history rows, rows_out = recomputed stats rows (both persisted
        # — counting an uncached plan would re-execute the stage)
        lin.record("stats", el_touched, st, sequence)

        # 5. tiles ----------------------------------------------------------------
        # INCREMENTAL: the density pyramid is additive, and append_dedup
        # returned exactly the rows that are NEW in element_history — aggregate
        # only those and merge-SUM into the existing pyramid.
        pyramid = tiles.tile_pyramid(
            appended.filter(F.col("lat").isNotNull()), [12, 8, 6]
        )
        tiles_path = os.path.join(out_dir, "tile_density")
        sink_ops.merge_sum(pyramid, tiles_path, keys=["z", "x", "y"],
                           sum_cols=["density"])
        out["tile_density"] = tiles_path
        lin.record("tiles", None, sink_ops.read(tiles_path), sequence)

        # 6. hashtag vocabulary ----------------------------------------------------
        # INCREMENTAL: vocabulary is a distinct set — S10 on the full row
        # appends only hashtags not seen before, never rewriting the table.
        vocab = tags_ops.hashtag_vocabulary(changesets)
        vocab_path = os.path.join(out_dir, "all_osm_hashtags")
        sink_ops.append_dedup(vocab, vocab_path, keys=list(vocab.columns))
        out["all_osm_hashtags"] = vocab_path

        ckpt.commit(PIPELINE, "extract", sequence, lin.run_id)
        return out
    finally:
        release_pins()


def main() -> None:  # pragma: no cover — exercised via spark-submit
    p = argparse.ArgumentParser()
    p.add_argument("--pages", required=False, help="pages parquet path (default: synth)")
    p.add_argument("--out", required=True)
    p.add_argument("--resume", action="store_true")
    p.add_argument("--n-pages", type=int, default=120, help="synth size if no --pages")
    args = p.parse_args()

    from ..session import get_spark

    spark = get_spark("insights-pipeline")
    pages = (
        spark.read.parquet(args.pages) if args.pages else synth.pages_df(spark, args.n_pages)
    )
    tables = run(spark, pages, args.out, resume=args.resume)
    for name, path in tables.items():
        print(f"{name}\t{path}")
    spark.stop()


if __name__ == "__main__":
    main()
