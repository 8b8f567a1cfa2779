"""End-to-end pipeline: pages → extract → enrich → analytics tables.

The spark-submit entrypoint (north_rule: ships via --py-files):

    spark-submit --py-files insights_spark.zip -m insights_spark.jobs.pipeline \
        --pages /path/pages_parquet --out /path/warehouse [--resume]

Stages (lineage-logged, resumable from the last committed sequence):

  1. extract     pages → changesets / changeset_comments
  2. enrich      element_history + country (broadcast PIP) + s2/h3 cells
  3. propagate   way/relation locations from first node/member
  4. stats       all_changesets_stats — INCREMENTAL: recompute only
                 batch-touched ∪ missed changesets, then MERGE
  5. tiles       z/x/y edit-density pyramid — INCREMENTAL: aggregate the
                 appended delta, merge-SUM into the existing pyramid
  6. vocabulary  distinct hashtag set — INCREMENTAL: append only new tags

A batch is latency-bound (a 100-page resume batch writes about 0.1 MB
through dozens of small Spark jobs), so the stages run as dependency
chains on driver threads, and Spark schedules their jobs side by side.
Each warehouse table is written by exactly one chain:

    changeset:  bundle → changesets (merge) → changeset_comments
                (append_dedup) → all_osm_hashtags (append_dedup)
    element:    enrich + propagate → element_history (append_dedup)
                  ├─ stats: all_changesets_stats (merge)
                  └─ tiles: tile_density (merge_sum)

The changeset and element chains start together; stats and tiles start
when the element_history append has returned the appended rows. A failed
chain skips only the chains that need its output, and cancels none. Only
after every chain has stopped does the batch flush its lineage (one
append) and commit its checkpoint; a failure re-raises before either, so
the replay redoes the batch.

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
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
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
TABLES = ["changesets", "changeset_comments", "element_history",
          "all_changesets_stats", "tile_density", "all_osm_hashtags"]


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

        from ..runtime.sinks import ParquetSinks

        sink_ops = ParquetSinks(spark)
        out = {t: os.path.join(out_dir, t) for t in TABLES}

        def changeset_chain() -> None:
            # 1. extract: one parse pass for both changeset outputs (pinned
            # bundle), 6. the vocabulary from the same changesets
            bundles = pin(extract.extract_changeset_bundles(batch))
            changesets = bundles.select(F.explode("changesets").alias("c")).select("c.*")
            comments = bundles.select(F.explode("comments").alias("m")).select("m.*")
            # S12 delete-then-insert semantics: replayed changesets take the NEW row
            sink_ops.merge(changesets, out["changesets"], keys=["id"])
            sink_ops.append_dedup(
                comments, out["changeset_comments"],
                keys=["comment_changeset_id", "comment_user_id", "comment_date"],
            )
            lin.record("extract", batch.select("url"), changesets, sequence)
            # INCREMENTAL: vocabulary is a distinct set — S10 on the full row
            # appends only hashtags not seen before, never rewriting the table.
            vocab = tags_ops.hashtag_vocabulary(changesets)
            sink_ops.append_dedup(vocab, out["all_osm_hashtags"],
                                  keys=list(vocab.columns))

        def element_chain() -> DataFrame:
            # 2.+3. enrich + propagate. Fused kernel: parse + PIP + cells in
            # one JVM↔Python crossing. propagated is pinned: the sink AND the
            # lineage count both consume it — lineage would otherwise
            # re-execute the propagation joins.
            enriched = extract.extract_elements_enriched(batch, boundary_rows)
            propagated = pin(prop.propagate_locations(enriched))
            # physical design: partition by element type, cluster by the former
            # "index" columns (X3) — replaces btree/GIN/GIST; S10 ON CONFLICT DO
            # NOTHING semantics on the natural key
            appended = sink_ops.append_dedup(
                propagated,
                out["element_history"],
                keys=["id", "version", "type"],
                partition_by=["type"],
                # clustering happens inside the sink AFTER the dedup shuffle, on
                # the full composite — repartition("type") alone would collapse
                # the write to 3 tasks (one per element type)
                cluster_by=["type", "country", "h3_r8"],
                sort_by=["country", "h3_r8", "changeset"],
            )
            lin.record("enrich", None, propagated, sequence)
            return appended

        def stats_chain(appended: DataFrame) -> None:
            # 4. INCREMENTAL: recompute stats only for changesets touched by
            # this batch ∪ changesets missing a stats row (the J3 repair
            # anti-join), then MERGE — per-batch work is O(batch ∪ missed),
            # never O(history). Touched changesets still aggregate over their
            # FULL element history (semi-join pulls all their rows from the
            # read-back table).
            el = sink_ops.read(out["element_history"], appended.schema)
            touched = appended.select("changeset").distinct()
            # missed_changesets reads the stats table's key column only
            existing_stats = sink_ops.read(out["all_changesets_stats"], "changeset BIGINT")
            if existing_stats is not None:
                touched = touched.unionByName(
                    stats_ops.missed_changesets(el, existing_stats)
                ).distinct()
            el_touched = pin(el.join(touched, "changeset", "left_semi"))
            # way geometry takes its nodes from the whole history: a touched
            # way's nodes may sit in changesets of an earlier batch
            st = pin(stats_ops.changeset_stats_with_meters(el_touched, el))
            sink_ops.merge(st, out["all_changesets_stats"], keys=["changeset"])
            # lineage records the stage's actual increment: rows_in = touched
            # element-history rows, rows_out = recomputed stats rows (both
            # pinned — counting an uncached plan would re-execute the stage)
            lin.record("stats", el_touched, st, sequence)

        def tiles_chain(appended: DataFrame) -> None:
            # 5. INCREMENTAL: the density pyramid is additive, and append_dedup
            # returned exactly the rows that are NEW in element_history —
            # aggregate only those and merge-SUM into the existing pyramid.
            pyramid = tiles.tile_pyramid(
                appended.filter(F.col("lat").isNotNull()), [12, 8, 6]
            )
            sink_ops.merge_sum(pyramid, out["tile_density"], keys=["z", "x", "y"],
                               sum_cols=["density"])
            lin.record("tiles", None, pyramid, sequence)

        # at most three chains run at once: changeset beside stats and tiles.
        # Leaving the block waits for every chain to stop.
        with ThreadPoolExecutor(max_workers=3, thread_name_prefix=PIPELINE) as pool:
            def start(chain, *args):
                # the wrapper copies this thread's job group and local
                # properties into the chain's thread
                return pool.submit(inheritable_thread_target(spark)(chain), *args)

            chains = [start(element_chain), start(changeset_chain)]
            elements = chains[0]
            if elements.exception() is None:
                chains += [start(stats_chain, elements.result()),
                           start(tiles_chain, elements.result())]
        for chain in chains:
            chain.result()  # re-raises a chain's failure, in start order

        lin.flush()
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
