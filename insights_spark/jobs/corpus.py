"""Corpus pipeline: documents → cleaned, deduped, split training corpus.

The LLM-training-data twin of ``jobs.pipeline`` (which covers the OSM
side): same runtime primitives (CheckpointStore sequence, LineageLog
per-partition counts, atomic merge sinks), applied to the text stack.

    python -m insights_spark.jobs.corpus --docs /path/documents_parquet \
        --out /path/corpus_wh [--resume]

Stages, each incremental in O(batch ∪ touched-index):

  1. stamp      quality gates + lang-id + content-stable train/test split
                — PURE MAP over the new batch (no shuffle, trivially
                incremental).
  2. dedup      exact dedup of the batch against ITSELF and against the
                ALREADY-ADMITTED corpus: batch norm-hashes left-anti-join
                the corpus dedup index (a (norm_hash) table — the only
                state the stage reads), then the batch's hashes land in
                their own index partition. Never rescans admitted docs.
  3. corpus     admitted docs written to a per-batch partition (further
                partitioned by `split`) — the train/test file layout
                downstream tokenizers read.
  4. postings   the phrase inverted index, stored PARTITIONED BY a 64-way
                term-hash bucket; a batch merges only the buckets its
                terms touch (read touched buckets → union → re-aggregate →
                overwrite those partitions) — O(touched buckets), not
                O(index).
  5. accounting per-(split, lang_pred) doc/token counters, merge-SUM.

Sequence = max(doc_id) of the processed batch; ``--resume`` admits only
doc_id > checkpoint.

Crash safety (idempotent replay): corpus and dedup-index rows land in a
per-attempt ``batch=<id>`` partition written with OVERWRITE, where the id
derives from the resume checkpoint — a crashed attempt and its retry
compute the SAME batch id and the SAME admitted set (the dedup anti-join
excludes the attempt's own index partition), so the retry overwrites the
partial output instead of appending next to it; the index hashes are
written BEFORE the corpus rows so no committed corpus row can ever lack
its index entry. The postings merge is idempotent by construction
(posting lists are de-duplicated on merge). Accounting (r5, closing the
r3-ADVICE window for real) is idempotent BY CONSTRUCTION rather than by
checkpoint guard: per-batch counters overwrite their own
``accounting_batches/batch=<id>`` partition and the global ``accounting``
rollup is REGENERATED from those partitions — there is no
read-modify-write merge left, hence no merge/commit ordering to crash
between. Every crash point therefore converges on replay; the
``_crashpoint`` seams exist so the test suite can kill the job between
writes and prove it.
"""

from __future__ import annotations

import argparse
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..runtime.checkpoint import CheckpointStore
from ..runtime.lineage import LineageLog
from ..session import pin, release_pins
from ..text.clean import train_test_split
from ..text.dedup import normalized
from ..text.index import inverted_index
from ..text.quality import lang_id, quality_scores

PIPELINE = "documents_to_corpus"
POSTING_BUCKETS = 64

# fault-injection seams (test-only): names added here make run() raise at
# the matching point, so tests can kill the job between specific writes and
# assert that a --resume replay converges to the no-crash output
_TEST_CRASH_POINTS: set[str] = set()


def _crashpoint(name: str) -> None:
    if name in _TEST_CRASH_POINTS:
        raise RuntimeError(f"injected crash: {name}")


def _stamp(docs: DataFrame) -> DataFrame:
    scored = lang_id(quality_scores(docs))
    gated = scored.filter(
        (F.col("n_tokens") >= 5) & F.col("lang_pred").isin("en", "de", "fr")
    )
    return train_test_split(gated).withColumn(
        "_norm_hash", F.xxhash64(normalized(F.col("text")))
    )


def run(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    resume: bool = False,
) -> dict[str, str]:
    """Run the corpus pipeline; returns {table_name: path}."""
    try:
        ckpt = CheckpointStore(spark, os.path.join(out_dir, "_checkpoints"))
        lin = LineageLog(spark, os.path.join(out_dir, "_lineage"))
        paths = {
            "corpus": os.path.join(out_dir, "corpus"),
            "dedup_index": os.path.join(out_dir, "dedup_index"),
            "postings": os.path.join(out_dir, "postings"),
            "accounting": os.path.join(out_dir, "accounting"),
            "accounting_batches": os.path.join(out_dir, "accounting_batches"),
        }

        last = ckpt.last_sequence(PIPELINE, "corpus") if resume else None
        batch = docs if last is None else docs.filter(F.col("doc_id") > last)
        # deterministic per-attempt batch id: a crashed attempt's retry reads
        # the same (uncommitted) checkpoint, recomputes the same batch, and
        # OVERWRITES the same batch partitions — appends cannot double up
        bid = "full" if last is None else f"b{last}"

        # 1. stamp (map-only)
        stamped = pin(_stamp(batch))

        # 2. dedup: in-batch representative, then anti-join the admitted index
        in_batch = stamped.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("_norm_hash").orderBy(F.asc("doc_id"))
            ),
        ).filter(F.col("_rn") == 1).drop("_rn")
        if os.path.isdir(paths["dedup_index"]):
            # exclude THIS attempt's own batch partition: if a prior crashed
            # attempt already wrote the index rows, the anti-join must not see
            # them, or the retry would admit nothing and overwrite the corpus
            # batch with an empty set (silent data loss on replay)
            seen = (
                spark.read.parquet(paths["dedup_index"])
                .filter(F.col("batch") != bid)
                .select("_norm_hash")
            )
            admitted = in_batch.join(seen, "_norm_hash", "left_anti")
        else:
            admitted = in_batch
        # localCheckpoint, NOT persist: stage 3 APPENDS to dedup_index, and a
        # parquet write refreshes the path's FileIndex and invalidates every
        # cached plan that reads it — a merely-persisted `admitted` would
        # silently RE-EVALUATE against the index that now contains its own
        # hashes and come back empty. Checkpointing severs the lineage to the
        # index files before the self-referential write.
        admitted = admitted.localCheckpoint()
        lin.record("dedup", stamped, admitted)

        # 3. index + corpus, batch-scoped OVERWRITE (idempotent on replay).
        # Index FIRST: a crash between the two writes then leaves index entries
        # without corpus rows — the safe direction (the replay's anti-join
        # excludes its own batch partition, recomputes the same admitted set
        # and overwrites both), never committed corpus rows missing from the
        # index. Writes are skipped for an empty admitted set so a post-success
        # replay (empty batch) cannot leave parquet-less partition dirs behind.
        out_cols = [c for c in admitted.columns if c != "_norm_hash"]
        if not admitted.isEmpty():
            admitted.select("_norm_hash").distinct().write.mode("overwrite").parquet(
                os.path.join(paths["dedup_index"], f"batch={bid}")
            )
            _crashpoint("between_index_and_corpus")
            admitted.select(*out_cols).write.mode("overwrite").partitionBy(
                "split"
            ).parquet(os.path.join(paths["corpus"], f"batch={bid}"))

        # 4. postings: merge only touched term-hash buckets
        new_post = inverted_index(
            admitted, min_df=1, max_df=1 << 30, ngram=2
        ).withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(POSTING_BUCKETS)))
        if os.path.isdir(paths["postings"]):
            touched = [r["bucket"] for r in new_post.select("bucket").distinct().collect()]
            old = spark.read.parquet(paths["postings"]).filter(
                F.col("bucket").isin(touched)
            )
            merged = (
                old.unionByName(new_post)
                # re-sort NUMERICALLY: csv ids are strings, and lexicographic
                # order ('10' < '9') would corrupt the ascending-id contract
                .withColumn(
                    "_ids",
                    F.transform(F.split("posting_csv", ","),
                                lambda x: x.cast("long")),
                )
                .groupBy("bucket", "term")
                # array_distinct: a replayed crashed attempt re-merges the same
                # batch postings; de-duplicating ids makes that merge idempotent
                .agg(F.array_sort(
                    F.array_distinct(F.flatten(F.collect_list("_ids")))
                ).alias("_all"))
                .select(
                    "bucket", "term",
                    F.size("_all").cast("bigint").alias("df"),
                    F.array_join(F.col("_all").cast("array<string>"), ",")
                    .alias("posting_csv"),
                )
            )
            # tmp-and-swap per touched bucket: merged READS the live postings,
            # so overwriting them in the same job would truncate its own input
            # (the self-overwrite hazard ParquetSinks._publish guards against too)
            import shutil
            import uuid

            tmp = f"{paths['postings']}__merge_{uuid.uuid4().hex[:8]}"
            merged.select("term", "df", "posting_csv", "bucket").write.mode(
                "overwrite"
            ).partitionBy("bucket").parquet(tmp)
            for b in touched:
                src = os.path.join(tmp, f"bucket={b}")
                dst = os.path.join(paths["postings"], f"bucket={b}")
                if os.path.isdir(src):
                    shutil.rmtree(dst, ignore_errors=True)
                    os.rename(src, dst)
            shutil.rmtree(tmp, ignore_errors=True)
        else:
            new_post.select("term", "df", "posting_csv", "bucket").write.mode(
                "overwrite"
            ).partitionBy("bucket").parquet(paths["postings"])
        lin.record("postings", admitted, new_post)

        # 5. accounting — idempotent by construction (r5, no checkpoint guard
        # needed): per-batch counters OVERWRITE their own batch partition (a
        # replayed attempt rewrites the same rows), then the global rollup is
        # REGENERATED from the batch partitions. The rollup reads
        # accounting_batches, never its own output, so the overwrite has no
        # self-read hazard, and a crash at ANY point converges on replay —
        # there is no read-modify-write merge left to double-count. The
        # regeneration scan is bounded by #batches × #splits × #langs counter
        # rows, trivial at any corpus scale.
        seq_row = batch.agg(F.max("doc_id").alias("m")).first()
        seq = int(seq_row["m"]) if seq_row and seq_row["m"] is not None else None
        if seq is not None:
            acct = admitted.groupBy("split", "lang_pred").agg(
                F.count(F.lit(1)).cast("bigint").alias("docs"),
                F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            )
            acct.write.mode("overwrite").parquet(
                os.path.join(paths["accounting_batches"], f"batch={bid}"))
            _crashpoint("between_accounting_batch_and_rollup")
            rolled = (
                spark.read.parquet(paths["accounting_batches"])
                .groupBy("split", "lang_pred")
                .agg(F.sum("docs").cast("bigint").alias("docs"),
                     F.sum("total_tokens").cast("bigint").alias("total_tokens"))
            )
            rolled.write.mode("overwrite").parquet(paths["accounting"])

        if seq is not None:
            ckpt.commit(PIPELINE, "corpus", seq)
        return paths
    finally:
        release_pins()


def main() -> None:  # pragma: no cover — exercised via spark-submit
    from ..session import get_spark

    p = argparse.ArgumentParser()
    p.add_argument("--docs", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--resume", action="store_true")
    args = p.parse_args()
    spark = get_spark("corpus-pipeline")
    run(spark, spark.read.parquet(args.docs), args.out, resume=args.resume)
    spark.stop()


if __name__ == "__main__":
    main()
