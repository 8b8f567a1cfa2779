"""Iceberg-style snapshot table format over parquet — the catalog lane.

The north rule asks for Iceberg tables (atomic commits, snapshot
isolation, time travel, MERGE); this sandbox ships no iceberg-spark
runtime jar, so `runtime.sinks` emulates MERGE semantics with a
directory swap. That swap has two honest gaps versus a real table
format:

1. **No snapshot isolation** — the swap *destroys* the old directory, so
   a reader holding the old plan re-executes against nothing.
2. **No time travel / history** — once swapped, the previous table state
   is gone; there is nothing to audit or resume against.

`SnapshotTable` closes both with the same mechanism Iceberg uses
(public design: the Iceberg spec's metadata/manifest/commit protocol —
reimplemented here from the published spec, no Iceberg code):

- every commit writes NEW immutable data directories and a NEW manifest
  (``metadata/snap-<n>.json``) listing the data dirs visible in that
  snapshot; nothing already committed is ever mutated or deleted,
- the commit point is a single **O_CREAT|O_EXCL** create of the next
  manifest — atomic on POSIX, so two racing committers cannot both win;
  the loser re-reads the new current snapshot and retries (optimistic
  concurrency, Iceberg's commit model),
- ``read(snapshot_id=…)`` pins any historical state (time travel);
  ``read()`` resolves the current one,
- ``merge`` rewrites into fresh dirs and commits a *replace* snapshot —
  readers pinned to older snapshots keep working because their files
  still exist. The format never deletes: history grows with the commits.

Scale posture: manifests carry directory paths + row counts, never row
data — a manifest is O(commits-per-snapshot) small; the read path hands
Spark the full directory list in ONE ``parquet(*dirs)`` scan so split
planning, column pruning and predicate pushdown are untouched. At 10^12
rows the data-file listing *inside* each directory is Spark's existing
distributed file index; the driver-side JSON holds only directory
names. Commit metadata cost is O(1) per commit.

Determinism: snapshot ids are sequential ints and the commit timestamp
is an optional caller-supplied value (``ts``) — no wall clock enters the
format, matching the repo-wide explicit-now discipline.

Reference parity: the reference loads into Postgres and gets atomic
visibility from SQL transactions (insights: db loader commits per
batch); this module is the table-format equivalent for a file-based
warehouse. SURVEY §2.1 S10-S12 map onto ``merge`` (the one MERGE rule,
``runtime.sinks.merge_rows``); ST1/ST2 (checkpoint, lock) onto the
snapshot id + exclusive-create commit.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sinks import merge_rows


class CommitConflict(Exception):
    """Another writer committed the same snapshot id first."""


class SnapshotTable:
    """A parquet-backed table with Iceberg-style snapshot commits.

    Layout::

        <path>/data/c<snapshot>-<uuid>/   immutable parquet dirs
        <path>/metadata/snap-<n>.json     manifest: dirs visible at n
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._meta = os.path.join(path, "metadata")
        self._data = os.path.join(path, "data")
        os.makedirs(self._meta, exist_ok=True)
        os.makedirs(self._data, exist_ok=True)

    # ---- snapshot bookkeeping -------------------------------------
    def _snap_path(self, sid: int) -> str:
        return os.path.join(self._meta, f"snap-{sid}.json")

    def current_snapshot_id(self) -> int | None:
        """Highest committed snapshot id, or None for an empty table.

        Resolved by listing manifests, not by a mutable pointer file: the
        exclusive-create of ``snap-<n>.json`` IS the commit, so the
        listing can never observe a half-commit."""
        sids = [
            int(f[5:-5])
            for f in os.listdir(self._meta)
            if f.startswith("snap-") and f.endswith(".json")
        ]
        return max(sids) if sids else None

    def _load(self, sid: int) -> dict:
        with open(self._snap_path(sid)) as fh:
            return json.load(fh)

    def history(self) -> list[dict]:
        """All snapshots, oldest first — the audit/resume trail."""
        cur = self.current_snapshot_id()
        return [] if cur is None else [self._load(s) for s in range(1, cur + 1)]

    # ---- commit protocol ------------------------------------------
    def _commit(self, dirs: list[str], operation: str,
                summary: dict, ts: int | None, parent: int | None) -> int:
        """Atomically publish snapshot parent+1 listing `dirs`.

        The single commit point: ``open(snap-<n>.json, 'x')``. POSIX
        guarantees exactly one creator, so a racing writer raises
        CommitConflict and must rebase (re-read current, recompute, retry)
        — optimistic concurrency without any lock server."""
        sid = (parent or 0) + 1
        manifest = {
            "snapshot_id": sid,
            "parent_id": parent,
            "operation": operation,
            "ts": ts,
            "dirs": sorted(dirs),
            "summary": summary,
        }
        body = json.dumps(manifest, indent=1)
        try:
            fd = os.open(self._snap_path(sid),
                         os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError as exc:
            raise CommitConflict(
                f"snapshot {sid} already committed by another writer"
            ) from exc
        with os.fdopen(fd, "w") as fh:
            fh.write(body)
        return sid

    def _write_data(self, df: DataFrame, sid_hint: int) -> tuple[str, int]:
        """Write one immutable data dir; returns (relpath, rows)."""
        rel = f"c{sid_hint}-{uuid.uuid4().hex[:8]}"
        full = os.path.join(self._data, rel)
        df.write.mode("overwrite").parquet(full)
        rows = self.spark.read.schema(df.schema).parquet(full).count()
        return rel, rows

    def _retrying(self, build_dirs, operation: str, ts: int | None) -> int:
        """Optimistic-retry loop shared by append/overwrite/merge.

        `build_dirs(parent)` returns (dirs, summary); on CommitConflict the
        builder runs again against the NEW current snapshot — appends just
        re-list, merges genuinely re-merge (their read set changed)."""
        for _ in range(5):
            parent = self.current_snapshot_id()
            dirs, summary = build_dirs(parent)
            try:
                return self._commit(dirs, operation, summary, ts, parent)
            except CommitConflict:
                continue
        raise CommitConflict(f"lost 5 commit races on {self.path}")

    # ---- write operations -----------------------------------------
    def append(self, df: DataFrame, ts: int | None = None) -> int:
        """Commit df as new rows (Iceberg `append`): new dirs only, the
        parent's dirs carried forward untouched."""
        parent0 = self.current_snapshot_id()
        rel, rows = self._write_data(df, (parent0 or 0) + 1)

        def build(parent):
            base = [] if parent is None else self._load(parent)["dirs"]
            return base + [rel], {"added_rows": rows}

        return self._retrying(build, "append", ts)

    def overwrite(self, df: DataFrame, ts: int | None = None) -> int:
        """Commit df as the whole table (Iceberg `replace`): the new
        snapshot lists only the new dir; history keeps the old ones."""
        parent0 = self.current_snapshot_id()
        rel, rows = self._write_data(df, (parent0 or 0) + 1)

        def build(parent):
            return [rel], {"replaced_rows": rows}

        return self._retrying(build, "replace", ts)

    def merge(self, df: DataFrame, keys: list[str], ts: int | None = None) -> int:
        """MERGE INTO on `keys` (`runtime.sinks.merge_rows`: new rows win,
        S11/S12), committed as a replace snapshot. Unlike the directory
        swap, a reader pinned to the parent snapshot keeps its files."""

        def build(parent):
            old = None if parent is None else self.read(snapshot_id=parent)
            rel, rows = self._write_data(merge_rows(old, df, keys),
                                         (parent or 0) + 1)
            return [rel], {"merged_rows": rows}

        return self._retrying(build, "merge", ts)

    # ---- read operations ------------------------------------------
    def read(self, snapshot_id: int | None = None,
             as_of_ts: int | None = None) -> DataFrame:
        """The table at a snapshot (default: current). `as_of_ts` resolves
        the newest snapshot with commit ts ≤ as_of_ts (time travel by the
        caller-supplied clock). Empty table → raises (no schema to
        fabricate — explicit-contract discipline)."""
        if as_of_ts is not None:
            eligible = [s["snapshot_id"] for s in self.history()
                        if s["ts"] is not None and s["ts"] <= as_of_ts]
            if not eligible:
                raise ValueError(f"no snapshot at or before ts={as_of_ts}")
            snapshot_id = max(eligible)
        sid = snapshot_id if snapshot_id is not None \
            else self.current_snapshot_id()
        if sid is None:
            raise ValueError(f"table {self.path} has no snapshots")
        dirs = [os.path.join(self._data, d) for d in self._load(sid)["dirs"]]
        if not dirs:
            raise ValueError(f"snapshot {sid} is empty")
        return self.spark.read.parquet(*dirs)


def snapshot_diff(
    table: "SnapshotTable",
    keys: list[str],
    from_ts: int | None = None,
    to_ts: int | None = None,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """CDC between two snapshots of the same table, each the newest one
    committed at or before `from_ts` / `to_ts`: one row per key whose
    state changed, labeled insert / delete / update — the change feed a
    downstream consumer (search index, cache, mirror) applies instead of
    re-reading the whole table.

    Pure composition over time travel: read both snapshots, ONE
    key-keyed full-outer join, struct-compare the non-key columns
    (null-safe, so NULL→value and value→NULL are updates, not noise).
    Unchanged keys are dropped — the output is change-sized, not
    table-sized. At scale both sides are the same table's files, so the
    join co-partitions under AQE; nothing here shuffles twice.

    Output: (keys..., change, old_<col>..., new_<col>...).
    """
    a = table.read(as_of_ts=from_ts)
    b = table.read(as_of_ts=to_ts)
    cols = compare_cols or [c for c in b.columns if c not in keys]
    a2 = a.select(*keys, F.struct(*cols).alias("_old"))
    b2 = b.select(*keys, F.struct(*cols).alias("_new"))
    j = a2.join(b2, keys, "full_outer")
    change = (
        F.when(F.col("_old").isNull(), F.lit("insert"))
        .when(F.col("_new").isNull(), F.lit("delete"))
        .when(~F.col("_old").eqNullSafe(F.col("_new")), F.lit("update"))
    )
    out_cols = [*keys, "change"]
    sel = [*keys, change.alias("change")]
    for c in cols:
        sel.append(F.col(f"_old.{c}").alias(f"old_{c}"))
        sel.append(F.col(f"_new.{c}").alias(f"new_{c}"))
        out_cols.extend([f"old_{c}", f"new_{c}"])
    return j.select(*sel).filter(F.col("change").isNotNull())
