from __future__ import annotations

import pytest

from insights_spark.runtime.tablefmt import CommitConflict, SnapshotTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, v string")


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


def test_append_and_time_travel(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    s1 = t.append(_df(spark, [(1, "a"), (2, "b")]), ts=100)
    s2 = t.append(_df(spark, [(3, "c")]), ts=200)
    assert (s1, s2) == (1, 2)
    assert _sorted(t.read()) == [(1, "a"), (2, "b"), (3, "c")]
    # time travel: snapshot 1 still readable after later commits
    assert _sorted(t.read(snapshot_id=1)) == [(1, "a"), (2, "b")]
    assert _sorted(t.read(as_of_ts=150)) == [(1, "a"), (2, "b")]
    assert _sorted(t.read(as_of_ts=200)) == [(1, "a"), (2, "b"), (3, "c")]
    with pytest.raises(ValueError):
        t.read(as_of_ts=50)


def test_overwrite_keeps_history(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]), ts=1)
    t.overwrite(_df(spark, [(9, "z")]), ts=2)
    assert _sorted(t.read()) == [(9, "z")]
    # replace does not destroy the parent snapshot's files
    assert _sorted(t.read(snapshot_id=1)) == [(1, "a")]
    ops = [s["operation"] for s in t.history()]
    assert ops == ["append", "replace"]


def test_merge_semantics_and_snapshot_isolation(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "old"), (2, "old")]), ts=1)
    # pin a reader to snapshot 1 BEFORE the merge rewrites the table
    pinned = t.read(snapshot_id=1)
    t.merge(_df(spark, [(2, "new"), (3, "new")]), keys=["id"], ts=2)
    assert _sorted(t.read()) == [(1, "old"), (2, "new"), (3, "new")]
    # snapshot isolation: the pinned plan still executes — its files exist
    # (the directory-swap fallback in sinks.py cannot make this promise)
    assert _sorted(pinned) == [(1, "old"), (2, "old")]


def _plant_other_writer(t):
    """Hand-commit snap-2 as a racing writer (same dirs as snap-1)."""
    import json

    other = dict(t._load(1), snapshot_id=2, parent_id=1)
    with open(t._snap_path(2), "w") as fh:
        json.dump(other, fh)


def test_commit_conflict_retry(spark, tmp_path, monkeypatch):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]), ts=1)
    _plant_other_writer(t)
    # the first two reads (sid hint + first retry attempt) see the STALE
    # current=1, so attempt 1 targets the already-taken snap-2 and must
    # take the CommitConflict → rebase → snap-3 path
    real = SnapshotTable.current_snapshot_id
    calls = {"n": 0}

    def stale(self):
        calls["n"] += 1
        return 1 if calls["n"] <= 2 else real(self)

    monkeypatch.setattr(SnapshotTable, "current_snapshot_id", stale)
    sid = t.append(_df(spark, [(2, "b")]), ts=2)
    assert sid == 3
    assert calls["n"] >= 3  # retry actually happened
    assert _sorted(t.read()) == [(1, "a"), (2, "b")]


def test_commit_conflict_exhausted_raises(spark, tmp_path, monkeypatch):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]), ts=1)
    _plant_other_writer(t)
    # a writer whose view never advances loses every race and must raise,
    # not silently clobber the other writer's snapshot
    monkeypatch.setattr(SnapshotTable, "current_snapshot_id",
                        lambda self: 1)
    with pytest.raises(CommitConflict):
        t.append(_df(spark, [(2, "b")]), ts=2)


def test_empty_table_read_raises(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    with pytest.raises(ValueError):
        t.read()


def test_snapshot_diff(spark, tmp_path):
    """CDC between snapshots: insert/delete/update labeled, unchanged
    keys absent, NULL→value counts as update (null-safe compare), and
    diffing a snapshot against itself is empty."""
    from insights_spark.runtime.tablefmt import SnapshotTable, snapshot_diff

    t = SnapshotTable(spark, str(tmp_path / "cdc"))
    t.append(spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "k long, v long"), ts=100)
    t.overwrite(spark.createDataFrame(
        [(1, 10), (2, 20), (4, 40)], "k long, v long"), ts=200)
    got = {r["k"]: (r["change"], r["old_v"], r["new_v"])
           for r in snapshot_diff(t, ["k"], from_ts=100,
                                  to_ts=200).collect()}
    assert got == {
        2: ("update", None, 20),   # NULL→value is an update, not noise
        3: ("delete", 30, None),
        4: ("insert", None, 40),
    }  # k=1 unchanged → absent
    assert snapshot_diff(t, ["k"], from_ts=200, to_ts=200).count() == 0
