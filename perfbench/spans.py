"""Per-layer tracing from outside the program.

A `Tracer` wraps public functions of the engine's modules. Each wrapped
call is a span (layer, name, start, end, parent); all spans of one op share
the op's id. While a span is open the wrapper sets the Spark job group to
the span's id and restores the previous group on exit, so every Spark job
is attributed to the innermost wrapped call active when it starts. Spans
stay in memory; `layer_metrics` joins them with the Spark event log that
the traced run writes (uncompressed, one JSON event per line) once the
session has stopped.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PROP = "spark.jobGroup.id"

# (module, attribute path, layer): the calls the pipeline and the query
# builders make into each layer. Plan-building functions return lazy
# DataFrames, so their spans time the Spark driver side only; the executor work
# they define runs under whichever span triggers it (usually a sink).
PATCHES = [
    ("insights_spark.extract", "extract_changeset_bundles", "extract"),
    ("insights_spark.extract", "extract_elements_enriched", "extract"),
    ("insights_spark.geo.pip", "PolygonIndex.__init__", "geo"),
    ("insights_spark.geo.tiles", "tile_pyramid", "geo"),
    ("insights_spark.ops.propagate", "propagate_locations", "ops"),
    ("insights_spark.ops.stats", "missed_changesets", "ops"),
    ("insights_spark.ops.stats", "changeset_stats_with_meters", "ops"),
    ("insights_spark.ops.tags", "hashtag_vocabulary", "ops"),
    ("insights_spark.runtime.sinks", "ParquetSinks.merge", "runtime.sinks"),
    ("insights_spark.runtime.sinks", "ParquetSinks.merge_sum", "runtime.sinks"),
    ("insights_spark.runtime.sinks", "ParquetSinks.append_dedup", "runtime.sinks"),
    ("insights_spark.runtime.sinks", "ParquetSinks.read", "runtime.sinks"),
    ("insights_spark.runtime.lineage", "LineageLog.record", "runtime.lineage"),
    ("insights_spark.runtime.checkpoint", "CheckpointStore.last_sequence",
     "runtime.checkpoint"),
    ("insights_spark.runtime.checkpoint", "CheckpointStore.commit", "runtime.checkpoint"),
    # bound by name into the pipeline's namespace at import
    ("insights_spark.jobs.pipeline", "incremental_filter", "runtime.checkpoint"),
]

MB = 1e6


@dataclass
class Span:
    id: int
    parent: int | None
    op: int | None
    layer: str
    name: str
    t0: float
    t1: float = 0.0


@dataclass
class Op:
    id: int
    name: str
    timed: bool
    t0: float = 0.0
    t1: float = 0.0
    cache_mb: float = 0.0
    rss_mb: float = 0.0


@dataclass
class Tracer:
    """Spans and ops of one run; install() patches, restore() undoes."""

    sc: object
    spans: list[Span] = field(default_factory=list)
    ops: list[Op] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)
    _op: Op | None = None
    _saved: list[tuple] = field(default_factory=list)

    @contextmanager
    def span(self, layer: str, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent.id if parent else None,
                 self._op.id if self._op else None, layer, name, time.time())
        self.spans.append(s)
        self._stack.append(s)
        prev = self.sc.getLocalProperty(GROUP_PROP)
        self.sc.setLocalProperty(GROUP_PROP, f"pb{s.id}")
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(GROUP_PROP, prev)

    @contextmanager
    def op(self, name: str, layer: str, timed: bool):
        o = Op(len(self.ops), name, timed)
        self.ops.append(o)
        self._op = o
        o.t0 = time.time()
        try:
            with self.span(layer, name):
                yield o
        finally:
            o.t1 = time.time()
            self._op = None
            o.cache_mb = cached_mb(self.sc)
            o.rss_mb = peak_rss_mb(self.sc)

    def wrap(self, fn, layer: str, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, name):
                return fn(*args, **kwargs)

        return traced

    def install(self, patches=PATCHES) -> None:
        for mod_name, path, layer in patches:
            owner = importlib.import_module(mod_name)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            fn = getattr(owner, attr)
            self._saved.append((owner, attr, fn))
            setattr(owner, attr, self.wrap(fn, layer, f"{mod_name}.{path}"))

    def restore(self) -> None:
        while self._saved:
            owner, attr, fn = self._saved.pop()
            setattr(owner, attr, fn)


def cached_mb(sc) -> float:
    """Persisted bytes (memory + disk) the block manager still holds."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(sc) -> float:
    """High-water RSS of the Spark driver JVM plus its live Python workers."""
    jvm = int(sc._jvm.java.lang.ProcessHandle.current().pid())
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, frontier = {jvm}, [jvm]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return sum(_hwm_kb(p) for p in tree) * 1024 / MB


# ---------------------------------------------------------------- event log

def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        # Spark 4 compresses event logs with zstd by default; keep plain
        # JSON lines so the parser needs no codec
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class Group:
    """What the Spark jobs of one job group (one span) did."""

    jobs: int = 0
    stages: list[tuple[float, float]] = field(default_factory=list)
    tasks: int = 0
    tasks_failed: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    python_s: float = 0.0
    python_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    fetch_wait_s: float = 0.0
    spill_mb: float = 0.0
    scan_mb: float = 0.0
    write_mb: float = 0.0


def _group_of(props: dict | None) -> int | None:
    g = (props or {}).get(GROUP_PROP) or ""
    return int(g[2:]) if g.startswith("pb") and g[2:].isdigit() else None


def parse_event_log(path: str) -> dict[int, Group]:
    """Aggregate jobs, stages and task metrics by span id."""
    groups: dict[int, Group] = {}
    stage_group: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            head = line[:60]
            if "SparkListenerTaskEnd" in head:
                e = json.loads(line)
                sid = stage_group.get(e["Stage ID"])
                if sid is None:
                    continue
                g = groups[sid]
                g.tasks += 1
                if e["Task End Reason"].get("Reason") != "Success":
                    g.tasks_failed += 1
                m = e.get("Task Metrics") or {}
                g.task_s += m.get("Executor Run Time", 0) / 1e3
                g.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                g.gc_s += m.get("JVM GC Time", 0) / 1e3
                g.spill_mb += m.get("Disk Bytes Spilled", 0) / MB
                sr = m.get("Shuffle Read Metrics", {})
                g.shuffle_read_mb += (sr.get("Remote Bytes Read", 0)
                                      + sr.get("Local Bytes Read", 0)) / MB
                g.fetch_wait_s += sr.get("Fetch Wait Time", 0) / 1e3
                g.shuffle_write_mb += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0) / MB
                g.scan_mb += m.get("Input Metrics", {}).get("Bytes Read", 0) / MB
                g.write_mb += m.get("Output Metrics", {}).get("Bytes Written", 0) / MB
                for a in e["Task Info"].get("Accumulables", []):
                    name = a.get("Name")
                    if name == "time to run Python workers":
                        g.python_s += float(a.get("Update", 0)) / 1e3
                    elif name == "data sent to Python workers":
                        g.python_mb += float(a.get("Update", 0)) / MB
            elif "SparkListenerStageSubmitted" in head:
                e = json.loads(line)
                sid = _group_of(e.get("Properties"))
                if sid is not None:
                    stage_group[e["Stage Info"]["Stage ID"]] = sid
                    groups.setdefault(sid, Group())
            elif "SparkListenerStageCompleted" in head:
                info = json.loads(line)["Stage Info"]
                sid = stage_group.get(info["Stage ID"])
                if sid is not None and "Submission Time" in info:
                    groups[sid].stages.append(
                        (info["Submission Time"] / 1e3,
                         info.get("Completion Time", info["Submission Time"]) / 1e3))
            elif "SparkListenerJobStart" in head:
                sid = _group_of(json.loads(line).get("Properties"))
                if sid is not None:
                    groups.setdefault(sid, Group()).jobs += 1
    return groups


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def _layer_time(spans: list[Span], layer: str) -> float:
    """Summed duration of a layer's outermost spans (no double counting of
    a layer calling itself)."""
    by_id = {s.id: s for s in spans}
    return sum(s.t1 - s.t0 for s in spans if s.layer == layer
               and (s.parent is None or by_id[s.parent].layer != layer))


def layer_metrics(tracer: Tracer, groups: dict[int, Group], cores: int,
                  query_names: list[str], session_s: float) -> dict[str, float]:
    """Per-layer metrics over the timed ops of one traced run."""
    timed = {o.id: o for o in tracer.ops if o.timed}
    spans = [s for s in tracer.spans if s.op in timed]
    by_id = {s.id: s for s in spans}
    op_groups: dict[int, list[Group]] = {o: [] for o in timed}
    for sid, g in groups.items():
        if sid in by_id:
            op_groups[by_id[sid].op].append(g)

    out = {"session.start_s": session_s}
    tot = Group()
    gap = covered_core_s = 0.0
    for oid, gs in op_groups.items():
        o = timed[oid]
        stages = [iv for g in gs for iv in g.stages]
        cov = _covered(stages, o.t0, o.t1)
        gap += (o.t1 - o.t0) - cov
        covered_core_s += cov * cores
        for g in gs:
            for k, v in vars(g).items():
                if k == "stages":
                    continue
                setattr(tot, k, getattr(tot, k) + v)
    out["spark.jobs"] = tot.jobs
    out["spark.stages"] = sum(len(g.stages) for gs in op_groups.values() for g in gs)
    out["spark.tasks"] = tot.tasks
    out["spark.tasks_failed"] = tot.tasks_failed
    out["spark.driver_gap_s"] = gap
    out["spark.core_busy"] = tot.task_s / covered_core_s if covered_core_s else 0.0
    for k in ("task_s", "cpu_s", "gc_s", "python_s", "python_mb", "shuffle_write_mb",
              "shuffle_read_mb", "fetch_wait_s", "spill_mb", "scan_mb", "write_mb"):
        out[f"spark.{k}"] = getattr(tot, k)
    out["spark.cache_mb"] = max((o.cache_mb for o in timed.values()), default=0.0)
    out["spark.peak_rss_mb"] = max((o.rss_mb for o in timed.values()), default=0.0)

    child_time: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_time[s.parent] = child_time.get(s.parent, 0.0) + (s.t1 - s.t0)
    out["jobs.pipeline.self_s"] = sum(s.t1 - s.t0 - child_time.get(s.id, 0.0)
                                      for s in spans if s.layer == "jobs.pipeline")
    out["entry.build_s"] = _layer_time(spans, "__spark_entry__")
    for layer in ("extract", "geo", "ops", "runtime.sinks", "runtime.lineage",
                  "runtime.checkpoint"):
        out[f"{layer}.s"] = _layer_time(spans, layer)
    for layer in ("runtime.sinks", "runtime.lineage"):
        gs = [groups[s.id] for s in spans if s.layer == layer and s.id in groups]
        out[f"{layer}.jobs"] = sum(g.jobs for g in gs)
        if layer == "runtime.sinks":
            out[f"{layer}.write_mb"] = sum(g.write_mb for g in gs)
    for q in query_names:
        ts = [o.t1 - o.t0 for o in timed.values() if o.name == q]
        out[f"query.{q}_s"] = statistics.median(ts) if ts else 0.0
    return out


def dump(tracer: Tracer, path: str) -> None:
    """Write the spans and ops of the run as one JSON document."""
    with open(path, "w") as fh:
        json.dump({"ops": [vars(o) for o in tracer.ops],
                   "spans": [vars(s) for s in tracer.spans]}, fh)
