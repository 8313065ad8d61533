"""Per-layer tracing for the benchmark's traced run.

Spans are recorded from outside the engine: :class:`Tracer` wraps the
public functions of each engine module (``sources``, ``pipeline``, ``lake``,
``checkpoint``, ``derived``, ``replicate``) and keeps ``(name, start, end,
parent)`` records in memory. Each span sets the Spark job group of the
calling thread to ``<name>#<span id>`` and restores the outer group on exit,
so Spark's event log attributes every job to the innermost span that fired
it. :func:`rollup` turns that event log into per-span task time, CPU, GC,
shuffle and spill figures; jobs that carry no group (fired from engine
driver threads, or outside any span) are reported as ``unattributed``.

No engine code is changed: wrappers are installed on the classes and the
``etl_spark.pipeline`` namespace for the traced phase and removed after it.
"""

from __future__ import annotations

import importlib
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Callable

GROUP_PROP = "spark.jobGroup.id"

# (module, owner attribute or None for a module function, function, span name)
FULL_SPANS = [
    ("etl_spark.pipeline", "IngestPipeline", "replay", "pipeline.replay"),
    ("etl_spark.lake.table", "SnapshotTable", "merge_epochs", "lake.merge_epochs"),
    ("etl_spark.lake.table", "SnapshotTable", "read", "lake.read"),
    ("etl_spark.lake.table", "SnapshotTable", "lookup", "lake.lookup"),
    ("etl_spark.lake.table", "SnapshotTable", "changes_between",
     "lake.changes_between"),
    ("etl_spark.derived", "CleanCorpus", "update_for_commit",
     "derived.CleanCorpus.update_for_commit"),
    ("etl_spark.derived", "DedupIndex", "update_for_commit",
     "derived.DedupIndex.update_for_commit"),
    ("etl_spark.replicate", "Mirror", "sync", "replicate.Mirror.sync"),
]
LIGHT_SPANS = [
    # replay looks pending_segments up in its own module namespace
    ("etl_spark.pipeline", None, "pending_segments", "sources.pending_segments"),
    ("etl_spark.lake.table", "SnapshotTable", "applied_epochs",
     "lake.applied_epochs"),
    ("etl_spark.checkpoint", "CheckpointLog", "logged_epochs",
     "checkpoint.logged_epochs"),
    ("etl_spark.checkpoint", "CheckpointLog", "append_pandas",
     "checkpoint.append_pandas"),
    ("etl_spark.checkpoint", "CheckpointLog", "mark_empty",
     "checkpoint.mark_empty"),
    ("etl_spark.derived", "CleanCorpus", "catch_up", "derived.CleanCorpus.catch_up"),
    ("etl_spark.derived", "DedupIndex", "catch_up", "derived.DedupIndex.catch_up"),
]
FULL_STATS = ("calls", "wall_s", "self_s", "driver_s", "jobs", "task_s",
              "cpu_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "gc_s")
LIGHT_STATS = ("calls", "wall_s", "self_s", "jobs")
COUNTERS = ("lake.files_rewritten", "lake.files_pruned", "lake.prune_ratio",
            "lake.delta_files", "lake.stale_rows_dropped",
            "lake.bytes_written_mb", "lake.table_files",
            "derived.DedupIndex.new_pairs", "replicate.rows_written",
            "replicate.full_resyncs")
MB = float(1 << 20)


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{self.name}#{self.sid}"


class NullTracer:
    """Stands in when tracing is off: spans cost nothing."""

    @contextmanager
    def span(self, name: str, obj: Any = None):
        yield None

    consume = span


class Tracer:
    """In-memory span recorder plus the wrappers that feed it.

    ``role_of`` maps a SnapshotTable root to its role (``fact``, ``clean``,
    ``dedup``, ``mirror``); every ``lake.*`` span records it as an
    attribute. Counters are accumulated from the fact table's commit dicts
    at the ``merge_epochs`` boundary, the dedup index's per-commit report
    and the mirror's sync result.
    """

    def __init__(self, spark, role_of: Callable[[str], str]) -> None:
        self.sc = spark.sparkContext
        self.role_of = role_of
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._patches: list[tuple[Any, str, Any, bool]] = []

    @contextmanager
    def span(self, name: str, obj: Any = None):
        s = Span(len(self.spans), name,
                 self.stack[-1].sid if self.stack else None, time.time())
        root = getattr(obj, "root", None)
        if name.startswith("lake.") and root is not None:
            s.attrs["role"] = self.role_of(str(root))
        prev = self.sc.getLocalProperty(GROUP_PROP)
        self.sc.setLocalProperty(GROUP_PROP, s.group)
        self.spans.append(s)
        self.stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self.stack.pop()
            self.sc.setLocalProperty(GROUP_PROP, prev)

    # -- wrappers ----------------------------------------------------------

    def _wrap(self, fn: Callable, name: str, is_method: bool) -> Callable:
        tracer = self

        def wrapped(*args, **kwargs):
            obj = args[0] if is_method else None
            top = tracer.stack[-1] if tracer.stack else None
            # the benchmark opens the same span around a call whose result it
            # consumes (lookup(...).collect()); one span covers both
            if top is not None and top.name == name and top.attrs.get(
                "obj"
            ) is obj is not None:
                return fn(*args, **kwargs)
            with tracer.span(name, obj) as s:
                out = fn(*args, **kwargs)
                tracer._count(name, s.attrs.get("role"), out)
                return out

        wrapped.__wrapped__ = fn
        return wrapped

    def install(self) -> None:
        for mod_name, owner_name, fn_name, span_name in FULL_SPANS + LIGHT_SPANS:
            mod = importlib.import_module(mod_name)
            owner = getattr(mod, owner_name) if owner_name else mod
            own = fn_name in vars(owner)
            fn = getattr(owner, fn_name)
            self._patches.append((owner, fn_name, fn, own))
            setattr(owner, fn_name,
                    self._wrap(fn, span_name, is_method=owner_name is not None))

    def uninstall(self) -> None:
        for owner, fn_name, fn, own in reversed(self._patches):
            if own:
                setattr(owner, fn_name, fn)
            else:
                delattr(owner, fn_name)
        self._patches.clear()

    @contextmanager
    def consume(self, name: str, table):
        """Span around a benchmark call site that both builds and consumes a
        lazy DataFrame, so the consuming jobs land in the same span."""
        with self.span(name, table) as s:
            s.attrs["obj"] = table
            try:
                yield s
            finally:
                s.attrs.pop("obj", None)

    def _count(self, name: str, role: str | None, out: Any) -> None:
        if not isinstance(out, dict) or out.get("skipped"):
            return
        c = self.counters
        if name == "lake.merge_epochs" and role == "fact":
            c["lake.files_rewritten"] += out.get("files_rewritten") or 0
            c["lake.files_pruned"] += out.get("files_pruned") or 0
            c["lake.delta_files"] += out.get("delta_files") or 0
            c["lake.stale_rows_dropped"] += out.get("stale_rows_dropped") or 0
            c["lake.bytes_written_mb"] += sum(
                f.get("bytes") or 0 for f in out.get("new_files") or []
            ) / MB
        elif name == "derived.DedupIndex.update_for_commit":
            c["derived.DedupIndex.new_pairs"] += out.get("new_pairs") or 0
        elif name == "replicate.Mirror.sync":
            c["replicate.rows_written"] += out.get("rows_written") or 0
            c["replicate.full_resyncs"] += 1 if "full_resync" in out else 0

    def counter_values(self, table_files: int) -> dict[str, float]:
        c = dict(self.counters)
        done = c.get("lake.files_pruned", 0) + c.get("lake.files_rewritten", 0)
        c["lake.prune_ratio"] = c.get("lake.files_pruned", 0) / done if done else 0.0
        c["lake.table_files"] = table_files
        return {k: c.get(k, 0) for k in COUNTERS}


# -- Spark event log ----------------------------------------------------------


def _event_log_file(log_dir: str) -> Path:
    files = [p for p in Path(log_dir).iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return files[0]


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """Jobs and stages of the one application logged under ``log_dir``.

    jobs: id -> {group, submit} ; stages: (id, attempt) -> {group, start, end,
    task_s, cpu_s, gc_s, shuffle_write, shuffle_read, spill}. Times are epoch
    seconds, like the spans'."""
    jobs: dict[int, dict] = {}
    stages: dict[tuple, dict] = {}
    with open(_event_log_file(log_dir)) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "group": (ev.get("Properties") or {}).get(GROUP_PROP),
                    "submit": ev["Submission Time"] / 1000.0,
                }
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                stages[key] = {
                    "group": (ev.get("Properties") or {}).get(GROUP_PROP),
                    "start": (info.get("Submission Time") or 0) / 1000.0,
                    "end": None, "task_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                    "shuffle_write": 0, "shuffle_read": 0, "spill": 0,
                }
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.get((info["Stage ID"], info["Stage Attempt ID"]))
                if st is not None:
                    st["end"] = (info.get("Completion Time") or 0) / 1000.0
            elif kind == "SparkListenerTaskEnd":
                st = stages.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                tm = ev.get("Task Metrics")
                if st is None or not tm:
                    continue
                st["task_s"] += tm.get("Executor Run Time", 0) / 1e3
                st["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                st["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                st["spill"] += tm.get("Disk Bytes Spilled", 0)
                sw = tm.get("Shuffle Write Metrics") or {}
                st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                st["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                       + sr.get("Local Bytes Read", 0))
    return jobs, stages


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def rollup(spans: list[Span], log_dir: str, window: tuple[float, float]) -> dict:
    """Per-span-name layer table from the spans and the event log.

    Jobs, task metrics and bytes go to the innermost span (the job group).
    ``driver_s`` is the span's wall time during which none of the stages
    fired inside it (its own or its children's) was running. A span nested
    inside a span of the same name is folded into the outer one, so wall
    time is not counted twice. Only jobs submitted inside ``window`` count;
    the ones with no group are ``unattributed``.
    """
    jobs, stages = read_event_log(log_dir)
    w0, w1 = window
    by_group: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    intervals: dict[str, list] = defaultdict(list)
    n_jobs = unattributed = 0
    for j in jobs.values():
        if not (w0 <= j["submit"] <= w1):
            continue
        n_jobs += 1
        if j["group"] is None:
            unattributed += 1
        else:
            by_group[j["group"]]["jobs"] += 1
    for st in stages.values():
        if st["group"] is None or not (w0 <= st["start"] <= w1):
            continue
        g = by_group[st["group"]]
        for k in ("task_s", "cpu_s", "gc_s"):
            g[k] += st[k]
        g["shuffle_write_mb"] += st["shuffle_write"] / MB
        g["shuffle_read_mb"] += st["shuffle_read"] / MB
        g["spill_mb"] += st["spill"] / MB
        intervals[st["group"]].append((st["start"], st["end"] or w1))

    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)

    def subtree(s: Span):
        yield s
        for c in children[s.sid]:
            yield from subtree(c)

    by_id = {s.sid: s for s in spans}

    def same_name_ancestor(s: Span) -> bool:
        p = s.parent
        while p is not None:
            if by_id[p].name == s.name:
                return True
            p = by_id[p].parent
        return False

    # rows per span name, and per name and table role ("lake.read[fact]")
    table: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        role = s.attrs.get("role")
        rows = [table[s.name]] + ([table[f"{s.name}[{role}]"]] if role else [])
        nested = same_name_ancestor(s)
        wall = s.end - s.start
        busy = _union_len([
            (max(a, s.start), min(b, s.end))
            for d in subtree(s) for a, b in intervals[d.group]
            if min(b, s.end) > max(a, s.start)
        ])
        for row in rows:
            for k in ("jobs", "task_s", "cpu_s", "gc_s", "shuffle_write_mb",
                      "shuffle_read_mb", "spill_mb"):
                row[k] += by_group[s.group].get(k, 0.0)
            if nested:
                continue
            row["calls"] += 1
            row["wall_s"] += wall
            row["self_s"] += wall - sum(c.end - c.start for c in children[s.sid])
            row["driver_s"] += wall - busy
    return {
        "layers": {k: dict(v) for k, v in table.items()},
        "jobs": n_jobs,
        "unattributed_jobs": unattributed,
        "unattributed_job_share": unattributed / n_jobs if n_jobs else 0.0,
    }


def coverage(spans: list[Span], window: tuple[float, float]) -> float:
    """Share of ``window`` covered by top-level spans."""
    w0, w1 = window
    iv = [(max(s.start, w0), min(s.end, w1)) for s in spans
          if s.parent is None and min(s.end, w1) > max(s.start, w0)]
    return _union_len(iv) / (w1 - w0) if w1 > w0 else 0.0


def layer_metrics(layers: dict, counters: dict, extra: dict) -> dict[str, tuple]:
    """The per-layer metric set: ``<span>.<stat>`` plus counters; every name
    is present on every workload (0 where a layer never ran)."""
    units = {"calls": "count", "jobs": "count", "wall_s": "s", "self_s": "s",
             "driver_s": "s", "task_s": "s", "cpu_s": "s", "gc_s": "s",
             "shuffle_write_mb": "MB", "shuffle_read_mb": "MB", "spill_mb": "MB"}
    out: dict[str, tuple] = {}
    for spec, stats in ((FULL_SPANS, FULL_STATS), (LIGHT_SPANS, LIGHT_STATS)):
        for *_, name in spec:
            row = layers.get(name, {})
            for st in stats:
                out[f"{name}.{st}"] = (float(row.get(st, 0.0)), units[st])
    cunits = {"lake.prune_ratio": "ratio", "lake.bytes_written_mb": "MB"}
    for k in COUNTERS:
        out[k] = (float(counters.get(k, 0)), cunits.get(k, "count"))
    out.update(extra)
    return out
