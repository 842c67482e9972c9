"""Per-layer tracing, done from the benchmark's side of the API.

Every call the workloads make into a layer (``io``, ``delta``,
``similarity``) runs inside :meth:`Tracer.span`. A span

- runs the call in its own Spark job group and reads the group's jobs,
  stages and tasks back from the public ``sc.statusTracker()``;
- counts and times the ``HadoopFS`` public-method calls made while it is
  open (the ``fs`` layer), by wrapping the class's methods for the length
  of the traced window;
- is kept in memory and written out when the run ends.

Executor CPU, shuffle, input and output bytes come from Spark's JSON event
log, grouped by job group (:func:`event_log_facts`). The event log is read
after the SparkContext stops, when it has been flushed.

With tracing off, :meth:`Tracer.span` only yields: the untraced runs that
give the end-to-end metrics pay nothing for it.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

IO_WRITE_VERBS = ("create", "append", "upsert", "merge", "pandas_write", "compact")
IO_READ_VERBS = ("read_range", "read_point", "read_stats", "read_version", "read_pandas")
WRITE_FACTS = ("busy_s", "jobs", "stages", "tasks", "cpu_s", "shuffle_bytes", "bytes_written")
READ_FACTS = ("busy_s", "jobs", "input_bytes", "scan_ratio")
DELTA_VERBS = ("append", "checkpoint", "scan")
SIM_VERBS = ("build", "append", "compact", "query")
STAGE_FACTS = ("busy_s", "jobs", "stages", "cpu_s")

# the HadoopFS methods the catalog, Delta and index code call
FS_METHODS = (
    "exists", "mkdirs", "delete", "list_dirs", "list_files", "canonical",
    "rename_dir", "copy", "du", "mtime", "read_text", "write_text_atomic",
    "write_text_if_absent",
)
IDLE_GROUP = "perfbench-idle"


def per_layer_names() -> list[str]:
    """Every per-layer metric the traced run prints, in print order."""
    names = [f"io.{v}.{f}" for v in IO_WRITE_VERBS for f in WRITE_FACTS]
    names += ["io.vacuum.busy_s", "io.vacuum.jobs"]
    names += [f"io.{v}.{f}" for v in IO_READ_VERBS for f in READ_FACTS]
    names += [f"fs.{s}.{f}" for s in ("write", "read") for f in ("calls", "busy_s", "text_bytes")]
    names += ["fs.delta.calls", "fs.similarity.calls"]
    names += [f"delta.{v}.{f}" for v in DELTA_VERBS for f in STAGE_FACTS]
    names += ["delta.append.bytes_written", "delta.checkpoint.bytes_written"]
    names += [f"similarity.{v}.{f}" for v in SIM_VERBS for f in STAGE_FACTS]
    names += ["similarity.build.shuffle_bytes", "similarity.query.input_bytes"]
    names.append("trace.overhead")
    return names


UNITS = {
    "busy_s": "s", "jobs": "count", "stages": "count", "tasks": "count",
    "cpu_s": "s", "shuffle_bytes": "bytes", "bytes_written": "bytes",
    "input_bytes": "bytes", "scan_ratio": "ratio", "calls": "count",
    "text_bytes": "bytes", "overhead": "ratio",
}


class Tracer:
    """Spans around layer calls; inert until :meth:`enable`."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.enabled = False
        self.spans: list[dict] = []
        # seconds the spans spent on their own bookkeeping
        self.cost = 0.0
        self._seq = 0
        self._current: "dict | None" = None
        self._lock = threading.Lock()
        self._local = threading.local()
        self._saved_fs: dict = {}

    def enable(self) -> None:
        if self.enabled:
            return
        from pandabase_spark.fs import HadoopFS

        for name in FS_METHODS:
            orig = HadoopFS.__dict__[name]
            self._saved_fs[name] = orig
            setattr(HadoopFS, name, self._probe(name, orig))
        self._sc.setJobGroup(IDLE_GROUP, "benchmark harness")
        self.enabled = True

    def disable(self) -> None:
        if not self.enabled:
            return
        from pandabase_spark.fs import HadoopFS

        for name, orig in self._saved_fs.items():
            setattr(HadoopFS, name, orig)
        self._saved_fs.clear()
        self.enabled = False

    def _probe(self, name: str, orig):
        tracer = self
        local = self._local

        def probe(fs, *args, **kwargs):
            # count the outermost call only: HadoopFS methods call each other
            if getattr(local, "depth", 0):
                return orig(fs, *args, **kwargs)
            local.depth = 1
            t0 = time.perf_counter()
            out = None
            try:
                out = orig(fs, *args, **kwargs)
                return out
            finally:
                local.depth = 0
                if name == "read_text" and isinstance(out, str):
                    text = out
                elif name.startswith("write_text"):
                    text = kwargs.get("text", args[1] if len(args) > 1 else "")
                else:
                    text = ""
                tracer._fs_call(time.perf_counter() - t0, len(text.encode("utf-8")))

        probe.__name__ = name
        probe.__doc__ = orig.__doc__
        return probe

    def _fs_call(self, seconds: float, text_bytes: int) -> None:
        with self._lock:
            span = self._current
            if span is None:
                return
            span["fs_calls"] += 1
            span["fs_s"] += seconds
            span["fs_text_bytes"] += text_bytes

    @contextmanager
    def span(self, name: str):
        """Trace one layer call named ``<layer>.<verb>``. Yields the span
        record (``None`` when tracing is off); a caller may set its
        ``rows`` (rows returned) for the read verbs' scan ratio."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        self._seq += 1
        group = f"perfbench-{self._seq}"
        rec = {
            "name": name, "group": group, "rows": 0,
            "fs_calls": 0, "fs_s": 0.0, "fs_text_bytes": 0,
        }
        self._sc.setJobGroup(group, name)
        with self._lock:
            self._current = rec
        rec["start"] = time.perf_counter()
        self.cost += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            with self._lock:
                self._current = None
            self._sc.setJobGroup(IDLE_GROUP, "benchmark harness")
            rec.update(self._job_facts(group))
            self.spans.append(rec)
            self.cost += time.perf_counter() - rec["end"]

    def _job_facts(self, group: str) -> dict:
        tracker = self._sc.statusTracker()
        jobs = stages = tasks = 0
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                # a stage whose shuffle output is reused is listed but
                # never runs: count only stages that ran tasks
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks}

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1, default=str)


def event_log_facts(log_dir: str) -> tuple[dict, dict]:
    """Executor-side task metrics summed per job group, plus the checks
    that say whether this Spark build's event log carries them.

    Returns ``(facts, checks)``: ``facts[group]`` has ``cpu_s``,
    ``shuffle_bytes`` (written), ``input_bytes``, ``input_records`` and
    ``bytes_written``; ``checks`` says whether job
    start events carried the job group and task end events the metrics.
    """
    stage_group: dict = {}
    facts: dict = defaultdict(lambda: defaultdict(float))
    checks = {"job_group_on_job_start": False, "task_end_metrics": False}
    need = ("Executor CPU Time", "Shuffle Write Metrics", "Input Metrics", "Output Metrics")
    paths = sorted(os.path.join(d, n) for d, _, files in os.walk(log_dir) for n in files)
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group and group.startswith("perfbench-") and group != IDLE_GROUP:
                        checks["job_group_on_job_start"] = True
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    if all(k in m for k in need):
                        checks["task_end_metrics"] = True
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    g = facts[group]
                    g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    inp = m.get("Input Metrics") or {}
                    g["input_bytes"] += inp.get("Bytes Read", 0)
                    g["input_records"] += inp.get("Records Read", 0)
                    g["bytes_written"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return facts, checks


def layer_metrics(spans: list[dict], facts: dict, overhead: float) -> dict:
    """Per-call means of each layer verb's facts (0 for a verb the
    workload never called), keyed by :func:`per_layer_names`."""
    by_name: dict = defaultdict(list)
    for s in spans:
        g = facts.get(s["group"], {})
        by_name[s["name"]].append({
            "busy_s": s["end"] - s["start"],
            "jobs": s["jobs"], "stages": s["stages"], "tasks": s["tasks"],
            "cpu_s": g.get("cpu_s", 0.0),
            "shuffle_bytes": g.get("shuffle_bytes", 0.0),
            "bytes_written": g.get("bytes_written", 0.0),
            "input_bytes": g.get("input_bytes", 0.0),
            "input_records": g.get("input_records", 0.0),
            "rows": s["rows"],
            "fs_calls": s["fs_calls"], "fs_s": s["fs_s"],
            "fs_text_bytes": s["fs_text_bytes"],
        })

    def mean(calls: list, key: str) -> float:
        return sum(c[key] for c in calls) / len(calls) if calls else 0.0

    out: dict = {}
    for name in per_layer_names():
        if name == "trace.overhead":
            out[name] = overhead
            continue
        layer, verb, fact = name.split(".")
        if layer == "fs":
            if verb in ("write", "read"):
                verbs = IO_WRITE_VERBS + ("vacuum",) if verb == "write" else IO_READ_VERBS
                calls = [c for v in verbs for c in by_name[f"io.{v}"]]
            else:
                calls = [c for n, cs in by_name.items() if n.startswith(verb + ".") for c in cs]
            key = {"calls": "fs_calls", "busy_s": "fs_s", "text_bytes": "fs_text_bytes"}[fact]
            out[name] = mean(calls, key)
        elif fact == "scan_ratio":
            calls = by_name[f"{layer}.{verb}"]
            returned = sum(c["rows"] for c in calls)
            out[name] = sum(c["input_records"] for c in calls) / returned if returned else 0.0
        else:
            out[name] = mean(by_name[f"{layer}.{verb}"], fact)
    return out
