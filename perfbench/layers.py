"""Per-layer instruments for the benchmark, all applied from outside the
engine package.

* ``Tracer`` wraps public functions of the engine's modules in spans
  (name, start, end, parent). Spans opened on a worker thread with no
  open span of their own (``build_warehouse``'s pool) take the
  innermost span open on the benchmark thread as parent. A span's self
  time is its share of wall time (``wall_shares``).
* ``parse_event_log`` reads Spark's own event log and attributes every
  job (and its stages and tasks) to the span that was innermost when
  the job was *submitted* — job groups are not inherited by the
  warehouse's thread pool, and the benchmark is the session's only
  client, so a submission time names its span unambiguously.
* ``StreamProgress`` is a ``StreamingQueryListener`` collecting each
  micro-batch's ``triggerExecution`` and ``addBatch`` durations.
* ``ProcSampler`` reads CPU time and peak RSS of the driver JVM and of
  its Python workers from ``/proc``.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from dataclasses import dataclass

from pyspark.sql.streaming import StreamingQueryListener

# Span names, in report order. Every traced run reports every one of
# them, so a layer a workload does not touch reads 0 calls.
SPANS = (
    "pipeline.run",
    "pipeline.ingest",
    "pipeline.quality",
    "pipeline.warehouse",
    "pipeline.report",
    "pipeline.store",
    "plans.relational",
    "plans.extensions",
    "plans.corpus",
    "plans.pipeline_queries",
    "streaming.intake",
)
SPAN_FIELDS = ("calls", "self_s", "jobs", "tasks", "executor_cpu_s", "shuffle_mb")
MB = 1024.0 * 1024.0


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: "Span | None" = None



def wall_shares(spans: list[Span]) -> dict[int, float]:
    """Self time as a share of wall time: every instant of the traced
    window is split equally among the innermost spans open at that
    instant (spans with no open child), so parallel calls on the
    warehouse's pool share the wall time they overlap and the shares of
    a pass's spans add up to the time they cover."""
    share = {id(s): 0.0 for s in spans}
    cuts = sorted({t for s in spans for t in (s.start, s.end)})
    for t0, t1 in zip(cuts, cuts[1:]):
        mid = (t0 + t1) / 2
        open_ = [s for s in spans if s.start <= mid <= s.end]
        parents = {id(s.parent) for s in open_ if s.parent is not None}
        leaves = [s for s in open_ if id(s) not in parents]
        for s in leaves:
            share[id(s)] += (t1 - t0) / len(leaves)
    return share


class Tracer:
    """Collects spans in memory; ``wrap`` patches a module or class
    attribute so each call is recorded, ``span`` records a block."""

    def __init__(self):
        self.spans: list[Span] = []
        self._local = threading.local()
        self._main = threading.current_thread()
        self._main_stack: list[Span] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        span = Span(name, time.time(), parent=parent)
        with self._lock:
            self.spans.append(span)
        stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        self._stack().remove(span)

    def call(self, name: str, fn, *args, **kwargs):
        span = self.open(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.close(span)

    def wrap(self, owner, attr: str, name: str) -> None:
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            return self.call(name, original, *args, **kwargs)

        self._patched.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def innermost(self, t: float) -> Span | None:
        """The latest-started span open at time ``t``."""
        best = None
        for s in self.spans:
            if s.start <= t <= (s.end or float("inf")) and (best is None or s.start >= best.start):
                best = s
        return best


def instrument(tracer: Tracer) -> None:
    """Wrap the engine's layer boundaries (the span table in
    perfbench/README.md)."""
    from efiche_data_pipeline_spark.pipeline import report, run, store
    from efiche_data_pipeline_spark.plans import pipeline_queries
    from efiche_data_pipeline_spark.streaming import intake

    tracer.wrap(run, "run_all", "pipeline.run")
    for fn in ("load_to_staging", "process_staging_to_production", "promote_ingested"):
        tracer.wrap(run, fn, "pipeline.ingest")
    tracer.wrap(run, "verify_contracts", "pipeline.quality")
    tracer.wrap(run, "build_warehouse", "pipeline.warehouse")
    tracer.wrap(pipeline_queries, "build_warehouse", "pipeline.warehouse")
    tracer.wrap(run, "render_report", "pipeline.report")
    tracer.wrap(report, "render_report", "pipeline.report")
    for attr, value in list(vars(store.Store).items()):
        if not attr.startswith("_") and callable(value):
            tracer.wrap(store.Store, attr, "pipeline.store")
    tracer.wrap(intake, "run_intake_stream", "streaming.intake")


def query_span(fn) -> str:
    """Span name of a registered query: the plans module it lives in."""
    return "plans." + fn.__module__.rsplit(".", 1)[-1]


def _load_events(log_dir: str):
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isdir(path):
            continue
        with open(path, encoding="utf-8", errors="replace") as fh:
            for line in fh:
                try:
                    yield json.loads(line)
                except ValueError:
                    continue


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, last = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= last:
            continue
        total += e - max(s, last)
        last = e
    return total


def parse_event_log(log_dir: str, tracer: Tracer, window: tuple[float, float]) -> dict:
    """Run-wide Spark metrics for jobs submitted inside ``window``
    (epoch seconds) plus per-span job/task/CPU/shuffle attribution."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: set[int] = set()
    tasks: list[tuple[int, dict]] = []
    for ev in _load_events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            t = ev["Submission Time"] / 1000.0
            if window[0] <= t <= window[1]:
                jobs[ev["Job ID"]] = {"start": t, "end": t}
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_job:
                stages.add(sid)
        elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_job:
            tasks.append((stage_job[ev["Stage ID"]], ev.get("Task Metrics") or {}))

    per_span = {name: {f: 0.0 for f in SPAN_FIELDS} for name in SPANS}
    job_span: dict[int, str | None] = {}
    for jid, job in jobs.items():
        span = tracer.innermost(job["start"])
        job_span[jid] = span.name if span else None
        if span and span.name in per_span:
            per_span[span.name]["jobs"] += 1

    agg = {k: 0.0 for k in ("run", "cpu", "sh_read", "sh_write", "spill", "input", "output")}
    for jid, m in tasks:
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        sh_read = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        sh_write = sw.get("Shuffle Bytes Written", 0)
        cpu = m.get("Executor CPU Time", 0) / 1e9
        agg["run"] += m.get("Executor Run Time", 0) / 1000.0
        agg["cpu"] += cpu
        agg["sh_read"] += sh_read
        agg["sh_write"] += sh_write
        agg["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        agg["input"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        agg["output"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        name = job_span.get(jid)
        if name in per_span:
            per_span[name]["tasks"] += 1
            per_span[name]["executor_cpu_s"] += cpu
            per_span[name]["shuffle_mb"] += (sh_read + sh_write) / MB

    busy = _union_length([(j["start"], min(j["end"], window[1])) for j in jobs.values()])
    out = {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": len(tasks),
        "spark.executor_run_s": agg["run"],
        "spark.executor_cpu_s": agg["cpu"],
        "spark.shuffle_read_mb": agg["sh_read"] / MB,
        "spark.shuffle_write_mb": agg["sh_write"] / MB,
        "spark.spill_mb": agg["spill"] / MB,
        "spark.input_mb": agg["input"] / MB,
        "spark.output_mb": agg["output"] / MB,
        "spark.driver_s": max(0.0, (window[1] - window[0]) - busy),
    }
    share = wall_shares(tracer.spans)
    for name in SPANS:
        spans = [s for s in tracer.spans if s.name == name]
        per_span[name]["calls"] = len(spans)
        per_span[name]["self_s"] = sum(share[id(s)] for s in spans)
        for f in SPAN_FIELDS:
            out[f"{name}.{f}"] = per_span[name][f]
    return out


class StreamProgress(StreamingQueryListener):
    """Micro-batch durations from Spark's own progress events."""

    def __init__(self):
        self.batches: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        if p.numInputRows == 0 and "addBatch" not in p.durationMs:
            return  # the availableNow no-data tick, not a micro-batch
        with self._lock:
            self.batches.append({
                "batch_id": p.batchId,
                "trigger_s": p.durationMs.get("triggerExecution", 0) / 1000.0,
                "add_batch_s": p.durationMs.get("addBatch", 0) / 1000.0,
                "rows": p.numInputRows,
            })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def take(self, expected: int, timeout_s: float = 10.0) -> list[dict]:
        """Wait until ``expected`` progress events arrived (the
        listener bus is asynchronous), then drain them."""
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            with self._lock:
                if len(self.batches) >= expected:
                    break
            time.sleep(0.05)
        with self._lock:
            out, self.batches = self.batches, []
        return out


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _cpu_s(fields: list[str], children: bool) -> float:
    tick = os.sysconf("SC_CLK_TCK")
    # fields[0] is the state (field 3 of stat); utime/stime are 14/15,
    # cutime/cstime 16/17
    t = int(fields[11]) + int(fields[12])
    if children:
        t += int(fields[13]) + int(fields[14])
    return t / tick


class ProcSampler:
    """CPU seconds of the JVM and of its Python worker processes."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def _descendants(self) -> list[int]:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                f = _stat(int(d))
                if f:
                    parent[int(d)] = int(f[1])
        found, frontier = [], [self.jvm_pid]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p]
            found += kids
            frontier += kids
        return found

    def sample(self) -> dict[str, float]:
        jvm = _stat(self.jvm_pid)
        workers = 0.0
        for pid in self._descendants():
            f = _stat(pid)
            if f:
                workers += _cpu_s(f, children=True)
        t = os.times()
        return {
            "jvm_cpu_s": _cpu_s(jvm, children=False) if jvm else 0.0,
            "python_worker_cpu_s": workers,
            "driver_py_cpu_s": t.user + t.system,
        }

    def peak_rss_mb(self) -> float:
        try:
            with open(f"/proc/{self.jvm_pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except OSError:
            pass
        return 0.0


def host_cpu() -> dict[str, float]:
    """Host-wide CPU seconds by state from /proc/stat; ``steal`` is time
    the hypervisor gave this VM's CPUs to other guests."""
    tick = os.sysconf("SC_CLK_TCK")
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return {"busy": (f[0] + f[1] + f[2] + f[5] + f[6]) / tick, "idle": (f[3] + f[4]) / tick,
            "steal": f[7] / tick}


def files_written_since(root: str, since: float) -> tuple[int, int]:
    """(files, bytes) under ``root`` modified at or after ``since``."""
    n = size = 0
    for dirpath, _, names in os.walk(root):
        for name in names:
            try:
                st = os.stat(os.path.join(dirpath, name))
            except OSError:
                continue
            if st.st_mtime >= since:
                n += 1
                size += st.st_size
    return n, size
