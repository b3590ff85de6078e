"""Spans, py4j call counts and Spark event-log statistics, recorded from
outside the package.

``Tracer`` keeps spans (name, start, end, parent, run id) in memory.
``instrument`` wraps the public functions of named package modules so
each call opens a span named after its module, and wraps the py4j
client so every round trip is counted against the innermost open span.
Jobs come from the Spark event log: each is attributed to the job group
it ran under (``<run>|<query>|build`` or ``...|exec``) and, by its
submission time, to the innermost span open at that moment.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import os
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run: str = ""
    py4j: int = 0          # round trips while the span was innermost
    idx: int = 0


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    run: str = ""

    @contextmanager
    def span(self, name: str):
        s = Span(name, time.time(), parent=self._stack[-1] if self._stack else None,
                 run=self.run, idx=len(self.spans))
        self.spans.append(s)
        self._stack.append(s.idx)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def count_py4j(self) -> None:
        if self._stack:
            self.spans[self._stack[-1]].py4j += 1

    def innermost_at(self, t: float) -> Span | None:
        """The deepest span whose interval contains ``t``."""
        best = None
        for s in self.spans:
            if s.start <= t <= s.end and (best is None or _depth(self, s) > _depth(self, best)):
                best = s
        return best

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


def _depth(tr: Tracer, s: Span) -> int:
    d = 0
    while s.parent is not None:
        s = tr.spans[s.parent]
        d += 1
    return d


def _union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, hi_seen = 0.0, None
    for lo, hi in sorted(intervals):
        if hi_seen is not None and lo < hi_seen:
            lo = hi_seen
        if hi > lo:
            total += hi - lo
            hi_seen = hi
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover
    (children may overlap each other; their union is subtracted)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return {s.idx: (s.end - s.start) - _union(
        [(max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.idx, [])])
        for s in spans}


def instrument(tracer: Tracer, spark, modules: list[str]) -> None:
    """Wrap every public function defined in ``modules`` (and every
    module-level alias of it elsewhere in the package) in a span named
    after its module, and count py4j round trips."""
    pkg = "sanctions_data_pipeline_spark"
    wrapped = {}
    for short in modules:
        mod = importlib.import_module(f"{pkg}.{short}")
        for name, fn in list(vars(mod).items()):
            # pandas UDFs keep their own wrapper; leave them alone
            if (name.startswith("_") or not inspect.isfunction(fn)
                    or fn.__module__ != mod.__name__
                    or hasattr(fn, "evalType")):
                continue
            wrapped[fn] = _wrap(tracer, short, fn)
    for mod in [m for k, m in sys.modules.items() if k.startswith(pkg) and m]:
        for name, obj in list(vars(mod).items()):
            if inspect.isfunction(obj) and obj in wrapped:
                setattr(mod, name, wrapped[obj])
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command

    def counted(*args, **kwargs):
        tracer.count_py4j()
        return send(*args, **kwargs)
    client.send_command = counted


def _wrap(tracer: Tracer, layer: str, fn):
    # wraps() keeps __module__/__qualname__, so a wrapped function that
    # is shipped to a Python worker pickles by reference and the worker
    # runs the original
    @functools.wraps(fn)
    def call(*args, **kwargs):
        with tracer.span(layer):
            return fn(*args, **kwargs)
    return call


# --- event log --------------------------------------------------------

@dataclass
class Job:
    job_id: int
    group: str
    submit: float          # epoch seconds
    end: float = 0.0
    stages: list[int] = field(default_factory=list)


@dataclass
class Stage:
    run_s: list[float] = field(default_factory=list)
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0
    input: int = 0
    output: int = 0


def read_event_log(log_dir: str) -> tuple[dict[int, Job], dict[int, Stage]]:
    """Parse an uncompressed Spark event log (rolling ``eventlog_v2_*``
    directory or a single file) with the stdlib json module."""
    files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    files += [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = Job(
                        ev["Job ID"], props.get("spark.jobGroup.id") or "",
                        ev["Submission Time"] / 1000.0, stages=ev["Stage IDs"])
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], Stage())
                    m = ev.get("Task Metrics") or {}
                    st.run_s.append(m.get("Executor Run Time", 0) / 1000.0)
                    st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    st.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    st.shuffle_write += sw.get("Shuffle Bytes Written", 0)
                    st.shuffle_read += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0))
                    st.spill += m.get("Disk Bytes Spilled", 0)
                    st.input += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    st.output += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return jobs, stages


def exec_stats(jobs: list[Job], stages: dict[int, Stage], wall_s: float,
               cores: int) -> dict[str, float]:
    """Execution-layer figures over the given (final-action) jobs."""
    ids = sorted({s for j in jobs for s in j.stages if s in stages})
    sts = [stages[s] for s in ids]
    run = sum(sum(s.run_s) for s in sts)
    skews = [max(s.run_s) / statistics.fmean(s.run_s) for s in sts
             if len(s.run_s) > 1 and statistics.fmean(s.run_s) > 0]
    mb = 1024.0 * 1024.0
    return {
        "exec.jobs": len(jobs),
        "exec.stages": len(sts),
        "exec.tasks": sum(len(s.run_s) for s in sts),
        "exec.task_run_s": run,
        "exec.task_cpu_s": sum(s.cpu_s for s in sts),
        "exec.gc_s": sum(s.gc_s for s in sts),
        "exec.busy_ratio": run / (wall_s * cores) if wall_s > 0 else 0.0,
        "exec.task_skew": statistics.median(skews) if skews else 1.0,
        "exec.shuffle_write_mb": sum(s.shuffle_write for s in sts) / mb,
        "exec.shuffle_read_mb": sum(s.shuffle_read for s in sts) / mb,
        "exec.spill_mb": sum(s.spill for s in sts) / mb,
        "exec.input_mb": sum(s.input for s in sts) / mb,
        "exec.output_mb": sum(s.output for s in sts) / mb,
    }


# --- per-layer metrics ------------------------------------------------

# Package modules whose public functions get spans: those the two
# workloads call into (operators.unigram, operators.graph and
# multimodal.ops are left out; no query of either workload reaches them).
MODULES = (
    "catalog", "pipeline", "sources.xml_source", "sources.pdf_source",
    "sources.sinks", "functions.names", "functions.gender",
    "operators.matching", "operators.dedup", "operators.similarity",
    "operators.textstats", "streaming.ops", "plans.helpers",
)
PHASES = ("build", "plan", "exec")


def unit_of(metric: str) -> str:
    if metric.endswith(("_s", ".s")):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith(("_ratio", "_skew")):
        return "ratio"
    if metric.endswith("_pct"):
        return "%"
    return "count"


def metric_names(queries: list[str]) -> list[str]:
    """Every per-layer metric, in report order."""
    names = [f"build.{k}" for k in ("wall_s", "self_s", "job_s", "py4j_calls", "jobs")]
    names += ["plan.s", "exec.wall_s"]
    names += list(exec_stats([], {}, 0.0, 1))
    names += ["cache.rdds_left"]
    names += [f"{m}.{k}" for m in MODULES for k in ("build_s", "py4j_calls", "jobs")]
    names += [f"{q}.{k}" for q in queries for k in ("build_s", "exec_s")]
    return names + ["trace_overhead_pct"]


def _phase_of(tr: Tracer, s: Span | None) -> Span | None:
    while s is not None and s.name.rsplit(".", 1)[-1] not in PHASES:
        s = tr.spans[s.parent] if s.parent is not None else None
    return s


def unit_costs(n: int = 20_000) -> tuple[float, float]:
    """Seconds one span and one counted py4j call add, measured here."""
    t = Tracer()
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("x"):
            pass
    span_s = (time.perf_counter() - t0) / n

    def send():
        return None

    def counted():
        t.count_py4j()
        return send()
    t0 = time.perf_counter()
    for _ in range(n):
        counted()
    mid = time.perf_counter()
    for _ in range(n):
        send()
    call_s = max(0.0, ((mid - t0) - (time.perf_counter() - mid)) / n)
    return span_s, call_s


def layer_metrics(tr: Tracer, jobs: dict[int, Job], stages: dict[int, Stage],
                  n_passes: int, cores: int, rdds_left: float,
                  wall_s: float, queries: list[str]) -> dict[str, float]:
    """Per-pass means of every per-layer metric over ``n_passes`` traced
    passes (ratios are over all of them). ``build.self_s`` is build wall
    time not covered by eager Spark jobs."""
    out = dict.fromkeys(metric_names(queries), 0.0)
    selfs = self_times(tr.spans)
    for s in tr.spans:
        base, _, suffix = s.name.rpartition(".")
        if s.name in MODULES:
            out[f"{s.name}.build_s"] += selfs[s.idx]
            out[f"{s.name}.py4j_calls"] += s.py4j
        elif suffix in PHASES:
            key = {"build": "build.wall_s", "plan": "plan.s",
                   "exec": "exec.wall_s"}[suffix]
            out[key] += s.end - s.start
            if f"{base}.{suffix}_s" in out:
                out[f"{base}.{suffix}_s"] += s.end - s.start
        ph = _phase_of(tr, s)
        if ph is not None and ph.name.endswith(".build"):
            out["build.py4j_calls"] += s.py4j

    by_phase: dict[str, list[Job]] = {p: [] for p in PHASES}
    for j in jobs.values():
        inner = tr.innermost_at(j.submit)
        ph = _phase_of(tr, inner)
        phase = (j.group.rsplit("|", 1)[-1] if j.group
                 else ph.name.rsplit(".", 1)[-1] if ph else None)
        if phase in by_phase:
            by_phase[phase].append(j)
        while inner is not None and inner.name not in MODULES:
            inner = tr.spans[inner.parent] if inner.parent is not None else None
        if inner is not None:
            out[f"{inner.name}.jobs"] += 1
    build_jobs = by_phase["build"]
    out["build.jobs"] = len(build_jobs)
    out["build.job_s"] = _union([(j.submit, j.end) for j in build_jobs])
    out["build.self_s"] = out["build.wall_s"] - out["build.job_s"]
    out.update(exec_stats(by_phase["exec"], stages, out["exec.wall_s"], cores))
    ratios = ("exec.busy_ratio", "exec.task_skew")
    for k in out:
        if k not in ratios:
            out[k] /= n_passes
    out["cache.rdds_left"] = rdds_left
    # the tracer's own cost: spans opened and py4j calls counted, priced
    # at their measured unit cost (the event log writes off the driver
    # thread); as a share of the untraced remainder of a pass
    span_s, call_s = unit_costs()
    cost = (len(tr.spans) * span_s
            + sum(s.py4j for s in tr.spans) * call_s) / n_passes
    out["trace_overhead_pct"] = 100.0 * cost / (wall_s - cost)
    return out
