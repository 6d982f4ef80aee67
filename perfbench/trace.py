"""Spans around the calls into each layer, plus Spark's own event log.

The benchmark's code opens an *operation* span per registry query or
pipeline call and a *phase* span around each call into a layer
(``plans.build``, ``action``, ``cache.release``, ``sources.read``,
``plans.pipeline``).  Each phase runs under its own Spark job group
(``pb|<op>|<phase>``), so the event log ties every Spark job to the phase
that launched it; the jobs become the phase's child spans.  No code inside
the package changes.

Self time of a span is its duration minus the part its children cover.
Children are clipped to their parent and to the end of their previous
sibling (jobs of one phase can overlap, e.g. a broadcast job beside the
job that waits on it), so the self times of an operation's spans add up to
the operation's wall time exactly.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "pb|"
PKG = "databox_adls_loader_spark"
LAYERS = ("session", "sources", "operators", "plans", "sinks", "cache",
          "streaming", "functions")
SITE_KEYS = LAYERS + ("benchmark", "other", "unattributed")
_CALLSITE = re.compile(r" at (.+?):\d+$")


def layer_of(path: str) -> str:
    """Layer of a source file: the package's first directory (or module
    name for top-level modules), ``benchmark`` for this directory,
    ``other`` for anything else."""
    parts = path.replace("\\", "/").split("/")
    if PKG in parts:
        rest = parts[parts.index(PKG) + 1:]
        name = rest[0].removesuffix(".py") if rest else ""
        return name if name in LAYERS else "other"
    if "perfbench" in parts:
        return "benchmark"
    return "other"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    children: list = field(default_factory=list)
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start

    def to_dict(self) -> dict:
        return {"name": self.name, "start": self.start, "end": self.end,
                "self_s": self.attrs.get("self_s"),
                **{k: v for k, v in self.attrs.items() if k != "self_s"},
                "children": [c.to_dict() for c in self.children]}


class NullTracer:
    """Tracing off: the same calls, no spans and no job groups."""

    @contextmanager
    def op(self, name: str):
        yield

    @contextmanager
    def phase(self, name: str):
        yield


class Tracer:
    """Spans kept in memory; written out once the run ends."""

    def __init__(self, sc):
        self.sc = sc
        self.ops: list[Span] = []
        self._op: Span | None = None

    @contextmanager
    def op(self, name: str):
        span = Span(name, time.time(), attrs={"id": len(self.ops)})
        self._op = span
        try:
            yield
        finally:
            span.end = time.time()
            self.ops.append(span)
            self._op = None

    @contextmanager
    def phase(self, name: str):
        op = self._op
        self.sc.setJobGroup(f"{GROUP_PREFIX}{op.attrs['id']}|{name}", op.name)
        span = Span(name, time.time())
        try:
            yield
        finally:
            span.end = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            op.children.append(span)


# ---------------------------------------------------------------- event log

def _int(v) -> int:
    return int(v) if v not in (None, "") else 0


def read_event_log(log_dir: str) -> dict[int, dict]:
    """Jobs of the traced operations, by job id, with their task metrics
    summed.  Only jobs whose group id carries the benchmark prefix."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {files}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(files[0], encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or ""
                if not group.startswith(GROUP_PREFIX):
                    continue
                _, op_id, phase = group.split("|", 2)
                site = props.get("callSite.short")
                m = _CALLSITE.search(site) if site else None
                jid = ev["Job ID"]
                jobs[jid] = {
                    "op": int(op_id), "phase": phase,
                    "execution": props.get("spark.sql.execution.id"),
                    "site": site or "", "layer": (layer_of(m.group(1)) if m
                                                  else "unattributed"),
                    "start": ev["Submission Time"] / 1000.0, "end": None,
                    "stages": 0, "tasks": 0, "run_ms": 0, "cpu_ns": 0,
                    "gc_ms": 0, "deser_ms": 0, "shuffle_w": 0,
                    "shuffle_r": 0, "spill": 0, "result": 0,
                    "py_sent": 0, "py_recv": 0}
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                if jid in jobs:
                    jobs[jid]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                if jid in jobs:
                    _add_task(jobs[jid], ev)
    for j in jobs.values():
        if j["end"] is None:
            raise RuntimeError(f"job of op {j['op']} never ended in the log")
    return jobs


def _add_task(job: dict, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    job["tasks"] += 1
    job["run_ms"] += _int(m.get("Executor Run Time"))
    job["cpu_ns"] += _int(m.get("Executor CPU Time"))
    job["gc_ms"] += _int(m.get("JVM GC Time"))
    job["deser_ms"] += _int(m.get("Executor Deserialize Time"))
    job["result"] += _int(m.get("Result Size"))
    job["spill"] += _int(m.get("Disk Bytes Spilled"))
    sw = m.get("Shuffle Write Metrics") or {}
    job["shuffle_w"] += _int(sw.get("Shuffle Bytes Written"))
    sr = m.get("Shuffle Read Metrics") or {}
    job["shuffle_r"] += (_int(sr.get("Remote Bytes Read"))
                         + _int(sr.get("Local Bytes Read")))
    # SQL metrics of the Arrow/pandas Python exec nodes (PythonSQLMetrics)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        name = acc.get("Name")
        if name == "data sent to Python workers":
            job["py_sent"] += _int(acc.get("Update"))
        elif name == "data returned from Python workers":
            job["py_recv"] += _int(acc.get("Update"))


# ------------------------------------------------------------- span tree

def _clip_children(parent: Span) -> None:
    """Clip children to the parent and to their previous sibling, then set
    every span's self time (duration minus what its children cover)."""
    last = parent.start
    covered = 0.0
    for c in sorted(parent.children, key=lambda s: s.start):
        c.start = min(max(c.start, last), parent.end)
        c.end = min(max(c.end, c.start), parent.end)
        last = c.end
        _clip_children(c)
        covered += c.wall
    parent.attrs["self_s"] = parent.wall - covered


def attach_jobs(ops: list[Span], jobs: dict[int, dict]) -> None:
    """Hang each Spark job under the phase span that launched it."""
    by_phase: dict[tuple, list] = {}
    for jid, j in sorted(jobs.items()):
        by_phase.setdefault((j["op"], j["phase"]), []).append((jid, j))
    for op in ops:
        for ph in op.children:
            for jid, j in by_phase.get((op.attrs["id"], ph.name), []):
                ph.children.append(Span(
                    f"job {jid}", j["start"], j["end"],
                    attrs={"site": j["site"], "stages": j["stages"],
                           "tasks": j["tasks"], "raw_start": j["start"],
                           "raw_end": j["end"]}))
        _clip_children(op)
        total = _self_sum(op)
        if abs(total - op.wall) > 1e-6:
            raise RuntimeError(f"span self times of {op.name} sum to {total}, "
                               f"wall is {op.wall}")


def _self_sum(span: Span) -> float:
    return span.attrs["self_s"] + sum(_self_sum(c) for c in span.children)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def layer_metrics(ops: list[Span], jobs: dict[int, dict], cores: int,
                  profile_stats) -> dict[str, float]:
    """Per-layer metrics of one traced pass (raw job times, not clipped)."""
    out: dict[str, float] = {}
    phase_s: dict[str, float] = {}
    for op in ops:
        for ph in op.children:
            phase_s[ph.name] = phase_s.get(ph.name, 0.0) + ph.wall
    build = [j for j in jobs.values()
             if j["phase"] in ("plans.build", "plans.pipeline")]
    out["plans.build_s"] = (phase_s.get("plans.build", 0.0)
                            + phase_s.get("plans.pipeline", 0.0))
    out["plans.eager_jobs"] = len(build)
    out["plans.eager_job_s"] = _union([(j["start"], j["end"]) for j in build])
    out["sources.read_s"] = phase_s.get("sources.read", 0.0)
    out["sources.jobs"] = sum(1 for j in jobs.values()
                              if j["phase"] == "sources.read")
    out["action_s"] = phase_s.get("action", 0.0)
    out["cache.release_s"] = phase_s.get("cache.release", 0.0)

    out.update(_profile_metrics(profile_stats))

    js = list(jobs.values())
    job_s = _union([(j["start"], j["end"]) for j in js])  # jobs can overlap
    run_s = sum(j["run_ms"] for j in js) / 1e3
    out["spark.jobs"] = len(js)
    out["spark.stages"] = sum(j["stages"] for j in js)
    out["spark.tasks"] = sum(j["tasks"] for j in js)
    out["spark.job_s"] = job_s
    gap = 0.0
    for op in ops:
        iv = [(max(j["start"], op.start), min(j["end"], op.end))
              for j in js if j["op"] == op.attrs["id"]]
        gap += op.wall - _union([(s, e) for s, e in iv if e > s])
    out["spark.driver_gap_s"] = gap
    out["executor.run_s"] = run_s
    out["executor.cpu_s"] = sum(j["cpu_ns"] for j in js) / 1e9
    out["executor.gc_s"] = sum(j["gc_ms"] for j in js) / 1e3
    out["executor.deser_s"] = sum(j["deser_ms"] for j in js) / 1e3
    out["executor.utilization"] = run_s / (job_s * cores) if job_s else 0.0
    out["shuffle.write_bytes"] = sum(j["shuffle_w"] for j in js)
    out["shuffle.read_bytes"] = sum(j["shuffle_r"] for j in js)
    out["spill.bytes"] = sum(j["spill"] for j in js)
    out["result.bytes"] = sum(j["result"] for j in js)
    out["python.sent_bytes"] = sum(j["py_sent"] for j in js)
    out["python.received_bytes"] = sum(j["py_recv"] for j in js)
    for key in SITE_KEYS:
        out[f"jobs_by_site.{key}"] = sum(1 for j in js if j["layer"] == key)
    return out


def _profile_metrics(stats) -> dict[str, float]:
    """Driver self time grouped by layer, and the time the driver thread
    sat in py4j calls (the JVM side: Catalyst, scheduling, job waits)."""
    self_s = {k: 0.0 for k in LAYERS + ("benchmark", "other")}
    py4j = 0.0
    for (path, _line, func), (_cc, _nc, tt, ct, _callers) in stats.items():
        self_s[layer_of(path)] += tt
        if func == "send_command" and path.endswith("py4j/clientserver.py"):
            py4j += ct
    out = {f"driver.py_self_s.{k}": v for k, v in self_s.items()}
    out["driver.py4j_s"] = py4j
    return out


def files_by_site(jobs: dict[int, dict]) -> dict[str, int]:
    """Job counts per call-site file (the trace file's finer breakdown)."""
    out: dict[str, int] = {}
    for j in jobs.values():
        m = _CALLSITE.search(j["site"]) if j["site"] else None
        key = m.group(1).split(PKG + "/")[-1] if m else "unattributed"
        out[key] = out.get(key, 0) + 1
    return dict(sorted(out.items()))
