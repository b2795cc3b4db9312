"""Spans, Spark job attribution and the per-layer roll-up of a traced run.

A span is recorded around each call the benchmark makes into a layer of
the program (``sources``, ``pipelines``, ``plans``).  Spans
live in memory and are written out once, after the run.  Each span sets
its own Spark job group, so every job in Spark's (uncompressed) event log
names the span that fired it; stage and task metrics then roll up from
task to job to span to op.  With tracing off, :class:`Tracer` is a no-op
and no event log is written.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "t0": time.time(),
            "t1": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._group(sid)
        try:
            yield
        finally:
            rec["t1"] = time.time()
            self._stack.pop()
            self._group(self._stack[-1] if self._stack else None)

    def _group(self, sid):
        name = "idle" if sid is None else self.spans[sid]["name"]
        self.sc.setJobGroup(f"s{sid}", name, False)

    def wrap(self, obj, attr: str, name: str) -> None:
        """Time every call of ``obj.attr`` as span ``name`` (instance-level
        wrapper: the program's code is not touched)."""
        if not self.enabled:
            return
        inner = getattr(obj, attr)

        def traced(*a, **kw):
            with self.span(name):
                return inner(*a, **kw)

        setattr(obj, attr, traced)


# ------------------------------------------------------------ event log


def read_event_log(log_dir: str) -> dict[int, dict]:
    """Jobs from the event log: span id, start/end, and the summed task
    metrics of the stages that ran under each job."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in sorted(p for p in Path(log_dir).rglob("*") if p.is_file()):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    sid = int(group[1:]) if group and group[1:].isdigit() else None
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "span": sid,
                        "t0": ev["Submission Time"] / 1000.0,
                        "t1": None,
                        "stages": 0,
                        "tasks": 0,
                        "run_s": 0.0,
                        "cpu_s": 0.0,
                        "gc_s": 0.0,
                        "shuffle_write_b": 0,
                        "spill_b": 0,
                    }
                    for st in ev["Stage IDs"]:
                        stage_job.setdefault(st, jid)
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if jid is not None:
                        jobs[jid]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    m = ev.get("Task Metrics") or {}
                    if jid is None:
                        continue
                    j = jobs[jid]
                    j["tasks"] += 1
                    j["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    j["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    j["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    j["shuffle_write_b"] += (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    j["spill_b"] += m.get("Disk Bytes Spilled", 0)
    return jobs


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


# -------------------------------------------------------------- roll-up


class Rollup:
    """Per-op views over the spans of the timed ops (``op_ids`` are the
    root spans of the warm ops) and the jobs they fired."""

    def __init__(self, tracer: Tracer, jobs: dict[int, dict], op_ids: list[int]):
        self.spans = tracer.spans
        self.op_ids = op_ids
        root: dict[int, int] = {}
        for s in self.spans:
            p = s["parent"]
            root[s["id"]] = s["id"] if p is None else root[p]
        self.root = root
        self.children: dict[int, list[int]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                self.children.setdefault(s["parent"], []).append(s["id"])
        self.jobs_by_span: dict[int, list[dict]] = {}
        for j in jobs.values():
            if j["span"] is not None and j["t1"] is not None:
                self.jobs_by_span.setdefault(j["span"], []).append(j)
        ops = set(op_ids)
        self.op_spans = [s for s in self.spans if root[s["id"]] in ops]

    @property
    def n(self) -> int:
        return max(1, len(self.op_ids))

    def _dur(self, s: dict) -> float:
        return s["t1"] - s["t0"]

    def time(self, name: str) -> float:
        """Mean seconds per op spent in spans called ``name``."""
        return sum(self._dur(s) for s in self.op_spans if s["name"] == name) / self.n

    def jobs_under(self, sid: int) -> list[dict]:
        out = list(self.jobs_by_span.get(sid, []))
        for c in self.children.get(sid, []):
            out += self.jobs_under(c)
        return out

    def jobs(self, name: str) -> float:
        """Mean Spark jobs per op fired inside spans called ``name``."""
        return sum(
            len(self.jobs_under(s["id"])) for s in self.op_spans if s["name"] == name
        ) / self.n

    def self_by_layer(self) -> dict[str, float]:
        """Mean self time per op of each layer (span name prefix)."""
        out: dict[str, float] = {}
        for s in self.op_spans:
            kids = sum(self._dur(self.spans[c]) for c in self.children.get(s["id"], []))
            layer = s["name"].split(".")[0]
            out[layer] = out.get(layer, 0.0) + (self._dur(s) - kids) / self.n
        return out

    def spark(self) -> dict[str, float]:
        """Per-op Spark runtime counters over every job of the timed ops,
        plus the driver's self time: op wall time not covered by a job."""
        tot = {k: 0.0 for k in ("jobs", "stages", "tasks", "run_s", "cpu_s",
                                "gc_s", "shuffle_write_b", "spill_b", "driver_s")}
        for oid in self.op_ids:
            op = self.spans[oid]
            js = self.jobs_under(oid)
            tot["jobs"] += len(js)
            for k in ("stages", "tasks", "run_s", "cpu_s", "gc_s",
                      "shuffle_write_b", "spill_b"):
                tot[k] += sum(j[k] for j in js)
            busy = _covered([(j["t0"], j["t1"]) for j in js], op["t0"], op["t1"])
            tot["driver_s"] += self._dur(op) - busy
        n = self.n
        return {
            "spark.jobs_per_op": tot["jobs"] / n,
            "spark.stages_per_op": tot["stages"] / n,
            "spark.tasks_per_op": tot["tasks"] / n,
            "spark.executor_run_s_per_op": tot["run_s"] / n,
            "spark.executor_cpu_s_per_op": tot["cpu_s"] / n,
            "spark.gc_s_per_op": tot["gc_s"] / n,
            "spark.shuffle_write_mb_per_op": tot["shuffle_write_b"] / n / 1e6,
            "spark.spill_mb_per_op": tot["spill_b"] / n / 1e6,
            "driver.self_s_per_op": tot["driver_s"] / n,
        }


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
