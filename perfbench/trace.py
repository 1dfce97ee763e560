"""Spans around calls into the program, and the Spark counts behind them.

A span is recorded by the benchmark around a call into one layer's
public function. While a span is open its Spark job group is set, so
every job the call submits is attributed to the innermost open span.
Spans are kept in memory; ``SparkCounts`` reads the public monitoring
REST API (jobs, stages, SQL executions) once the timed window is over.
"""

from __future__ import annotations

import json
import re
import statistics
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime

PYTHON_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "FlatMapGroupsInArrow",
    "AggregateInPandas", "WindowInPandas", "ArrowEvalPythonUDTF", "BatchEvalPythonUDTF",
    "PythonMapInArrow", "FlatMapGroupsInPandasWithState", "TransformWithStateInPandas",
)
WRITE_NODE = "Execute InsertIntoHadoopFsRelationCommand"


class Tracer:
    def __init__(self, spark, on: bool):
        self.sc = spark.sparkContext
        self.on = on
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Time a call and tag its jobs; with tracing off, do nothing."""
        if not self.on:
            yield None
            return
        sp = {"id": len(self.spans), "name": name, **attrs,
              "parent": self._stack[-1]["id"] if self._stack else None,
              "group": f"perfbench:{len(self.spans)}"}
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp["group"], name)
        sp["epoch0"] = time.time()
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp["s"] = time.perf_counter() - t0
            sp["epoch1"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def descendants(self, sp: dict) -> list[dict]:
        ids = {sp["id"]}
        out = [sp]
        for s in self.spans[sp["id"] + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out


# -- REST status store --------------------------------------------------------

def _rest(sc, path: str):
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}{path}"
    with urllib.request.urlopen(url, timeout=60) as r:
        return json.loads(r.read().decode("utf-8"))


def _epoch(stamp: str | None) -> float | None:
    if not stamp:
        return None
    return datetime.strptime(stamp.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


_UNITS = {"B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30, "TiB": 2 ** 40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9}
_VALUE_RE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def metric_value(text: str) -> float:
    """A SQL metric's total, in bytes, seconds or a plain count.
    Aggregated metrics print 'total (min, med, max ...)' then the total
    on the next line."""
    lines = text.strip().splitlines()
    line = lines[1] if lines[0].startswith("total") and len(lines) > 1 else lines[0]
    m = _VALUE_RE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


class SparkCounts:
    """Jobs, stages and SQL executions of the application, indexed by job group."""

    def __init__(self, sc, settle_s: float = 10.0):
        deadline = time.time() + settle_s
        # the status store is fed asynchronously: wait until no job runs
        while True:
            jobs = _rest(sc, "/jobs")
            if not any(j["status"] == "RUNNING" for j in jobs) or time.time() > deadline:
                break
            time.sleep(0.2)
        self.jobs = {j["jobId"]: j for j in jobs}
        self.stages: dict[int, dict] = {}
        for s in _rest(sc, "/stages"):
            agg = self.stages.setdefault(s["stageId"], {k: 0 for k in (
                "executorRunTime", "executorCpuTime", "shuffleWriteBytes",
                "shuffleReadBytes", "diskBytesSpilled")})
            for k in agg:
                agg[k] += s.get(k, 0)
        self.sql_of_job = {}
        for e in _rest(sc, "/sql?details=true&planDescription=false&offset=0&length=1000000"):
            for jid in e.get("successJobIds", []) + e.get("failedJobIds", []):
                self.sql_of_job[jid] = e

    def jobs_in(self, groups) -> list[dict]:
        groups = set(groups)
        return [j for j in self.jobs.values() if j.get("jobGroup") in groups]

    def stage_sum(self, jobs, key: str) -> float:
        sids = {sid for j in jobs for sid in j["stageIds"]}
        return float(sum(self.stages.get(sid, {}).get(key, 0) for sid in sids))

    def executions(self, jobs) -> list[dict]:
        seen, out = set(), []
        for j in jobs:
            e = self.sql_of_job.get(j["jobId"])
            if e is not None and e["id"] not in seen:
                seen.add(e["id"])
                out.append(e)
        return out

    @staticmethod
    def node_metric(execs, node_prefix, metric: str) -> float:
        total = 0.0
        for e in execs:
            for n in e.get("nodes", []):
                if n["nodeName"].startswith(node_prefix):
                    for m in n.get("metrics", []):
                        if m["name"] == metric:
                            total += metric_value(m["value"])
        return total

    @staticmethod
    def has_python(e) -> bool:
        return any(n["nodeName"].startswith(PYTHON_NODES) for n in e.get("nodes", []))

    def job_seconds(self, jobs) -> float:
        out = 0.0
        for j in jobs:
            a, b = _epoch(j.get("submissionTime")), _epoch(j.get("completionTime"))
            if a is not None and b is not None:
                out += b - a
        return out

    def round_layers(self, tracer: Tracer, op_spans: dict[str, list[dict]]) -> dict[str, float]:
        """The per-layer figures every workload has, for one round: per
        kind of operation the median over its spans (each with the jobs
        of its nested spans), summed over kinds, like ``round_s``."""
        mb = 2.0 ** 20

        def jobs(sp):
            return self.jobs_in(s["group"] for s in tracer.descendants(sp))

        def node(sp, prefix, metric):
            return self.node_metric(self.executions(jobs(sp)), prefix, metric) / mb

        per_span = {
            "round.jobs": lambda sp: len(jobs(sp)),
            "round.job_s": lambda sp: self.job_seconds(jobs(sp)),
            "round.driver_s": lambda sp: self.self_seconds(sp, jobs(sp)),
            "round.task_s": lambda sp: self.stage_sum(jobs(sp), "executorRunTime") / 1e3,
            "round.cpu_s": lambda sp: self.stage_sum(jobs(sp), "executorCpuTime") / 1e9,
            "round.shuffle_write_mb": lambda sp: self.stage_sum(jobs(sp), "shuffleWriteBytes") / mb,
            "round.shuffle_read_mb": lambda sp: self.stage_sum(jobs(sp), "shuffleReadBytes") / mb,
            "round.spill_mb": lambda sp: self.stage_sum(jobs(sp), "diskBytesSpilled") / mb,
            "round.written_mb": lambda sp: node(sp, WRITE_NODE, "written output"),
            "round.to_python_mb": lambda sp: node(sp, PYTHON_NODES, "data sent to Python workers"),
            "round.from_python_mb": lambda sp: node(sp, PYTHON_NODES, "data returned from Python workers"),
        }
        return {name: sum(statistics.median(f(sp) for sp in spans) for spans in op_spans.values())
                for name, f in per_span.items()}

    def self_seconds(self, sp: dict, jobs) -> float:
        """Span wall minus the part of it covered by its jobs' intervals."""
        ivs = sorted(
            (max(_epoch(j["submissionTime"]), sp["epoch0"]), min(_epoch(j["completionTime"]), sp["epoch1"]))
            for j in jobs if j.get("submissionTime") and j.get("completionTime")
        )
        covered, end = 0.0, sp["epoch0"]
        for a, b in ivs:
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        return max(0.0, sp["s"] - covered)
