#!/usr/bin/env python3
"""Run one benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload {analytics,tick_ingest} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Inputs are generated from ``--seed``
under ``perfbench/_work/`` (removed at exit); a stamped artifact with
every metric, sample and span goes to ``perfbench/_out/``. The last
stdout line is ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``, the same on every workload. See perfbench/README.md for
what each metric means.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM = os.path.join(ROOT, "tstables_spark")

# Every workload reports every metric. A round is one call of each kind
# of operation the workload makes (analytics: each query; tick_ingest:
# append, hot read, upsert, compaction); see stats.round_figures.
END_TO_END = {"setup_s": "s", "round_s": "s", "op_geomean_ms": "ms"}
PER_LAYER = {
    "session.start_s": "s", "session.jvm_peak_mb": "MiB", "setup.program_s": "s",
    "round.jobs": "count", "round.job_s": "s", "round.driver_s": "s", "round.task_s": "s", "round.cpu_s": "s",
    "round.shuffle_write_mb": "MiB", "round.shuffle_read_mb": "MiB", "round.spill_mb": "MiB",
    "round.written_mb": "MiB", "round.to_python_mb": "MiB", "round.from_python_mb": "MiB",
    "plans.construct_jobs": "count", "tstable.hot.files_per_day": "count", "tstable.bytes_stored_per_row": "B",
}
# Per-layer metrics of a layer only one workload uses: the others report
# 0, as they make no such jobs, read no hot day and store no ticks.
LAYER_OWNER = {"plans.construct_jobs": "analytics", "tstable.hot.files_per_day": "tick_ingest",
               "tstable.bytes_stored_per_row": "tick_ingest"}
WORKLOADS = ("analytics", "tick_ingest")


class Context:
    """What a workload gets: the session, its tracer, the seed, the run
    length and a private work directory; it counts attempts and failures
    and keeps the seconds of every recorded operation by kind."""

    def __init__(self, spark, tracer, seed: int, seconds: float, work: str):
        self.spark, self.tracer, self.seed, self.seconds, self.work = spark, tracer, seed, seconds, work
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.layer: dict[str, float] = {}  # per-layer figures of the set-up
        self.ops: dict[str, list[float]] = {}  # kind -> seconds of each recorded call
        self.op_spans: dict[str, list[dict]] = {}  # kind -> its spans, when traced

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(msg)

    def op(self, kind: str, fn, record: bool = True) -> bool:
        """Call ``fn`` as one operation of ``kind``, timed; a raise counts
        as a failure. Only recorded calls count toward the metrics."""
        self.attempted += 1
        try:
            with self.tracer.span(f"op.{kind}", op=kind) as sp:
                t0 = time.perf_counter()
                fn()
                dt = time.perf_counter() - t0
        except Exception as e:
            self.fail(f"{kind}: {e!r}")
            return False
        if record:
            self.ops.setdefault(kind, []).append(dt)
            if sp is not None:
                self.op_spans.setdefault(kind, []).append(sp)
        return True


def _git_sha() -> str | None:
    """The checked-out commit, or None outside git."""
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _source_digest() -> str:
    """A digest of the program's sources as they are on disk, so runs of
    an uncommitted change never pass for runs of its commit."""
    h = hashlib.sha1()
    for d, dirs, files in os.walk(PROGRAM):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(d, f)
                with open(path, "rb") as fh:
                    h.update(os.path.relpath(path, PROGRAM).encode() + b"\0" + fh.read())
    return h.hexdigest()


def _steal_s() -> float:
    """CPU seconds the hypervisor has given to other guests since boot
    (0 where the kernel does not say). Host load, not the program, is
    what makes whole runs of this benchmark slow."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return 0.0


def _jvm_peak_mb() -> float | None:
    """Peak resident memory of the session's JVM (the gateway process)."""
    from pyspark import SparkContext

    try:
        with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as f:
            return next(int(line.split()[1]) / 1024 for line in f if line.startswith("VmHWM:"))
    except (AttributeError, OSError, StopIteration, ValueError):
        return None


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            kids.setdefault(ppid, []).append(int(p))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _stop_spark(spark) -> None:
    """Stop the session and wait until the JVM and its Python workers are gone."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    leftovers = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 15
    for pid in leftovers:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(PROGRAM, "tstable.py")):
        print(f"perfbench: the program is missing ({PROGRAM}); run from a full checkout", file=sys.stderr)
        return 2

    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # keep every scratch file (Python, JVM, Spark) inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    sys.path.insert(0, ROOT)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    import pyspark

    from perfbench import analytics, gen, ticks
    from perfbench.stats import quantile, round_figures, tail_supported
    from perfbench.trace import SparkCounts, Tracer
    from tstables_spark import get_spark

    workloads = {
        "analytics": (analytics.analytics_setup, analytics.analytics, f"{analytics.SF}"),
        "tick_ingest": (ticks.Ingester, ticks.tick_ingest, f"ticks-{ticks.BASE_DAYS}+{gen.TICK_DAYS - ticks.BASE_DAYS}d"),
    }
    setup, body, sf = workloads[args.workload]
    cpus = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cpus, extra_conf={
        "spark.ui.enabled": "true",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    })
    try:
        start_s = time.perf_counter() - t0
        ctx = Context(spark, Tracer(spark, args.trace == 1), args.seed, args.seconds, work)
        t1 = time.perf_counter()
        state = setup(ctx)
        t2, steal0 = time.perf_counter(), _steal_s()
        measured = body(ctx, state)
        t3, steal1 = time.perf_counter(), _steal_s()
        if ctx.ops:
            measured.update(round_figures(ctx.ops))
        if ctx.tracer.on and ctx.op_spans:
            measured.update(SparkCounts(spark.sparkContext).round_layers(ctx.tracer, ctx.op_spans))
        measured["session.jvm_peak_mb"] = _jvm_peak_mb()
    finally:
        _stop_spark(spark)

    measured.update(ctx.layer)
    for k, owner in LAYER_OWNER.items():
        if owner != args.workload:
            measured[k] = 0
    measured["setup_s"] = t2 - t0
    measured["session.start_s"] = start_s
    phases = {"import_s": t0 - T_START, "start_s": start_s, "setup_s": t2 - t1, "body_s": t3 - t2, "body_steal_s": steal1 - steal0,
              "stop_s": time.perf_counter() - t3}
    units = END_TO_END if args.trace == 0 else PER_LAYER
    missing = [k for k in units if measured.get(k) is None]
    stamp = {"workload": args.workload, "sf": sf, "cpus": cpus, "seed": args.seed, "seconds": args.seconds,
             "trace": args.trace, "spark": pyspark.__version__, "git_sha": _git_sha(), "source": _source_digest()}
    samples = {k: len(v) for k, v in ctx.ops.items()}
    # a p90 only where the sample supports it (stats.MIN_BEYOND beyond it)
    p90 = {k: quantile(v, 0.9) if tail_supported(len(v), 0.9) else None for k, v in ctx.ops.items()}
    artifact = {"stamp": stamp, "metrics": measured, "samples": samples, "p90": p90, "ops_s": ctx.ops,
                "phases": phases, "attempted": ctx.attempted,
                "failed": ctx.failed, "errors": ctx.errors, "missing": missing,
                "spans": ctx.tracer.spans}
    out_dir = os.path.join(HERE, "_out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp['source'][:12]}-{os.getpid()}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    print(f"perfbench: samples {samples}; phases {({k: round(v, 2) for k, v in phases.items()})}",
          file=sys.stderr)
    for e in ctx.errors:
        print(f"perfbench: {e}", file=sys.stderr)
    if missing:
        print(f"perfbench: no value for {missing}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": measured[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
