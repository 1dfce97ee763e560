#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Each query is forced end-to-end with the noop sink (full computation, no
result materialization on the driver) after a session warm-up.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: one per operator family (scan, agg, joins incl. as-of,
# windows, resample, top-k), PLUS the heaviest operators by measured
# CPU so regressions there are round-over-round visible (r6 verdict:
# dedup_editdist ~22 s CPU at sf0.1 was invisible to the bench), the
# Arrow-kernel pair (sim_knn_graph, dedup_embed_clusters), the
# iterative-graph representative (graph_pagerank) and one deep TPC-H
# join tree (sql_tpch_q9). Extended as phases land.
HEADLINE = [
    "ts_range_scan",
    "agg_pricing_summary",
    "join_shuffle",
    "join_broadcast",
    "join_asof",
    "join_bucketed",
    "ts_resample_ohlc",
    "win_rolling",
    "win_rank",
    "topk_per_group",
    "sort_limit",
    "dedup_exact",
    "dedup_near",
    "dedup_minhash",
    "dedup_embed",
    "sim_topk",
    "text_stats",
    "token_count",
    "udtf_apply_in_pandas",
    "dedup_editdist",
    "sim_knn_graph",
    "dedup_embed_clusters",
    "graph_pagerank",
    "sql_tpch_q9",
    "join_asof_presorted",
    "ts_robust_zscore",
    "graph_triangles",
    "join_asof_multi",
    "join_asof_multi_presorted",
    "embed_pca_power",
    "assoc_rules",
    "graph_jaccard",
    "doc_bm25",
    "agg_qsketch",
    "token_ngram_novelty",
    "agg_winsorize",
    "agg_kll_gate",
    # r10/r11 additions: exact substring dedup, IVF-PQ (Lloyd-refined
    # codebook), staged-NSW warm retrieval (index staged in the warm
    # pass, timed pass = the walk — the steady-state by design)
    "dedup_substring",
    "sim_ivfpq",
    "sim_nsw_staged",
    # r13 addition: the epoch-partitioned bounded-append as-of read
    # (staging + the append happen in the warm pass; timed pass = the
    # multi-epoch zero-Exchange read, the steady state by design)
    "join_asof_epochs",
    # r12 addition: the DOULION sampled census (the 100 TB triangle
    # path; its exact-vs-estimate gate stays out of the headline — it
    # runs the exact census graph_triangles already covers)
    "graph_triangles_approx",
    # late-r13 additions: the iterative peel (edge pin staged in the
    # warm pass), the KMV intersection (sketch + exact audit), and the
    # Kneser-Ney LM score (the heaviest of the new text passes —
    # bigram-type model + occurrence re-join)
    "graph_kcore",
    "agg_theta_sketch",
    "lm_kn_score",
    # r14 addition: the full epoch lifecycle read (stage + appends +
    # expire + compact happen in the warm pass; timed pass = the
    # zero-Exchange zero-Sort read of the compacted classic table).
    # stream_heavy_hitters stays out: its wall is trigger-count-bound
    # streaming machinery, not plan cost (the stream_* precedent).
    "ts_epoch_lifecycle",
]

# A single timing rides this box's ±1.5x load-noise band (SCALE.md
# "bench noise"): r10 showed a UNIFORM ~1.38x median swing across 37
# untouched plans when the bench ran on a loaded box, flagging three
# sub-second queries as provisionally weak. Every query therefore runs
# best-of-N (the standard floor-of-noise estimator; the warm pass
# already amortized staging, so the min is the steady-state plan cost).
BENCH_REPS = 3

# Load gate (r16 verdict #6): r16's +9% wall drift on untouched plans
# cost a re-adjudication that only the task-time metric could settle —
# make the wall number quiet-box BY CONSTRUCTION instead. The gate
# reads 1-min loadavg BEFORE the bench starts Spark (the only moment
# it measures CO-TENANT load, not the bench's own 32-thread work —
# the first cut gated after the warm pass and tripped on itself),
# waits bounded for quiet, and if the box was still loaded at
# baseline the timed loop runs TWICE (per-query min across both
# passes — the floor-of-noise estimator extended across the load
# episode). In-run loadavg is recorded for transparency but never
# gates: it is dominated by the bench itself.
LOAD_GATE = float(os.environ.get("SPARK_GRAFT_BENCH_LOADGATE", "2.5"))
LOAD_WAIT_SEC = int(os.environ.get("SPARK_GRAFT_BENCH_LOADWAIT", "120"))


def _load1() -> float | None:
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return None


# Executor task-time metric (r14 verdict #1): wall clock rides the
# box's co-tenant load (r13->r14's 1.19x drift was indistinguishable
# from noise in-artifact), so each rep also records the SUM OF TASK
# RUNTIMES (executorRunTime) and of on-CPU time (executorCpuTime) for
# exactly the jobs it ran — task time is immune to idle waiting
# between jobs, and CPU time additionally to OS descheduling under
# load. Collected via the UI REST status API: each rep runs under its
# own job group, and one end-of-run pass maps group -> jobs -> stages
# -> metrics. The per-query detail is written to BENCH_TASKTIME.json
# (committed alongside): the harness records only the LAST 2000 chars
# of output, and per-query {wall, task, cpu} x46 does not fit the one
# JSON line (the r13 truncation lesson), so the line carries only the
# task/cpu TOTALS plus a pointer.
TASKTIME_OUT = os.path.join(REPO, "BENCH_TASKTIME.json")

# Era canary (r17 verdict #2): this box's effective CPU speed drifts
# 1.5-5x between sessions ("box eras" — SCALE.md r17 era adjudications),
# so wall-seconds from different rounds are not directly comparable and
# every cross-round wall regression costs a manual adjudication. The
# canary is a FIXED, JVM-only, data-independent calibration job — a
# codegen'd aggregate over spark.range, no I/O, no shuffle beyond the
# 1-row final agg, no Python — timed per run (1 warm + best-of-3) and
# recorded in the artifact. Dividing two rounds' wall numbers by their
# canaries normalizes out the box era; the canary never gates or alters
# the timed loop (additions-only; the JSON contract is unchanged).
# Sized for ~1-1.5 s on the quiet 2026-08-17 box (sub-second timings
# ride scheduler noise; the canary must be long enough that the era
# factor, not task launch, dominates).
_CANARY_ROWS = 1_600_000_000


def _era_canary(spark) -> float:
    import time as _t

    def one() -> float:
        t0 = _t.perf_counter()
        (
            spark.range(0, _CANARY_ROWS, 1, 32)
            .selectExpr("sum(id % 1000007) AS s", "count(1) AS n")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        return _t.perf_counter() - t0

    one()  # codegen/JIT warm-up
    return round(min(one() for _ in range(3)), 3)


def _rest_fetch(base: str, app_id: str, path: str):
    import urllib.request

    with urllib.request.urlopen(
        f"{base}/api/v1/applications/{app_id}{path}", timeout=30
    ) as r:
        return json.loads(r.read().decode("utf-8"))


def _group_task_times(spark, groups_of: dict) -> dict:
    """{query: {"task": min-over-reps sec, "cpu": ...}} from the REST
    status store. Any probe failure degrades to absent metrics, never
    a bench failure."""
    try:
        sc = spark.sparkContext
        base, app_id = sc.uiWebUrl, sc.applicationId
        if not base:
            return {}
        jobs = _rest_fetch(base, app_id, "/jobs?status=succeeded")
        by_group: dict = {}
        for j in jobs:
            by_group.setdefault(j.get("jobGroup"), []).append(j)
        stage_cache: dict = {}

        def stage_ms(sid: int) -> tuple:
            if sid not in stage_cache:
                try:
                    atts = _rest_fetch(base, app_id, f"/stages/{sid}")
                except Exception:
                    atts = []  # skipped stage (reused exchange): no attempts
                stage_cache[sid] = (
                    sum(a.get("executorRunTime", 0) for a in atts),
                    sum(a.get("executorCpuTime", 0) for a in atts),
                )
            return stage_cache[sid]

        out: dict = {}
        for name, groups in groups_of.items():
            best = None  # (task_ms, cpu_ns) of the min-task REP — one
            # rep's coherent pair, not a min stitched across reps
            # (review r15: a stitched pair misstates the task-cpu gap)
            for g in groups:
                run_ms = cpu_ns = 0
                sids = set()
                for j in by_group.get(g, ()):
                    sids.update(j.get("stageIds", ()))
                for sid in sids:
                    r, c = stage_ms(sid)
                    run_ms += r
                    cpu_ns += c
                if best is None or run_ms < best[0]:
                    best = (run_ms, cpu_ns)
            if best is not None:
                out[name] = {
                    "task": round(best[0] / 1e3, 3),
                    "cpu": round(best[1] / 1e9, 3),
                }
        return out
    except Exception:
        return {}


# A task-time diff is only meaningful between like runs: a baseline at
# another sf, core count or rep count moves every query for reasons no
# plan change explains (r18 committed an sf0.001 baseline and the next
# sf0.1 run flagged 23 queries up to x32). These keys must all match.
BASELINE_KEYS = ("sf", "cpus", "reps")
# Nor is it between hosts of different speed: two committed sf0.1 runs
# read era canaries of 1.93 s and 1.22 s (x1.58), and their headlines
# moved with the canary, not the code. Canaries further apart than this
# factor (or a missing canary) make the runs unlike. Ten fresh sessions
# on one 4-core host read 0.84-0.94 s (x1.12) and once 1.20 s: a run
# that far off is refused too, which errs on the safe side.
CANARY_RATIO_MAX = 1.2
# Only a run at this sf replaces the committed BENCH_TASKTIME.json.
BASELINE_SF = 0.1


def _git_sha() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True, text=True, check=True
        )
    except (OSError, subprocess.CalledProcessError):
        return None
    return out.stdout.strip() or None


def _task_flags(prev: dict, stamp: dict, tasktimes: dict) -> tuple[list, dict, str]:
    """Queries whose summed task runtime moved >1.3x in either direction
    against ``prev`` (the committed artifact) — task moved = plan or
    kernel changed; wall alone moving = box. Sub-second noise is exempt
    (|delta| must exceed 0.5 s). Returns (flags, prev task secs, "match"),
    or ([], {}, "mismatch") when ``prev`` differs from ``stamp`` on any
    of BASELINE_KEYS (or is missing), or their ``era_canary_sec`` differ
    by more than CANARY_RATIO_MAX (or either is missing)."""
    canaries = (prev.get("era_canary_sec"), stamp.get("era_canary_sec"))
    if (
        any(prev.get(k) != stamp[k] for k in BASELINE_KEYS)
        or not all(canaries)
        or max(canaries) / min(canaries) > CANARY_RATIO_MAX
    ):
        return [], {}, "mismatch"
    prev_tasks = {
        n: v.get("task")
        for n, v in prev.get("queries", {}).items()
        if isinstance(v, dict) and v.get("task") is not None
    }
    flags = []
    for n, cur in sorted(tasktimes.items()):
        p = prev_tasks.get(n)
        if not p or "task" not in cur:
            continue
        ratio = cur["task"] / p
        if abs(cur["task"] - p) > 0.5 and (ratio > 1.3 or ratio < 1 / 1.3):
            flags.append(f"{n}:x{ratio:.2f}")
    return flags, prev_tasks, "match"


def main() -> None:
    # Pre-Spark baseline gate (see LOAD_GATE): wait for a quiet box,
    # bounded, BEFORE the JVM exists so the reading is co-tenant only.
    waited = 0
    baseline = _load1()
    while (
        waited < LOAD_WAIT_SEC
        and baseline is not None
        and baseline >= LOAD_GATE
    ):
        time.sleep(10)
        waited += 10
        baseline = _load1()

    from tstables_spark import get_spark
    import tstables_spark.plans  # noqa: F401
    from tstables_spark.plans.registry import QUERIES

    # UI on for this process only: the REST status API is the task-time
    # source. Retention sized ~3x the run's job/stage count so the
    # end-of-run pass never reads an evicted entry.
    spark = get_spark(
        "tstables_spark_bench",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
        },
    )
    names = [n for n in HEADLINE if n in QUERIES]

    # Era canary BEFORE the warm pass (fresh JVM, box still idle from
    # the load gate's perspective) — see _era_canary.
    sc0 = spark.sparkContext
    sc0.setJobGroup("bench:canary", "era_canary")
    try:
        era_canary = _era_canary(spark)
    except Exception:
        era_canary = None  # never a bench failure
    finally:
        sc0.setLocalProperty("spark.jobGroup.id", None)

    # Warm pass: JVM/codegen warm-up plus any one-time staging a query
    # amortizes by design (bucketed-table writes, streaming source
    # staging) — the timed pass then measures steady-state query cost.
    for name in names:
        QUERIES[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()

    sc = spark.sparkContext
    timings: dict[str, float] = {}
    groups_of: dict = {}

    def timed_pass(tag: int) -> tuple:
        """One best-of-BENCH_REPS pass over the headline set; merges
        per-query minima into ``timings`` and returns the 1-min
        loadavg observed at (start, end)."""
        start_load = _load1()
        for name in names:
            t = timings.get(name, float("inf"))
            for rep in range(BENCH_REPS):
                group = f"bench:{tag}:{name}:{rep}"
                sc.setJobGroup(group, name)
                try:
                    t0 = time.perf_counter()
                    QUERIES[name](spark, SF_DIR).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    t = min(t, time.perf_counter() - t0)
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                groups_of.setdefault(name, []).append(group)
            timings[name] = round(t, 3)
        return start_load, _load1()

    loads = list(timed_pass(0))
    retried = False
    if baseline is not None and baseline >= LOAD_GATE:
        # the box was loaded at (post-wait) baseline — the whole timed
        # loop ran against co-tenant noise: one retry, per-query min
        # across both passes
        retried = True
        loads += list(timed_pass(1))

    tasktimes = _group_task_times(spark, groups_of)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    # Machine-load context: r3->r4 showed a uniform ~1.4x swing on a
    # byte-identical tree (harness/machine noise). loadavg at measure
    # time lets later rounds separate plan regressions from box load.
    try:
        with open("/proc/loadavg") as f:
            loadavg = [float(x) for x in f.read().split()[:3]]
    except OSError:
        loadavg = None
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Round-over-round task-time diff (r15 verdict #6) against the
    # committed BENCH_TASKTIME.json, only when it was recorded at the
    # same sf / cores / reps on a host of like speed (see BASELINE_KEYS
    # and CANARY_RATIO_MAX). The flag list rides
    # the one-line metric (compact "name:xR.RR" strings, capped at 8 so
    # the 2000-char tail rule holds); full prev/cur detail lands in the
    # artifact.
    stamp = {
        "sf": sf_val,
        "cpus": spark.sparkContext.defaultParallelism,
        "reps": BENCH_REPS,
        "git_sha": _git_sha(),
        "era_canary_sec": era_canary,
    }
    try:
        with open(TASKTIME_OUT) as f:
            prev = json.load(f)
    except (OSError, ValueError):
        prev = {}
    task_flags, prev_tasks, baseline_status = _task_flags(prev, stamp, tasktimes)
    # Per-query task/cpu detail: committed file, referenced from the
    # one-line metric (it cannot ride the line — see TASKTIME_OUT). Only
    # a BASELINE_SF run replaces it, so a quick low-sf run can never
    # become the next run's baseline.
    if sf_val == BASELINE_SF:
        try:
            with open(TASKTIME_OUT, "w") as f:
                json.dump(
                    {
                        **stamp,
                        "baseline": baseline_status,
                        "loadavg": loadavg,
                        "load_gate": {
                            "gate": LOAD_GATE,
                            "baseline": baseline,
                            "waited_sec": waited,
                            "retried": retried,
                            "load_at_loop": loads,
                        },
                        "task_flags": task_flags,
                        "prev_task_sec": {
                            n: prev_tasks.get(n) for n in sorted(tasktimes)
                        },
                        "queries": {
                            n: {"wall": timings[n], **tasktimes.get(n, {})}
                            for n in timings
                        },
                    },
                    f,
                    indent=1,
                    sort_keys=True,
                )
                f.write("\n")
        except OSError:
            pass
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                # scalars, NOT per-query: the harness records only the
                # LAST 2000 output chars, and the r12/r13 per-query
                # reps dict pushed the line past that, front-truncating
                # the metric and early timings (r13 verdict #8).
                # task/cpu totals are load-immune plan-cost evidence
                # (r14 verdict #1); per-query detail: BENCH_TASKTIME.json
                "task_total_sec": round(
                    sum(v["task"] for v in tasktimes.values()), 3
                ),
                "cpu_total_sec": round(
                    sum(v["cpu"] for v in tasktimes.values()), 3
                ),
                "task_queries": len(tasktimes),
                # >1.3x task movers vs the previously committed
                # BENCH_TASKTIME.json (r15 verdict #6) — task time is
                # the load-immune signal, so a non-empty list here
                # means a PLAN/KERNEL change, not box noise. Capped at
                # 8 entries for the 2000-char tail rule; the full list
                # is in BENCH_TASKTIME.json.
                "task_flags": task_flags[:8],
                "task_flags_n": len(task_flags),
                "reps": BENCH_REPS,
                "sf": sf_val,
                "loadavg": loadavg,
                # load gate (r16 verdict #6): [gate, sec waited for a
                # quiet box, 1 if the timed loop re-ran after running
                # loaded]. Per-pass start/end loads: BENCH_TASKTIME.json
                "load_gate": [LOAD_GATE, waited, 1 if retried else 0],
                # box-era calibration: a fixed JVM-only range-aggregate
                # timed per run (see _era_canary). Divide two rounds'
                # walls by their canaries to normalize box-era drift.
                "era_canary_sec": era_canary,
            }
        )
    )


if __name__ == "__main__":
    main()
