"""Isolated per-query measurement: noop sink, warm pass + best-of-N,
construction split from execution, task/cpu via the same REST status
probe as bench.py.

Usage: python scripts/measure_queries.py [-nREPS] query [query ...]

Each rep runs under two job groups: one around the query call (plan
construction: the eager gate, pin and collect jobs a query function
runs before it returns) and one around the noop write (execution).
Prints one JSON line {query: {"wall": s, "construct_s": s,
"construct_jobs": n, "exec_s": s, "exec_jobs": n, "task": s, "cpu": s},
..., "loadavg": [...]}; every figure comes from the rep with the
lowest wall (construction + execution), task and CPU summed over both
of its groups. Same session factory and methodology as bench.py, so
numbers are comparable.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _timed(sc, group: str, label: str, fn):
    """``fn()`` under job group ``group``: (its result, wall seconds)."""
    sc.setJobGroup(group, label)
    try:
        t0 = time.perf_counter()
        out = fn()
        return out, time.perf_counter() - t0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def main() -> None:
    args = sys.argv[1:]
    reps = 3
    if args and args[0].startswith("-n"):
        reps = int(args[0][2:])
        args = args[1:]
    names = args

    from tstables_spark import get_spark
    import tstables_spark.plans  # noqa: F401
    from tstables_spark.plans.registry import QUERIES

    import bench  # the REST probe lives there

    spark = get_spark(
        "tstables_spark_measure",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
        },
    )
    sc = spark.sparkContext
    for name in names:
        QUERIES[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()

    runs: dict = {}
    for name in names:
        for rep in range(reps):
            g = f"measure:{name}:{rep}"
            df, c_s = _timed(
                sc, g + ":construct", name, lambda: QUERIES[name](spark, SF_DIR)
            )
            _, e_s = _timed(
                sc,
                g + ":exec",
                name,
                lambda: df.write.format("noop").mode("overwrite").save(),
            )
            runs.setdefault(name, []).append((c_s + e_s, c_s, e_s, g))
    # the status store is fed by the listener bus in order: once a later
    # job is visible, every job of the reps is too
    _timed(sc, "measure:drain", "listener drain", lambda: spark.range(1).collect())
    deadline = time.monotonic() + 30
    while not sc.statusTracker().getJobIdsForGroup("measure:drain"):
        if time.monotonic() > deadline:
            raise RuntimeError("the status store never showed the drain job")
        time.sleep(0.05)

    best = {name: min(rs) for name, rs in runs.items()}
    groups = {n: (g + ":construct", g + ":exec") for n, (*_, g) in best.items()}
    tt = bench._group_task_times(spark, {k: [k] for gs in groups.values() for k in gs})
    out: dict = {}
    for name, (wall, c_s, e_s, _) in best.items():
        cg, eg = groups[name]
        out[name] = {
            "wall": round(wall, 3),
            "construct_s": round(c_s, 3),
            "construct_jobs": len(sc.statusTracker().getJobIdsForGroup(cg)),
            "exec_s": round(e_s, 3),
            "exec_jobs": len(sc.statusTracker().getJobIdsForGroup(eg)),
        }
        if cg in tt and eg in tt:
            for m in ("task", "cpu"):
                out[name][m] = round(tt[cg][m] + tt[eg][m], 3)
    out["loadavg"] = list(os.getloadavg())
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
