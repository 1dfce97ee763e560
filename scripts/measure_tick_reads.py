"""Reads of the tick store against the series' length.

Usage: python scripts/measure_tick_reads.py [-nREPS] [SCRATCH_DIR]

Builds 30-, 365- and 1825-day series (24 hourly rows a day, one append
each) in a fresh temp dir under SCRATCH_DIR (default: the system temp
dir), removed at the end. On each series it times four calls that should
touch one or two days whatever the series' length: a one-day
``read_range`` collected, ``read_at`` inside the last day collected,
``min_dt`` and ``max_dt``; and two that touch every day, so their cost
follows the series' length: ``to_df().count()`` and ``compact_series``
over all days. Every call on every series is made once untimed, then
each REPS times (default 5). Prints one JSON line: per series length and
call, the median wall seconds and the Spark jobs per call, plus
``ratio``, the median over the 30-day series' median.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import uuid
from datetime import datetime, timedelta, timezone

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

DAYS = (30, 365, 1825)
ROWS_PER_DAY = 24
T0 = datetime(2020, 1, 1, tzinfo=timezone.utc)


def _jobs_in(sc, group: str) -> int:
    """Jobs of ``group`` once the listener bus has caught up: a later
    job in another group being visible means every earlier one is."""
    drain = "drain_" + uuid.uuid4().hex[:8]
    sc.setJobGroup(drain, "listener drain")
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.monotonic() + 30
    while not sc.statusTracker().getJobIdsForGroup(drain):
        if time.monotonic() > deadline:
            raise RuntimeError("listener bus did not drain")
        time.sleep(0.05)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _calls(t, n: int) -> dict:
    from tstables_spark.streaming.ingest import compact_series

    last = T0 + timedelta(days=n - 1)
    return {
        "read_range": lambda: t.read_range(last, last + timedelta(hours=23)).collect(),
        "read_at": lambda: t.read_at(last + timedelta(hours=12, minutes=30)).collect(),
        "min_dt": t.min_dt,
        "max_dt": t.max_dt,
        "to_df_count": lambda: t.to_df().count(),
        "compact_all": lambda: compact_series(t.spark, t.path),
    }


def _measure(sc, fn, reps: int) -> dict:
    walls, jobs = [], []
    for _ in range(reps):
        group = "tick_read_" + uuid.uuid4().hex[:8]
        sc.setJobGroup(group, "tick read")
        t0 = time.perf_counter()
        try:
            fn()
        finally:
            walls.append(time.perf_counter() - t0)
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs.append(_jobs_in(sc, group))
    return {"median_s": round(statistics.median(walls), 4), "jobs": max(jobs)}


def main() -> None:
    args = sys.argv[1:]
    reps = 5
    if args and args[0].startswith("-n"):
        reps = int(args[0][2:])
        args = args[1:]
    work = tempfile.mkdtemp(prefix="tick_reads_", dir=args[0] if args else None)

    from pyspark.sql import types as T

    from tstables_spark import get_spark
    from tstables_spark.tstable import TimeSeriesTable

    spark = get_spark(
        "tstables_spark_tick_reads", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    sc = spark.sparkContext
    schema = T.StructType([
        T.StructField("ts", T.TimestampType()),
        T.StructField("v", T.DoubleType()),
    ])
    out: dict = {"reps": reps, "cpus": os.cpu_count()}
    try:
        calls = {}
        for n in DAYS:
            t = TimeSeriesTable.create(spark, work, f"s{n}", schema)
            rows = [(T0 + timedelta(hours=h), float(h)) for h in range(n * ROWS_PER_DAY)]
            t.append(spark.createDataFrame(rows, schema))
            calls[n] = _calls(t, n)
        for n in DAYS:  # warm: a fresh JVM's first calls are slower
            for fn in calls[n].values():
                fn()
        for n in DAYS:
            out[str(n)] = {name: _measure(sc, fn, reps) for name, fn in calls[n].items()}
        for n in DAYS[1:]:
            for name, m in out[str(n)].items():
                m["ratio"] = round(m["median_s"] / out[str(DAYS[0])][name]["median_s"], 2)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        out["loadavg"] = [round(x, 2) for x in os.getloadavg()]
        print(json.dumps(out))
        spark.stop()


if __name__ == "__main__":
    main()
