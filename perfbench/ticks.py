"""The tick-store workload, ``tick_ingest``.

It drives ``tstables_spark.tstable.TimeSeriesTable`` and
``tstables_spark.streaming.ingest.compact_series`` through their public
API from one closed-loop client. Inputs come from ``gen.TickSeries``;
every result is checked against answers computed from the same arrays,
outside the timed call.
"""

from __future__ import annotations

import os
import random
import time
from datetime import datetime, timezone

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.stats import median
from perfbench.trace import SparkCounts

SERIES = "ticks"


def _dt(us: int) -> datetime:
    return datetime.fromtimestamp(us / 1e6, tz=timezone.utc)


def tick_schema():
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("ts", T.TimestampType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("size", T.LongType()),
    ])


def build_store(ctx, series: gen.TickSeries, d: str, rows: slice):
    """create + one append of the given rows of the series, in ``d/store``;
    returns the table."""
    from tstables_spark.tstable import TimeSeriesTable

    src = gen.write_parquet(series.table(rows), os.path.join(d, "in.parquet"))
    t0 = time.perf_counter()
    t = TimeSeriesTable.create(ctx.spark, os.path.join(d, "store"), SERIES, tick_schema())
    t.append(ctx.spark.read.parquet(src))
    ctx.layer["tstable.build_s"] = ctx.layer["setup.program_s"] = time.perf_counter() - t0
    return t


BASE_DAYS = 16          # days in the store before the first append
BATCH_HOURS = 3         # one append = this many hours of ticks
LATE_FRAC = 0.2         # share of batches delivered one slot late
UPSERT_EVERY = 2        # upsert a past day after every N appends
COMPACT_EVERY = 2       # compact the hot days after every N appends
UPSERT_ROWS = 2000
# Untimed steps after the set-up, 5 upserts and 5 compactions among them:
# a fresh JVM's appends and upserts get ~1.7x faster over its first steps.
WARM_STEPS = 10
MIN_STEPS = 12          # timed steps at least: 6 upserts and 6 compactions to take a median of


def _day_dir(root: str, series, day: int) -> str:
    return os.path.join(root, SERIES, f"date={_dt(series.day_start_us(day)).date()}")


def _data_files(path: str) -> list[str]:
    if not os.path.isdir(path):
        return []
    return [os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")]


class Ingester:
    """Appends seeded batches of a few hours (some out of order), reads the
    hot day back after each, upserts a past day and compacts the hot days
    every few appends. Tracks which generator rows the store should hold."""

    def __init__(self, ctx):
        self.ctx = ctx
        s = self.series = gen.TickSeries(ctx.seed)
        base_end = int(np.searchsorted(s.ts, s.day_start_us(BASE_DAYS), "left"))
        self.dir = ctx.work
        self.root = os.path.join(self.dir, "store")
        self.table = build_store(ctx, s, self.dir, slice(0, base_end))
        self.rng = random.Random(ctx.seed)
        # upserts correct days that hold rows: one of an empty day is a no-op
        self.upsert_days = sorted(set(range(BASE_DAYS)) - set(s.empty_days.tolist()))
        edges = range(s.day_start_us(BASE_DAYS), s.day_start_us(s.days) + 1, BATCH_HOURS * gen.US_PER_H)
        bounds = np.searchsorted(s.ts, list(edges), "left")
        self.batches = [(int(a), int(b)) for a, b in zip(bounds[:-1], bounds[1:]) if b > a]
        for i in range(len(self.batches) - 1):
            if self.rng.random() < LATE_FRAC:
                self.batches[i], self.batches[i + 1] = self.batches[i + 1], self.batches[i]
        self.loaded = np.zeros(len(s.ts), dtype=bool)
        self.loaded[:base_end] = True
        self.deduped: set[int] = set()  # days an upsert left with one row per ts
        self.hot_days: set[int] = set()
        self.n = 0
        self.append_rows = []  # rows of each recorded append
        self.files_per_day, self.files_before, self.files_after = [], [], []

    def step(self, record: bool = True) -> bool:
        """One append and hot read, plus an upsert / compaction when due.
        False when the generated batches are used up."""
        from tstables_spark.streaming.ingest import compact_series

        if self.n >= len(self.batches):
            return False
        ctx, s, t, spark = self.ctx, self.series, self.table, self.ctx.spark
        lo, hi = self.batches[self.n]
        self.n += 1
        batch = spark.read.parquet(gen.write_parquet(
            s.table(slice(lo, hi)), os.path.join(self.dir, f"batch-{self.n}.parquet")))
        if not ctx.op("append", lambda: t.append(batch), record):
            return True
        if record:
            self.append_rows.append(hi - lo)
            if ctx.tracer.on:
                ctx.op_spans["append"][-1]["rows"] = hi - lo
        self.loaded[lo:hi] = True
        day = (int(s.ts[lo]) - s.start_us) // gen.US_PER_DAY
        self.hot_days.add(day)

        a, b = s.day_start_us(day), s.day_start_us(day + 1) - 1
        got = []
        if ctx.op("hot_read", lambda: got.append(t.read_range_pandas(_dt(a), _dt(b))), record):
            want = int(self.loaded[np.searchsorted(s.ts, a, "left"):np.searchsorted(s.ts, b, "right")].sum())
            if len(got[0]) != want or not got[0].index.is_monotonic_increasing:
                ctx.fail(f"hot_read: got {len(got[0])} rows, want {want}")
            if record and ctx.tracer.on:
                self.files_per_day.append(len(_data_files(_day_dir(self.root, s, day))))

        if self.n % UPSERT_EVERY == 0:  # a ts-keyed correction of a past day
            pday = self.rng.choice(self.upsert_days)
            i, j = np.searchsorted(s.ts, [s.day_start_us(pday), s.day_start_us(pday + 1)], "left")
            pick = np.sort(np.random.default_rng([ctx.seed, self.n]).choice(
                np.arange(i, j), min(UPSERT_ROWS, j - i), replace=False))
            fix = spark.read.parquet(gen.write_parquet(
                s.table(pick, price_shift=1.0), os.path.join(self.dir, f"upsert-{self.n}.parquet")))
            if ctx.op("upsert", lambda: t.upsert(fix), record):
                self.deduped.add(pday)

        if self.n % COMPACT_EVERY == 0:
            days = sorted(self.hot_days)
            dirs = [_day_dir(self.root, s, d) for d in days]
            before = sum(len(_data_files(d)) for d in dirs)
            if ctx.op("compact", lambda: compact_series(
                    spark, os.path.join(self.root, SERIES), dates=[_dt(s.day_start_us(d)).date() for d in days]),
                    record):
                if record and ctx.tracer.on:
                    self.files_before.append(before)
                    self.files_after.append(sum(len(_data_files(d)) for d in dirs))
                self.hot_days = {day}
        return True


def tick_ingest(ctx, ing: Ingester) -> dict:
    for _ in range(WARM_STEPS):
        ing.step(record=False)
    t_end = time.perf_counter() + ctx.seconds
    steps = 0
    while (steps < MIN_STEPS or time.perf_counter() < t_end) and ing.step():
        steps += 1
    _final_checks(ctx, ing)
    ops = ctx.ops
    # the figures of each kind of operation, for the artifact
    m = {
        "append_rows_per_s": median([n / t for n, t in zip(ing.append_rows, ops["append"])]),
        "hot_read_p50_ms": median(ops["hot_read"]) * 1e3,
        "upsert_p50_ms": median(ops["upsert"]) * 1e3,
        "compact_p50_s": median(ops["compact"]),
    }
    if ctx.tracer.on:
        m.update(_ingest_layers(ctx, ing))
    return m


def _final_checks(ctx, ing: Ingester) -> None:
    """Per-day row counts match the generator, and every file is ts-sorted."""
    from pyspark.sql import functions as F

    s, loaded = ing.series, ing.loaded
    ctx.attempted += 1
    days = ((s.ts - s.start_us) // gen.US_PER_DAY).astype(np.int64)
    want = {}
    for d in np.unique(days[loaded]):
        sel = loaded & (days == d)
        want[str(_dt(s.day_start_us(int(d))).date())] = (
            int(np.unique(s.ts[sel]).size) if int(d) in ing.deduped else int(sel.sum()))
    got = {str(r[0]): r[1] for r in ing.table.to_df()
           .groupBy(F.to_date("ts").alias("d")).count().collect()}
    if got != want:
        bad = {k: (got.get(k), want.get(k)) for k in set(got) | set(want) if got.get(k) != want.get(k)}
        ctx.fail(f"per-day counts differ: {dict(list(bad.items())[:5])}")
    for root, _, files in os.walk(os.path.join(ing.root, SERIES)):
        for f in files:
            if f.endswith(".parquet"):
                ts = pq.read_table(os.path.join(root, f), columns=["ts"]).column(0).to_numpy()
                if len(ts) > 1 and not bool(np.all(ts[1:] >= ts[:-1])):
                    ctx.fail(f"file not sorted by ts: {f}")
                    return


def _ingest_layers(ctx, ing: Ingester) -> dict:
    counts = SparkCounts(ctx.spark.sparkContext)

    def written(sp):
        ex = counts.executions(counts.jobs_in([sp["group"]]))
        return counts.node_metric(ex, "Execute InsertIntoHadoopFsRelationCommand", "written output")

    def med(xs):
        return median(xs) if xs else None

    app, ups, comp = ctx.op_spans["append"], ctx.op_spans["upsert"], ctx.op_spans["compact"]
    stored = sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(os.path.join(ing.root, SERIES))
                 for f in fs if f.endswith(".parquet"))
    rows = int(ing.table.to_df().count())
    return {
        "tstable.append.ms": med([sp["s"] * 1e3 for sp in app]),
        "tstable.append.jobs": med([len(counts.jobs_in([sp["group"]])) for sp in app]),
        "tstable.append.bytes_per_row": sum(written(sp) for sp in app) / sum(sp["rows"] for sp in app) if app else None,
        "tstable.hot.files_per_day": med(ing.files_per_day),
        "tstable.upsert.bytes_rewritten": med([written(sp) for sp in ups]),
        "tstable.bytes_stored_per_row": stored / rows if rows else None,
        "streaming.compact.ms": med([sp["s"] * 1e3 for sp in comp]),
        "streaming.compact.bytes_rewritten": med([written(sp) for sp in comp]),
        "streaming.compact.files_before": med(ing.files_before),
        "streaming.compact.files_after": med(ing.files_after),
    }
