"""Seeded input generators. Pure numpy/pyarrow: no Spark, no clock.

Everything the program under test sees is produced here from ``seed``,
so the same seed always yields byte-identical inputs, and every expected
answer the workloads check against is computed from the same arrays.
"""

from __future__ import annotations

import json

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US_PER_S = 1_000_000
US_PER_H = 3600 * US_PER_S
US_PER_DAY = 24 * US_PER_H

# -- tick series ------------------------------------------------------------

TICK_EPOCH_US = 1_709_251_200 * US_PER_S  # 2024-03-01T00:00:00Z
TICK_DAYS = 30
TICK_EMPTY_DAYS = 2
TICK_ROWS_PER_HOUR = 1200
TICK_DUP_FRAC = 0.05


class TickSeries:
    """A multi-day tick series, sorted by ``ts`` (UTC microseconds).

    Days in ``empty_days`` hold no rows; about ``TICK_DUP_FRAC`` of the
    rows repeat the previous row's timestamp. ``ts`` is millisecond
    aligned, so duplicates are exact."""

    def __init__(self, seed: int):
        rng = np.random.default_rng([seed, 1])
        self.start_us = start_us = TICK_EPOCH_US
        self.days = days = TICK_DAYS
        # in the older half, never the first day: the edges stay populated,
        # and the days appended and read back all hold a day's worth of data
        self.empty_days = np.sort(rng.choice(np.arange(1, days // 2), TICK_EMPTY_DAYS, replace=False))
        chunks = []
        for d in range(days):
            if d in self.empty_days:
                continue
            n = int(rng.poisson(TICK_ROWS_PER_HOUR * 24))
            ms = np.sort(rng.integers(0, US_PER_DAY // 1000, n))
            chunks.append(start_us + d * US_PER_DAY + ms * 1000)
        ts = np.concatenate(chunks)
        dup = rng.random(len(ts)) < TICK_DUP_FRAC
        dup[0] = False
        ts[1:][dup[1:]] = ts[:-1][dup[1:]]  # copy a neighbour's stamp
        self.ts = np.sort(ts)
        self.price = np.round(100.0 + np.cumsum(rng.normal(0.0, 0.01, len(ts))), 4)
        self.size = rng.integers(1, 1000, len(ts)).astype(np.int64)

    def __len__(self) -> int:
        return len(self.ts)

    def day_start_us(self, day: int) -> int:
        return self.start_us + day * US_PER_DAY

    def table(self, rows=slice(None), price_shift: float = 0.0) -> pa.Table:
        """The given rows (a slice or an index array) as an Arrow table."""
        return pa.table({
            "ts": pa.array(self.ts[rows], pa.timestamp("us")),
            "price": pa.array(self.price[rows] + price_shift, pa.float64()),
            "size": pa.array(self.size[rows], pa.int64()),
        })


def write_parquet(table: pa.Table, path: str) -> str:
    pq.write_table(table, path)
    return path


# -- analytics fixture ------------------------------------------------------
# The registry's queries read ``<sf_dir>/<table>.parquet``. Only the tables
# the benchmark's query set reads are generated, with the column types and
# value domains of the reference fixture (FIXTURES.md).

EVENTS_EPOCH_US = 1_704_067_200 * US_PER_S  # 2024-01-01T00:00:00Z
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
EMBED_DIM = 64
EMBED_LABELS = 10


def events_table(seed: int, sf: float) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    n = int(round(1_000_000 * sf))
    users = max(2, int(round(15_000 * sf)))
    ts = np.sort(EVENTS_EPOCH_US + rng.integers(0, 30 * US_PER_DAY, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(np.round(rng.uniform(0.01, 490.0, n), 2)),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)]),
    })


def embeddings_table(seed: int, sf: float) -> pa.Table:
    rng = np.random.default_rng([seed, 3])
    n = max(EMBED_LABELS, int(round(50_000 * sf)))
    labels = rng.integers(0, EMBED_LABELS, n).astype(np.int32)
    centroids = rng.normal(0.0, 1.0, (EMBED_LABELS, EMBED_DIM))
    v = centroids[labels] + rng.normal(0.0, 1.5, (n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels),
    })


ANALYTICS_TABLES = {"events": events_table, "embeddings": embeddings_table}


def write_analytics_fixture(seed: int, sf: float, sf_dir: str) -> None:
    for name, make in ANALYTICS_TABLES.items():
        write_parquet(make(seed, sf), f"{sf_dir}/{name}.parquet")
