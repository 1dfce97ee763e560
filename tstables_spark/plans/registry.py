"""Registry mapping query name -> (Spark callable, DuckDB oracle SQL).

The driver contract (``__spark_entry__.py``): each query is a callable
``(spark, sf_dir) -> DataFrame``; the oracle is ANSI SQL DuckDB runs on
the same parquet. Column names are aliased identically on both sides
(the driver sorts columns by name before hashing values). Double-typed
aggregates are rounded on BOTH sides wherever floating-point summation
order could differ between engines.
"""

from __future__ import annotations

import functools
import os
import tempfile
import zipfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

_SHIPPED: set[str] = set()


def ensure_shipped(spark: SparkSession) -> None:
    """Ship the tstables_spark package to Spark's Python workers.

    UDF / pandas-UDF / stateful-streaming closures reference functions in
    this package; cloudpickle serializes those by module reference, so
    the worker processes must be able to ``import tstables_spark`` even
    when the driver process launched from an unrelated cwd (the external
    verify harness does exactly that). ``addPyFile`` is also the standard
    cluster-deploy path: the same zip ships to every executor on a real
    cluster."""
    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED:
        return
    import tstables_spark

    pkg_dir = os.path.dirname(os.path.abspath(tstables_spark.__file__))
    root = os.path.dirname(pkg_dir)
    fd, zpath = tempfile.mkstemp(suffix=".zip", prefix="tstables_spark_")
    os.close(fd)
    with zipfile.ZipFile(zpath, "w") as z:
        for dirpath, _, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, root))
    spark.sparkContext.addPyFile(zpath)
    _SHIPPED.add(app_id)


def prioritize(order: list[str]) -> None:
    """Reorder the registries so ``order`` comes first (then everything
    else in registration order). Registration order is load-bearing: the
    external verify harness checks a fixed window of the FIRST 50
    entries per round, so the priority list is where never-checked and
    changed-since-last-green queries are pinned (plans/__init__.py)."""
    unknown = [n for n in order if n not in QUERIES]
    if unknown:
        raise ValueError(f"prioritize: unknown queries {unknown}")
    for d in (QUERIES, ORACLES):
        head = {n: d[n] for n in order if n in d}
        tail = {n: v for n, v in d.items() if n not in head}
        d.clear()
        d.update(head)
        d.update(tail)


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query; ``oracle=None`` => driver does a rows-only check
    (reserved for genuinely non-SQL-expressible ops per the contract)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str, **kwargs) -> DataFrame:
            # The driver calls with its own un-configured session; UTC is
            # load-bearing for every timestamp comparison and the DuckDB
            # oracle twin (which runs with TimeZone='UTC').
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            # Driver fixtures store ts as tz-less timestamp[us]; without
            # this, Spark 4 infers TIMESTAMP_NTZ, which breaks
            # withWatermark / CAST(ts AS BIGINT) / the TimestampType
            # storage contract. Session TZ is UTC (above), so reading as
            # TIMESTAMP preserves wall-clock values and oracle hashes.
            spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
            # Write-side twin of the NTZ read policy: the driver session
            # defaults to legacy INT96 timestamps, which carry no
            # row-group stats — any parquet this query writes (storage
            # round-trips, sinks, streaming ingest) would lose ts
            # skippability (see session.py).
            spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
            ensure_shipped(spark)
            # Extra kwargs pass through to plans that expose physical
            # knobs (e.g. graph_triangles_approx's sampling cut); the
            # driver always calls with the bare (spark, sf_dir) pair.
            # Pins staged or consulted during plan construction are
            # refcount-held, and the refs are TRANSFERRED to the
            # returned frame's lifetime (weakref finalizer), so the
            # staged-pin LRU cannot evict a table this plan scans while
            # the caller still holds the frame it will execute — the
            # construction-to-execution window included (r16 advice).
            from tstables_spark._staging import hold_stream_pins

            with hold_stream_pins() as scope:
                df = fn(spark, sf_dir, **kwargs)
                scope.transfer_to(df)
                return df

        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return wrapped

    return deco
