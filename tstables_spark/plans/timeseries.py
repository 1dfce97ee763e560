"""Time-series query plans (SURVEY.md §2: ts_*, win_*, join_asof/range).

These generalize the reference's single query surface — the inclusive
time-range scan of ``TsTable.read_range`` (upstream
``tstables/tstable.py``) — to the full tick-data toolkit: resampling,
rolling windows, gap-fill, as-of and interval joins.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from tstables_spark.operators.asof import asof_join
from tstables_spark.operators.rangejoin import banded_range_join
from tstables_spark.operators.resample import resample_m4, resample_ohlc
from tstables_spark._exact import exact_sum, exact_wsum, sql_sum, sql_wsum
from tstables_spark.plans._portable_sql import epoch_floor_div
from tstables_spark._staging import register_staged_table, scratch_dir, staged
from tstables_spark.plans.registry import query
from tstables_spark.plans.tables import load
from tstables_spark.tstable import TimeSeriesTable, _read_days

# Events span 2024-01-01 .. 2024-01-30 (all scale factors).
RANGE_START = "2024-01-10 00:00:00"
RANGE_END = "2024-01-12 00:00:00"


# -- A4: the reference's flagship query -------------------------------------
@query(
    "ts_range_scan",
    oracle=f"""
    SELECT event_id, ts, user_id, event_type, value, props
    FROM events
    WHERE ts BETWEEN TIMESTAMP '{RANGE_START}' AND TIMESTAMP '{RANGE_END}'
    """,
)
def ts_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusive time-range scan (``TsTable.read_range`` semantics: both
    bounds inclusive). The BETWEEN predicate reaches the Parquet scan as
    pushed filters; on a date-partitioned series (TimeSeriesTable) the
    derived date predicate additionally prunes partitions."""
    ev = load(spark, sf_dir, "events")
    return ev.where(
        F.col("ts").between(F.lit(RANGE_START).cast("timestamp"), F.lit(RANGE_END).cast("timestamp"))
    ).select("event_id", "ts", "user_id", "event_type", "value", "props")


# -- A5/A6 ------------------------------------------------------------------
@query(
    "ts_min_max",
    oracle="SELECT min(ts) AS min_ts, max(ts) AS max_ts, CAST(count(*) AS BIGINT) AS n FROM events",
)
def ts_min_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/max timestamp (``TsTable.min_dt``/``max_dt``). On Parquet this
    is answerable from row-group footer stats; Spark's aggregate scan
    reads only the ts column."""
    ev = load(spark, sf_dir, "events")
    return ev.agg(
        F.min("ts").alias("min_ts"), F.max("ts").alias("max_ts"), F.count("*").alias("n")
    )


# -- A1+A3: create/append/read-back round-trip ------------------------------
@query(
    "ts_create_append",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value, props
    FROM events
    WHERE ts BETWEEN TIMESTAMP '2024-01-05 00:00:00'
                 AND TIMESTAMP '2024-01-20 00:00:00'
    """,
)
def ts_create_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Create a series, append the events fixture, read a range back.

    Exercises the reference's full lifecycle (create_ts -> append ->
    read_range) on the Spark-native layout: date-partitioned parquet,
    ts-sorted within files. The oracle is the plain inclusive range
    select on the fixture: a hash match proves the write/read round-trip
    is lossless (not just that some rows came back)."""
    ev = load(spark, sf_dir, "events")
    tmp = scratch_dir(spark, "tstable_")
    ts = TimeSeriesTable.create(spark, tmp, "events_series", ev.schema)
    ts.append(ev)
    from datetime import datetime, timezone

    return ts.read_range(
        datetime(2024, 1, 5, tzinfo=timezone.utc), datetime(2024, 1, 20, tzinfo=timezone.utc)
    ).select("event_id", "ts", "user_id", "event_type", "value", "props")


@query(
    "sink_parquet_partitioned",
    oracle="SELECT event_id, ts, user_id, event_type, value, props FROM events",
)
def sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-partitioned, ts-sorted parquet sink + read-back (A3's write
    discipline in isolation). Oracle = the whole fixture: hash match
    proves the partitioned rewrite is lossless."""
    ev = load(spark, sf_dir, "events")
    out = scratch_dir(spark, "sink_") + "/events"
    (
        ev.withColumn("date", F.to_date("ts"))
        .repartition("date")
        # (date, ts): pre-satisfies the dynamic-partition writer's
        # ordering requirement so it can't re-sort unstably (tstable.py)
        .sortWithinPartitions("date", "ts")
        .write.mode("overwrite")
        .partitionBy("date")
        .parquet(out)
    )
    return spark.read.parquet(out).select(*ev.columns)


@query(
    "ts_compact",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value, props
    FROM events
    WHERE ts BETWEEN TIMESTAMP '2024-01-03 00:00:00'
                 AND TIMESTAMP '2024-01-08 00:00:00'
    """,
)
def ts_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction round-trip: append the events fixture in TWO batches
    (two files per day partition — the small-file state a micro-batched
    stream leaves behind), run the OPTIMIZE-style rewrite
    (streaming/ingest.py::compact_series — coalesces each day to one
    ts-sorted file via a single date shuffle, swaps each day in with
    checked renames), then read a range back. The ORACLE is the
    plain range select on the fixture: the hash match proves compaction
    is lossless and the layout contract (pruned, inclusive range reads)
    survives the rewrite."""
    from datetime import datetime, timezone

    from tstables_spark.streaming.ingest import compact_series

    ev = load(spark, sf_dir, "events")
    tmp = scratch_dir(spark, "tscompact_")
    ts = TimeSeriesTable.create(spark, tmp, "events_series", ev.schema)
    half = F.pmod(F.xxhash64("event_id"), F.lit(2))
    ts.append(ev.where(half == 0))
    ts.append(ev.where(half == 1))
    compact_series(spark, ts.path, files_per_day=1)
    return ts.read_range(
        datetime(2024, 1, 3, tzinfo=timezone.utc),
        datetime(2024, 1, 8, tzinfo=timezone.utc),
    ).select("event_id", "ts", "user_id", "event_type", "value", "props")


@query(
    "ts_upsert",
    oracle="""
    SELECT event_id, ts, user_id, event_type,
           CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
                 AND ts <  TIMESTAMP '2024-01-16 00:00:00'
                THEN value + 1000.0 ELSE value END AS value,
           props
    FROM events
    WHERE ts BETWEEN TIMESTAMP '2024-01-14 00:00:00'
                 AND TIMESTAMP '2024-01-16 00:00:00'
    """,
)
def ts_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data correction round-trip: append the full fixture, then
    upsert a correction batch (every 2024-01-15 row re-stated with
    value + 1000), then read a 3-day range spanning the corrected day.

    ``TimeSeriesTable.upsert`` (tstable.py) merges only the touched
    day's partition — partial-agg keep-latest keyed on event_id, crash-
    safe per-partition swap — so the oracle (the fixture with a CASE on
    the corrected window) hash-matching proves replaced rows carry the
    new values, untouched days are byte-identical, and no duplicate
    identities survive the merge."""
    from datetime import datetime, timezone

    ev = load(spark, sf_dir, "events")
    tmp = scratch_dir(spark, "tsupsert_")
    ts = TimeSeriesTable.create(spark, tmp, "events_series", ev.schema)
    ts.append(ev)
    day = F.to_date("ts") == F.lit("2024-01-15").cast("date")
    corrections = ev.where(day).withColumn("value", F.col("value") + F.lit(1000.0))
    ts.upsert(corrections.select(*ev.columns), keys=["event_id"])
    return ts.read_range(
        datetime(2024, 1, 14, tzinfo=timezone.utc),
        datetime(2024, 1, 16, tzinfo=timezone.utc),
    ).select("event_id", "ts", "user_id", "event_type", "value", "props")


# -- resample ---------------------------------------------------------------
@query(
    "ts_resample_ohlc",
    oracle=f"""
    WITH w AS (
      SELECT date_trunc('minute', ts) AS bucket, value,
             first_value(value) OVER (PARTITION BY date_trunc('minute', ts)
                 ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS open_v,
             last_value(value) OVER (PARTITION BY date_trunc('minute', ts)
                 ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS close_v
      FROM events
    )
    SELECT bucket, max(open_v) AS open, max(value) AS high, min(value) AS low,
           max(close_v) AS close, CAST(count(*) AS BIGINT) AS volume,
           {sql_sum('value')} AS sum_value
    FROM w GROUP BY bucket
    """,
)
def ts_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample the tick stream to 1-minute OHLC bars — the canonical
    derived query over the reference's data model."""
    return resample_ohlc(load(spark, sf_dir, "events"), "1 minute")


# -- window functions -------------------------------------------------------
@query(
    "win_lag_lead",
    oracle="""
    SELECT event_id, user_id, ts, value,
           lag(value) OVER w AS prev_value,
           lead(value) OVER w AS next_value,
           value - lag(value) OVER w AS delta
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-to-event deltas per user (lag/lead). Single shuffle on
    user_id; within-partition sort only."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
    )


@query(
    "win_rolling",
    oracle=f"""
    SELECT event_id, user_id, ts,
           {sql_wsum('value', 'w')} AS roll_sum,
           {sql_wsum('value', 'w')} / (count(*) OVER w) AS roll_avg,
           CAST(count(*) OVER w AS BIGINT) AS roll_n
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    """,
)
def win_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 10-row sum/avg per user (row frame)."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-9, 0)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        exact_wsum("value", w).alias("roll_sum"),
        (exact_wsum("value", w) / F.count("*").over(w)).alias("roll_avg"),
        F.count("*").over(w).alias("roll_n"),
    )


@query(
    "win_range_frame",
    oracle=f"""
    SELECT event_id, user_id, ts,
           {sql_wsum('value', '''(PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                 RANGE BETWEEN 300 PRECEDING AND CURRENT ROW)''')} AS sum_5m,
           CAST(count(*) OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                 RANGE BETWEEN 300 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_5m
    FROM events
    """,
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based rolling window: per-user trailing 5-minute sum/count
    (RANGE frame over epoch seconds) — the reference's "last N minutes of
    ticks" access pattern as a windowed aggregate. The oracle floors
    epoch to match Spark's unix_timestamp truncation exactly — a bare
    CAST rounds in DuckDB, silently shifting frame keys by 1s on
    sub-second ticks."""
    ev = load(spark, sf_dir, "events")
    secs = F.unix_timestamp("ts")
    w = W.partitionBy("user_id").orderBy(secs.cast("long")).rangeBetween(-300, 0)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        exact_wsum("value", w).alias("sum_5m"),
        F.count("*").over(w).alias("n_5m"),
    )


@query(
    "ts_fill_forward",
    oracle="""
    SELECT event_id, user_id, ts,
           CASE WHEN event_type = 'error' THEN NULL ELSE value END AS raw_value,
           last_value(CASE WHEN event_type = 'error' THEN NULL ELSE value END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
    FROM events
    """,
)
def ts_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill: last-observation-carried-forward per user ('error' events
    treated as missing observations)."""
    ev = load(spark, sf_dir, "events")
    raw = F.when(F.col("event_type") == "error", F.lit(None)).otherwise(F.col("value"))
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        raw.alias("raw_value"),
        F.last(raw, ignorenulls=True).over(w).alias("filled_value"),
    )


@query(
    "ts_densify",
    oracle="""
    WITH bounds AS (SELECT date_trunc('minute', min(ts)) AS lo,
                           date_trunc('minute', max(ts)) AS hi FROM events),
    grid AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 MINUTE)) AS minute
             FROM bounds),
    cnts AS (SELECT date_trunc('minute', ts) AS minute,
                    CAST(count(*) AS BIGINT) AS n_events
             FROM events GROUP BY 1)
    SELECT g.minute, COALESCE(c.n_events, 0) AS n_events
    FROM grid g LEFT JOIN cnts c USING (minute)
    """,
)
def ts_densify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid densification: per-minute event counts over a REGULAR
    1-minute grid spanning [min(ts), max(ts)], zero-filled where no
    events fall — the step before any fixed-step model sees the series
    (the dual of ts_fill_forward, which fills values but only at
    observed timestamps). Scale shape: the grid is generated from the
    2-row min/max aggregate (time-dimension size, independent of row
    count) and the counts side is a partial-agg groupBy; the join
    broadcasts whichever side is smaller. Spark generates the grid with
    sequence()+explode off the min/max scalars."""
    ev = load(spark, sf_dir, "events").select("ts")
    bounds = ev.agg(
        F.date_trunc("minute", F.min("ts")).alias("lo"),
        F.date_trunc("minute", F.max("ts")).alias("hi"),
    )
    grid = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 minute"))).alias("minute")
    )
    cnts = (
        ev.groupBy(F.date_trunc("minute", "ts").alias("minute"))
        .agg(F.count("*").alias("n_events"))
    )
    return grid.join(cnts, "minute", "left").select(
        "minute", F.coalesce("n_events", F.lit(0)).alias("n_events")
    )


@query(
    "win_running_total",
    oracle=f"""
    SELECT o_custkey, o_orderkey, o_orderdate,
           {sql_wsum('o_totalprice', '''(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)''')} AS running_spend,
           CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
                AS BIGINT) AS order_seq
    FROM orders
    """,
)
def win_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative spend per customer over order history."""
    od = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return od.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        exact_wsum(
            "o_totalprice", w.rowsBetween(W.unboundedPreceding, W.currentRow)
        ).alias("running_spend"),
        F.row_number().over(w).cast("long").alias("order_seq"),
    )


@query(
    "win_corr",
    oracle=f"""
    WITH b AS (
      SELECT user_id, event_id, ts, value AS x,
             CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) AS DOUBLE) AS y
      FROM events),
    m AS (
      SELECT user_id, event_id, ts,
             CAST(count(*) OVER w AS DOUBLE) AS n,
             {sql_wsum('x', 'w')} AS sx,
             {sql_wsum('y', 'w')} AS sy,
             {sql_wsum('x * y', 'w')} AS sxy,
             {sql_wsum('x * x', 'w')} AS sx2,
             {sql_wsum('y * y', 'w')} AS sy2
      FROM b
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
    SELECT user_id, event_id, ts, CAST(n AS BIGINT) AS n_window,
           CASE WHEN (n * sx2 - sx * sx) > 0 AND (n * sy2 - sy * sy) > 0
                THEN (n * sxy - sx * sy)
                     / sqrt((n * sx2 - sx * sx) * (n * sy2 - sy * sy))
           END AS corr_roll
    FROM m
    """,
)
def win_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 20-row Pearson correlation per user between the value
    series and the props.k series — the pairwise rolling statistic
    (hedge-ratio / signal-decay monitoring) built the same way as
    agg_corr: five decimal-exact moment sums over ONE shared window
    frame (a single key shuffle + linear frame scan computes all
    five), then an identical guarded IEEE composition in both engines.
    The variance>0 guard makes degenerate frames (constant series)
    NULL instead of engine-specific inf/NaN behavior."""
    ev = load(spark, sf_dir, "events")
    b = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.col("value").alias("x"),
        F.get_json_object("props", "$.k").cast("bigint").cast("double").alias("y"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, W.currentRow)
    )
    m = b.select(
        "user_id",
        "event_id",
        "ts",
        F.count(F.lit(1)).over(w).cast("double").alias("n"),
        exact_wsum("x", w).alias("sx"),
        exact_wsum("y", w).alias("sy"),
        exact_wsum(F.col("x") * F.col("y"), w).alias("sxy"),
        exact_wsum(F.col("x") * F.col("x"), w).alias("sx2"),
        exact_wsum(F.col("y") * F.col("y"), w).alias("sy2"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sx2, sy2 = F.col("sxy"), F.col("sx2"), F.col("sy2")
    vx, vy, cov = n * sx2 - sx * sx, n * sy2 - sy * sy, n * sxy - sx * sy
    return m.select(
        "user_id",
        "event_id",
        "ts",
        n.cast("long").alias("n_window"),
        F.when((vx > 0) & (vy > 0), cov / F.sqrt(vx * vy)).alias("corr_roll"),
    )


@query(
    "win_drawdown",
    oracle="""
    SELECT user_id, event_id, ts, value,
           max(value) OVER w AS peak,
           value - max(value) OVER w AS drawdown
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def win_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running peak and drawdown per user — the classic
    peak-to-trough risk metric over a value series. A running MAX
    needs no decimal discipline (it selects an input double by
    comparison, no arithmetic), and the drawdown is ONE subtraction of
    identical operands in both engines — bit-exact by IEEE
    determinism. Single key shuffle + linear frame; the running-max
    frame is O(1) per row (monotonic state), not a re-scan."""
    ev = load(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    peak = F.max("value").over(w)
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        peak.alias("peak"),
        (F.col("value") - peak).alias("drawdown"),
    )


@query(
    "win_rank",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           CAST(row_number() OVER w AS BIGINT) AS rn,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking family per customer (row_number/rank/dense_rank/ntile) —
    total ordering via the orderkey tie-break makes ntile deterministic."""
    od = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return od.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.row_number().over(w).cast("long").alias("rn"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


# -- as-of join -------------------------------------------------------------
@query(
    "join_asof",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderdate,
             max(o_orderkey) AS o_orderkey,
             arg_max(o_totalprice, o_orderkey) AS o_totalprice
      FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_totalprice
    FROM events e ASOF LEFT JOIN o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each event, the latest order at-or-before it for
    the same key — the canonical tick-data join the reference's data model
    exists to serve. Implemented with the union+window pattern
    (tstables_spark.operators.asof); validated against DuckDB ASOF JOIN.

    Orders are first collapsed to one row per (key, time) — max orderkey
    wins — to make the at-same-timestamp case deterministic in both
    engines."""
    ev = load(spark, sf_dir, "events")
    od = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(
            F.max("o_orderkey").alias("o_orderkey"),
            F.max_by("o_totalprice", "o_orderkey").alias("o_totalprice"),
        )
    )
    return asof_join(
        ev.select("event_id", "user_id", "ts"),
        od,
        left_on="ts",
        right_on="o_orderdate",
        left_by="user_id",
        right_by="o_custkey",
        right_values=["o_orderkey", "o_totalprice"],
    ).select("event_id", "user_id", "ts", "o_orderkey", "o_totalprice")


# -- interval (range) join --------------------------------------------------
@query(
    "join_range",
    oracle="""
    SELECT a.event_id AS left_id, b.event_id AS right_id, a.user_id,
           a.ts AS left_ts, b.ts AS right_ts
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
    """,
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: pairs of events of the same user within a 30-minute
    forward horizon. Expressed as an equi-join on user_id with a range
    predicate — Catalyst plans the equi part as a hash/sort-merge join and
    applies the interval as a post-join filter, so there is no cartesian
    explosion. At 100 TB scale the equi key bounds the work; for keyless
    range joins, bucketize time (see operators/rangejoin.py)."""
    ev = load(spark, sf_dir, "events")
    a = ev.select(
        F.col("event_id").alias("left_id"), F.col("user_id"), F.col("ts").alias("left_ts")
    )
    b = ev.select(
        F.col("event_id").alias("right_id"),
        F.col("user_id").alias("user_id_b"),
        F.col("ts").alias("right_ts"),
    )
    joined = a.join(
        b,
        (a.user_id == b.user_id_b)
        & (F.col("right_ts") > F.col("left_ts"))
        & (F.col("right_ts") <= F.col("left_ts") + F.expr("INTERVAL 30 MINUTES")),
        "inner",
    )
    return joined.select("left_id", "right_id", "user_id", "left_ts", "right_ts")


@query(
    "join_range_banded",
    oracle="""
    SELECT a.event_id AS left_id, b.event_id AS right_id,
           a.ts AS left_ts, b.ts AS right_ts
    FROM events a JOIN events b
      ON b.ts > a.ts AND b.ts <= a.ts + INTERVAL 2 MINUTE
    """,
)
def join_range_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEYLESS range join via time-band bucketing
    (operators/rangejoin.py::banded_range_join): every event pair within
    a 2-minute forward horizon, with no equi key at all. A naive plan is
    a cartesian product with a filter — O(n^2), dead at 100 TB. Banding
    assigns each row to floor(ts/band) buckets and explodes the left
    side into the 2 candidate bands, making the band id a synthetic
    equi key: the join becomes a shuffle hash join whose work is bounded
    by rows-per-band^2 per band, independent of total table size. The
    oracle is the brute-force self-join (DuckDB plans it as an IEJoin,
    exact by construction)."""
    ev = load(spark, sf_dir, "events").select("event_id", "ts")
    left = ev.select(F.col("event_id").alias("left_id"), F.col("ts").alias("left_ts"))
    right = ev.select(F.col("event_id").alias("right_id"), F.col("ts").alias("right_ts"))
    return banded_range_join(
        left, right, "left_ts", "right_ts", horizon_seconds=120
    ).select("left_id", "right_id", "left_ts", "right_ts")


@query(
    "ts_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           min(ts) AS session_start, max(ts) AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
)
def ts_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: per-user sessions split on >30-minute
    idle gaps — the gaps-and-islands pattern (lag -> new-session flag ->
    running count as session id -> per-session aggregate). The batch
    twin of stream_session's applyInPandasWithState sessionizer, checked
    exactly here. Plan: ONE shuffle on user_id serves both window
    functions AND (via partial aggregation) the session rollup — no
    per-session shuffle; ties broken by (ts, event_id) so the flag
    assignment is deterministic on any partitioning. Scales as windows
    do: each user's history must fit a partition's sort spill, never
    the cluster's memory."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "new_s",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.col("ts").cast("long") - F.lag("ts").over(w).cast("long") > 1800),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    sess = flagged.withColumn(
        "session_id", F.sum("new_s").over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
    )


@query(
    "ts_gaps",
    oracle="""
    SELECT user_id, prev_ts AS gap_start, ts AS gap_end,
           CAST(date_diff('second', prev_ts, ts) AS BIGINT) AS gap_seconds
    FROM (
      SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    )
    WHERE prev_ts IS NOT NULL
      AND epoch_us(ts) - epoch_us(prev_ts) > 21600000000
    """,
)
def ts_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap detection: per-user stretches of >6h with no events — the
    monitoring query behind data-freshness SLAs (the reference's
    append-only series make gaps purely a read-side question). lag +
    filter over one user_id shuffle; emitted rows are (gap_start,
    gap_end, seconds). Linear, no join. The 6h threshold compares
    MICROSECOND-exact integers on both sides — a floored-seconds
    comparison against the oracle's exact interval diverged on exactly
    one boundary row at sf0.1 (found by the sf0.1 parity sweep);
    gap_seconds stays the floored-second difference, where both
    engines' truncation semantics agree."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id", "ts", F.lag("ts").over(w).alias("prev_ts")
    ).where(
        F.col("prev_ts").isNotNull()
        & (F.unix_micros("ts") - F.unix_micros("prev_ts") > 21_600_000_000)
    )
    return gaps.select(
        "user_id",
        F.col("prev_ts").alias("gap_start"),
        F.col("ts").alias("gap_end"),
        (F.col("ts").cast("long") - F.col("prev_ts").cast("long")).alias("gap_seconds"),
    )


@query(
    "win_ewma",
    oracle="""
    SELECT event_id, user_id, ts, value,
           list_reduce(
             list_prepend(CAST(0.0 AS DOUBLE),
               list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)),
             (acc, x) -> acc * 0.8 + x * 0.2) AS ewma
    FROM events
    """,
)
def win_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (alpha=0.2) over each
    user's trailing 10 values — the smoothing primitive pandas ewm()
    provides that SQL windows lack (the recurrence isn't a built-in
    aggregate). Expressed as collect_list over the ordered row frame +
    a left fold (``F.aggregate``) seeded at 0.0: both engines fold the
    SAME values in the SAME order with double arithmetic, so the hash
    check is exact (verified: DuckDB list_reduce == Python fold
    bit-for-bit). The fold is an interpreted HOF but runs over <=10
    elements per row — constant work, unlike the corpus-scale HOFs the
    repo moved to Arrow kernels (SCALE.md). One user_id shuffle."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-9, 0)
    arr = F.collect_list("value").over(w)
    ewma = F.aggregate(
        arr, F.lit(0.0), lambda acc, x: acc * F.lit(0.8) + x * F.lit(0.2)
    )
    return ev.select("event_id", "user_id", "ts", "value", ewma.alias("ewma"))


@query(
    "join_asof_tolerance",
    oracle="""
    WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, ts, max(event_id) AS purchase_id,
                 arg_max(value, event_id) AS purchase_value
          FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
    SELECT c.event_id, c.user_id, c.ts,
           CASE WHEN c.ts - p.ts <= INTERVAL 30 MINUTE THEN p.purchase_id END
             AS purchase_id,
           CASE WHEN c.ts - p.ts <= INTERVAL 30 MINUTE THEN p.purchase_value END
             AS purchase_value
    FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a STALENESS BOUND (pandas ``merge_asof``
    tolerance): each click matched to the user's latest prior purchase,
    but only if it happened within the last 30 minutes — older state is
    treated as absent, not carried forward indefinitely (the trading
    use case: a quote older than the bound must not price a trade).
    Same single-shuffle union+window plan as join_asof; the bound is a
    post-carry mask on exact microseconds (operators/asof.py). The
    oracle applies the identical mask over DuckDB's ASOF JOIN."""
    ev = load(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("purchase_id"),
            F.max_by("value", "event_id").alias("purchase_value"),
        )
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
                "purchase_id", "purchase_value")
    )
    return asof_join(
        clicks,
        purchases,
        left_on="ts",
        right_on="p_ts",
        left_by="user_id",
        right_by="p_user",
        right_values=["purchase_id", "purchase_value"],
        tolerance_seconds=1800,
    ).select("event_id", "user_id", "ts", "purchase_id", "purchase_value")


@query(
    "ts_schema_evolve",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value,
           CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00' THEN props END AS props
    FROM events
    """,
)
def ts_schema_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution round-trip (A2+): create a series WITHOUT the
    props column, append the first half of history, ``evolve`` to add
    nullable props (a metadata-only operation — zero files rewritten),
    append the second half with the new column, read everything back.
    The oracle (props nulled before the evolution point) hash-matching
    proves old files serve the widened schema as nulls, new files carry
    values, and no data moved. tstable.py::evolve."""
    from pyspark.sql import types as T

    ev = load(spark, sf_dir, "events")
    v1_cols = ["event_id", "ts", "user_id", "event_type", "value"]
    cut = F.col("ts") >= F.lit("2024-01-15 00:00:00").cast("timestamp")
    tmp = scratch_dir(spark, "tsevolve_")
    v1_schema = ev.select(*v1_cols).schema
    ts = TimeSeriesTable.create(spark, tmp, "events_series", v1_schema)
    ts.append(ev.where(~cut).select(*v1_cols))
    wider = T.StructType(
        list(v1_schema.fields) + [T.StructField("props", T.StringType(), True)]
    )
    ts.evolve(wider)
    ts.append(ev.where(cut).select(*v1_cols, "props"))
    return ts.to_df().select("event_id", "ts", "user_id", "event_type", "value", "props")


@query(
    "ts_partitions",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS part_date,
           CAST(count(*) AS BIGINT) AS n,
           min(ts) AS min_ts, max(ts) AS max_ts
    FROM events GROUP BY part_date
    """,
)
def ts_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition manifest (A8 as a query): one row per date partition of
    a TimeSeriesTable with its row count and ts extent — the statistics
    a planner (or an operator deciding which days to compact/upsert)
    reads instead of scanning data. On the date-partitioned layout the
    group-by key IS the directory key, so the aggregate reads only the
    ts column of each partition (columnar pruning) and every partial
    agg covers exactly one partition's files. The oracle groups the raw
    fixture by derived date — hash-matching proves the partition tree
    is a lossless, complete cover of the data (no row in a wrong-day
    dir, none dropped)."""
    ev = load(spark, sf_dir, "events")
    tmp = scratch_dir(spark, "tsparts_")
    ts = TimeSeriesTable.create(spark, tmp, "events_series", ev.schema)
    ts.append(ev)
    return (
        _read_days(spark, ts.path, ts._partition_dates(), ts.schema)
        .groupBy(F.col("date").cast("timestamp").alias("part_date"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
        )
    )


@query(
    "join_asof_forward",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderdate,
             min(o_orderkey) AS o_orderkey,
             arg_min(o_totalprice, o_orderkey) AS o_totalprice
      FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_totalprice
    FROM events e ASOF LEFT JOIN o
      ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: for each event, the EARLIEST order at-or-after
    it for the same key — the "next quote" lookup (pandas merge_asof
    direction='forward'). Same single shuffle + sort as join_asof: a
    running first(ignorenulls) over current->following beside the
    backward carry, which supplies an equal-time match
    (operators/asof.py::_carry). Orders are
    collapsed to one row per (key, time) — MIN orderkey wins, matching
    DuckDB's forward ASOF tie choice deterministically."""
    ev = load(spark, sf_dir, "events")
    od = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(
            F.min("o_orderkey").alias("o_orderkey"),
            F.min_by("o_totalprice", "o_orderkey").alias("o_totalprice"),
        )
    )
    return asof_join(
        ev.select("event_id", "user_id", "ts"),
        od,
        left_on="ts",
        right_on="o_orderdate",
        left_by="user_id",
        right_by="o_custkey",
        right_values=["o_orderkey", "o_totalprice"],
        direction="forward",
    ).select("event_id", "user_id", "ts", "o_orderkey", "o_totalprice")


@query(
    "join_asof_nearest",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderdate,
             max(o_orderkey) AS o_orderkey,
             arg_max(o_totalprice, o_orderkey) AS o_totalprice
      FROM orders GROUP BY o_custkey, o_orderdate
    ),
    b AS (
      SELECT e.event_id, e.user_id, e.ts,
             o.o_orderkey AS bk, o.o_totalprice AS bp, o.o_orderdate AS bts
      FROM events e ASOF LEFT JOIN o
        ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    ),
    f AS (
      SELECT e.event_id,
             o.o_orderkey AS fk, o.o_totalprice AS fp, o.o_orderdate AS fts
      FROM events e ASOF LEFT JOIN o
        ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
    )
    SELECT b.event_id, b.user_id, b.ts,
           CASE WHEN bts IS NOT NULL AND (fts IS NULL OR (b.ts - bts) <= (fts - b.ts))
                THEN bk ELSE fk END AS o_orderkey,
           CASE WHEN bts IS NOT NULL AND (fts IS NULL OR (b.ts - bts) <= (fts - b.ts))
                THEN bp ELSE fp END AS o_totalprice
    FROM b JOIN f USING (event_id)
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join: for each event, whichever same-key order is
    closer in absolute time (backward wins exact ties) — pandas
    merge_asof direction='nearest', completing the direction family
    (backward = join_asof, forward = join_asof_forward). One union +
    ONE key shuffle with both running carries computed over the same
    sort (operators/asof.py::_carry); the oracle is the
    two-ASOF-joins-plus-CASE formulation of the same choice. Orders
    collapse to one row per (key, time) — max orderkey wins — so both
    engines see a deterministic right side."""
    ev = load(spark, sf_dir, "events")
    od = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(
            F.max("o_orderkey").alias("o_orderkey"),
            F.max_by("o_totalprice", "o_orderkey").alias("o_totalprice"),
        )
    )
    return asof_join(
        ev.select("event_id", "user_id", "ts"),
        od,
        left_on="ts",
        right_on="o_orderdate",
        left_by="user_id",
        right_by="o_custkey",
        right_values=["o_orderkey", "o_totalprice"],
        direction="nearest",
    ).select("event_id", "user_id", "ts", "o_orderkey", "o_totalprice")


@query(
    "ts_interval_merge",
    oracle="""
    WITH iv AS (
      SELECT user_id, ts AS s, ts + INTERVAL 5 MINUTE AS e FROM events),
    flagged AS (
      SELECT user_id, s, e,
             CASE WHEN s > max(e) OVER (PARTITION BY user_id ORDER BY s, e
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS new_grp
      FROM iv),
    grouped AS (
      SELECT user_id, s, e,
             sum(new_grp) OVER (PARTITION BY user_id ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      FROM flagged)
    SELECT user_id, min(s) AS span_start, max(e) AS span_end,
           CAST(count(*) AS BIGINT) AS n_intervals
    FROM grouped GROUP BY user_id, grp
    """,
)
def ts_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge overlapping intervals per key (each event opens a 5-minute
    activity interval; touching/overlapping ones coalesce into spans) —
    the interval-union primitive behind uptime/coverage computation and
    session stitching. The classic two-window algorithm: a row starts a
    new span iff it begins after the running max end of all PRIOR
    intervals; the running sum of those flags is the span id; one
    group-by collapses each span. Single key shuffle, two linear
    frames, one aggregate — no self-join, no explode; pure timestamp
    comparisons (no float discipline needed). NULL running-max on each
    key's first row makes the comparison NULL -> flag 0; first span id
    is 0 — identical semantics in both engines."""
    ev = load(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("e"),
    )
    w_prev = (
        W.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    w_run = (
        W.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    flagged = iv.withColumn(
        "new_grp",
        F.when(F.col("s") > F.max("e").over(w_prev), F.lit(1)).otherwise(F.lit(0)),
    )
    grouped = flagged.withColumn("grp", F.sum("new_grp").over(w_run))
    return grouped.groupBy("user_id", "grp").agg(
        F.min("s").alias("span_start"),
        F.max("e").alias("span_end"),
        F.count(F.lit(1)).alias("n_intervals"),
    ).drop("grp")


@query(
    "join_asof_multi",
    oracle="""
    WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
    o AS (SELECT o_custkey, o_orderdate,
                 max(o_orderkey) AS o_orderkey,
                 arg_max(o_totalprice, o_orderkey) AS last_order_price
          FROM orders GROUP BY o_custkey, o_orderdate),
    p AS (SELECT user_id, ts, arg_max(value, event_id) AS last_purchase_value
          FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
    SELECT c.event_id, c.user_id, c.ts, o.last_order_price, p.last_purchase_value
    FROM c
    ASOF LEFT JOIN o ON c.user_id = o.o_custkey AND c.ts >= o.o_orderdate
    ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def join_asof_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME multi-source feature join — the feature-store
    retrieval shape that prevents training-serving skew: for each label
    row (clicks), the latest value from EACH feature source (order
    history, purchase history) as of the label timestamp, never a
    value from the future. Composition of two as-of joins: each is the
    single-shuffle union+window plan, both keyed on the same entity, so
    the second join re-partitions the (already label-sized) output of
    the first — cost is 2x asof, linear, with no feature leakage by
    construction. N sources = N chained joins, each adding one column
    set (operators/asof.py)."""
    ev = load(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    orders = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(
            F.max("o_orderkey").alias("o_orderkey"),
            F.max_by("o_totalprice", "o_orderkey").alias("last_order_price"),
        )
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("last_purchase_value"))
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
                "last_purchase_value")
    )
    step1 = asof_join(
        clicks,
        orders,
        left_on="ts",
        right_on="o_orderdate",
        left_by="user_id",
        right_by="o_custkey",
        right_values=["last_order_price"],
    )
    return asof_join(
        step1,
        purchases,
        left_on="ts",
        right_on="p_ts",
        left_by="user_id",
        right_by="p_user",
        right_values=["last_purchase_value"],
    ).select("event_id", "user_id", "ts", "last_order_price", "last_purchase_value")


@query(
    "ts_vwap",
    oracle=f"""
    SELECT user_id, date_trunc('hour', ts) AS bucket,
           {sql_sum("value * CAST(json_extract_string(props, '$.k') AS BIGINT)")} AS pv,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS vol,
           {sql_sum("value * CAST(json_extract_string(props, '$.k') AS BIGINT)")}
             / CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE) AS vwap
    FROM events
    GROUP BY 1, 2
    HAVING sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) > 0
    """,
)
def ts_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted average price per (user, hour) — the core tick
    aggregate (value as price, the JSON props field ``k`` as size:
    exercises semi-structured extraction in the same pass). One partial
    +final hash aggregate; the price*volume sums use the decimal trick
    (tstables_spark/_exact.py) so the final double division is bit-identical
    cross-engine. Zero-volume buckets are dropped (no 0/0)."""
    ev = load(spark, sf_dir, "events")
    vol = F.get_json_object("props", "$.k").cast("long")
    pv = F.col("value") * vol
    g = (
        ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("bucket"))
        .agg(
            exact_sum(pv).alias("pv"),
            F.sum(vol).alias("vol"),
        )
        .where(F.col("vol") > 0)
    )
    return g.select(
        "user_id", "bucket", "pv", "vol",
        (F.col("pv") / F.col("vol").cast("double")).alias("vwap"),
    )


@query(
    "agg_histogram",
    oracle="""
    SELECT bin,
           0.0 + bin * 10.0 AS lo_edge,
           CAST(count(*) AS BIGINT) AS n
    FROM (
      SELECT CAST(least(greatest(floor(value / 10.0), 0.0), 9.0) AS BIGINT) AS bin
      FROM events
    ) GROUP BY bin
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin histogram of the value column (10 bins of width 10,
    clamped) — the profiling aggregate every pipeline runs before
    choosing filter thresholds. The bin expression is the same double
    floor/clamp arithmetic in both engines (no width_bucket — its edge
    conventions differ), so bin ids are bit-deterministic. One partial
    +final aggregate over 10 groups; at 100 TB the map-side combine
    reduces each partition to <=10 rows before the exchange."""
    ev = load(spark, sf_dir, "events")
    bin_ = F.least(
        F.greatest(F.floor(F.col("value") / 10.0), F.lit(0.0)), F.lit(9.0)
    ).cast("long")
    return (
        ev.select(bin_.alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").alias("n"))
        .select("bin", (F.lit(0.0) + F.col("bin") * 10.0).alias("lo_edge"), "n")
    )


@query(
    "win_zscore",
    oracle=f"""
    SELECT event_id, user_id, ts, value,
           CASE WHEN vv > 0 THEN (value - mu) / sqrt(vv) END AS zscore
    FROM (
      SELECT event_id, user_id, ts, value,
             {sql_wsum("value", "w")} / CAST(count(*) OVER w AS DOUBLE) AS mu,
             {sql_wsum("value * value", "w")} / CAST(count(*) OVER w AS DOUBLE)
               - ({sql_wsum("value", "w")} / CAST(count(*) OVER w AS DOUBLE))
                 * ({sql_wsum("value", "w")} / CAST(count(*) OVER w AS DOUBLE)) AS vv
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    """,
)
def win_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score over each user's trailing 20 values — the
    standard streaming anomaly detector. Mean and variance come from
    DECIMAL window sums (tstables_spark/_exact.py) divided as doubles, so both
    engines compute bit-identical moments in any partition order; the
    E[x²]−µ² variance can round to a hair below zero on constant
    stretches, which the vv>0 guard maps to null identically on both
    sides. One user_id shuffle serves all three window aggregates."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-19, 0)
    n = F.count("*").over(w).cast("double")
    mu = exact_wsum("value", w) / n
    vv = exact_wsum(F.col("value") * F.col("value"), w) / n - mu * mu
    return ev.select(
        "event_id", "user_id", "ts", "value",
        F.when(vv > 0, (F.col("value") - mu) / F.sqrt(vv)).alias("zscore"),
    )


@query(
    "ts_interpolate",
    oracle="""
    WITH mins AS (
      SELECT unnest(generate_series(TIMESTAMP '2024-01-10 00:00:00',
                                    TIMESTAMP '2024-01-10 02:00:00',
                                    INTERVAL 1 MINUTE)) AS t),
    users AS (SELECT DISTINCT user_id FROM events),
    grid AS (SELECT user_id, t FROM users CROSS JOIN mins),
    obs AS (SELECT user_id, date_trunc('minute', ts) AS t,
                   arg_max(value, event_id) AS v
            FROM events
            WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
              AND ts < TIMESTAMP '2024-01-10 02:01:00'
            GROUP BY 1, 2),
    g AS (SELECT grid.user_id, grid.t, obs.v
          FROM grid LEFT JOIN obs ON grid.user_id = obs.user_id AND grid.t = obs.t),
    w AS (SELECT user_id, t, v,
                 last_value(v IGNORE NULLS) OVER wb AS pv,
                 last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
                   OVER wb AS pt,
                 first_value(v IGNORE NULLS) OVER wf AS nv,
                 first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
                   OVER wf AS nt
          FROM g
          WINDOW wb AS (PARTITION BY user_id ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 wf AS (PARTITION BY user_id ORDER BY t
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT user_id, t,
           CASE WHEN v IS NOT NULL THEN v
                WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                  pv + (nv - pv)
                     * CAST(date_diff('second', pt, t) AS DOUBLE)
                     / CAST(date_diff('second', pt, nt) AS DOUBLE)
           END AS value_interp,
           v IS NOT NULL AS observed
    FROM w
    """,
)
def ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR interpolation onto a regular 1-minute grid (a 2-hour
    window x every user): observed minutes keep their value (latest
    event by id within the minute — deterministic), missing minutes get
    the time-weighted line between the nearest observed neighbors, and
    edges with only one side stay null — the gap-fill upgrade over
    ts_fill_forward's staircase, and the resampling step model-prep
    pipelines run before fixed-step models. Plan: the grid is
    sequence()+explode off a literal range crossed with the distinct
    users (no driver loop), then ONE user_id shuffle serves the
    backward and forward ignorenulls windows; the interpolation weight
    is integer-second arithmetic ratioed as doubles, bit-identical
    cross-engine."""
    ev = load(spark, sf_dir, "events")
    start, end = "2024-01-10 00:00:00", "2024-01-10 02:00:00"
    mins = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(start).cast("timestamp"),
                F.lit(end).cast("timestamp"),
                F.expr("INTERVAL 1 MINUTE"),
            )
        ).alias("t")
    )
    users = ev.select("user_id").distinct()
    grid = users.crossJoin(mins)
    obs = (
        ev.where(
            (F.col("ts") >= F.lit(start).cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-10 02:01:00").cast("timestamp"))
        )
        .groupBy("user_id", F.date_trunc("minute", "ts").alias("t"))
        .agg(F.max_by("value", "event_id").alias("v"))
    )
    g = grid.join(obs, ["user_id", "t"], "left")
    wb = W.partitionBy("user_id").orderBy("t").rowsBetween(W.unboundedPreceding, W.currentRow)
    wf = W.partitionBy("user_id").orderBy("t").rowsBetween(W.currentRow, W.unboundedFollowing)
    t_obs = F.when(F.col("v").isNotNull(), F.col("t"))
    w_ = g.select(
        "user_id", "t", "v",
        F.last("v", ignorenulls=True).over(wb).alias("pv"),
        F.last(t_obs, ignorenulls=True).over(wb).alias("pt"),
        F.first("v", ignorenulls=True).over(wf).alias("nv"),
        F.first(t_obs, ignorenulls=True).over(wf).alias("nt"),
    )
    # Association order matters: the oracle's `(nv - pv) * X / Y`
    # parses left-assoc as ((nv - pv) * X) / Y, NOT (nv-pv) * (X/Y) —
    # the two round differently (87 cells diverged at sf0.1). Mirror
    # the exact grouping.
    num = (F.unix_timestamp("t") - F.unix_timestamp("pt")).cast("double")
    den = (F.unix_timestamp("nt") - F.unix_timestamp("pt")).cast("double")
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.col("pv") + (F.col("nv") - F.col("pv")) * num / den,
        )
    )
    return w_.select(
        "user_id", "t", interp.alias("value_interp"),
        F.col("v").isNotNull().alias("observed"),
    )


# -- M4 visualization downsampling ------------------------------------------
@query(
    "ts_downsample_m4",
    oracle="""
    WITH b AS (
      SELECT date_trunc('minute', ts) AS bucket, ts, event_id, value FROM events),
    r AS (
      SELECT *,
        row_number() OVER (PARTITION BY bucket ORDER BY ts, event_id) AS rf,
        row_number() OVER (PARTITION BY bucket ORDER BY ts DESC, event_id DESC) AS rl,
        row_number() OVER (PARTITION BY bucket ORDER BY value, ts, event_id) AS rmin,
        row_number() OVER (PARTITION BY bucket ORDER BY value DESC, ts DESC, event_id DESC) AS rmax
      FROM b)
    SELECT bucket,
           max(CASE WHEN rf = 1 THEN ts END) AS t_first,
           max(CASE WHEN rf = 1 THEN value END) AS v_first,
           max(CASE WHEN rmin = 1 THEN ts END) AS t_min,
           max(CASE WHEN rmin = 1 THEN value END) AS v_min,
           max(CASE WHEN rmax = 1 THEN ts END) AS t_max,
           max(CASE WHEN rmax = 1 THEN value END) AS v_max,
           max(CASE WHEN rl = 1 THEN ts END) AS t_last,
           max(CASE WHEN rl = 1 THEN value END) AS v_last,
           CAST(count(*) AS BIGINT) AS n
    FROM r GROUP BY bucket
    """,
)
def ts_downsample_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 downsampling to 1-minute pixel columns: the four points
    (first/last/min/max, each with its timestamp) per bucket that render
    an error-free line chart of the whole series — the standard
    time-series visualization reducer (Jugel et al., VLDB 2014).
    Spark plan is a single hash aggregate (operators/resample.py::
    resample_m4, min_by/max_by over struct keys — no window sort); the
    oracle states the same tie-break order via row_number, which on a
    unique (ts, event_id) key selects identical points."""
    return resample_m4(load(spark, sf_dir, "events"), "1 minute")


# -- rolling median ---------------------------------------------------------
@query(
    "win_rolling_median",
    oracle="""
    WITH r AS (
      SELECT event_id, user_id, ts,
             list_sort(list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS a
      FROM events)
    SELECT event_id, user_id, ts,
           CASE WHEN len(a) % 2 = 1 THEN a[(len(a) + 1) // 2]
                ELSE (a[len(a) // 2] + a[len(a) // 2 + 1]) / 2 END AS roll_median,
           CAST(len(a) AS INT) AS roll_n
    FROM r
    """,
)
def win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing 7-row median per user — the robust-smoothing twin
    of win_rolling's mean. Spark has no median window function, so the
    frame is materialized as a sorted array (collect_list + array_sort
    over the ROWS frame) and the midpoint formula is stated explicitly;
    the oracle runs the IDENTICAL list_sort + midpoint arithmetic (not
    DuckDB's median(), whose even-count interpolation isn't pinned to
    the same IEEE expression). O(w log w) per row with w=7 — the
    constant-size frame keeps this linear and shuffle-on-user_id-only
    at any corpus size."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-6, 0)
    r = ev.select(
        "event_id", "user_id", "ts",
        F.array_sort(F.collect_list("value").over(w)).alias("a"),
    )
    n = F.size("a")
    odd = F.element_at("a", ((n + 1) / 2).cast("int"))
    even = (
        F.element_at("a", (n / 2).cast("int"))
        + F.element_at("a", (n / 2).cast("int") + 1)
    ) / 2
    return r.select(
        "event_id", "user_id", "ts",
        F.when(n % 2 == 1, odd).otherwise(even).alias("roll_median"),
        n.alias("roll_n"),
    )


# -- robust outlier flagging ------------------------------------------------
@query(
    "ts_outlier_iqr",
    oracle="""
    WITH q AS (
      SELECT event_type,
             round(quantile_cont(value, 0.25), 6) AS q1,
             round(quantile_cont(value, 0.75), 6) AS q3
      FROM events GROUP BY event_type)
    SELECT e.event_id, e.event_type, e.ts, e.value,
           (e.value < q.q1 - 1.5 * (q.q3 - q.q1)
            OR e.value > q.q3 + 1.5 * (q.q3 - q.q1)) AS is_outlier
    FROM events e JOIN q ON e.event_type = q.event_type
    """,
)
def ts_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier flags per event_type: values outside
    [q1 - 1.5*IQR, q3 + 1.5*IQR] of their group's exact quartiles — the
    robust anomaly screen that, unlike win_zscore, a few extreme points
    cannot drag. Two-pass plan: exact quartiles per group (a per-type
    aggregate, rows = #types — tiny at any corpus size) BROADCAST back
    over the stream, so the big side never shuffles. Quartiles are
    6dp-rounded on both engines before the fence arithmetic (the same
    interpolation-ulp discipline as agg_percentiles); the fence
    expression itself is the identical IEEE tree as the oracle."""
    ev = load(spark, sf_dir, "events")
    q = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.25)"), 6).alias("q1"),
        F.round(F.expr("percentile(value, 0.75)"), 6).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    lo = F.col("q1") - 1.5 * iqr
    hi = F.col("q3") + 1.5 * iqr
    return (
        ev.join(F.broadcast(q), "event_type")
        .select(
            "event_id", "event_type", "ts", "value",
            ((F.col("value") < lo) | (F.col("value") > hi)).alias("is_outlier"),
        )
    )


@query("ts_downsample_lttb")
def ts_downsample_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling to 20 points per user
    series (operators/resample.py::lttb) — the perceptual chart reducer
    that preserves spikes. No oracle BY NATURE: each bucket's pick
    depends on the previously picked point, a sequential recurrence no
    SQL window/aggregate expresses — this is the engine's showcase for
    the per-key pandas kernel path (grouped_apply_in_pandas: one shuffle,
    one Python round-trip per partition, not per key). Deterministic on
    any layout (sorted kernel input, first-max tie-break); output-subset
    + endpoint + layout-invariance properties are pinned in
    tests/test_operators.py."""
    from tstables_spark.operators.resample import lttb

    ev = load(spark, sf_dir, "events")
    return lttb(ev, n_out=20, key_cols=("user_id",))


# -- z-order clustering -----------------------------------------------------
def _zorder_oracle() -> str:
    from tstables_spark.operators.zorder import morton_sql

    z = morton_sql("x", "y", bits=16)
    return f"""
    WITH m AS (SELECT min(CAST(floor(epoch(ts)) AS BIGINT)) AS e0,
                      max(CAST(floor(epoch(ts)) AS BIGINT)) AS e1,
                      min(user_id) AS u0, max(user_id) AS u1 FROM events),
    n AS (SELECT event_id,
                 (user_id - m.u0) * 65535 // greatest(m.u1 - m.u0, 1) AS x,
                 (CAST(floor(epoch(ts)) AS BIGINT) - m.e0) * 65535
                   // greatest(m.e1 - m.e0, 1) AS y
          FROM events, m),
    z AS (SELECT event_id, CAST({z} AS BIGINT) AS zval FROM n)
    SELECT event_id, zval, zval >> 26 AS file_bucket FROM z
    """


@query("zorder_layout", oracle=_zorder_oracle())
def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (z-order) clustering key over (user_id, time) — the
    multi-dimensional data-skipping layout (Delta/Iceberg OPTIMIZE
    ZORDER) as a plain codegen'd column: interleaved bits bound BOTH
    dimensions inside every contiguous key range, so files written in
    zval order carry tight per-file min/max on user_id AND ts and a
    scan filtered on either skips non-overlapping files
    (operators/zorder.py — write path is repartitionByRange("zval") +
    sortWithinPartitions). Pure integer bit arithmetic, replayed
    bit-for-bit by the oracle; locality is pinned in unit tests."""
    from tstables_spark.operators.zorder import zorder_key

    ev = load(spark, sf_dir, "events")
    return zorder_key(ev).select("event_id", "zval", "file_bucket")


@query(
    "win_rsi",
    oracle="""
    WITH d AS (
      SELECT event_id, user_id, ts, value,
             value - lag(value) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS delta
      FROM events
    ), gl AS (
      SELECT event_id, user_id, ts, value,
             CASE WHEN delta IS NULL THEN NULL
                  WHEN delta > 0 THEN delta ELSE 0 END AS gain,
             CASE WHEN delta IS NULL THEN NULL
                  WHEN delta < 0 THEN -delta ELSE 0 END AS loss
      FROM d
    )
    SELECT event_id, user_id, ts,
           CASE
             WHEN COUNT(loss) OVER w = 0 THEN NULL
             WHEN CAST(SUM(CAST(loss AS DECIMAL(30,6))) OVER w AS DOUBLE) = 0.0
               THEN 100.0
             ELSE 100.0 - 100.0 / (1.0 +
               (CAST(SUM(CAST(gain AS DECIMAL(30,6))) OVER w AS DOUBLE)
                  / COUNT(gain) OVER w)
               / (CAST(SUM(CAST(loss AS DECIMAL(30,6))) OVER w AS DOUBLE)
                  / COUNT(loss) OVER w))
           END AS rsi
    FROM gl
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    """,
)
def win_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-period RSI (Cutler's simple-average variant) per user — the
    classic momentum oscillator, entirely as window expressions.

    Exactness discipline: gains/losses are per-row IEEE deltas (both
    engines compute identical doubles), the trailing sums accumulate in
    DECIMAL (order-independent, so Spark's window and DuckDB's agree
    bit-for-bit), and the final RSI composes those exact sums with a
    fixed IEEE expression. The all-gain edge (avg loss = 0) is pinned
    to 100 by CASE on both sides rather than trusting either engine's
    x/0 behavior. One user_id shuffle, within-partition sort — the same
    single-exchange shape as every win_* query."""
    ev = load(spark, sf_dir, "events")
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    delta = F.col("value") - F.lag("value").over(wo)
    gl = ev.select(
        "event_id", "user_id", "ts", "value",
        F.when(delta.isNull(), F.lit(None).cast("double"))
         .when(delta > 0, delta).otherwise(F.lit(0.0)).alias("gain"),
        F.when(delta.isNull(), F.lit(None).cast("double"))
         .when(delta < 0, -delta).otherwise(F.lit(0.0)).alias("loss"),
    )
    w = wo.rowsBetween(-13, 0)
    avg_gain = exact_wsum("gain", w) / F.count("gain").over(w)
    avg_loss = exact_wsum("loss", w) / F.count("loss").over(w)
    rsi = (
        F.when(F.count("loss").over(w) == 0, F.lit(None).cast("double"))
        .when(exact_wsum("loss", w) == 0.0, F.lit(100.0))
        .otherwise(F.lit(100.0) - F.lit(100.0) / (F.lit(1.0) + avg_gain / avg_loss))
    )
    return gl.select("event_id", "user_id", "ts", rsi.alias("rsi"))


@query(
    "ts_rate",
    oracle="""
    WITH d AS (
      SELECT event_id, user_id, ts, value,
             lag(value) OVER w AS prev_v,
             lag(ts)    OVER w AS prev_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_id, user_id, ts,
           epoch_us(ts) - epoch_us(prev_ts) AS usecs,
           CASE WHEN value >= prev_v THEN value - prev_v ELSE value END AS delta,
           (CASE WHEN value >= prev_v THEN value - prev_v ELSE value END)
             / ((epoch_us(ts) - epoch_us(prev_ts)) / 1000000.0) AS rate
    FROM d
    WHERE prev_v IS NOT NULL
      AND epoch_us(ts) - epoch_us(prev_ts) > 0
    """,
)
def ts_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user counter rate with reset detection — PromQL's ``rate()``
    as a batch operator: value drops mean the counter restarted, so the
    delta is the raw new value, not a negative difference. Pure lag
    arithmetic on one user_id shuffle; every expression is per-row IEEE
    (no accumulation at all), so cross-engine equality is free.
    Intervals are MICROSECOND-exact integers (unix_micros/epoch_us) —
    second-granularity casts disagree cross-engine on sub-second ticks
    (Spark floors, DuckDB rounds). Same-instant duplicates are excluded
    (usecs > 0) — a rate over a zero interval is undefined."""
    ev = load(spark, sf_dir, "events")
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    d = ev.select(
        "event_id", "user_id", "ts", "value",
        F.lag("value").over(wo).alias("prev_v"),
        F.lag("ts").over(wo).alias("prev_ts"),
    )
    usecs = F.unix_micros("ts") - F.unix_micros("prev_ts")
    delta = F.when(F.col("value") >= F.col("prev_v"), F.col("value") - F.col("prev_v")).otherwise(
        F.col("value")
    )
    return (
        d.where(F.col("prev_v").isNotNull() & (usecs > 0))
        .select(
            "event_id", "user_id", "ts",
            usecs.alias("usecs"), delta.alias("delta"),
            (delta / (usecs / F.lit(1000000.0))).alias("rate"),
        )
    )


@query(
    "ts_cross_rank",
    oracle=f"""
    WITH per_user AS (
      SELECT epoch_us(ts) // 600000000 AS bucket, user_id,
             {sql_sum('value')} AS total
      FROM events
      GROUP BY 1, 2
    )
    SELECT bucket, user_id, total,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk
    FROM per_user
    WINDOW w AS (PARTITION BY bucket ORDER BY total DESC, user_id)
    """,
)
def ts_cross_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-sectional ranking: within each 10-minute bucket, rank
    users by their total value — the "top movers per interval" shape
    (leaderboards, per-bar liquidity ranking). Two-level plan: one
    (bucket, user) partial+final aggregate, then a window over the much
    smaller per-user-bucket relation — the rank never sees raw events.
    Totals accumulate in DECIMAL so both engines rank identical values;
    user_id breaks ties deterministically. The bucket is a
    MICROSECOND-exact integer division (unix_micros div) — no calendar
    logic and no second-granularity cast (Spark floors, DuckDB rounds)
    to disagree on."""
    ev = load(spark, sf_dir, "events")
    per_user = (
        ev.groupBy(
            F.expr(epoch_floor_div("unix_micros(ts)", 600000000)).alias("bucket"),
            "user_id",
        )
        .agg(exact_sum("value").alias("total"))
    )
    w = W.partitionBy("bucket").orderBy(F.col("total").desc(), "user_id")
    return per_user.select(
        "bucket", "user_id", "total",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
    )


@query(
    "ts_seasonal_profile",
    oracle=f"""
    SELECT event_type,
           CAST(EXTRACT(DOW FROM ts) AS INT) AS dow,
           CAST(EXTRACT(HOUR FROM ts) AS INT) AS hod,
           COUNT(*) AS n,
           {sql_sum('value')} AS total,
           {sql_sum('value')} / COUNT(*) AS avg_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def ts_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal profile: activity and mean value by (event_type,
    day-of-week, hour-of-day) — the seasonal-naive baseline every
    forecasting pipeline starts from, and the capacity-planning heatmap
    shape. One hash aggregate over at most type x 7 x 24 groups —
    partial aggregation collapses each scan partition to <=~1200 rows
    before the tiny shuffle. Calendar mapping pinned cross-engine:
    Spark's dayofweek is 1=Sunday, DuckDB's DOW is 0=Sunday, so Spark
    emits dayofweek-1."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type",
            (F.dayofweek("ts") - 1).cast("int").alias("dow"),
            F.hour("ts").cast("int").alias("hod"),
        )
        .agg(
            F.count("*").alias("n"),
            exact_sum("value").alias("total"),
            (exact_sum("value") / F.count("*")).alias("avg_value"),
        )
    )


@query(
    "ts_cusum",
    oracle=f"""
    WITH m AS (
      SELECT {sql_sum('value')} / COUNT(*) AS mean FROM events
    )
    SELECT event_id, user_id, ts,
           {sql_wsum('value', 'w')}
             - (CAST(count(*) OVER w AS BIGINT)) * (SELECT mean FROM m)
             AS cusum
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def ts_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user CUSUM drift detector: running sum of deviations from
    the global mean. The textbook change-detection statistic, computed
    scale-correctly: the global mean is ONE broadcast row (exact
    decimal sum / count), and the per-user running sum accumulates the
    RAW values in decimal — cusum_t = runsum_t - t*mean composes two
    exact quantities with a fixed IEEE expression, rather than summing
    (value - mean) floats whose rounding could drift. One 1-row
    broadcast + one user_id window shuffle."""
    ev = load(spark, sf_dir, "events")
    mean_row = ev.agg((exact_sum("value") / F.count("*")).alias("__mean"))
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        ev.crossJoin(F.broadcast(mean_row))
        .select(
            "event_id", "user_id", "ts",
            (
                exact_wsum("value", w)
                - F.count("*").over(w).cast("long") * F.col("__mean")
            ).alias("cusum"),
        )
    )


@query(
    "ts_retention_purge",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value, props
    FROM events
    WHERE CAST(ts AS DATE) >= DATE '2024-01-15'
    """,
)
def ts_retention_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention lifecycle: append the fixture, purge every day
    partition before Jan 15, read back the survivors
    (tstable.py::purge_before). The purge is a metadata-only partition
    drop — O(days dropped), no scan, no rewrite of surviving files —
    which is the only retention shape that works on a 100 TB series.
    The oracle keeps rows whose UTC day >= the cutoff: a hash match
    proves the drop is exactly day-granular and survivors are
    untouched."""
    from datetime import date

    ev = load(spark, sf_dir, "events")
    tmp = scratch_dir(spark, "tstable_purge_")
    ts = TimeSeriesTable.create(spark, tmp, "events_series", ev.schema)
    ts.append(ev)
    ts.purge_before(date(2024, 1, 15))
    return ts.to_df().select("event_id", "ts", "user_id", "event_type", "value", "props")


@query(
    "ts_time_travel",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value, props
    FROM events
    WHERE event_id % 2 = 0
    """,
)
def ts_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel: append half the fixture, snapshot v1,
    append the rest, snapshot v2, then read AS OF v1
    (tstable.py::snapshot/read_version — manifest-pinned file sets,
    Delta/Iceberg-style without a txn log, valid because appends are
    directory-append-only). The oracle is exactly batch 1: a hash match
    proves v1 sees none of batch 2's rows and all of its own —
    reproducible-corpus reads for audits and training runs."""
    ev = load(spark, sf_dir, "events")
    tmp = scratch_dir(spark, "tstable_tt_")
    ts = TimeSeriesTable.create(spark, tmp, "events_series", ev.schema)
    ts.append(ev.where(F.col("event_id") % 2 == 0))
    v1 = ts.snapshot()
    ts.append(ev.where(F.col("event_id") % 2 == 1))
    ts.snapshot()
    return ts.read_version(v1).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


@query(
    "ts_state_durations",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type, ts,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS next_ts
      FROM events
    )
    SELECT user_id, event_type,
           COUNT(*) AS n_entries,
           CAST(SUM(epoch_us(next_ts) - epoch_us(ts)) AS BIGINT) AS total_usecs
    FROM s
    WHERE next_ts IS NOT NULL
    GROUP BY user_id, event_type
    """,
)
def ts_state_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event stream -> time-in-state: each event opens a state that
    lasts until the user's next event; total dwell time per
    (user, state). The telemetry workhorse (screen time, machine-state
    uptime, order-status latency): ONE lead() over the same single
    user_id shuffle every win_* query uses, then a partial+final
    aggregate. Durations are microsecond-exact integers — summing
    BIGINTs is order-independent, so no decimal discipline is even
    needed. The last event of each user is open-ended and excluded
    (declared semantics, matching islands-style sessionization)."""
    ev = load(spark, sf_dir, "events")
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id", "event_type", "ts",
        F.lead("ts").over(wo).alias("next_ts"),
    )
    return (
        s.where(F.col("next_ts").isNotNull())
        .groupBy("user_id", "event_type")
        .agg(
            F.count("*").alias("n_entries"),
            F.sum(F.unix_micros("next_ts") - F.unix_micros("ts")).alias("total_usecs"),
        )
    )


@query(
    "join_interval_overlap",
    oracle="""
    WITH c AS (
      SELECT event_id AS click_id, user_id, ts AS c_start,
             ts + INTERVAL 10 MINUTE AS c_end
      FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT event_id AS purchase_id, user_id, ts AS p_start,
             ts + INTERVAL 10 MINUTE AS p_end
      FROM events WHERE event_type = 'purchase'
    )
    SELECT c.click_id, p.purchase_id, c.user_id
    FROM c JOIN p
      ON c.user_id = p.user_id
     AND c.c_start <= p.p_end AND p.p_start <= c.c_end
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: click attention windows x purchase
    windows (each event ± a 10-minute extent) that OVERLAP for the same
    user — the interval-interval case join_range's point-in-interval
    shape can't express. Plan: equi-join on (user, time-band) with the
    overlap predicate as residual — each interval lands in the bands
    its 20-minute maximal extent touches, so banding loses nothing and
    candidate fanout is bounded by band occupancy, never |clicks| x
    |purchases| (the cross-join a naive non-equi formulation degrades
    to at scale). Duplicate (click, purchase) candidates from
    multi-band spans are deduped exactly once
    (operators/rangejoin.py::interval_overlap_join)."""
    from tstables_spark.operators.rangejoin import interval_overlap_join

    ev = load(spark, sf_dir, "events")
    ext = F.expr("INTERVAL 10 MINUTES")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id",
        F.col("ts").alias("c_start"), (F.col("ts") + ext).alias("c_end"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id",
        F.col("ts").alias("p_start"), (F.col("ts") + ext).alias("p_end"),
    )
    return interval_overlap_join(
        clicks, purchases,
        left_start="c_start", left_end="c_end",
        right_start="p_start", right_end="p_end",
        by="user_id",
        band_seconds=1200,
    ).select("click_id", "purchase_id", "user_id")


@query(
    "win_first_last",
    oracle="""
    SELECT event_id, user_id, ts,
           first_value(value) OVER w AS day_open,
           last_value(value) OVER
             (PARTITION BY user_id, CAST(ts AS DATE)
              ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS day_close,
           nth_value(value, 2) OVER
             (PARTITION BY user_id, CAST(ts AS DATE)
              ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS day_second
    FROM events
    WINDOW w AS (PARTITION BY user_id, CAST(ts AS DATE)
                 ORDER BY ts, event_id)
    """,
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth_value battery per (user, UTC day): every row
    stamped with its day's opening, closing and second print — the
    window-function complement of the ts_resample_ohlc AGGREGATE
    (bars collapse; this annotates every row, the feature-engineering
    shape). last/nth use an explicit unbounded-both-ends frame — the
    default frame stops at CURRENT ROW, a classic silent-wrong-answer
    both engines agree to only when the frame is spelled out. One
    (user, day) shuffle serves all three."""
    ev = load(spark, sf_dir, "events")
    day = F.to_date("ts")
    wo = W.partitionBy("user_id", day).orderBy("ts", "event_id")
    wfull = wo.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return ev.select(
        "event_id", "user_id", "ts",
        F.first("value").over(wo).alias("day_open"),
        F.last("value").over(wfull).alias("day_close"),
        F.nth_value("value", 2).over(wfull).alias("day_second"),
    )


@query(
    "join_scd2_pit",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_type) OVER w IS NULL
                    OR lag(event_type) OVER w != event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events WHERE event_type != 'purchase'
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    dim AS (
      SELECT user_id, event_type AS state, ts AS valid_from, event_id,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS valid_to
      FROM flagged WHERE chg = 1
    ),
    fact AS (
      SELECT event_id AS purchase_id, user_id, ts, value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT f.purchase_id, f.user_id, f.ts, f.value, d.state
    FROM fact f JOIN dim d
      ON f.user_id = d.user_id
     AND f.ts >= d.valid_from
     AND (d.valid_to IS NULL OR f.ts < d.valid_to)
    """,
)
def join_scd2_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup against the SCD2 dimension cdc_scd2 builds:
    each purchase joined to the browsing-state version VALID at its
    instant ([valid_from, valid_to) semantics, open-ended current
    rows; the dimension is the non-purchase changelog, so purchases
    genuinely look up history rather than themselves). This is the
    consumption side of dimension history — the equi-key (user) bounds
    the join and the validity range is the residual condition, exactly
    the interval_join shape: linear in matched key groups, never a
    cartesian. At most ONE dim version matches per fact row by
    construction (intervals partition time), so the join is also
    multiplicity-safe."""
    from tstables_spark.operators.rangejoin import interval_join

    ev = load(spark, sf_dir, "events")
    nonp = ev.where(F.col("event_type") != "purchase")
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(wo)
    flagged = nonp.select(
        "user_id", "event_type", "ts", "event_id",
        F.when(prev.isNull() | (prev != F.col("event_type")), 1).otherwise(0).alias("chg"),
    )
    dim = (
        flagged.where(F.col("chg") == 1)
        .select(
            "user_id", F.col("event_type").alias("state"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(wo).alias("valid_to"),
        )
        .withColumnRenamed("user_id", "d_user")
    )
    fact = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts", "value"
    )
    joined = interval_join(
        fact,
        dim,
        on=fact["user_id"] == dim["d_user"],
        lower=fact["ts"] >= dim["valid_from"],
        upper=dim["valid_to"].isNull() | (fact["ts"] < dim["valid_to"]),
    )
    return joined.select("purchase_id", "user_id", "ts", "value", "state")


@query(
    "ts_twap",
    oracle=f"""
    WITH d AS (
      SELECT user_id, ts, value,
             epoch_us(lead(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id))
               - epoch_us(ts) AS dt_us
      FROM events
    ),
    h AS (
      SELECT user_id, epoch_us(ts) // 3600000000 AS hour_bucket,
             value, dt_us
      FROM d WHERE dt_us IS NOT NULL AND dt_us > 0
    )
    SELECT user_id, hour_bucket,
           CAST(SUM(CAST(dt_us AS DECIMAL(28,0))) AS BIGINT) AS held_us,
           round(
             (CAST(SUM(CAST(CAST(round(value * 100) AS BIGINT) * dt_us
                            AS DECIMAL(38,0))) AS DOUBLE) / 100.0)
               / CAST(CAST(SUM(CAST(dt_us AS DECIMAL(28,0))) AS BIGINT) AS DOUBLE),
           6) AS twap
    FROM h GROUP BY user_id, hour_bucket
    """,
)
def ts_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average price per (user, hour) — ts_vwap's
    execution-benchmark sibling: each tick's value is weighted by how
    long it PREVAILED (time to the user's next tick), so sparse quiet
    prints don't get drowned by bursts. One lead() on the shared user
    shuffle computes microsecond-exact holding times; the weighted sum
    runs ENTIRELY in integer space — value is 2-decimal fixed point
    (the agg_skew_kurt lemma), so tick·µs products are exact BIGINTs
    summed in decimal, and no float-to-decimal rounding boundary
    exists anywhere. TWAP is the one final IEEE ratio, rounded at 6dp
    (its magnitude is bounded by the price range, giving ~7 orders of
    rounding margin over conversion ulps). The open-ended last tick
    per user carries no duration and is excluded (declared semantics,
    as in ts_state_durations)."""
    ev = load(spark, sf_dir, "events")
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    d = ev.select(
        "user_id", "ts", "value",
        (F.unix_micros(F.lead("ts").over(wo)) - F.unix_micros("ts")).alias("dt_us"),
    )
    h = d.where(F.col("dt_us").isNotNull() & (F.col("dt_us") > 0)).select(
        "user_id",
        F.expr(epoch_floor_div("unix_micros(ts)", 3600000000)).alias("hour_bucket"),
        "value", "dt_us",
    )
    k = F.round(F.col("value") * 100).cast("long")
    held = F.sum(F.col("dt_us").cast("decimal(28,0)")).cast("long")
    kvt = F.sum((k * F.col("dt_us")).cast("decimal(38,0)")).cast("double")
    return h.groupBy("user_id", "hour_bucket").agg(
        held.alias("held_us"),
        F.round((kvt / F.lit(100.0)) / held.cast("double"), 6).alias("twap"),
    )


@query(
    "ts_peak_detect",
    oracle="""
    WITH d AS (
      SELECT event_id, user_id, ts, value,
             lag(value)  OVER w AS prev_v,
             lead(value) OVER w AS next_v
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_id, user_id, ts, value,
           value - CASE WHEN prev_v > next_v THEN prev_v ELSE next_v END
             AS prominence
    FROM d
    WHERE prev_v IS NOT NULL AND next_v IS NOT NULL
      AND value > prev_v AND value > next_v
      AND value - CASE WHEN prev_v > next_v THEN prev_v ELSE next_v END >= 50
    """,
)
def ts_peak_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-maximum detection with a prominence floor: ticks strictly
    above BOTH neighbors by at least 50 — the spike detector (alert
    candidates, local tops) in its simplest exact form. One lag + one
    lead on the shared single user shuffle; every comparison is
    per-row IEEE on raw doubles (no accumulation), so cross-engine
    equality is free. Series edges can't be peaks (both neighbors
    required), and the neighbor max is an explicit CASE rather than
    GREATEST — the engines' null policies for GREATEST differ."""
    ev = load(spark, sf_dir, "events")
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    d = ev.select(
        "event_id", "user_id", "ts", "value",
        F.lag("value").over(wo).alias("prev_v"),
        F.lead("value").over(wo).alias("next_v"),
    )
    nmax = F.when(F.col("prev_v") > F.col("next_v"), F.col("prev_v")).otherwise(F.col("next_v"))
    return (
        d.where(
            F.col("prev_v").isNotNull() & F.col("next_v").isNotNull()
            & (F.col("value") > F.col("prev_v")) & (F.col("value") > F.col("next_v"))
            & ((F.col("value") - nmax) >= 50)
        )
        .select("event_id", "user_id", "ts", "value", (F.col("value") - nmax).alias("prominence"))
    )


@query(
    "win_streaks",
    oracle="""
    WITH d AS (
      SELECT user_id, ts, event_id,
             CASE WHEN value > lag(value) OVER w THEN 1
                  WHEN value < lag(value) OVER w THEN -1
                  ELSE 0 END AS dir
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    runs AS (
      SELECT user_id, dir,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id)
             - row_number() OVER (PARTITION BY user_id, dir
                                  ORDER BY ts, event_id) AS island
      FROM d WHERE dir IS NOT NULL
    ),
    lens AS (
      SELECT user_id, dir, island, COUNT(*) AS len
      FROM runs GROUP BY user_id, dir, island
    )
    SELECT user_id,
           CAST(COALESCE(MAX(CASE WHEN dir = 1 THEN len END), 0) AS BIGINT)
             AS longest_up,
           CAST(COALESCE(MAX(CASE WHEN dir = -1 THEN len END), 0) AS BIGINT)
             AS longest_down
    FROM lens GROUP BY user_id
    """,
)
def win_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest up/down streak per user — momentum-run detection via
    the gaps-and-islands double-row_number trick: the difference of a
    global and a per-direction row number is constant exactly within a
    maximal run, so runs become group keys with no iteration. Both
    row_numbers sort the SAME (user, ts, event_id) order, so the whole
    pipeline (two windows + two aggregates) rides one user_id shuffle;
    run lengths are integers — nothing floats anywhere."""
    ev = load(spark, sf_dir, "events")
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("value").over(wo)
    d = ev.select(
        "user_id", "ts", "event_id",
        F.when(F.col("value") > prev, 1)
         .when(F.col("value") < prev, -1)
         .when(prev.isNull(), F.lit(None).cast("int"))
         .otherwise(0).alias("dir"),
    )
    wdir = W.partitionBy("user_id", "dir").orderBy("ts", "event_id")
    runs = d.where(F.col("dir").isNotNull()).select(
        "user_id", "dir",
        (F.row_number().over(wo) - F.row_number().over(wdir)).alias("island"),
    )
    lens = runs.groupBy("user_id", "dir", "island").agg(F.count("*").alias("len"))
    return lens.groupBy("user_id").agg(
        F.coalesce(F.max(F.when(F.col("dir") == 1, F.col("len"))), F.lit(0))
        .cast("long").alias("longest_up"),
        F.coalesce(F.max(F.when(F.col("dir") == -1, F.col("len"))), F.lit(0))
        .cast("long").alias("longest_down"),
    )


@query(
    "ts_autocorr",
    oracle="""
    WITH k AS (
      SELECT user_id, ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS x,
             lag(CAST(round(value * 100) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS y
      FROM events
    ),
    s AS (
      SELECT user_id, COUNT(*) AS n,
             CAST(SUM(CAST(x AS DECIMAL(28,0))) AS BIGINT) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(28,0))) AS BIGINT) AS sy,
             CAST(SUM(CAST(x*x AS DECIMAL(38,0))) AS BIGINT) AS sxx,
             CAST(SUM(CAST(y*y AS DECIMAL(38,0))) AS BIGINT) AS syy,
             CAST(SUM(CAST(x*y AS DECIMAL(38,0))) AS BIGINT) AS sxy
      FROM k WHERE y IS NOT NULL
      GROUP BY user_id
    )
    SELECT user_id, n,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                 6) AS autocorr
    FROM s
    """,
)
def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation per user (is the series trending or
    mean-reverting?): Pearson r over (xₜ, xₜ₋₁) pairs from one lag()
    on the shared user shuffle. Every sum is integer-tick exact in
    decimal and below 2⁵³ when converted (ticks ≤ 49k, ≤ tens of
    thousands of pairs per key), so both engines compose r from
    bit-identical operands; the composition itself is the shared
    moment formula with sqrt (never pow), rounded 6dp with |r| ≤ 1
    margin."""
    ev = load(spark, sf_dir, "events")
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    x = F.round(F.col("value") * 100).cast("long")
    k = ev.select(
        "user_id", x.alias("x"), F.lag(x).over(wo).alias("y"),
    )
    s = k.where(F.col("y").isNotNull()).groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast("decimal(28,0)")).cast("long").alias("sx"),
        F.sum(F.col("y").cast("decimal(28,0)")).cast("long").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).cast("long").alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)")).cast("long").alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).cast("long").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy, sxy = (
        F.col("sxx").cast("double"), F.col("syy").cast("double"), F.col("sxy").cast("double")
    )
    return s.select(
        "user_id", "n",
        F.round(
            (nd * sxy - sx * sy)
            / F.sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy)),
            6,
        ).alias("autocorr"),
    )


@query(
    "win_minmax_norm",
    oracle="""
    WITH stats AS (
      SELECT user_id,
             CAST(min(round(value * 100)) AS BIGINT) AS kmin,
             CAST(max(round(value * 100)) AS BIGINT) AS kmax
      FROM events GROUP BY user_id
    )
    SELECT e.event_id, e.user_id, e.ts,
           CASE WHEN s.kmax = s.kmin THEN 0.5
                ELSE CAST(CAST(round(e.value * 100) AS BIGINT) - s.kmin AS DOUBLE)
                     / CAST(s.kmax - s.kmin AS DOUBLE)
           END AS value_norm
    FROM events e JOIN stats s ON e.user_id = s.user_id
    """,
)
def win_minmax_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user min-max feature scaling to [0,1] — the grouped-stats-
    join normalization template (same shape as ts_outlier_iqr): the
    per-key extrema are a TINY aggregate (rows = #users) joined back,
    so the fact stream shuffles once at most and AQE can broadcast the
    stats side; the big side is never windowed. Extrema and the
    normalized ratio run on exact integer ticks — min/max of doubles
    would be exact anyway, but the integer form keeps the subtraction
    and the one IEEE division bit-identical with zero caveats.
    Constant series pin to 0.5 by CASE on both engines."""
    ev = load(spark, sf_dir, "events")
    k = F.round(F.col("value") * 100).cast("long")
    stats = ev.groupBy("user_id").agg(
        F.min(k).alias("kmin"), F.max(k).alias("kmax")
    )
    j = ev.join(stats, "user_id")
    norm = F.when(F.col("kmax") == F.col("kmin"), F.lit(0.5)).otherwise(
        (k - F.col("kmin")).cast("double") / (F.col("kmax") - F.col("kmin")).cast("double")
    )
    return j.select("event_id", "user_id", "ts", norm.alias("value_norm"))


@query(
    "ts_catalog",
    oracle="""
    SELECT 'clicks' AS series,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
           min(ts) AS min_ts, max(ts) AS max_ts
    FROM events WHERE event_type = 'click'
    UNION ALL
    SELECT 'purchases',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT),
           min(ts), max(ts)
    FROM events WHERE event_type = 'purchase'
    """,
)
def ts_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog manifest: enumerate every series under a catalog root
    (list_series — the reference's many-series-per-File concept) and
    report rows / day-partition count / ts extent per series. The
    partition count comes from DIRECTORY NAMES (_partition_dates, a
    pure metadata walk) and the extents from the edge-partition
    min_dt/max_dt probes — nothing here scans a series end to end
    except the row count, and at scale that too would come from
    footer row counts. The oracle recomputes all of it relationally
    from the fixture: a hash match proves the storage metadata agrees
    with the data's ground truth."""
    from datetime import timezone

    from tstables_spark.tstable import TimeSeriesTable, list_series

    ev = load(spark, sf_dir, "events")
    root = scratch_dir(spark, "catalog_")
    for name, etype in (("clicks", "click"), ("purchases", "purchase")):
        sub = ev.where(F.col("event_type") == etype)
        t = TimeSeriesTable.create(spark, root, name, ev.schema)
        t.append(sub)
    rows = []
    for name in list_series(root):
        t = TimeSeriesTable.open(spark, root, name)
        n = t.to_df().count()
        lo = t.min_dt().astimezone(timezone.utc).replace(tzinfo=None)
        hi = t.max_dt().astimezone(timezone.utc).replace(tzinfo=None)
        rows.append((name, n, len(t._partition_dates()), lo, hi))
    from tstables_spark._local import local_df

    return local_df(
        spark, rows,
        "series string, n_rows long, n_days long, min_ts timestamp, max_ts timestamp",
    )


@query(
    "ts_multi_series_align",
    oracle="""
    WITH c AS (
      SELECT user_id, ts, arg_max(value, event_id) AS click_value
      FROM events WHERE event_type = 'click'
      GROUP BY user_id, ts
    ),
    p AS (SELECT event_id, user_id, ts, value
          FROM events WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id, p.ts, p.value, c.click_value
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def ts_multi_series_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end LIBRARY story in one query: split the event
    stream into two TimeSeriesTable series (clicks, purchases) in a
    catalog, write both through the partitioned-sorted storage path,
    REOPEN them cold, and as-of align every purchase with the user's
    prevailing click value — multi-instrument alignment (trade vs
    quote, sensor vs reference) exactly as a user of the reference
    would compose it. The oracle computes the same alignment straight
    off the fixture: the hash match proves storage round-trip + as-of
    compose losslessly (any write-path corruption or ordering loss
    would surface as a wrong carried value). Clicks collapse to one
    row per (user, instant) before the join — same determinism rule
    as every as-of here."""
    from tstables_spark.tstable import TimeSeriesTable

    ev = load(spark, sf_dir, "events")
    root = scratch_dir(spark, "align_")
    for name, etype in (("clicks", "click"), ("purchases", "purchase")):
        t = TimeSeriesTable.create(spark, root, name, ev.schema)
        t.append(ev.where(F.col("event_type") == etype))
    clicks = (
        TimeSeriesTable.open(spark, root, "clicks").to_df()
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("click_value"))
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"), "click_value")
    )
    purchases = (
        TimeSeriesTable.open(spark, root, "purchases").to_df()
        .select("event_id", "user_id", "ts", "value")
    )
    return asof_join(
        purchases,
        clicks,
        left_on="ts",
        right_on="c_ts",
        left_by="user_id",
        right_by="c_user",
        right_values=["click_value"],
    ).select("event_id", "user_id", "ts", "value", "click_value")


@query(
    "ts_watermark_lateness",
    oracle="""
    WITH x AS (
      SELECT event_type,
             greatest(0, max(epoch_us(ts)) OVER (
                 PARTITION BY event_type
                 ORDER BY epoch_us(ts) // 60000000,
                          md5(CAST(event_id AS VARCHAR)), event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - epoch_us(ts)) AS late_us
      FROM events)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(CASE WHEN late_us > 0 THEN 1 END) AS BIGINT) AS n_late,
           CAST(count(CASE WHEN late_us > 30000000 THEN 1 END) AS BIGINT)
             AS n_past_30s_watermark,
           CAST(max(late_us) AS DOUBLE) / 1000000.0 AS max_lateness_sec
    FROM x GROUP BY event_type
    """,
)
def ts_watermark_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness audit — the measurement that JUSTIFIES a
    watermark before anyone sets one: per event type, how far events
    arrive behind the running maximum event time seen so far, how many
    would fall past a 30-second watermark (i.e. would actually be
    dropped by a streaming agg using it), and the worst lateness
    observed.

    ARRIVAL MODEL: the fixture is perfectly time-sorted (zero natural
    lateness — verified, every event_id order is ts order), so arrival
    is simulated deterministically: events within the same minute
    arrive in portable-md5 order — the parallel-producers-flushing-
    within-a-window pattern. Production use replaces the simulated
    order with the real ingest sequence; the audit logic is identical.
    Max simulated lateness is bounded by the bucket width (60 s), which
    is why the audited watermark is 30 s here.

    Scale shape: one window max per (event_type, arrival order) — the
    same single shuffle any per-type window query pays — then a tiny
    per-type aggregate. All lateness arithmetic is exact integer
    microseconds (unix_micros), divided once to seconds in IEEE; no
    calendar functions, no floats in the comparison path."""
    ev = load(spark, sf_dir, "events")
    w = (
        W.partitionBy("event_type")
        .orderBy(
            F.expr(epoch_floor_div("unix_micros(ts)", 60000000)),
            F.md5(F.col("event_id").cast("string")),
            "event_id",
        )
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    late = F.greatest(
        F.lit(0).cast("long"),
        F.max(F.unix_micros("ts")).over(w) - F.unix_micros("ts"),
    )
    x = ev.select("event_type", late.alias("late_us"))
    return x.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(F.when(F.col("late_us") > 0, 1)).alias("n_late"),
        F.count(F.when(F.col("late_us") > 30_000_000, 1)).alias(
            "n_past_30s_watermark"
        ),
        (F.max("late_us").cast("double") / F.lit(1_000_000.0)).alias(
            "max_lateness_sec"
        ),
    )


@query(
    "ts_tick_bars",
    oracle="""
    WITH r AS (
      SELECT event_type, ts, event_id, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) - 1 AS rn
      FROM events),
    b AS (SELECT event_type, rn // 200 AS bar, ts, event_id, value FROM r),
    w AS (SELECT event_type, bar, ts, value,
                 first_value(ts) OVER win AS open_ts,
                 first_value(value) OVER win AS open_v,
                 last_value(value) OVER win AS close_v
          FROM b
          WINDOW win AS (PARTITION BY event_type, bar ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND UNBOUNDED FOLLOWING))
    SELECT event_type, CAST(bar AS BIGINT) AS bar,
           min(open_ts) AS open_ts, max(open_v) AS open,
           max(value) AS high, min(value) AS low, max(close_v) AS close,
           CAST(count(*) AS BIGINT) AS n_ticks,
           {dv} AS dollar_volume
    FROM w GROUP BY event_type, bar
    """.format(dv=sql_sum("abs(value)")),
)
def ts_tick_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-driven bars (de Prado tick bars): every 200 ticks per
    series becomes one OHLC bar, so bar density follows ACTIVITY
    instead of the wall clock — the sampling scheme
    information-driven finance pipelines use instead of time bars
    (ts_resample_ohlc is the time-bar twin). dollar_volume (Σ|value|
    per bar) is the statistic dollar-bar thresholds would cut on.

    Scale shape: the global per-series tick sequence is inherently a
    per-series ordered scan — ONE shuffle on event_type and one
    in-partition sort (the same per-series window discipline as every
    win_* query; series count is the parallelism unit at 100 TB, and a
    single pathological series degrades to the reference's own
    single-node scan). Bars then aggregate with ordinary partial-agg
    min/max-of-struct — open/close need no second window pass, and the
    bar agg reuses the window's (event_type) partitioning, so the sort
    output feeds the hash agg with NO extra exchange. Σ|value| rides
    the decimal-exact sum (tstables_spark/_exact.py)."""
    ev = load(spark, sf_dir, "events")
    bars = ev.select(
        "event_type",
        "ts",
        "event_id",
        "value",
        F.expr(
            "CAST((row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) - 1) DIV 200 AS BIGINT)"
        ).alias("bar"),
    )
    return bars.groupBy("event_type", "bar").agg(
        F.min(F.struct("ts", "event_id", "value")).alias("__o"),
        F.max(F.struct("ts", "event_id", "value")).alias("__c"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.count(F.lit(1)).alias("n_ticks"),
        exact_sum(F.abs(F.col("value"))).alias("dollar_volume"),
    ).select(
        "event_type",
        "bar",
        F.col("__o.ts").alias("open_ts"),
        F.col("__o.value").alias("open"),
        "high",
        "low",
        F.col("__c.value").alias("close"),
        "n_ticks",
        "dollar_volume",
    )


@query(
    "ts_calendar_sessions",
    oracle="""
    SELECT event_id, ts,
           CAST(CAST(ts AS DATE) AS VARCHAR) AS session_date,
           CAST((EXTRACT(hour FROM ts) * 60 + EXTRACT(minute FROM ts))
                - 570 AS INT) AS minutes_into_session
    FROM events
    WHERE isodow(ts) BETWEEN 1 AND 5
      AND (EXTRACT(hour FROM ts) * 60 + EXTRACT(minute FROM ts))
          BETWEEN 570 AND 959
    """,
)
def ts_calendar_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trading-calendar alignment: keep only ticks inside the
    09:30–16:00 UTC weekday session and stamp each with its session
    date and minute offset — the calendar gate every market-data
    pipeline runs before session-relative analytics (TWAP windows,
    open/close auctions, session VWAP). Weekend and overnight ticks
    are dropped, not rolled: roll policy belongs to the consumer.

    Scale shape: pure scan-side row predicate + projection — zero
    shuffles, fully codegen'd, and the date/time arithmetic pushes no
    filter barrier (partition pruning on a date-partitioned
    TimeSeriesTable still applies upstream). Session arithmetic stays
    in integer minutes; no timezone conversion happens because the
    engine pins instants to UTC (README timestamp policy) — exchange
    local-time sessions would wrap this same shape around a
    from_utc_timestamp projection."""
    ev = load(spark, sf_dir, "events")
    mins = F.hour("ts") * 60 + F.minute("ts")
    # Spark dayofweek: 1=Sunday..7=Saturday; Mon-Fri = 2..6.
    return (
        ev.where(F.dayofweek("ts").between(2, 6) & mins.between(570, 959))
        .select(
            "event_id",
            "ts",
            F.col("ts").cast("date").cast("string").alias("session_date"),
            (mins - 570).cast("int").alias("minutes_into_session"),
        )
    )


@query(
    "ts_lttb_gate",
    oracle="""
    SELECT user_id,
           CAST(LEAST(20, count(*)) AS BIGINT) AS n_points,
           TRUE AS subset_ok, TRUE AS endpoints_ok
    FROM events GROUP BY user_id
    """,
)
def ts_lttb_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked gate for the sequential LTTB kernel (the sim_recall
    pattern: the pick sequence itself is engine-private — a recurrence
    no SQL window expresses — but its CONTRACT is portable booleans the
    oracle expects TRUE). Per user series: n_points = least(20, n) rows
    exactly, every picked (ts, value) is a genuine input row
    (left-semi re-join against the raw table — an independent code
    path from the kernel), and both series endpoints survive (LTTB
    pins first/last by construction). A kernel regression — dropped
    bucket, interpolated instead of selected points, lost endpoint —
    flips a boolean and fails the driver hash; the pick QUALITY
    (triangle-area maximality) stays pinned by unit tests.

    Scale shape: the LTTB pass itself (one shuffle, per-partition
    Python round-trip — see operators/resample.py::lttb), a semi-join
    of the 20-per-key output against the raw scan on (user, ts, value),
    and two per-user aggs. The semi-join's left side is O(keys), not
    O(rows)."""
    from tstables_spark.operators.resample import lttb

    ev = load(spark, sf_dir, "events")
    pts = lttb(ev, n_out=20, key_cols=("user_id",))
    per_pts = pts.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.min("ts").alias("p_min"),
        F.max("ts").alias("p_max"),
    )
    matched = (
        pts.join(ev.select("user_id", "ts", "value"), ["user_id", "ts", "value"], "leftsemi")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    base = ev.groupBy("user_id").agg(
        F.min("ts").alias("e_min"), F.max("ts").alias("e_max")
    )
    return (
        per_pts.join(matched, "user_id")
        .join(base, "user_id")
        .select(
            "user_id",
            "n_points",
            (F.col("n_matched") == F.col("n_points")).alias("subset_ok"),
            ((F.col("p_min") == F.col("e_min")) & (F.col("p_max") == F.col("e_max"))).alias(
                "endpoints_ok"
            ),
        )
    )


def _xcorr_oracle(max_lag: int = 3) -> str:
    """Join-shifted DuckDB twin of ts_xcorr_lags: on the dense minute
    grid, ``lead(y, k)``/``lag(y, k)`` is exactly the y value at
    ``minute + k`` when that minute is in range, so the lagged pairs
    come from an equi-join of the series with itself (the same shape
    the Spark plan uses — no global-order window on either side).
    Integer moment sums per lag are BIGINT-exact; each moment is cast
    to DOUBLE BEFORE composing Pearson r (agg_corr's discipline —
    composing in BIGINT overflows int64 once ``sx * sx`` crosses 2^63:
    under ANSI mode — the Spark 4 default, on in this repo's sessions —
    that raises ARITHMETIC_OVERFLOW loudly, and non-ANSI deployments
    wrap silently; either way Spark diverges from DuckDB, which
    promotes to HUGEINT)."""
    lags = ", ".join(str(k) for k in range(-max_lag, max_lag + 1))
    return f"""
    WITH m AS (
      SELECT epoch_us(ts) // 60000000 AS minute, event_type FROM events),
    bounds AS (SELECT min(minute) AS mn, max(minute) AS mx FROM m),
    grid AS (SELECT unnest(generate_series(bounds.mn, bounds.mx)) AS minute
             FROM bounds),
    x AS (SELECT minute, CAST(count(*) AS BIGINT) AS c FROM m
          WHERE event_type = 'click' GROUP BY minute),
    y AS (SELECT minute, CAST(count(*) AS BIGINT) AS c FROM m
          WHERE event_type = 'purchase' GROUP BY minute),
    s AS (SELECT g.minute, coalesce(x.c, 0) AS x, coalesce(y.c, 0) AS y
          FROM grid g LEFT JOIN x ON g.minute = x.minute
                      LEFT JOIN y ON g.minute = y.minute),
    lagset AS (SELECT unnest([{lags}]) AS lag),
    st AS (SELECT l.lag, a.x, b.y AS yk
           FROM s a
           JOIN lagset l ON true
           JOIN s b ON b.minute = a.minute + l.lag),
    a AS (SELECT lag,
                 CAST(count(*) AS BIGINT) AS n,
                 SUM(x) AS sx, SUM(yk) AS sy, SUM(x * yk) AS sxy,
                 SUM(x * x) AS sx2, SUM(yk * yk) AS sy2
          FROM st GROUP BY lag)
    SELECT CAST(lag AS INT) AS lag, n,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS xcorr
    FROM a
    """


@query("ts_xcorr_lags", oracle=_xcorr_oracle())
def ts_xcorr_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between the click and purchase
    per-minute activity series (lags −3..+3 minutes) — the lead–lag
    discovery tool of tick analytics (does activity in X predict Y k
    minutes later?). Series are event counts on the DENSE observed
    minute grid (gaps = 0 — correlating only co-observed minutes would
    bias toward busy periods).

    Determinism: every moment (n, Σx, Σy, Σxy, Σx², Σy²) is a
    BIGINT-exact sum of integer counts; each moment is cast to DOUBLE
    BEFORE composing Pearson r (agg_corr's discipline). Composing in
    BIGINT overflows int64 once ``sx * sx`` crosses 2^63 (total clicks
    > ~3e9 — exactly the target regime): under ANSI mode (the Spark 4
    default) that raises ARITHMETIC_OVERFLOW, and non-ANSI deployments
    wrap silently, while DuckDB promotes to HUGEINT — a loud failure or
    a silent divergence depending on deployment, both wrong;
    with exact-integer moments cast first, both engines run the same
    IEEE expression tree on the same doubles.

    Scale shape — no global-order window anywhere: the only pass over
    raw rows is one (minute, type) partial-agg count. The dense grid is
    materialized DISTRIBUTED (chunk starts exploded, repartitioned,
    then each chunk exploded — never one task holding a multi-year
    minute span), and ``lead(y, k)`` on a dense grid is exactly the y
    at ``minute + k``, so the ±3 shifts are an equi-JOIN of the series
    with itself on the shifted key — a hash shuffle on the minute
    domain that scales out, where the previous ``Window.orderBy``
    collapsed the whole grid into one task. The 7-way lag fanout rides
    the join's probe side BEFORE one final partial-agg per lag."""
    max_lag, chunk = 3, 4096
    ev = load(spark, sf_dir, "events")
    m = ev.select(
        F.expr(epoch_floor_div("unix_micros(ts)", 60000000)).alias("minute"), "event_type"
    )
    bounds = m.agg(F.min("minute").alias("mn"), F.max("minute").alias("mx"))
    grid = (
        bounds.select(
            F.explode(F.sequence(F.col("mn"), F.col("mx"), F.lit(chunk))).alias("cs"),
            "mx",
        )
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            F.explode(
                F.sequence(
                    F.col("cs"), F.least(F.col("cs") + (chunk - 1), F.col("mx"))
                )
            ).alias("minute")
        )
    )
    x = (
        m.where(F.col("event_type") == "click")
        .groupBy("minute")
        .agg(F.count(F.lit(1)).alias("xc"))
    )
    y = (
        m.where(F.col("event_type") == "purchase")
        .groupBy("minute")
        .agg(F.count(F.lit(1)).alias("yc"))
    )
    s = (
        grid.join(x, "minute", "left")
        .join(y, "minute", "left")
        .select(
            "minute",
            F.coalesce("xc", F.lit(0)).alias("x"),
            F.coalesce("yc", F.lit(0)).alias("y"),
        )
    )
    probe = s.select(
        "minute",
        "x",
        F.explode(
            F.array(*[F.lit(k) for k in range(-max_lag, max_lag + 1)])
        ).alias("lag"),
    ).withColumn("tgt", F.col("minute") + F.col("lag"))
    ys = s.select(F.col("minute").alias("tgt"), F.col("y").alias("yk"))
    st = probe.join(ys, "tgt").select("lag", "x", "yk")
    a = st.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("yk").alias("sy"),
        F.sum(F.col("x") * F.col("yk")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
        F.sum(F.col("yk") * F.col("yk")).alias("sy2"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sx2, sy2 = F.col("sx2").cast("double"), F.col("sy2").cast("double")
    return a.select(
        F.col("lag").cast("int").alias("lag"),
        "n",
        ((n * sxy - sx * sy) / F.sqrt((n * sx2 - sx * sx) * (n * sy2 - sy * sy))).alias(
            "xcorr"
        ),
    )


_ROLLUP_HIER_SQL = f"""
    SELECT event_type,
           date_trunc('day', ts) AS day,
           date_trunc('hour', ts) AS hour,
           date_trunc('minute', ts) AS minute,
           CAST(count(*) AS BIGINT) AS n,
           {sql_sum('value')} AS sum_value
    FROM events
    GROUP BY event_type,
             ROLLUP (date_trunc('day', ts), date_trunc('hour', ts),
                     date_trunc('minute', ts))
    """


@query("ts_rollup_hier", oracle=_ROLLUP_HIER_SQL)
def ts_rollup_hier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical time rollup — minute, hour, day and per-type totals
    for every event type in ONE pass: the continuous-aggregate /
    hypertable-rollup shape (serve dashboards at any zoom level from a
    single materialization). Identical SQL text runs on both engines;
    the value sum uses the portable decimal trick (_exact.py in SQL)
    so every level's sum is order-independent.

    Scale shape: Catalyst plans ROLLUP as one Expand (4 rows per input
    row — the level fanout) feeding ONE partial+final hash aggregate:
    a single scan and a single shuffle regardless of how many levels
    the hierarchy has, vs 4 separate groupBys = 4 scans + 4 shuffles.
    Output is bounded by the (type x minute) domain, not the row
    count."""
    from tstables_spark.plans.tables import register_views

    register_views(spark, sf_dir, "events")
    return spark.sql(_ROLLUP_HIER_SQL)


def _asof_staged_table(spark: SparkSession, sf_dir: str) -> str:
    """Stage join_asof's unioned relation in the pre-sorted bucket
    layout once per (app, sf) — the same pay-the-shuffle-at-write-time
    pattern as relational._bucketed_tables."""
    from tstables_spark.operators.asof import stage_asof_layout

    def build(tag: str, base: str) -> str:
        ev = load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
        od = (
            load(spark, sf_dir, "orders")
            .groupBy("o_custkey", "o_orderdate")
            .agg(
                F.max("o_orderkey").alias("o_orderkey"),
                F.max_by("o_totalprice", "o_orderkey").alias("o_totalprice"),
            )
        )
        stage_asof_layout(
            ev,
            od,
            left_on="ts",
            right_on="o_orderdate",
            left_by="user_id",
            right_by="o_custkey",
            right_values=["o_orderkey", "o_totalprice"],
            table_name=tag,
            path=f"{base}/t",
            num_buckets=8,
        )
        register_staged_table(spark, tag)
        return tag

    return staged(spark, "asof_presorted", (sf_dir,), build)


@query(
    "join_asof_presorted",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderdate,
             max(o_orderkey) AS o_orderkey,
             arg_max(o_totalprice, o_orderkey) AS o_totalprice
      FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_totalprice
    FROM events e ASOF LEFT JOIN o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
)
def join_asof_presorted_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join_asof through the PRE-SORTED BUCKET layout — the repeated
    as-of strategy (operators/asof.py::stage_asof_layout +
    asof_join_presorted): the unioned relation is staged once, bucketed
    by key and sorted (key, time, side) with one file per bucket, and
    every read then plans scan -> Window -> filter with ZERO Exchange
    and ZERO Sort (measured 4.6-5.7x faster than the union+window shape
    at sf0.1/10x — SCALE.md "As-of physical strategy"). Same oracle and
    same result as join_asof; the driver check proves the layout path
    end-to-end."""
    t = _asof_staged_table(spark, sf_dir)
    from tstables_spark.operators.asof import asof_join_presorted

    # The sort-elision conf is set at staging time, but a harness that
    # hands each query a fresh newSession() (separate SQLConf, same
    # applicationId) would hit the staging cache and read WITHOUT it —
    # correct results, silently regained Sort. Re-assert here at the
    # query boundary (idempotent; the operator itself stays pure).
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    return asof_join_presorted(
        spark, t, ["event_id", "user_id", "ts"], ["o_orderkey", "o_totalprice"]
    ).select("event_id", "user_id", "ts", "o_orderkey", "o_totalprice")


@query(
    "join_asof_forward_presorted",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderdate,
             max(o_orderkey) AS o_orderkey,
             arg_max(o_totalprice, o_orderkey) AS o_totalprice
      FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_totalprice
    FROM events e ASOF LEFT JOIN o
      ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
    """,
)
def join_asof_forward_presorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of through the SAME staged layout join_asof_presorted
    reads — one bucketed-sorted relation serves the whole direction
    family, so the staging cost amortizes across backward, forward and
    nearest retrievals instead of one of them. The layout's backward
    sort convention puts an equal-time right row before the left row,
    outside the forward frame; the read recovers the inclusive match
    from the backward carry when its __rts equals the left time
    (operators/asof.py::_carry) — still scan -> Window -> project, ZERO
    Exchange and ZERO Sort (pinned with the backward read's plan
    test). Right side collapses per (key, time)
    with MAX orderkey (the layout's convention; this oracle mirrors
    it, unlike join_asof_forward's MIN-collapse fixture)."""
    t = _asof_staged_table(spark, sf_dir)
    from tstables_spark.operators.asof import asof_join_presorted

    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    return asof_join_presorted(
        spark,
        t,
        ["event_id", "user_id", "ts"],
        ["o_orderkey", "o_totalprice"],
        direction="forward",
    ).select("event_id", "user_id", "ts", "o_orderkey", "o_totalprice")


@query(
    "join_asof_nearest_presorted",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderdate,
             max(o_orderkey) AS o_orderkey,
             arg_max(o_totalprice, o_orderkey) AS o_totalprice
      FROM orders GROUP BY o_custkey, o_orderdate
    ),
    b AS (
      SELECT e.event_id, e.user_id, e.ts,
             o.o_orderkey AS bk, o.o_totalprice AS bp, o.o_orderdate AS bts
      FROM events e ASOF LEFT JOIN o
        ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    ),
    f AS (
      SELECT e.event_id,
             o.o_orderkey AS fk, o.o_totalprice AS fp, o.o_orderdate AS fts
      FROM events e ASOF LEFT JOIN o
        ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
    )
    SELECT b.event_id, b.user_id, b.ts,
           CASE WHEN bts IS NOT NULL AND (fts IS NULL OR (b.ts - bts) <= (fts - b.ts))
                THEN bk ELSE fk END AS o_orderkey,
           CASE WHEN bts IS NOT NULL AND (fts IS NULL OR (b.ts - bts) <= (fts - b.ts))
                THEN bp ELSE fp END AS o_totalprice
    FROM b JOIN f USING (event_id)
    """,
)
def join_asof_nearest_presorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of through the staged layout: both running carries
    (backward last-preceding, forward first-following with the
    equal-time recovery) share the scan's claimed bucket distribution
    and sort, so choosing the closer side per row is STILL zero
    Exchange / zero Sort — the direction family is now complete on one
    staged relation (backward r7, multi + forward + nearest r8). Same
    oracle as join_asof_nearest (backward wins exact ties at gap 0)."""
    t = _asof_staged_table(spark, sf_dir)
    from tstables_spark.operators.asof import asof_join_presorted

    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    return asof_join_presorted(
        spark,
        t,
        ["event_id", "user_id", "ts"],
        ["o_orderkey", "o_totalprice"],
        direction="nearest",
    ).select("event_id", "user_id", "ts", "o_orderkey", "o_totalprice")


@query(
    "join_asof_tolerance_presorted",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderdate,
             max(o_orderkey) AS o_orderkey,
             arg_max(o_totalprice, o_orderkey) AS o_totalprice
      FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id, e.ts,
           CASE WHEN e.ts - o.o_orderdate <= INTERVAL 9125 DAYS
                THEN o.o_orderkey END AS o_orderkey,
           CASE WHEN e.ts - o.o_orderdate <= INTERVAL 9125 DAYS
                THEN o.o_totalprice END AS o_totalprice
    FROM events e ASOF LEFT JOIN o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
)
def join_asof_tolerance_presorted_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOLERANCE as-of through the pre-sorted bucket layout — the
    direction/variant family is now COMPLETE on one staged relation
    (backward r7, forward/nearest/multi r8-r13, tolerance r14): a
    backward match older than the tolerance (25 years = 9125 days here,
    chosen to SPLIT the 1995-2001 order archive against the 2024
    events — some matches survive, some null out, so the mask is
    non-vacuous at both fixture scales) reverts to unmatched. The mask
    is one codegen'd comparison against the carry's ``__rts`` — the
    plan stays scan -> Window -> filter, ZERO Exchange, ZERO Sort,
    amortized over the same staging every other direction uses. Oracle
    = the join_asof_tolerance CASE discipline over DuckDB's ASOF."""
    t = _asof_staged_table(spark, sf_dir)
    from tstables_spark.operators.asof import asof_join_presorted

    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    return asof_join_presorted(
        spark,
        t,
        ["event_id", "user_id", "ts"],
        ["o_orderkey", "o_totalprice"],
        tolerance_seconds=9125 * 86400,
    ).select("event_id", "user_id", "ts", "o_orderkey", "o_totalprice")


def _asof_epoch_staged_table(spark: SparkSession, sf_dir: str) -> str:
    """Stage join_asof's relation in the EPOCH-PARTITIONED bucket
    layout once per (app, sf), deliberately driving the APPEND path as
    part of the setup: everything except the last week of events is
    staged, then that week is appended — so the driver check proves
    stage + bounded append + read end-to-end, not just a fresh stage.
    Epoch = calendar year: the 1992-1998 orders archive lands in its
    own partitions that the event append NEVER rewrites (the bounded
    I/O contract; operators/asof.py::stage_asof_epoch_layout)."""
    from tstables_spark.operators.asof import (
        append_asof_epoch_layout,
        stage_asof_epoch_layout,
    )

    def build(tag: str, base: str) -> str:
        ev = load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
        od = (
            load(spark, sf_dir, "orders")
            .groupBy("o_custkey", "o_orderdate")
            .agg(
                F.max("o_orderkey").alias("o_orderkey"),
                F.max_by("o_totalprice", "o_orderkey").alias("o_totalprice"),
            )
        )
        cut = ev.agg(
            F.date_sub(F.max("ts").cast("date"), 7).alias("c")
        ).collect()[0]["c"]  # 1-row bounded collect
        # exhaustive split: a NULL ts is neither late nor ~late under
        # three-valued logic — route NULL-ts rows to the stage side so
        # no left row is silently dropped (review r13)
        late = F.col("ts").cast("date") >= F.lit(cut)
        epoch_of = F.year
        stage_asof_epoch_layout(
            ev.where(~F.coalesce(late, F.lit(False))),
            od,
            left_on="ts",
            right_on="o_orderdate",
            left_by="user_id",
            right_by="o_custkey",
            right_values=["o_orderkey", "o_totalprice"],
            table_name=tag,
            path=f"{base}/t",
            epoch_of=epoch_of,
            num_buckets=8,
        )
        append_asof_epoch_layout(
            spark,
            tag,
            left=ev.where(late),
            left_on="ts",
            left_by="user_id",
            epoch_of=epoch_of,
            num_buckets=8,
        )
        register_staged_table(spark, tag)
        return tag

    return staged(spark, "asof_epochs", (sf_dir,), build)


@query(
    "join_asof_epochs",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderdate,
             max(o_orderkey) AS o_orderkey,
             arg_max(o_totalprice, o_orderkey) AS o_totalprice
      FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_totalprice
    FROM events e ASOF LEFT JOIN o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
)
def join_asof_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join_asof through the EPOCH-PARTITIONED bucket layout (r13) —
    the bounded-append as-of strategy: one table partitioned by
    calendar-year epoch and bucketed by key, where appends
    dynamic-overwrite only the touched epochs (the staging for this
    query APPENDS the last week of events after staging the rest, so
    the driver hash proves the append path, not just a fresh stage)
    and reads need no epoch logic at all — the bucketed scan clusters
    every epoch of a key into one task, the running carry crosses
    epoch boundaries by construction, and the plan keeps ZERO Exchange
    at any epoch count (the in-partition Sort returns on multi-file
    buckets, the only cost vs the single-epoch layout; asserted in
    tests). Same oracle and result as join_asof / join_asof_presorted:
    three physical strategies, one semantics."""
    t = _asof_epoch_staged_table(spark, sf_dir)
    from tstables_spark.operators.asof import asof_join_presorted

    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    return asof_join_presorted(
        spark, t, ["event_id", "user_id", "ts"], ["o_orderkey", "o_totalprice"]
    ).select("event_id", "user_id", "ts", "o_orderkey", "o_totalprice")


def _asof_lifecycle_table(spark: SparkSession, sf_dir: str) -> str:
    """Drive the COMPLETE epoch-layout lifecycle once per (app, sf) —
    stage -> two bounded appends -> expire -> compact — and return the
    final compacted classic table. Every verb's correctness folds into
    the consumer's driver hash: a duplicating append changes counts, a
    lossy compaction changes rows, a mis-scoped expiry changes which
    left rows revert to unmatched. Epoch granularity is AUTO-PICKED
    from the append cadence (r14 verdict #4): the appends land a week
    of events, so ``append_span_seconds=7*86400`` -> month (the
    measured 100x sweet spot, SCALE.md granularity curve), persisted
    on the table so the appends themselves run ``epoch_of=None``
    knob-free. Horizon = calendar 1997 translated into the picked
    granularity (``epoch_floor``): expiry drops the 1995-96 order
    epochs (catalog + bytes) while the 2024 event epochs the appends
    touched are untouched by it."""
    import datetime

    from tstables_spark.operators.asof import (
        append_asof_epoch_layout,
        compact_asof_epoch_layout,
        epoch_floor,
        expire_asof_epoch_layout,
        pending_asof_epoch_append,
        stage_asof_epoch_layout,
    )

    def build(tag: str, base: str) -> str:
        tag_e, tag_c = tag + "_e", tag + "_c"
        ev = load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
        od = (
            load(spark, sf_dir, "orders")
            .groupBy("o_custkey", "o_orderdate")
            .agg(
                F.max("o_orderkey").alias("o_orderkey"),
                F.max_by("o_totalprice", "o_orderkey").alias("o_totalprice"),
            )
        )
        cut = ev.agg(
            F.date_sub(F.max("ts").cast("date"), 7).alias("c")
        ).collect()[0]["c"]  # 1-row bounded collect
        # NULL-ts rows route to the stage side (exhaustive split under
        # three-valued logic — the join_asof_epochs discipline)
        late = F.col("ts").cast("date") >= F.lit(cut)
        # knob-free: granularity auto-picked from the week-wide append
        # cadence (-> month) and persisted on the table
        gran = stage_asof_epoch_layout(
            ev.where(~F.coalesce(late, F.lit(False))),
            od,
            left_on="ts",
            right_on="o_orderdate",
            left_by="user_id",
            right_by="o_custkey",
            right_values=["o_orderkey", "o_totalprice"],
            table_name=tag_e,
            path=f"{base}/e",
            num_buckets=8,
            append_span_seconds=7 * 86400,
        )
        # two sequential appends (deterministic halves) prove repeated
        # bounded appends, not just one — epoch_of=None resolves the
        # persisted granularity
        for keep_even in (True, False):
            half = (F.col("event_id") % 2 == 0) == F.lit(keep_even)
            append_asof_epoch_layout(
                spark,
                tag_e,
                left=ev.where(late & half),
                left_on="ts",
                left_by="user_id",
                num_buckets=8,
            )
        assert pending_asof_epoch_append(spark, tag_e) is None
        # retention horizon: calendar 1997 in the picked granularity
        # (month -> 199701) — drops every 1995-96 order epoch
        expire_asof_epoch_layout(
            spark, tag_e,
            min_epoch=epoch_floor(gran, datetime.date(1997, 1, 1)),
        )
        # cold now -> compact survivors into the classic zero-Sort layout
        compact_asof_epoch_layout(spark, f"{base}/e", tag_c, f"{base}/c", 8)
        register_staged_table(spark, tag_e)
        register_staged_table(spark, tag_c)
        return tag_c

    return staged(spark, "asof_lifecycle", (sf_dir,), build)


@query(
    "ts_epoch_lifecycle",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderdate,
             max(o_orderkey) AS o_orderkey,
             arg_max(o_totalprice, o_orderkey) AS o_totalprice
      FROM orders WHERE year(o_orderdate) >= 1997
      GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_totalprice
    FROM events e ASOF LEFT JOIN o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
)
def ts_epoch_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The epoch as-of layout's FULL lifecycle under one driver hash
    (r13 verdict #7): stage -> append x2 -> expire(1997) -> compact ->
    read. The oracle is the batch ASOF LEFT JOIN over the
    boundary-filtered inputs (orders from 1997 on — exactly what
    retention left behind; a left row whose only match lived in an
    expired epoch reverts to unmatched), so a hash match proves the
    whole cycle lossless: appends added exactly their rows once,
    expiry dropped exactly the sub-horizon epochs, and compaction
    re-laid out every surviving byte. The read itself runs on the
    compacted classic table — zero Exchange and zero Sort
    (operators/asof.py::compact_asof_epoch_layout)."""
    t = _asof_lifecycle_table(spark, sf_dir)
    from tstables_spark.operators.asof import asof_join_presorted

    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    return asof_join_presorted(
        spark, t, ["event_id", "user_id", "ts"], ["o_orderkey", "o_totalprice"]
    ).select("event_id", "user_id", "ts", "o_orderkey", "o_totalprice")


def _asof_recovery_table(spark: SparkSession, sf_dir: str) -> str:
    """Drive the epoch layout's CRASH path once per (app, sf): stage ->
    clean append of the last event week -> simulate the mid-append kill
    state (commit marker present, one touched epoch's partition gone:
    catalog and bytes — the crash-injection test's fixture,
    tests/test_operators.py::test_asof_epoch_append_crash_detected_
    and_recovered, promoted to the driver) -> assert the next append
    REFUSES (detection) -> recover_asof_epoch_append from the
    source-of-truth rows -> assert the marker cleared. The consumer's
    driver hash then proves the whole detect -> recover -> read cycle:
    a rebuild that duplicated or lost rows in the marked epochs, or
    touched an unmarked one, changes the as-of result."""
    from tstables_spark.operators.asof import (
        _EPOCH,
        _drop_epoch,
        _table_fs_root,
        _write_pending_marker,
        append_asof_epoch_layout,
        pending_asof_epoch_append,
        recover_asof_epoch_append,
        stage_asof_epoch_layout,
    )

    def build(tag: str, base: str) -> str:
        ev = load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
        od = (
            load(spark, sf_dir, "orders")
            .groupBy("o_custkey", "o_orderdate")
            .agg(
                F.max("o_orderkey").alias("o_orderkey"),
                F.max_by("o_totalprice", "o_orderkey").alias("o_totalprice"),
            )
        )
        cut = ev.agg(
            F.date_sub(F.max("ts").cast("date"), 7).alias("c")
        ).collect()[0]["c"]  # 1-row bounded collect
        # NULL-ts rows route to the stage side (exhaustive split under
        # three-valued logic — the join_asof_epochs discipline)
        late = F.col("ts").cast("date") >= F.lit(cut)
        epoch_of = F.year
        stage_asof_epoch_layout(
            ev.where(~F.coalesce(late, F.lit(False))),
            od,
            left_on="ts",
            right_on="o_orderdate",
            left_by="user_id",
            right_by="o_custkey",
            right_values=["o_orderkey", "o_totalprice"],
            table_name=tag,
            path=f"{base}/t",
            epoch_of=epoch_of,
            num_buckets=8,
        )
        append_asof_epoch_layout(
            spark,
            tag,
            left=ev.where(late),
            left_on="ts",
            left_by="user_id",
            epoch_of=epoch_of,
            num_buckets=8,
        )
        # ---- simulate the mid-append kill, exactly the crash test's
        # shape: the appended epochs are "unproven" (marker present)
        # and the newest one never committed (partition dropped)
        touched = sorted(
            r[0]
            for r in ev.where(late)
            .select(F.year("ts").alias("e"))
            .distinct()
            .collect()  # bounded: a week of events spans 1-2 years
        )
        fsroot = _table_fs_root(spark, tag)
        jvm, fs, _root, loc = fsroot
        _write_pending_marker(
            jvm, fs, loc,
            {"table": tag, "epochs": touched, "null_partition": False},
        )
        gone = touched[-1]
        _drop_epoch(spark, tag, fsroot, gone)
        # DETECTION: a new append must refuse while the marker stands
        try:
            append_asof_epoch_layout(
                spark, tag,
                left=ev.where(late), left_on="ts", left_by="user_id",
                epoch_of=epoch_of, num_buckets=8,
            )
        except RuntimeError:
            pass
        else:  # pragma: no cover - the gate exists to catch this
            raise AssertionError(
                "append did not refuse on a pending-append marker"
            )
        # RECOVERY from source-of-truth (rows outside the marked
        # epochs are ignored by contract; od's 1992-98 rows are all
        # outside, passed anyway as 'the complete source')
        rebuilt = recover_asof_epoch_append(
            spark,
            tag,
            left=ev,
            right=od,
            left_on="ts",
            right_on="o_orderdate",
            left_by="user_id",
            right_by="o_custkey",
            right_values=["o_orderkey", "o_totalprice"],
            epoch_of=epoch_of,
            num_buckets=8,
        )
        # observed-state gate, not an echo of the marker (review r15:
        # recover returns the marker's epoch set by contract, so
        # comparing it to `touched` is vacuous): the dropped epoch's
        # partition must exist again on disk with data files
        del rebuilt
        if not fs.exists(jvm.org.apache.hadoop.fs.Path(f"{loc}/{_EPOCH}={gone}")):
            raise AssertionError(
                f"recovery did not restore the dropped epoch {gone}"
            )
        if pending_asof_epoch_append(spark, tag) is not None:
            raise AssertionError("marker survived a completed recovery")
        register_staged_table(spark, tag)
        return tag

    return staged(spark, "asof_recovery", (sf_dir,), build)


@query(
    "ts_epoch_recovery",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderdate,
             max(o_orderkey) AS o_orderkey,
             arg_max(o_totalprice, o_orderkey) AS o_totalprice
      FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_totalprice
    FROM events e ASOF LEFT JOIN o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
)
def ts_epoch_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-append crash recovery under ONE driver hash (r14 verdict
    #3): the staging simulates a mid-append crash (marker + a missing
    touched epoch), asserts detection (the next append refuses), runs
    the documented recovery, and the returned read must equal the
    batch ASOF LEFT JOIN over the full source — the oracle is
    join_asof_epochs's, because a correct detect -> recover -> read
    cycle is externally indistinguishable from a crash that never
    happened. Reference parity: upstream tstables has no crash story
    (HDF5 appends are single-writer, afiedler/tstables
    tstables/tstable.py); this is the 100 TB-ingest extension."""
    t = _asof_recovery_table(spark, sf_dir)
    from tstables_spark.operators.asof import asof_join_presorted

    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    return asof_join_presorted(
        spark, t, ["event_id", "user_id", "ts"], ["o_orderkey", "o_totalprice"]
    ).select("event_id", "user_id", "ts", "o_orderkey", "o_totalprice")


def _asof_multi_staged_table(spark: SparkSession, sf_dir: str) -> str:
    """Stage join_asof_multi's label + both feature sources as ONE
    bucketed-sorted relation once per (app, sf) — see
    operators/asof.py::stage_asof_multi_layout."""
    from tstables_spark.operators.asof import stage_asof_multi_layout

    def build(tag: str, base: str) -> str:
        ev = load(spark, sf_dir, "events")
        clicks = ev.where(F.col("event_type") == "click").select(
            "event_id", "user_id", "ts"
        )
        orders = (
            load(spark, sf_dir, "orders")
            .groupBy("o_custkey", "o_orderdate")
            .agg(
                F.max("o_orderkey").alias("o_orderkey"),
                F.max_by("o_totalprice", "o_orderkey").alias("last_order_price"),
            )
        )
        purchases = (
            ev.where(F.col("event_type") == "purchase")
            .groupBy("user_id", "ts")
            .agg(F.max_by("value", "event_id").alias("last_purchase_value"))
            .select(
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
                "last_purchase_value",
            )
        )
        stage_asof_multi_layout(
            clicks,
            [
                (orders, "o_orderdate", "o_custkey", ["last_order_price"]),
                (purchases, "p_ts", "p_user", ["last_purchase_value"]),
            ],
            left_on="ts",
            left_by="user_id",
            table_name=tag,
            path=f"{base}/t",
            num_buckets=8,
        )
        register_staged_table(spark, tag)
        return tag

    return staged(spark, "asof_multi_presorted", (sf_dir,), build)


@query(
    "join_asof_multi_presorted",
    oracle="""
    WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
    o AS (SELECT o_custkey, o_orderdate,
                 max(o_orderkey) AS o_orderkey,
                 arg_max(o_totalprice, o_orderkey) AS last_order_price
          FROM orders GROUP BY o_custkey, o_orderdate),
    p AS (SELECT user_id, ts, arg_max(value, event_id) AS last_purchase_value
          FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
    SELECT c.event_id, c.user_id, c.ts, o.last_order_price, p.last_purchase_value
    FROM c
    ASOF LEFT JOIN o ON c.user_id = o.o_custkey AND c.ts >= o.o_orderdate
    ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def join_asof_multi_presorted_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join_asof_multi through the ONE-TABLE pre-sorted bucket layout:
    the label rows and BOTH feature sources are staged together, each
    source's payload in its own nullable carry column, so the
    point-in-time retrieval plans scan -> ONE Window (all N running
    carries share the claimed bucket distribution and per-bucket sort)
    -> filter — zero Exchange and zero Sort where the chained shape
    pays N shuffles + N sorts (operators/asof.py::
    stage_asof_multi_layout, plan pinned in tests/test_operators.py).
    Same oracle and same result as join_asof_multi; the driver check
    proves the N-source layout path end-to-end."""
    t = _asof_multi_staged_table(spark, sf_dir)
    from tstables_spark.operators.asof import asof_join_multi_presorted

    # Same query-boundary re-assert rationale as join_asof_presorted.
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    return asof_join_multi_presorted(
        spark,
        t,
        ["event_id", "user_id", "ts"],
        [["last_order_price"], ["last_purchase_value"]],
    ).select(
        "event_id", "user_id", "ts", "last_order_price", "last_purchase_value"
    )


@query(
    "ts_read_at",
    oracle="""
    WITH m AS (
      SELECT max(ts) AS hit FROM events
      WHERE ts <= TIMESTAMP '2024-01-15 12:00:00')
    SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value, e.props
    FROM events e, m WHERE e.ts = m.hit
    """,
)
def ts_read_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup through the REAL TimeSeriesTable API: create a
    series from the events fixture, then ``read_at`` — the latest
    row(s) at-or-before an instant ("the quote as of 12:00"), the
    single-series special case of the as-of join. The engine path
    walks date partitions backwards with one pruned single-partition
    max(ts) probe per day (row-group footer answered via aggregate
    pushdown — the min_dt/max_dt discipline), so the lookup cost is
    independent of table size; the oracle is the plain argmax select
    on the fixture, so the hash match proves the partition-walk finds
    exactly the right instant and loses no tied rows."""
    ev = load(spark, sf_dir, "events")
    tmp = scratch_dir(spark, "tstable_at_")
    ts = TimeSeriesTable.create(spark, tmp, "events_series", ev.schema)
    ts.append(ev)
    from datetime import datetime, timezone

    return ts.read_at(
        datetime(2024, 1, 15, 12, 0, 0, tzinfo=timezone.utc)
    ).select("event_id", "ts", "user_id", "event_type", "value", "props")


@query(
    "ts_seasonal_decompose",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type,
             CAST(EXTRACT(EPOCH FROM date_trunc('hour', ts)) AS BIGINT) // 3600 AS he,
             CAST(EXTRACT(HOUR FROM ts) AS INT) AS hod,
             CAST(FLOOR(CAST(SUM(CAST((value) AS DECIMAL(30,6))) AS DOUBLE) * 1000000 / COUNT(*)) AS BIGINT) AS m_micro
      FROM events GROUP BY 1, 2, 3),
    tr AS (
      SELECT event_type, he, hod, m_micro,
             SUM(m_micro) OVER w AS wsum,
             COUNT(*) OVER w AS wn
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY he
                   RANGE BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
    det AS (
      SELECT event_type, hod,
             m_micro - CAST(FLOOR(wsum / 25) AS BIGINT) AS d_micro
      FROM tr WHERE wn = 25),
    raw AS (
      SELECT event_type, hod, COUNT(*) AS n_obs,
             CAST(FLOOR(SUM(d_micro) / COUNT(*)) AS BIGINT) AS s_micro
      FROM det GROUP BY 1, 2),
    ctr AS (
      SELECT event_type,
             CAST(FLOOR(SUM(s_micro) / COUNT(*)) AS BIGINT) AS m_micro
      FROM raw GROUP BY 1)
    SELECT r.event_type, r.hod, r.n_obs,
           r.s_micro - c.m_micro AS seasonal_micro
    FROM raw r JOIN ctr c ON r.event_type = c.event_type
    """,
)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition, the window-expressible
    half: hourly means per event_type -> centered 25-hour moving
    average as the TREND -> detrended values -> per hour-of-day mean
    as the SEASONAL index, centered to sum to ~zero per type. This is
    the step beyond ts_seasonal_profile's raw calendar averages: the
    profile conflates trend with seasonality, the decomposition
    removes the trend first (the textbook `decompose()` /
    STL-lite shape, minus STL's loess robustness loop which is
    sequential by nature).

    Determinism discipline: the hourly mean is floored to FIXED-POINT
    micro-units immediately after the one exact decimal sum, and
    EVERYTHING downstream — the 25-hour window sum, the detrend
    subtraction, the seasonal and centering means — is exact BIGINT
    arithmetic (the graph_pagerank/ts_robust_zscore discipline).
    floor() of an identical IEEE double is deterministic across
    engines where round()/decimal casts are NOT: computed ratios are
    dyadic (e.g. 205/3200 = .0640625) and land exactly on decimal
    half boundaries, where Spark's HALF_UP disagrees with DuckDB's
    banker's rounding — observed twice at sf0.1 before this shape,
    including one divergence inside the per-row double->DECIMAL cast
    of a windowed decimal sum. Integers cannot diverge.

    The trend frame is a RANGE over integer hour-epoch, not 25 ROWS:
    on a series with missing hours a ROWS frame silently averages 25
    OBSERVATIONS over a wider time span, while RANGE +/-12 hours with
    the wn = 25 requirement asserts hour-CONTIGUITY — windows touching
    a gap (and partial edge windows) drop out of the seasonal estimate
    instead of widening the trend span, matching the textbook
    decomposition on sparse series.

    Scale shape: the hourly pre-aggregate collapses the raw scan to
    (types x hours) rows BEFORE any window runs; the trend window
    partitions by event_type over that bounded domain — never a
    global single-task window — and the seasonal/centering aggs are
    partial-agg reductions over type x 24 rows."""
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        # date_trunc('hour') makes unix_seconds an exact multiple of
        # 3600 (hour boundaries align with epoch 0), so this div is
        # remainder-free: trunc == floor even for pre-1970 timestamps,
        # matching the oracle's `//` with no epoch_floor_div needed.
        F.expr("unix_seconds(date_trunc('hour', ts)) div 3600").alias("he"),
        F.hour("ts").cast("int").alias("hod"),
    ).agg(
        F.floor(exact_sum("value") * F.lit(1_000_000) / F.count("*"))
        .cast("long")
        .alias("m_micro"),
    )
    w = W.partitionBy("event_type").orderBy("he").rangeBetween(-12, 12)
    tr = hourly.select(
        "event_type",
        "hod",
        "m_micro",
        F.sum("m_micro").over(w).alias("wsum"),
        F.count("*").over(w).alias("wn"),
    )
    det = tr.where(F.col("wn") == 25).select(
        "event_type",
        "hod",
        (F.col("m_micro") - F.floor(F.col("wsum") / F.lit(25)).cast("long")).alias(
            "d_micro"
        ),
    )
    raw = det.groupBy("event_type", "hod").agg(
        F.count("*").alias("n_obs"),
        F.floor(F.sum("d_micro") / F.count("*")).cast("long").alias("s_micro"),
    )
    ctr = raw.groupBy("event_type").agg(
        F.floor(F.sum("s_micro") / F.count("*")).cast("long").alias("m_micro")
    )
    return raw.join(F.broadcast(ctr), "event_type").select(
        "event_type",
        "hod",
        "n_obs",
        (F.col("s_micro") - F.col("m_micro")).alias("seasonal_micro"),
    )


@query(
    "win_distribution",
    oracle="""
    SELECT event_id, event_type,
           CAST(CAST(ts AS DATE) AS TIMESTAMP) AS d, value,
           ntile(4) OVER w AS quartile,
           CAST(FLOOR(percent_rank() OVER w * 1000000) AS BIGINT)
             AS pct_rank_ppm,
           CAST(FLOOR(cume_dist() OVER w * 1000000) AS BIGINT) AS cume_ppm
    FROM events
    WINDOW w AS (PARTITION BY event_type, CAST(ts AS DATE)
                 ORDER BY value, event_id)
    """,
)
def win_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rank-distribution window family in one pass: daily per-type
    quartile bucket (ntile), percentile position (percent_rank) and
    cumulative distribution (cume_dist) of each event's value — the
    'where does today's reading sit in today's distribution' monitor.
    Ties broken by event_id so ntile's row assignment is total-order
    deterministic on both engines; the two ratio outputs publish as
    FLOORED parts-per-million (both engines floor the same IEEE
    division — rank ratios like 205/3200 land exactly on .5 decimal
    boundaries where Spark's HALF_UP round disagrees with DuckDB's
    banker's; observed before the switch).

    Scale shape: ONE shuffle on (event_type, date) serves all three
    functions (same window spec -> one physical Window), and the
    partition key keeps every window calendar-bounded — a day of one
    type's events — rather than a whole-type global sort; the daily
    distribution snapshot is also what you actually monitor. For a
    corpus-wide (unbounded-partition) ranking, the histogram +
    distributed_cumsum route (ts_robust_zscore's shape) replaces the
    sort-based window."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("event_type", F.to_date("ts")).orderBy("value", "event_id")
    return ev.select(
        "event_id",
        "event_type",
        F.to_date("ts").cast("timestamp").alias("d"),
        "value",
        F.ntile(4).over(w).alias("quartile"),
        F.floor(F.percent_rank().over(w) * 1_000_000).alias("pct_rank_ppm"),
        F.floor(F.cume_dist().over(w) * 1_000_000).alias("cume_ppm"),
    )


V_PATTERN_ORACLE = """
    WITH w AS (
      SELECT user_id, event_id, ts, value,
             lag(value, 2)  OVER win AS b2,
             lag(value, 1)  OVER win AS b1,
             lead(value, 1) OVER win AS a1,
             lead(value, 2) OVER win AS a2
      FROM events
      WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id, ts,
           least(b1, a1) - value AS depth
    FROM w
    WHERE b2 > b1 AND b1 > value AND value < a1 AND a1 < a2
    """


@query("ts_pattern_match", oracle=V_PATTERN_ORACLE)
def ts_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-pattern detection (MATCH_RECOGNIZE / Flink-CEP lite): every
    strict V-shape in each user's value series — two consecutive drops
    into a trough followed by two consecutive rises — emitted with its
    trough row and depth (the smaller shoulder minus the trough; one
    IEEE subtraction on identical doubles, hash-safe without
    rounding). The row-pattern primitive behind dip-buying signals,
    sensor-glitch detection, and engagement-dip mining, expressed as
    plain bounded lags/leads instead of an NFA: a fixed-length pattern
    over an ordered partition IS four window offsets and a codegen'd
    predicate.

    Scale shape: ONE shuffle on user_id, one in-partition sort shared
    by all four offsets (a single Window node — same spec). Per-user
    history rides one task, same contract as win_streaks/ts_cusum; for
    unbounded per-user streams the pattern needs only ±2 rows of
    context, so the production variant windows by (user, day) with a
    2-row overlap stitch — the ts_fill_forward boundary discipline.
    NULL values self-exclude (every comparison must hold)."""
    ev = load(spark, sf_dir, "events")
    win = W.partitionBy("user_id").orderBy("ts", "event_id")
    w = ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.lag("value", 2).over(win).alias("b2"),
        F.lag("value", 1).over(win).alias("b1"),
        F.lead("value", 1).over(win).alias("a1"),
        F.lead("value", 2).over(win).alias("a2"),
    )
    return w.where(
        (F.col("b2") > F.col("b1"))
        & (F.col("b1") > F.col("value"))
        & (F.col("value") < F.col("a1"))
        & (F.col("a1") < F.col("a2"))
    ).select(
        "user_id",
        "event_id",
        "ts",
        (F.least("b1", "a1") - F.col("value")).alias("depth"),
    )


@query(
    "ts_motif",
    oracle="""
    WITH hourly AS (SELECT event_type, epoch_us(ts) // 3600000000 AS e,
                      CAST(FLOOR(SUM(CAST(value AS DECIMAL(30,6))) * 100)
                           AS BIGINT) AS c
               FROM events
               WHERE value IS NOT NULL AND NOT isnan(value)
               GROUP BY 1, 2),
    bounds AS (SELECT min(e) AS e0, max(e) AS e1 FROM hourly),
    types AS (SELECT DISTINCT event_type FROM hourly),
    grid AS (SELECT event_type, unnest(generate_series(e0, e1)) AS e
             FROM types, bounds),
    dense AS (SELECT g.event_type, g.e, COALESCE(h.c, 0) AS c
              FROM grid g LEFT JOIN hourly h
                ON g.event_type = h.event_type AND g.e = h.e),
    vec AS (SELECT event_type, e, c AS v0,
               lead(c, 1) OVER w AS v1,
               lead(c, 2) OVER w AS v2,
               lead(c, 3) OVER w AS v3,
               lead(c, 4) OVER w AS v4,
               lead(c, 5) OVER w AS v5,
               lead(c, 6) OVER w AS v6,
               lead(c, 7) OVER w AS v7
            FROM dense WINDOW w AS (PARTITION BY event_type ORDER BY e)),
    starts AS (SELECT * FROM vec WHERE v7 IS NOT NULL
                 AND abs(v0) + abs(v1) + abs(v2) + abs(v3)
                   + abs(v4) + abs(v5) + abs(v6) + abs(v7) > 0),
    pairs AS (SELECT a.event_type, a.e AS a_hour, b.e AS b_hour,
                     (a.v0 - b.v0) * (a.v0 - b.v0) + (a.v1 - b.v1) * (a.v1 - b.v1) + (a.v2 - b.v2) * (a.v2 - b.v2) + (a.v3 - b.v3) * (a.v3 - b.v3) + (a.v4 - b.v4) * (a.v4 - b.v4) + (a.v5 - b.v5) * (a.v5 - b.v5) + (a.v6 - b.v6) * (a.v6 - b.v6) + (a.v7 - b.v7) * (a.v7 - b.v7) AS ssd
              FROM starts a JOIN starts b
                ON a.event_type = b.event_type
               AND b.e - a.e BETWEEN 8 AND 168)
    SELECT event_type, a_hour, b_hour, ssd FROM (
      SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY ssd, a_hour, b_hour) AS rn
      FROM pairs) t
    WHERE rn = 1
    """,
)
def ts_motif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Motif discovery (matrix-profile shape): per event type, the most
    similar pair of non-overlapping 8-hour activity windows within a
    7-day lag band — "which two disjoint stretches of this series look
    most alike". Distance is the exact-integer SSD of hourly
    cents-of-value vectors; the hourly grid is DENSIFIED first (missing
    hours = 0 activity), so windows span contiguous wall-clock hours —
    the r9 seasonal-decompose advice applied from the start.

    Scale shape: the raw scan reduces to a (type, hour) partial-agg
    histogram whose domain is TIME-BOUNDED (720 rows/type for a 30-day
    span — 8.8k/type/year — regardless of corpus size); everything
    after runs on that bounded grid: per-type lead windows (partition =
    one type's grid), a band-bucketed self-join (a-side explodes into 2
    hour//168 buckets, so candidate pairs are O(H * 168), linear in the
    span — never the O(H^2) all-pairs matrix profile), and the argmin
    is a min-of-struct partial aggregate with a (ssd, a, b)
    lexicographic tiebreak — deterministic cross-engine, no global
    sort. Band width trades off: wider bands = fewer duplicate probes,
    narrower = tighter candidate sets; 168 h (the lag horizon) keeps
    the explode factor at exactly 2."""
    src = load(spark, sf_dir, "events").select(
        "event_type",
        F.expr(epoch_floor_div("unix_micros(ts)", 3600000000)).alias("e"),
        "value",
    )
    # the IS NOT NULL AND NOT isnan policy of agg_kll_gate: a NaN would
    # be a NULL-ing cast here but a cast error in the DuckDB twin
    hourly = (
        src.where(F.col("value").isNotNull() & ~F.isnan("value"))
        .groupBy("event_type", "e")
        .agg(
            F.floor(F.sum(F.col("value").cast("decimal(30,6)")) * 100)
            .cast("long")
            .alias("c")
        )
    )
    # hourly is the ONLY scan of the fact table; the bounded grid
    # inputs (types, global hour bounds) both derive from it
    types = hourly.select("event_type").distinct()
    bounds = hourly.agg(F.min("e").alias("e0"), F.max("e").alias("e1"))
    grid = types.crossJoin(F.broadcast(bounds)).select(
        "event_type", F.explode(F.expr("sequence(e0, e1)")).alias("e")
    )
    dense = grid.join(hourly, ["event_type", "e"], "left").select(
        "event_type", "e", F.coalesce("c", F.lit(0)).alias("c")
    )
    w = W.partitionBy("event_type").orderBy("e")
    vec = dense.select(
        "event_type",
        "e",
        F.col("c").alias("v0"),
        *[F.lead("c", i).over(w).alias(f"v{i}") for i in range(1, 8)],
    )
    # drop EMPTY windows (all-zero after densify): otherwise a sparse
    # series' "best motif" is trivially the first two gaps (ssd = 0) —
    # the flat-window exclusion real matrix profiles apply
    activity = sum(F.abs(F.col(f"v{i}")) for i in range(8))
    starts = vec.where(F.col("v7").isNotNull() & (activity > 0))
    a = starts.select(
        F.col("event_type"),
        F.col("e").alias("a_hour"),
        *[F.col(f"v{i}").alias(f"av{i}") for i in range(8)],
        F.explode(
            F.array(F.expr("e DIV 168"), F.expr("e DIV 168 + 1"))
        ).alias("__band"),
    )
    b = starts.select(
        F.col("event_type"),
        F.col("e").alias("b_hour"),
        *[F.col(f"v{i}").alias(f"bv{i}") for i in range(8)],
        F.expr("e DIV 168").alias("__band"),
    )
    diff2 = None
    for i in range(8):
        term = (F.col(f"av{i}") - F.col(f"bv{i}")) * (
            F.col(f"av{i}") - F.col(f"bv{i}")
        )
        diff2 = term if diff2 is None else diff2 + term
    pairs = (
        a.join(b, ["event_type", "__band"])
        .where(
            (F.col("b_hour") - F.col("a_hour") >= 8)
            & (F.col("b_hour") - F.col("a_hour") <= 168)
        )
        .select("event_type", "a_hour", "b_hour", diff2.alias("ssd"))
    )
    return (
        pairs.groupBy("event_type")
        .agg(F.min(F.struct("ssd", "a_hour", "b_hour")).alias("m"))
        .select(
            "event_type",
            F.col("m.a_hour").alias("a_hour"),
            F.col("m.b_hour").alias("b_hour"),
            F.col("m.ssd").alias("ssd"),
        )
    )
