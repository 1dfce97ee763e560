"""Structured Streaming plans (SURVEY.md §2 Table B phase 4).

Each stream_* query actually runs a streaming query (file source ->
availableNow trigger -> memory/parquet sink) and returns the final
result as a DataFrame, so the driver's batch-shaped contract still
applies. Oracles are the batch-equivalence twins (Spark's unified
API guarantee: a streaming aggregation over a finite source equals the
batch aggregation over the same data — SURVEY.md §5.4).

Output-mode choices (they decide whether batch equivalence holds):
- windowed aggs run in COMPLETE mode so windows still open at
  end-of-stream are emitted too (append mode would withhold everything
  past the final watermark — a deliberate streaming semantic that would
  break the batch twin);
- dedup runs in APPEND mode (rows emit immediately);
- session windows: streaming session_window only emits *closed*
  sessions under append+watermark, so the tail session of every key
  would be withheld at end-of-stream; the operator therefore runs
  session_window in batch mode here, with the streaming path covered by
  stream_tumbling/sliding/stateful.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tstables_spark._exact import sql_sum
from tstables_spark.plans._portable_sql import (
    _KMV_K,
    _cms_cells,
    _cms_oracle,
    _qsketch_cells,
    _qsketch_cells_sql,
    kmv_batch_hashes,
    kmv_truncate,
)
from tstables_spark._staging import register_staged_table, scratch_dir, staged
from tstables_spark.plans.registry import query
from tstables_spark.plans.tables import load
from tstables_spark.streaming.ingest import ingest_stream
from tstables_spark.streaming.stateful import running_user_stats


def _staged_table(spark: SparkSession, sf_dir: str, name: str) -> str:
    """Materialize a fixture table (load()-normalized, e.g. events with
    ts already micros-normalized) as a plain parquet dir usable as a
    file-stream source — once per (app, sf, table)."""

    def build(tag: str, d: str) -> str:
        path = d + "/" + name
        load(spark, sf_dir, name).write.mode("overwrite").parquet(path)
        return path

    return staged(spark, "stream_src", (sf_dir, name), build)


def _read_stream(spark: SparkSession, sf_dir: str, name: str = "events") -> DataFrame:
    path = _staged_table(spark, sf_dir, name)
    schema = spark.read.parquet(path).schema
    return spark.readStream.schema(schema).parquet(path)


def _run_to_memory(df: DataFrame, mode: str) -> DataFrame:
    name = "q_" + uuid.uuid4().hex[:12]
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.table(name)


@query(
    "stream_ingest",
    oracle="SELECT event_id, ts, user_id, event_type, value, props FROM events",
)
def stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3's streaming upgrade: file source -> watermark -> date-partitioned
    parquet sink (exactly-once via sink commit log), then read back.
    Oracle = the whole fixture: a hash match proves the streaming ingest
    is lossless end-to-end (no watermark drops on the append path, no
    duplicate emission across micro-batches)."""
    src = _read_stream(spark, sf_dir)
    base = scratch_dir(spark, "ingest_")
    sink, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")
    ingest_stream(src, sink, ckpt, watermark="10 minutes").awaitTermination()
    return spark.read.parquet(sink).drop("date")


@query(
    "stream_tumbling",
    oracle="""
    SELECT date_trunc('minute', ts) AS window_start, event_type,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-minute counts per event type, run as a real streaming
    aggregation (watermark 10m, complete mode), checked against the
    batch twin."""
    src = _read_stream(spark, sf_dir)
    agg = (
        src.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 minute"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    out = _run_to_memory(agg, "complete")
    return out.select(
        F.col("window.start").alias("window_start"), "event_type", F.col("n").cast("long").alias("n")
    )


@query(
    "stream_sliding",
    oracle="""
    SELECT CAST(to_timestamp((floor(epoch(ts) / 20) - k) * 20) AS TIMESTAMP) AS window_start,
           CAST(count(*) AS BIGINT) AS n
    FROM events, (VALUES (0), (1), (2)) AS t(k)
    GROUP BY 1
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 minute every 20 seconds): every event lands in
    exactly 3 windows; the oracle materializes the same 3 shifted
    20-second-grid starts per event."""
    src = _read_stream(spark, sf_dir)
    agg = (
        src.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 minute", "20 seconds"))
        .agg(F.count("*").alias("n"))
    )
    out = _run_to_memory(agg, "complete")
    return out.select(F.col("window.start").alias("window_start"), F.col("n").cast("long").alias("n"))


@query(
    "stream_session",
    oracle="""
    WITH x AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL 30 SECOND
                  THEN 1 ELSE 0 END AS brk
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    y AS (SELECT user_id, ts,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM x)
    SELECT user_id, min(ts) AS session_start, max(ts) + INTERVAL 30 SECOND AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM y GROUP BY user_id, sid
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30s gap) per user via session_window — checked
    against the gaps-and-islands SQL formulation. Batch-mode run of the
    same operator (see module docstring for why: append-mode streaming
    withholds each key's tail session at end-of-stream by design)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 seconds"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            F.col("n_events").cast("long").alias("n_events"),
        )
    )


@query(
    "stream_dedup",
    oracle="SELECT DISTINCT event_id FROM events",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup on event_id within the watermark horizon
    (dropDuplicatesWithinWatermark) — append mode, all rows emit."""
    src = _read_stream(spark, sf_dir)
    deduped = (
        src.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id")
    )
    return _run_to_memory(deduped, "append")


@query(
    "stream_join",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
           c.ts AS click_ts, p.ts AS purchase_ts
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
)
def stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: purchases within 1 hour after a click by
    the same user. Both sides watermarked; the explicit time-range
    condition is what lets Spark bound the join state (clicks older than
    the watermark + 1h horizon are evicted) — the canonical
    stream-stream join shape. Inner join in append mode emits every
    match exactly once, so the batch twin is exact."""
    clicks = (
        _read_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        _read_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "user_id = p_user_id AND purchase_ts >= click_ts "
            "AND purchase_ts <= click_ts + INTERVAL 1 HOUR"
        ),
    ).select("click_id", "purchase_id", "user_id", "click_ts", "purchase_ts")
    return _run_to_memory(joined, "append")


_STATEFUL_ORACLE = """
    WITH l AS (
      SELECT user_id, value AS last_value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ),
    c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
          FROM events GROUP BY user_id)
    SELECT c.user_id, c.n_events, l.last_value, TRUE AS total_ok
    FROM c JOIN l ON c.user_id = l.user_id AND l.rn = 1
    """


@query("stream_stateful", oracle=_STATEFUL_ORACLE)
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user
    running count/sum/last over the stream, checked against its batch
    twin via the tolerance-boolean pattern. The query really runs the
    stream (update mode: one row per user per micro-batch), then keeps
    each user's FINAL state (max n_events — the running count is
    strictly monotone). n_events and last_value are deterministic
    (last is by event time, max (ts, event_id) — streaming/stateful.py
    STATE_SCHEMA note) and hash-checked exactly; total_value floats
    accumulate in micro-batch arrival order, so the oracle instead
    expects ``total_ok`` TRUE = within 1e-9 relative of the
    order-independent decimal-exact batch sum."""
    return _stateful_final(spark, sf_dir, running_user_stats)


def _stateful_final(spark: SparkSession, sf_dir: str, stats_fn) -> DataFrame:
    """Shared body of stream_stateful and its transformWithState twin:
    run the given streaming stats operator to completion, keep each
    user's final state, attach the exact-batch total tolerance bool."""
    from pyspark.sql import Window

    src = _read_stream(spark, sf_dir)
    out = _run_to_memory(stats_fn(src), "update")
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = out.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    batch = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("exact_total")
        )
    )
    return (
        final.join(F.broadcast(batch), "user_id")
        .select(
            "user_id",
            "n_events",
            "last_value",
            (
                F.abs(F.col("total_value") - F.col("exact_total"))
                <= F.lit(1e-9) * F.greatest(F.lit(1.0), F.abs("exact_total"))
            ).alias("total_ok"),
        )
    )


# running_user_stats_tws (transformWithStateInPandas, the Spark 4.x
# forward path for custom stateful ops — typed state on a RocksDB-
# backed store) is implemented in streaming/stateful.py. Its driver-
# side worker needs the python protobuf package, which is broken in
# this container (ImportError on google.protobuf.descriptor), so the
# twin query registers CONDITIONALLY: probe protobuf at import time
# and register stream_stateful_tws the moment the environment allows,
# giving the forward path driver evidence automatically. Until then
# the applyInPandasWithState twin above carries the semantics and the
# tws code is covered by a skip-guarded test (tests/test_streaming.py).


def _protobuf_usable() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


if _protobuf_usable():  # pragma: no cover - protobuf broken in this container

    @query("stream_stateful_tws", oracle=_STATEFUL_ORACLE)
    def stream_stateful_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
        """transformWithStateInPandas twin of stream_stateful — same
        semantics, same oracle, state held in typed ValueState on the
        state store (streaming/stateful.py::running_user_stats_tws)."""
        from tstables_spark.streaming.stateful import running_user_stats_tws

        return _stateful_final(spark, sf_dir, running_user_stats_tws)


@query(
    "stream_append_windows",
    oracle="""
    SELECT window_start, event_type, n FROM (
      SELECT date_trunc('minute', ts) AS window_start, event_type,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ) WHERE window_start + INTERVAL 1 MINUTE
            <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
    """,
)
def stream_append_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION windowed-aggregation shape: tumbling 1-minute
    counts in APPEND mode under a 10-minute watermark — each window is
    emitted exactly once, when the watermark passes its end, and state
    for it is dropped (complete mode, used by stream_tumbling for batch
    equivalence, re-emits the whole result and retains all state —
    fine for a harness, unbounded at 100 TB; see SCALE.md). The cost of
    append semantics is that windows still open at end-of-stream are
    withheld: the oracle encodes exactly that contract — every window
    whose end the final watermark (max event time - 10 min) passed,
    and no later window. The hash match pins the watermark arithmetic,
    the emit-once rule, and the tail-withholding boundary."""
    src = _read_stream(spark, sf_dir)
    agg = (
        src.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 minute"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    out = _run_to_memory(agg, "append")
    return out.select(
        F.col("window.start").alias("window_start"),
        "event_type",
        F.col("n").cast("long").alias("n"),
    )


@query(
    "stream_upsert",
    oracle="""
    SELECT event_id, ts, user_id, event_type,
           CASE WHEN ts >= TIMESTAMP '2024-01-20 00:00:00'
                 AND ts <  TIMESTAMP '2024-01-21 00:00:00'
                THEN value + 1000.0 ELSE value END AS value,
           props
    FROM events
    WHERE ts BETWEEN TIMESTAMP '2024-01-19 00:00:00'
                 AND TIMESTAMP '2024-01-21 00:00:00'
    """,
)
def stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply: a correction stream (every 2024-01-20 row
    re-stated with value + 1000, split over three files consumed one
    per micro-batch via maxFilesPerTrigger) is merged into a live
    TimeSeriesTable through ``foreachBatch`` -> ``upsert`` — the
    production late-data pipeline: the stream carries corrections, the
    table converges to the corrected state batch by batch, each batch
    rewriting ONLY the day partitions it touches. The oracle is the
    CASE-corrected range select: the hash match proves the multi-batch
    merge converges to exactly the single-batch result (upsert is
    idempotent per identity, so batch boundaries don't matter)."""
    from datetime import datetime, timezone

    from tstables_spark.tstable import TimeSeriesTable

    ev = load(spark, sf_dir, "events")
    tmp = scratch_dir(spark, "streamupsert_")
    ts = TimeSeriesTable.create(spark, tmp, "events_series", ev.schema)
    ts.append(ev)

    day = F.to_date("ts") == F.lit("2024-01-20").cast("date")
    corr = ev.where(day).withColumn("value", F.col("value") + F.lit(1000.0))
    cdir = scratch_dir(spark, "corr_src_") + "/corrections"
    corr.repartition(3).write.parquet(cdir)

    src = (
        spark.readStream.schema(corr.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(cdir)
    )
    cols = ev.columns
    q = (
        src.writeStream.foreachBatch(
            lambda batch, _id: ts.upsert(batch.select(*cols), keys=["event_id"])
        )
        .option("checkpointLocation", scratch_dir(spark, "upsert_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return ts.read_range(
        datetime(2024, 1, 19, tzinfo=timezone.utc),
        datetime(2024, 1, 21, tzinfo=timezone.utc),
    ).select("event_id", "ts", "user_id", "event_type", "value", "props")


@query(
    "stream_enrich",
    oracle="""
    SELECT e.event_id, e.ts, e.user_id, c.c_mktsegment AS segment
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC join — the third join mode Structured Streaming
    supports (alongside stream-stream in stream_join): each micro-batch
    of the event stream is enriched against a static dimension with a
    plain batch join, no watermark or state needed because the static
    side never changes mid-query. At 100 TB the dim side broadcasts
    when small (per micro-batch) or hash-joins against each batch;
    state stays ZERO either way — the scalable enrichment shape. The
    oracle is the batch twin (unified-API guarantee: a stream-static
    join over a finite source equals the batch join)."""
    src = _read_stream(spark, sf_dir)
    dim = load(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment").alias("segment")
    )
    joined = src.join(dim, src.user_id == dim.c_custkey, "left").select(
        "event_id", "ts", "user_id", "segment"
    )
    return _run_to_memory(joined, "append")


@query(
    "stream_ohlc",
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
    SELECT * FROM (
      SELECT bucket, max(open_v) AS open, max(value) AS high,
             min(value) AS low, max(close_v) AS close,
             CAST(count(*) AS BIGINT) AS volume,
             {sql_sum('value')} AS sum_value
      FROM w GROUP BY bucket
    ) WHERE bucket + INTERVAL 1 MINUTE
            <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
    """,
)
def stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained 1-minute OHLC bars: the ts_resample_ohlc
    aggregate run as a REAL streaming aggregation — watermark 10m,
    APPEND mode, the bounded-state PRODUCTION shape (r13; the
    stream_append_windows pattern): each bar is emitted exactly once
    when the watermark passes its window end and its
    min_by/max_by/count/decimal-sum state is DROPPED, so state is
    bounded by #(windows inside the watermark horizon), not by stream
    length. (The r12 complete-mode registration re-emitted the whole
    result per trigger and the soak measured state ∝ #windows — 38k
    rows and growing over 100 batches; complete-mode batch equivalence
    stays demonstrated by stream_tumbling.) The cost of append
    semantics is that bars still open at end-of-stream are withheld:
    the oracle encodes exactly that contract — every bar whose window
    end the final watermark (max event time - 10 min) passed, and no
    later bar. The hash match pins the incremental OHLC maintenance,
    the emit-once rule, and the tail-withholding boundary."""
    from tstables_spark._exact import exact_sum

    src = _read_stream(spark, sf_dir)
    key = F.struct(F.col("ts"), F.col("event_id"))
    agg = (
        src.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 minute"))
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count("*").alias("volume"),
            exact_sum("value").alias("sum_value"),
        )
    )
    out = _run_to_memory(agg, "append")
    return out.select(
        F.col("window.start").alias("bucket"),
        "open", "high", "low", "close",
        F.col("volume").cast("long").alias("volume"),
        "sum_value",
    )


@query(
    "stream_asof_epochs",
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
def stream_asof_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ingest into the epoch-partitioned as-of layout (r13) —
    the production daily pipeline for the bounded-append strategy: the
    layout is staged with the RIGHT side only (the orders archive,
    landing in its 1992-1998 year epochs), then the event stream is
    consumed via ``foreachBatch`` and each micro-batch runs one
    ``append_asof_epoch_layout`` bounded to the epochs ITS rows land in
    (2024 — the archive partitions are never rewritten by any batch).
    The final presorted read must equal the one-shot batch ASOF JOIN:
    per-epoch append is a row-set union of deterministic encodings, so
    batch boundaries cannot change the fixpoint — the same convergence
    contract stream_upsert proves for TimeSeriesTable, here for the
    staged as-of layout. Hash-checked against the join_asof oracle.

    Replay safety (r14): the append runs with ``idempotent=True`` —
    foreachBatch is at-least-once, and a crash AFTER an append
    completes but BEFORE the streaming commit replays the batch; the
    duplicate-encoding drop makes that replay a byte-level no-op
    (event rows are encoding-unique via event_id), while the commit
    marker covers crashes DURING the append. Exactly-once in effect."""
    from tstables_spark.operators.asof import (
        append_asof_epoch_layout,
        asof_join_presorted,
        stage_asof_epoch_layout,
    )

    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    od = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(
            F.max("o_orderkey").alias("o_orderkey"),
            F.max_by("o_totalprice", "o_orderkey").alias("o_totalprice"),
        )
    )
    tag = "asofse_" + uuid.uuid4().hex[:8]
    base = scratch_dir(spark, "stream_asof_epochs_")
    epoch_of = F.year
    # stage the right side alone: the left delta arrives as a stream
    stage_asof_epoch_layout(
        ev.where(F.lit(False)),
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
    register_staged_table(spark, tag)
    src_dir = f"{base}/src"
    ev.repartition(3).write.parquet(src_dir)
    src = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = (
        src.writeStream.foreachBatch(
            lambda batch, _id: append_asof_epoch_layout(
                spark,
                tag,
                left=batch,
                left_on="ts",
                left_by="user_id",
                epoch_of=epoch_of,
                num_buckets=8,
                idempotent=True,
            )
        )
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    return asof_join_presorted(
        spark, tag, ["event_id", "user_id", "ts"], ["o_orderkey", "o_totalprice"]
    ).select("event_id", "user_id", "ts", "o_orderkey", "o_totalprice")


def _asof_interval_staged_table(spark: SparkSession, sf_dir: str) -> str:
    """Stage the pre-collapsed order book as validity intervals once
    per (app, sf) — the streaming twin of timeseries._asof_staged_table
    (same pay-the-window-at-write-time layout, interval flavor)."""
    from tstables_spark.operators.asof import stage_asof_interval_layout

    def build(tag: str, base: str) -> str:
        od = (
            load(spark, sf_dir, "orders")
            .groupBy("o_custkey", "o_orderdate")
            .agg(
                F.max("o_orderkey").alias("o_orderkey"),
                F.max_by("o_totalprice", "o_orderkey").alias("o_totalprice"),
            )
        )
        stage_asof_interval_layout(
            od,
            right_on="o_orderdate",
            right_by="o_custkey",
            right_values=["o_orderkey", "o_totalprice"],
            table_name=tag,
            path=f"{base}/t",
            num_buckets=8,
        )
        register_staged_table(spark, tag)
        return tag

    return staged(spark, "asof_interval", (sf_dir,), build)


@query(
    "stream_asof",
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
def stream_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING as-of enrichment: each micro-batch of the event stream
    is as-of joined against a static, pre-collapsed order book via
    ``foreachBatch`` — the production shape for "stamp each tick with
    the prevailing reference price". Against a STATIC right side the
    as-of result is per-row independent, so multi-batch equals
    single-batch; the input is split over three files consumed one per
    trigger to prove it.

    The book rides the INTERVAL layout
    (operators/asof.py::stage_asof_interval_layout): the backward-as-of
    answer per (key, t) is precomputed as validity intervals by ONE
    lead() window at staging time, so every micro-batch is a plain
    bucketed equi-join with range conjuncts — no union, no window, no
    book shuffle or sort per trigger (the r8 shape re-ran the
    union+window against the full book EVERY batch; measured over the
    3 sf0.1 triggers: 2.31 s -> 1.45 s, staging 2.75 s paid once —
    SCALE.md). State stays ZERO (no
    stream-stream watermark bookkeeping) — at 100 TB the staged book
    is the scan side of each per-batch join, never growing state. The
    oracle is the batch twin (DuckDB ASOF): the hash match proves
    batch boundaries don't leak into results.

    Replay safety (r14): each batch's output lands in its own
    ``bid=<batch id>`` directory with overwrite — an at-least-once
    replay rewrites its own partition instead of appending a duplicate
    copy (the mode("append") writer it replaces did exactly that)."""
    from tstables_spark.operators.asof import asof_join_interval

    ev = load(spark, sf_dir, "events")
    t = _asof_interval_staged_table(spark, sf_dir)
    sdir = scratch_dir(spark, "asof_src_") + "/events"
    ev.repartition(3).write.parquet(sdir)
    src = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(sdir)
    )
    out = scratch_dir(spark, "asof_out_") + "/enriched"

    def enrich(batch: DataFrame, bid: int) -> None:
        (
            asof_join_interval(
                batch.select("event_id", "user_id", "ts"),
                t,
                left_on="ts",
                left_by="user_id",
                right_values=["o_orderkey", "o_totalprice"],
            )
            .select("event_id", "user_id", "ts", "o_orderkey", "o_totalprice")
            .write.mode("overwrite")
            .parquet(f"{out}/bid={bid}")
        )

    q = (
        src.writeStream.foreachBatch(enrich)
        .option("checkpointLocation", scratch_dir(spark, "asof_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # bid is a partition-discovery column, not part of the result
    return spark.read.parquet(out).select(
        "event_id", "user_id", "ts", "o_orderkey", "o_totalprice"
    )


@query("stream_cms", oracle=_cms_oracle())
def stream_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch maintained INCREMENTALLY by a streaming
    aggregation over the document stream — the mergeable-sketch
    property exercised for real: each micro-batch's cell counts fold
    into the running state by cell-wise addition (exactly the merge
    operation agg_cms_sketch's docstring promises), and the oracle is
    the BATCH sketch over the same corpus, so the hash match proves
    stream-merged == batch-built bit-for-bit. Shares _cms_bucket /
    _cms_cells with the batch build and the point-query probe — one
    hash definition across all three.

    Scale shape: the streaming state is bounded at depth*width cells
    regardless of stream length — the whole point of sketching a
    vocabulary too large to hold — and complete-mode emission is
    depth*width rows per trigger."""
    src = _read_stream(spark, sf_dir, "documents")
    tok = src.select(F.explode(F.split(F.lower("text"), " ")).alias("token"))
    out = _run_to_memory(_cms_cells(tok), "complete")
    return out.select("sketch_row", "bucket", F.col("cnt").cast("long").alias("cnt"))


@query(
    "stream_qsketch",
    oracle=f"""
    WITH src AS (SELECT CAST(FLOOR(value * 100) AS BIGINT) AS v FROM events)
    SELECT bucket, lo AS lo_cents, hi AS hi_cents, cnt
    FROM {_qsketch_cells_sql("src")} q
    """,
)
def stream_qsketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantile sketch maintained INCREMENTALLY by a streaming
    aggregation over the event stream: each micro-batch's bucket
    counts fold into the running state by per-bucket addition — the
    same merge agg_qsketch's docstring promises for shard sketches —
    and the oracle is the BATCH sketch over the same events, so the
    hash match proves stream-merged == batch-built bit-for-bit.
    Completes the streaming-maintainer trio (stream_cms frequency,
    stream_bloom membership, this one rank statistics); all three
    exist because their summaries are commutative monoids, which is
    the only thing Spark's incremental aggregation needs.

    Scale shape: streaming state bounded at <1024 buckets regardless
    of stream length (_portable_sql.py bucket algebra) — latency
    percentile monitoring over an unbounded stream in constant
    memory, read at any trigger by agg_qsketch_quantiles' bounded
    cumulative walk."""
    src = _read_stream(spark, sf_dir)
    cents = src.selectExpr("CAST(FLOOR(value * 100) AS BIGINT) AS v")
    out = _run_to_memory(_qsketch_cells(cents), "complete")
    return out.select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("lo").cast("long").alias("lo_cents"),
        F.col("hi").cast("long").alias("hi_cents"),
        F.col("cnt").cast("long").alias("cnt"),
    )


@query(
    "stream_theta",
    oracle=f"""
    WITH m AS (
      SELECT DISTINCT event_type, CAST(ts AS DATE) AS day,
             md5(CAST(user_id AS VARCHAR)) AS h
      FROM events)
    SELECT event_type, CAST(day AS VARCHAR) AS day, h FROM (
      SELECT event_type, day, h,
             row_number() OVER (PARTITION BY event_type, day
                                ORDER BY h) AS rn
      FROM m) WHERE rn <= {_KMV_K}
    """,
)
def stream_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KMV/THETA SKETCH maintained INCREMENTALLY over the event
    stream — agg_theta_sketch's maintainer, completing the streaming
    sketch family (stream_cms frequency, stream_bloom membership,
    stream_qsketch/kll rank statistics, this one DISTINCT-SET algebra
    incl. intersection). KMV truncation is an associative, lossy-but-
    sufficient merge: k-smallest(k-smallest(A) ∪ k-smallest(B)) =
    k-smallest(A ∪ B), so folding each micro-batch's hashes into the
    k-per-group state and re-truncating converges to EXACTLY the
    batch sketch — the oracle is the batch KMV over the same events
    (4 files, one per trigger), and the hash match proves
    stream-merged == batch-built bit-for-bit, hash by hash (the
    portable-md5 advantage over JVM-private sketch bytes again).

    Scale shape: state is a parquet relation bounded at groups x k
    rows REGARDLESS of stream length (the sketching point); each
    trigger unions the batch's distinct (group, hash) rows, dedups,
    and re-truncates with a per-group window over <= state + batch
    rows — the same pay-per-batch-not-per-history discipline as the
    epoch as-of ingest. Versioned state dirs keep each rewrite
    atomic-by-rename semantics simple (read v{i-1}, write v{i})."""
    from tstables_spark.streaming.replay import VersionedPathFold

    ev = load(spark, sf_dir, "events")
    sdir = scratch_dir(spark, "theta_src_") + "/events"
    ev.repartition(4).write.mode("overwrite").parquet(sdir)
    src = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(sdir)
    )
    base = scratch_dir(spark, "theta_state_")

    # replay discipline (2): attempt-versioned state paths — the KMV
    # merge is naturally idempotent, the helper supplies the fresh-
    # path-per-attempt bookkeeping (streaming/replay.py; r13 advice)
    def kmv_fold(prev_path: str | None, batch: DataFrame, new_path: str) -> None:
        m = kmv_batch_hashes(batch)
        allr = (
            m
            if prev_path is None
            else spark.read.parquet(prev_path).unionByName(m)
        )
        kmv_truncate(allr).write.mode("overwrite").parquet(new_path)

    merge = VersionedPathFold(base, kmv_fold)
    q = (
        src.writeStream.foreachBatch(merge)
        .option("checkpointLocation", base + "/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(merge.path).select(
        "event_type", F.col("day").cast("string").alias("day"), "h"
    )


def _staged_doc_stream(spark: SparkSession, sf_dir: str) -> tuple[str, object]:
    """documents as a 4-file parquet dir (one file per trigger), staged
    once per (app, sf) like _staged_kll_values; repeated invocations
    reuse the files."""

    def build(tag: str, d: str) -> tuple[str, object]:
        docs = load(spark, sf_dir, "documents").select("doc_id", "text")
        path = d + "/documents"
        docs.repartition(4).write.mode("overwrite").parquet(path)
        return path, docs.schema

    return staged(spark, "hh_src", (sf_dir,), build)


@query(
    "stream_heavy_hitters",
    oracle="""
    WITH toks AS (SELECT unnest(str_split(lower(text), ' ')) AS tok
                  FROM documents),
    nn AS (SELECT count(*) AS n FROM toks),
    c AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok)
    SELECT c.tok AS token, CAST(c.c AS BIGINT) AS exact_cnt,
           TRUE AS in_summary, TRUE AS err_ok
    FROM c, nn WHERE c.c > nn.n // 65
    """,
)
def stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MISRA-GRIES heavy-hitters summary maintained INCREMENTALLY
    over a document stream — agg_heavy_hitters' maintainer, completing
    the streaming sketch family's sixth member (cms / bloom / qsketch /
    kll / theta / this). Each trigger reduces its batch to per-partition
    MG summaries (the same Arrow-batched mapInPandas pass the batch
    query uses — O(k) task state, partitions x k rows collected) and
    folds them into the running k=64 counters with the subtract-merge;
    the MG guarantees hold under ANY merge schedule (Agarwal et al.,
    mergeable summaries), so after the final trigger every token with
    true frequency above n/(k+1) is in the summary with undercount at
    most n/(k+1). The oracle is agg_heavy_hitters' exact-count gate:
    the driver hash-checks the exact heavy-hitter list, counts, and
    TRUE guarantee flags against the STREAM-maintained summary.

    Unlike the KMV fold (stream_theta), the MG fold is NOT idempotent —
    re-folding a replayed micro-batch would double-count — so state is
    snapshotted per batch id and a batch always folds from its
    PREDECESSOR's snapshot: a replay of batch b recomputes from
    snap[b-1] and lands on the identical snap[b] (deterministic pure
    arithmetic), keeping foreachBatch's at-least-once delivery
    exactly-once in effect. Only the two live snapshots are retained.

    Scale shape: per trigger one Arrow-batched pass over the batch +
    one bounded partitions x k collect; driver state is <= k counters
    REGARDLESS of stream length (soaked 100 micro-batches in
    scripts/soak_streams.py: flat latency, state == k)."""
    from itertools import chain

    from tstables_spark.operators.heavyhitters import mg_merge, mg_partitions
    from tstables_spark.streaming.replay import SnapshotFold

    k = 64
    path, schema = _staged_doc_stream(spark, sf_dir)
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )

    # replay discipline (1): snapshot-per-batch-id fold — the MG
    # subtract-merge is NOT idempotent; predecessor lookup, loud
    # missing-predecessor failure and snapshot GC live in the shared
    # helper (streaming/replay.py)
    def mg_fold(prev: dict, batch: DataFrame, bid: int) -> dict:
        summ = [
            (r["item"], r["cnt"])
            for r in mg_partitions(
                batch.select(
                    F.explode(F.split(F.lower("text"), " ")).alias("tok")
                ),
                "tok",
                k,
            ).collect()
        ]
        return mg_merge(chain(prev.items(), summ), k)

    merge = SnapshotFold(mg_fold, name="stream_heavy_hitters", initial={})
    base = scratch_dir(spark, "hh_state_")
    q = (
        src.writeStream.foreachBatch(merge)
        .option("checkpointLocation", base + "/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    merged = merge.result()
    # The exact-count audit (identical to agg_heavy_hitters): bounded —
    # <= k+1 tokens can exceed n/(k+1) by counting.
    toks = load(spark, sf_dir, "documents").select(
        F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )
    exact = toks.groupBy("tok").agg(F.count("*").alias("c"))
    n = exact.agg(F.sum("c").alias("n")).collect()[0]["n"]
    bound = n // (k + 1)
    hh = exact.where(F.col("c") > bound).collect()
    out = []
    for r in hh:
        est = merged.get(r["tok"], 0)
        out.append(
            (
                r["tok"],
                r["c"],
                r["tok"] in merged,
                bool(est <= r["c"] and r["c"] - est <= bound),
            )
        )
    from tstables_spark._local import local_df

    return local_df(
        spark, out, "token string, exact_cnt long, in_summary boolean, err_ok boolean"
    )


from tstables_spark.plans.timeseries import V_PATTERN_ORACLE


@query("stream_pattern", oracle=V_PATTERN_ORACLE)
def stream_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING event-pattern detection (Flink-CEP's core use case):
    the V-shape detector ts_pattern_match runs in batch, maintained
    incrementally by a custom stateful operator — per-user state is
    just the last 4 rows (a fixed-length pattern needs exactly +-2
    rows of context), so state is CONSTANT per key regardless of
    stream length, and every trough is emitted exactly ONCE in the
    micro-batch where its following context first arrives (Append
    mode; the carried-suffix start-index argument in
    streaming/stateful.py::_v_update). Batch rows sort by (ts,
    event_id) before the scan — group rows arrive shuffle-ordered
    within a batch — and batches must arrive in event-time order, the
    standard in-order-source CEP contract (the fixture stream is
    time-ordered; production fronts this with a watermark-bounded
    sort, the stream_append_windows discipline).

    The oracle is the BATCH pattern query (same SQL as
    ts_pattern_match), so the driver check proves stream-detected ==
    batch-detected row for row."""
    from tstables_spark.streaming.stateful import v_pattern_stream

    src = _read_stream(spark, sf_dir)
    out = _run_to_memory(v_pattern_stream(src), "append")
    return out.select(
        "user_id",
        "event_id",
        F.timestamp_micros(F.col("ts")).alias("ts"),
        "depth",
    )


from tstables_spark.operators.kll import GATE_ORACLE as _KLL_GATE_ORACLE


def _staged_kll_values(spark: SparkSession, sf_dir: str):
    """The NULL/NaN-filtered events value column as an 8-file parquet
    dir (one file per trigger), staged once per (app, sf) like
    _staged_table — repeated invocations (3-scale + vanilla re-checks)
    reuse the files instead of re-writing them."""

    def build(tag: str, d: str) -> str:
        ev = (
            load(spark, sf_dir, "events")
            .select("value")
            .where(F.col("value").isNotNull() & ~F.isnan("value"))
        )
        path = d + "/values"
        ev.repartition(8).write.parquet(path)
        return path

    return staged(spark, "kll_src", (sf_dir,), build)


@query(
    "stream_kll_gate",
    oracle=_KLL_GATE_ORACLE,
)
def stream_kll_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KLL quantile sketch maintained ACROSS micro-batches — the
    fourth streaming summary maintainer (stream_cms frequency,
    stream_bloom membership, stream_qsketch log-bucket ranks, this one
    sample-based ranks): each trigger sketches its batch with the same
    per-partition kernel agg_kll_gate uses, then folds it into the
    running state via merge_pairs — the mergeability the sketch exists
    for, exercised trigger by trigger (8 single-file triggers). The
    published ``n`` is the merged sketch's TOTAL WEIGHT, hash-checked
    against the oracle's batch count — weight preservation across every
    per-trigger compaction proves the stream path lossless — and the
    quantile estimates must satisfy the identical eps=5% rank contract
    against exact ranks over the batch table (measured worst after an
    8-fold merge at sf0.1: 0.39%, right at the one-shot build's 0.41%
    — merge error does not accumulate materially over 8 folds).

    Scale shape: per-trigger work is one Arrow-batched pass over the
    new files; the carried state is O(2k * levels) samples regardless
    of stream length — constant-memory quantile monitoring over an
    unbounded stream, read at any trigger with a weighted rank walk.

    Replay safety (r14): the KLL fold is NOT idempotent (re-folding a
    replayed batch doubles its weight), so state snapshots per batch
    id and each batch folds from its PREDECESSOR's snapshot — the
    stream_heavy_hitters discipline; foreachBatch's at-least-once
    delivery stays weight-exact in effect."""
    from tstables_spark.operators.kll import merge_pairs, rank_gate, sketch_partitions
    from tstables_spark.streaming.replay import SnapshotFold

    k = 512
    ev = (
        load(spark, sf_dir, "events")
        .select("value")
        .where(F.col("value").isNotNull() & ~F.isnan("value"))
    )
    sdir = _staged_kll_values(spark, sf_dir)
    src = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(sdir)
    )

    # replay discipline (1): snapshot-per-batch-id fold — the KLL
    # weight fold is NOT idempotent (streaming/replay.py)
    def kll_fold(prev: list, batch: DataFrame, bid: int) -> list:
        pairs = [
            (r["value"], r["weight"])
            for r in sketch_partitions(batch, "value", k).collect()
        ]
        return merge_pairs(list(prev) + pairs, k)

    fold = SnapshotFold(kll_fold, name="stream_kll_gate", initial=[])
    q = (
        src.writeStream.foreachBatch(fold)
        .option("checkpointLocation", scratch_dir(spark, "kll_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return rank_gate(ev, fold.result())
