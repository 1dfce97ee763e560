"""Streaming ingest into the TimeSeriesTable layout.

``ingest_stream`` is the Structured Streaming twin of
``TimeSeriesTable.append`` (A3): file/rate/kafka source ->
date-partitioned parquet sink. Exactly-once is inherited from the file
sink's commit log + checkpointing, for readers that go through that
log; store reads name day dirs instead (see ``ingest_stream``).
Lateness on THIS path is unbounded by design: a stateless append sink
neither drops nor bounds late rows (a watermark has no behavioral
effect without a stateful operator), and that is precisely what makes
the ingest lossless — the stream_ingest oracle hash-matches the whole
fixture. Late-data BOUNDS belong to the stateful queries downstream
(windowed aggs, dedup), which set their own watermarks. At scale the
only extra concern is small files (one file per partition per
micro-batch): compact_series is the OPTIMIZE-style rewrite job
(SURVEY.md §4's file-layout compactor) that coalesces a partition's
files and restores the in-file ts sort, run periodically out-of-band —
with the stream STOPPED or between availableNow runs (see
compact_series).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from tstables_spark.tstable import (
    _META_FILE,
    _fs_exists,
    _fs_read_text,
    _list_days,
    _read_days,
    rewrite_days,
)


def ingest_stream(
    src: DataFrame,
    sink_path: str,
    checkpoint_path: str,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    available_now: bool = True,
    compression: str = "zstd",
) -> StreamingQuery:
    """Start a streaming write into the engine's layout.

    ``watermark`` is declared for downstream stateful consumers sharing
    this plan; on the sink itself it is a NO-OP (stateless append — no
    rows are dropped however late, which is what keeps ingest lossless).

    Read-performance caveat (correctness is unaffected): streaming
    DataFrames cannot ``sortWithinPartitions``, so freshly ingested files
    are NOT ts-sorted and ``read_range`` loses parquet row-group min/max
    skipping on them until ``compact_series`` rewrites the partition.
    The degraded window is bounded only by compaction cadence — run
    ``compact_series(..., dates=[<recent days>])`` frequently (cheap: it
    rewrites only those partitions) BETWEEN availableNow ingest runs or
    with the continuous stream stopped, and the full-table variant on a
    slower schedule.

    Store reads (``TimeSeriesTable``, ``compact_series``) name day dirs
    and never consult this sink's ``_spark_metadata`` log, so batch
    appends into the same series are visible at once. The trade: they
    also see files a micro-batch wrote but never committed. Spark's own
    aborts leave none behind — a failed task attempt deletes its file,
    and an aborted job deletes the files of its finished tasks (an empty
    ``date=`` dir can remain). A driver killed mid-batch leaves its
    finished tasks' files, and the restarted stream writes that batch
    again: killing the JVM of a local 2-task batch after one task
    finished, then restarting, gave 30 rows to day reads and 20 to a
    read of the root through the log. Dedupe such rows by identity
    (``upsert`` collapses same-identity rows of the days it touches).
    """
    out = src.withWatermark(ts_col, watermark).withColumn("date", F.to_date(F.col(ts_col)))
    # INT96 (Spark's default) would strip ts min/max stats from every
    # ingested file — see session.py; set here too so a bare caller
    # session still writes skippable files.
    src.sparkSession.conf.set(
        "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
    )
    writer = (
        out.writeStream.format("parquet")
        .option("path", sink_path)
        .option("checkpointLocation", checkpoint_path)
        .option("compression", compression)  # A9: series codec
        .partitionBy("date")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_series(
    spark: SparkSession,
    path: str,
    files_per_day: int = 1,
    dates: list | None = None,
    compression: str | None = None,
) -> None:
    """OPTIMIZE-style rewrite: coalesce each date partition's micro-batch
    files down to ``files_per_day`` ts-sorted files.

    ``dates=None`` compacts every day; ``dates=[...]`` only those days
    (the read names only their dirs) — the cheap form to run frequently
    on the hot days a stream is appending to. Both forms go through
    ``tstable.rewrite_days``: the days are rewritten to
    ``path + "__compacting"`` and swapped in one ``date=`` dir at a time,
    so the series path never goes missing and a reader misses at most
    the one day being swapped (see ``rewrite_days``). Root files
    (``_ts_meta.json``, ``_ts_versions/``) are not touched. A leftover
    ``date=…__precompact`` marker from a crashed run for any rewritten
    day aborts before the first rename.

    The rewrite reads the days' dirs (``tstable._read_days``) with the
    series' declared schema when ``_ts_meta.json`` exists (columns added
    by ``evolve`` survive even if the first file predates them), else
    with the schema Spark infers from the files. The read never consults
    the streaming file-sink's ``_spark_metadata`` log, so batch-appended
    files are compacted alongside sink-written ones — and so are files a
    micro-batch wrote but never committed. ``rewrite_days``
    drops the log at swap time; after the first compaction the table is
    a plain parquet tree (the stream's exactly-once bookkeeping lives in
    its checkpoint, not the sink log). RUN WITH THE WRITING STREAM
    STOPPED (or between availableNow runs): a concurrent micro-batch
    into a swapped day is lost with the replaced dir, and an active sink
    would recreate the log listing only post-compaction batches.

    A9 knobs: ``compression=None`` (default) uses the codec persisted in
    the series' ``_ts_meta.json`` (zstd for a bare parquet tree), and the
    series' ``max_records_per_file`` cap is applied to the rewrite — a
    compaction must not silently change the storage contract ``create()``
    promised."""
    meta_codec, max_rpf, schema = "zstd", None, None
    mpath = f"{path}/{_META_FILE}"
    # A bare parquet tree simply has no meta file; if the meta EXISTS,
    # a read/parse failure must propagate — silently falling back to
    # zstd/uncapped would be exactly the storage-contract change this
    # lookup exists to prevent.
    if _fs_exists(spark, mpath):
        meta = json.loads(_fs_read_text(spark, mpath))
        meta_codec = meta.get("compression", "zstd")
        max_rpf = meta.get("max_records_per_file")
        schema = T.StructType.fromJson(meta["schema"])
    codec = compression if compression is not None else meta_codec
    wanted = None if dates is None else {str(d) for d in dates}
    days = [d for d in _list_days(spark, path) if wanted is None or str(d) in wanted]
    if days:
        rewrite_days(spark, path, _read_days(spark, path, days, schema), "__compacting",
                     codec, max_rpf, files_per_day)
