"""TimeSeriesTable — the reference's core data model, Spark-native.

Capability parity with afiedler/tstables (SURVEY.md §2 Table A; upstream
``tstables/tstable.py`` + ``tstables/__init__.py``, cited by path because
the local reference mirror was empty — SURVEY.md §0):

==========================  ====================================================
reference (tstables)        this class
==========================  ====================================================
``File.create_ts``          ``TimeSeriesTable.create`` (A1)
``File.get_timeseries``     ``TimeSeriesTable.open`` (A2)
``TsTable.append(df)``      ``append`` (A3) — date-partitioned sorted write
``TsTable.read_range``      ``read_range`` (A4) — inclusive both ends,
                            pruned to overlapping date partitions
``TsTable.min_dt/max_dt``   ``min_dt`` / ``max_dt`` (A5/A6)
dt<->int64-ms helpers       UTC session TZ + TimestampType (A7)
y/m/d group enumeration     Spark partition discovery + pruning (A8)
PyTables Filters/chunking   Parquet codec + row-group sizing (A9)
==========================  ====================================================

Physical layout: ``<root>/<series>/date=YYYY-MM-DD/part-*.parquet`` with
rows sorted by ``ts`` *within* every file. The reference prunes to the
day-groups overlapping a requested range and binary-searches the sorted
timestamp column of the edge partitions. Here every read goes through
``_read_days``, which names the ``date=`` dirs it touches: ``read_range``
the days its range overlaps, ``read_at`` / ``min_dt`` / ``max_dt`` one
dir per probed day. Parquet row-group min/max statistics (tight, because
of the in-file sort) play the binary search. So a read costs O(range),
not O(table) — the reference's core performance contract (BASELINE.md).
``scripts/measure_tick_reads.py`` on 4 cores (24 rows a day, median of
5): a one-day ``read_range`` took 0.06 s and ``max_dt`` 0.05 s on 30-,
365- and 1825-day series alike, with the same Spark jobs per call at
every length; reading the series root, as this module did before, took
3.6 and 4.0 s on the 1825-day series.

The trade of naming day dirs: store reads never consult a streaming
file sink's ``_spark_metadata`` log. Batch appends next to a stream are
visible at once, and so is a file a micro-batch wrote but never
committed (its driver died mid-batch; see
``streaming.ingest.ingest_stream``).

Semantic divergences from the reference (deliberate, documented):

- timestamps are microsecond TimestampType, not int64 milliseconds
  (lossless widening);
- strings are unbounded, not fixed-width ``StringCol(n)``;
- out-of-order appends are accepted by default (each batch is re-sorted
  into its date partitions; Parquet stats stay tight per file).
  ``strict_order=True`` restores the reference's append-only-in-order
  rejection; the streaming ingest path (tstables_spark.streaming) instead
  handles late data with watermarks.
"""

from __future__ import annotations

import json
import os
import re
from datetime import date, datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_META_FILE = "_ts_meta.json"
TS_COL = "ts"
DATE_COL = "date"


class TimeSeriesTableError(ValueError):
    pass


_NAME_RE = re.compile(r"^[A-Za-z0-9._-]+$")


def _series_path(root: str, name: str) -> str:
    # A series name is a catalog slug, not a path: reject separators,
    # absolute paths and '..' so a hostile name can't escape the root.
    if not _NAME_RE.match(name) or name in (".", ".."):
        raise TimeSeriesTableError(
            f"invalid series name {name!r}: must match [A-Za-z0-9._-]+"
        )
    return os.path.join(root, name)


# Codecs Spark's parquet writer accepts (A9 — the PyTables Filters
# complib analog). Validated at create() so a typo fails fast, not at
# the first append on an executor.
_CODECS = {"none", "uncompressed", "snappy", "gzip", "lz4", "zstd"}


# -- metadata I/O through the Hadoop FileSystem API --------------------------
# The DATA path always went through Hadoop FS (partition listing, purge,
# compaction renames) so it runs unchanged on HDFS/S3; the METADATA path
# (series meta, version manifests) used local os.* calls, which silently
# broke every lifecycle operation on a remote root. These helpers close
# that gap: one FS resolution per call, local file:// included.

def _jfs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath, jvm


def _fs_exists(spark: SparkSession, path: str) -> bool:
    fs, jpath, _ = _jfs(spark, path)
    return bool(fs.exists(jpath))


def _fs_mkdirs(spark: SparkSession, path: str) -> None:
    fs, jpath, _ = _jfs(spark, path)
    fs.mkdirs(jpath)


def _fs_list_names(spark: SparkSession, path: str) -> list[str]:
    """Names of the entries of directory ``path`` ([] if it is missing).

    A dir Hadoop resolves to the local file system (``_local_path``) is
    listed by ``os.listdir``: 0.4 ms for 1825 ``date=`` dirs on a 4-core
    box. Any other goes through Hadoop in a fixed number of JVM calls,
    the listing coming back as one newline-joined string: 0.025 s for
    those dirs, against 0.25 s for two py4j calls per entry. Most of the
    0.025 s is py4j returning an answer over 8 KB, which stalls on
    loopback (25-44 ms measured) — half a one-day read."""
    fs, jpath, jvm = _jfs(spark, path)
    local = _local_path(fs, jpath)
    if local is not None:
        try:
            return os.listdir(local)
        except FileNotFoundError:
            return []
    if not fs.exists(jpath):
        return []
    paths = jvm.org.apache.hadoop.fs.FileUtil.stat2Paths(fs.listStatus(jpath))
    joined = jvm.scala.collection.immutable.ArraySeq.unsafeWrapArray(paths).mkString("\n")
    return [p.rsplit("/", 1)[-1] for p in joined.split("\n") if p]


def _fs_read_text(spark: SparkSession, path: str) -> str:
    fs, jpath, jvm = _jfs(spark, path)
    stream = fs.open(jpath)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def _fs_write_text(spark: SparkSession, path: str, text: str) -> None:
    fs, jpath, _ = _jfs(spark, path)
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _is_local_path(path: str) -> bool:
    return "://" not in path or path.startswith("file:")


def _local_path(fs, jpath) -> str | None:
    """The OS path of Hadoop Path ``jpath`` if ``fs``, the FileSystem
    Hadoop resolved it to, is the local one; else None. The decision is
    Hadoop's, as for Spark's own reads and writes: a path with no scheme
    follows ``fs.defaultFS``, which on a cluster is usually not local."""
    if fs.getScheme() != "file":
        return None
    return fs.makeQualified(jpath).toUri().getPath()


def _fs_claim_new(spark: SparkSession, path: str) -> bool:
    """Claim a path so exactly one of two concurrent creators wins.

    A path Hadoop resolves to the local file system (``_local_path``)
    keeps the kernel-atomic O_EXCL open (Hadoop's LocalFileSystem
    createNewFile is exists-then-create — NOT atomic). Any other uses
    FileSystem.createNewFile; HDFS signals the loser
    with FileAlreadyExistsException (mapped to False here), S3-like
    stores are last-writer-wins by nature — the same caveat every
    non-transactional table format carries."""
    fs, jpath, _ = _jfs(spark, path)
    local = _local_path(fs, jpath)
    if local is not None:
        try:
            fd = os.open(local, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o644)
        except FileExistsError:
            return False
        os.close(fd)
        return True
    try:
        return bool(fs.createNewFile(jpath))
    except Exception as e:  # HDFS raises instead of returning False
        # Identify the loser by the Java exception CLASS when py4j
        # exposes it — a RemoteException wrapper can reword the message,
        # and an unrecognized loser would otherwise surface as an opaque
        # crash instead of the clean "series already exists" error. The
        # substring check stays as the fallback for wrapped/stringified
        # forms that only carry the class name in the text.
        jexc = getattr(e, "java_exception", None)
        if jexc is not None:
            try:
                if "FileAlreadyExists" in jexc.getClass().getName():
                    return False
            except Exception:
                pass
        if "FileAlreadyExists" in str(e):
            return False
        raise


def _rename_checked(fs, src, dst) -> None:
    """Non-overwriting rename of Hadoop Path ``src`` to ``dst`` on ``fs``.

    Hadoop reports a failed rename by RETURNING false, so raise instead
    of letting a failed swap cascade into deleting live data. HDFS
    refuses to overwrite by itself; LocalFileSystem silently replaces an
    existing file and nests a directory source inside an existing
    directory, so an explicit exists-guard runs first (best-effort — a
    true CAS needs a transactional table format)."""
    if fs.exists(dst):
        raise IOError(f"rename failed, destination exists: {src} -> {dst}")
    if not fs.rename(src, dst):
        raise IOError(f"rename failed: {src} -> {dst}")


def _fs_rename_overwrite(spark: SparkSession, src: str, dst: str) -> None:
    """Atomic overwrite-rename (the os.replace analog) via FileContext
    with Options.Rename.OVERWRITE — the only portable way to atomically
    replace an existing file across local/HDFS semantics."""
    gw = spark.sparkContext._gateway
    jvm = gw.jvm
    conf = spark._jsc.hadoopConfiguration()
    fs, jsrc0, _ = _jfs(spark, src)
    # qualify through the FileSystem so relative paths resolve exactly
    # as the other helpers (and the os.replace this replaces) resolved
    # them — FileContext alone would resolve against the user HOME
    jsrc = fs.makeQualified(jsrc0)
    jdst = fs.makeQualified(jvm.org.apache.hadoop.fs.Path(dst))
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(jsrc.toUri(), conf)
    Rename = jvm.org.apache.hadoop.fs.Options.Rename
    opts = gw.new_array(Rename, 1)
    opts[0] = Rename.OVERWRITE
    fc.rename(jsrc, jdst, opts)


# -- the one write path: layout writer + per-day swap -----------------------

def _drop_sink_log(spark: SparkSession, path: str) -> None:
    """Remove a streaming file sink's ``_spark_metadata`` log under
    ``path``. The store's own reads never consult it (``_read_days``
    names day dirs; Spark trusts a sink log only when it reads the dir
    that holds it), but a third-party ``spark.read.parquet(path)`` of the
    root does and lists only the files the log registered — which a swap
    has just replaced."""
    fs, _, jvm = _jfs(spark, path)
    fs.delete(jvm.org.apache.hadoop.fs.Path(f"{path}/_spark_metadata"), True)


def _write_days(
    df: DataFrame, path: str, mode: str, codec: str, max_rpf: int | None, files_per_day: int
) -> None:
    """Write ``df`` (series columns plus ``date``) in the store's layout:
    one ``date=`` dir per UTC day, rows sorted by ``ts`` inside every file.

    The shuffle key is ``date`` (each day's rows land in one task, so one
    file per day per write), or ``(date, pmod(xxhash64(ts), n))`` when
    ``files_per_day = n > 1`` so one heavy day spreads over n writer
    tasks — the layout contract is only "sorted by ts within each file",
    which any file count satisfies. ``codec`` / ``max_rpf`` are the
    series' A9 knobs (parquet codec, rows-per-file cap)."""
    # Spark's default INT96 timestamps carry NO row-group min/max, which
    # would void read_range's footer skipping. Set here, not only in
    # TimeSeriesTable.__init__, so an out-of-band compaction on a session
    # that never opened the table still writes skippable files.
    df.sparkSession.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    key = [F.col(DATE_COL)]
    if files_per_day > 1:
        key.append(F.pmod(F.xxhash64(TS_COL), F.lit(files_per_day)))
    # Sort by (date, ts), not just ts: the dynamic-partition writer
    # requires task rows ordered by the partition column and inserts its
    # own UNSTABLE sort on `date` when they are not — which silently
    # destroys the in-file ts order. Sorting by the full prefix satisfies
    # the writer's requirement so no extra sort runs.
    writer = (
        df.repartition(*key)
        .sortWithinPartitions(DATE_COL, TS_COL)
        .write.mode(mode)
        .partitionBy(DATE_COL)
        .option("compression", codec)
    )
    if max_rpf:
        writer = writer.option("maxRecordsPerFile", str(max_rpf))
    writer.parquet(path)


def rewrite_days(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    suffix: str,
    codec: str,
    max_rpf: int | None,
    files_per_day: int = 1,
) -> None:
    """Replace the day partitions ``df`` holds, one day at a time.

    ``df`` is written with ``_write_days`` to ``path + suffix``; every
    ``date=`` dir that write produced is then swapped in: the live dir is
    renamed to ``date=…__precompact``, the rewritten dir renamed in, the
    backup dropped. Days the rewrite did not produce and the root's own
    files (``_ts_meta.json``, ``_ts_versions/``) are never touched, so the
    series path never goes missing; a reader that lists the days between
    a day's two renames misses at most that day, and one that named the
    day just before fails on the missing dir (as a read whose files were
    already listed fails on the replaced files). The temp dir is removed
    in every case.

    A ``__precompact`` marker left by a crashed run for ANY of the days
    aborts before the first rename. A failed rename-in puts the live dir
    back (best-effort; never masking the original error). The streaming
    sink's log is dropped before the swap (``_drop_sink_log``). MUST run
    with any writing stream stopped (or between availableNow runs): a
    micro-batch writing into a day being swapped can be lost with the
    replaced dir, and an active FileStreamSink would recreate the log
    listing only its next batch, hiding every other file from readers of
    the root."""
    tmp = path + suffix
    fs, _, jvm = _jfs(spark, path)
    hpath = jvm.org.apache.hadoop.fs.Path
    try:
        _write_days(df, tmp, "overwrite", codec, max_rpf, files_per_day)
        days = sorted(n for n in _fs_list_names(spark, tmp) if n.startswith(f"{DATE_COL}="))
        for d in days:
            if fs.exists(hpath(f"{path}/{d}__precompact")):
                raise IOError(
                    f"leftover {path}/{d}__precompact from a crashed rewrite; "
                    "resolve it manually before re-running"
                )
        _drop_sink_log(spark, path)
        for d in days:
            live, new, old = (hpath(f"{path}/{d}"), hpath(f"{tmp}/{d}"),
                              hpath(f"{path}/{d}__precompact"))
            if fs.exists(live):
                _rename_checked(fs, live, old)
            try:
                _rename_checked(fs, new, live)
            except Exception:
                # BEST-EFFORT roll back so the day never vanishes from the
                # table — but never let a failing rollback (e.g. a
                # reoccupied destination) mask the original error.
                try:
                    if fs.exists(old) and not fs.exists(live):
                        fs.rename(old, live)
                except Exception:
                    pass
                raise
            fs.delete(old, True)
    finally:
        fs.delete(hpath(tmp), True)


# -- the one read path: named day dirs under the series root ---------------

def _list_days(spark: SparkSession, path: str) -> list:
    """Sorted dates of the ``date=YYYY-MM-DD`` dirs under ``path``, from
    directory names only (one listing, no data read). Other entries —
    root files, ``date=…__precompact`` swap backups — are skipped."""
    out = []
    for n in _fs_list_names(spark, path):
        if n.startswith(f"{DATE_COL}="):
            try:
                out.append(date.fromisoformat(n.split("=", 1)[1]))
            except ValueError:
                pass
    return sorted(out)


def _read_days(spark: SparkSession, path: str, days, schema: T.StructType | None) -> DataFrame:
    """The store's one reader: ``schema`` plus the ``date`` partition
    column over exactly the ``date=`` dirs of ``days`` under ``path``.
    An element of ``days`` may also be a path relative to ``path`` (a
    snapshot's manifest file). ``basePath`` keeps ``date`` a partition
    column, so date predicates stay partition filters.

    A read never lists more than the dirs it names, so its cost follows
    the days it covers, not the table. It also never consults a
    streaming sink's ``_spark_metadata`` log (Spark trusts that log only
    when it reads the one dir that holds it): a day read sees
    batch-appended files next to sink-written ones, and also any file a
    micro-batch wrote but never committed (see ``ingest_stream``).

    No days gives an empty frame of the schema. ``schema=None`` infers it
    from the files (a bare parquet tree with no ``_ts_meta.json``)."""
    if schema is not None:
        schema = T.StructType(list(schema.fields) + [T.StructField(DATE_COL, T.DateType())])
    if not days:
        return spark.createDataFrame([], schema)
    reader = spark.read.option("basePath", path)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(*[
        os.path.join(path, d if isinstance(d, str) else f"{DATE_COL}={d}") for d in days
    ])


class TimeSeriesTable:
    """Handle over one date-partitioned, ts-sorted Parquet series."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        compression: str = "zstd",
        max_records_per_file: int | None = None,
    ):
        self.spark = spark
        self.path = path
        self.schema = schema
        self.compression = compression
        self.max_records_per_file = max_records_per_file
        # UTC is load-bearing, not cosmetic: to_date(ts) decides which
        # day partition a row lands in, and read_range's literals are
        # interpreted in session TZ. The reference pins everything to
        # UTC (pytz-based converters); so do we, even on a caller's
        # un-configured session.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        # Spark's default INT96 parquet timestamps carry NO row-group
        # min/max stats — files appended by this table would be
        # un-skippable on ts, voiding read_range's footer-pruning
        # contract. INT64 micros restores stats (see session.py).
        spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")

    # -- A1: create ---------------------------------------------------------
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        name: str,
        schema: T.StructType,
        ts_col: str = TS_COL,
        compression: str = "zstd",
        max_records_per_file: int | None = None,
    ) -> "TimeSeriesTable":
        """Create an empty series with a declared schema.

        Mirrors ``File.create_ts(where, name, description)``: the schema
        is fixed up front and must contain a timestamp column (the
        reference requires ``timestamp = Int64Col(pos=0)``; we require a
        TimestampType column named ``ts_col``).

        ``compression`` / ``max_records_per_file`` are the A9 storage
        knobs (the reference's PyTables ``Filters(complib=...)`` +
        chunkshape passthrough, SURVEY.md §2 A9): the parquet codec every
        write to this series uses, and an optional cap on rows per file
        (the writer splits output files at the cap — the row-group/file
        sizing lever at 100 TB, where too-large files hurt task
        granularity and too-small ones drown the scan in footer
        overhead). Both persist in the series metadata, so every future
        ``open`` + ``append`` applies them without re-stating.
        """
        if ts_col not in schema.fieldNames():
            raise TimeSeriesTableError(f"schema must contain a '{ts_col}' column")
        if DATE_COL in schema.fieldNames():
            # append/upsert derive the partition column from ts; a
            # same-named data column would be silently overwritten.
            raise TimeSeriesTableError(
                f"'{DATE_COL}' is the reserved partition column; rename it in the schema"
            )
        field = schema[ts_col]
        if not isinstance(field.dataType, T.TimestampType):
            raise TimeSeriesTableError(f"'{ts_col}' must be TimestampType, got {field.dataType}")
        if compression.lower() not in _CODECS:
            raise TimeSeriesTableError(
                f"unsupported compression {compression!r}: choose from {sorted(_CODECS)}"
            )
        if max_records_per_file is not None and max_records_per_file <= 0:
            raise TimeSeriesTableError("max_records_per_file must be positive")
        path = _series_path(root, name)
        _fs_mkdirs(spark, path)
        meta_path = os.path.join(path, _META_FILE)
        # createNewFile makes the exists-check-and-claim one atomic step,
        # so two concurrent creators can't both think they won the race
        # (the FS-API analog of the local O_EXCL this used before —
        # which silently did nothing against an hdfs:// or s3a:// root).
        if not _fs_claim_new(spark, meta_path):
            raise TimeSeriesTableError(f"series already exists at {path}")
        _fs_write_text(
            spark,
            meta_path,
            json.dumps(
                {
                    "schema": schema.jsonValue(),
                    "ts_col": ts_col,
                    "version": 1,
                    "compression": compression.lower(),
                    "max_records_per_file": max_records_per_file,
                }
            ),
        )
        return cls(spark, path, schema, compression.lower(), max_records_per_file)

    # -- A2: open -----------------------------------------------------------
    @classmethod
    def open(cls, spark: SparkSession, root: str, name: str) -> "TimeSeriesTable":
        """Open an existing series (``File.get_timeseries`` analog)."""
        path = _series_path(root, name)
        meta_path = os.path.join(path, _META_FILE)
        if not _fs_exists(spark, meta_path):
            raise TimeSeriesTableError(f"no series at {path}")
        meta = json.loads(_fs_read_text(spark, meta_path))
        schema = T.StructType.fromJson(meta["schema"])
        return cls(
            spark,
            path,
            schema,
            meta.get("compression", "zstd"),
            meta.get("max_records_per_file"),
        )

    # -- A3: append ---------------------------------------------------------
    def append(self, df: DataFrame, strict_order: bool = False, files_per_day: int = 1) -> None:
        """Append a batch, split into UTC-day partitions, sorted by ts.

        Reference behavior (``TsTable.append``): convert the pandas
        DatetimeIndex to int64 ms, verify the batch starts at-or-after the
        current max timestamp, group rows by UTC day, append each group to
        its day table. Spark-first translation: derive ``date`` and
        ``mode("append")`` the batch through ``_write_days`` — one shuffle
        keyed on the (low-cardinality, time-ordered) date, so each day's
        rows land in one task → one ts-sorted file per day per batch, and
        each executor writes only the partitions it owns. For heavy
        single-day backfills pass ``files_per_day > 1``: the key gains a
        ts-hash bucket so one day's rows spread over N writer tasks.
        """
        self._check_schema(df)
        # ONE validation job for both checks (null timestamps + batch
        # min) instead of separate count and min jobs: an expensive
        # upstream plan is evaluated twice total (validate + write), not
        # three times. Residual caveat, unchanged by the fold: a
        # NON-deterministic input (sample(), rand()-derived) can still
        # pass validation on one evaluation and write different rows on
        # the next — persist such inputs before appending.
        stats = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(TS_COL).alias("n_ts"),
            F.min(TS_COL).alias("mn"),
        ).collect()[0]
        if stats["n"] != stats["n_ts"]:
            raise TimeSeriesTableError("null timestamps not allowed")
        if strict_order:
            cur = self.max_dt()
            if cur is not None:
                new_min = stats["mn"]
                if new_min is not None and new_min.tzinfo is None:
                    new_min = new_min.replace(tzinfo=timezone.utc)
                if new_min is not None and new_min < cur:
                    raise TimeSeriesTableError(
                        f"append-only order violated: batch min {new_min} < current max {cur}"
                    )
        _write_days(
            df.withColumn(DATE_COL, F.to_date(F.col(TS_COL))), self.path, "append",
            self.compression, self.max_records_per_file, files_per_day,
        )

    # -- A3+: upsert (late-data correction merge) ---------------------------
    def upsert(self, df: DataFrame, keys: list[str] | None = None) -> None:
        """Merge a correction batch into the series: rows whose identity
        (``keys``, default the timestamp column) already exists are
        REPLACED by the batch's version; new identities are inserted.
        The reference is append-only — this is the late-data correction
        path every production tick store eventually needs (a bad print
        revised by the exchange, a re-stated bar).

        Scale shape: the merge touches ONLY the UTC-day partitions the
        batch covers. Affected dates are collected to the driver (one
        value per touched day — contract-small), the existing rows for
        just those days are read back partition-pruned, and old+new are
        combined with a partial-agg ``max(struct(__src, ...))`` keyed on
        identity (batch wins over table; ties within a side resolve by
        the row's own ordering — deterministic). ``rewrite_days`` writes
        the merged days to the side and swaps them in one day at a time
        (the protocol ``compact_series`` uses too). Cost is
        O(touched days' data), not O(table) — at 100 TB a day's
        correction never rewrites years of history.

        Contract: identities must be date-stable — a correction may not
        move a row to a different UTC day. The merge groups on
        (identity, date), so if that contract is violated the old day's
        copy SURVIVES untouched (visible, fixable) — it is never
        silently collapsed away, even when both days happen to be in the
        touched set. Corrections that genuinely re-time a row across
        days are a delete+insert.

        The read names the touched days' dirs (``_read_days``), so on a
        series a streaming file sink also writes to it merges sink-written
        and batch-appended files alike — and any file a micro-batch
        wrote but never committed. Run with that stream stopped, as for
        ``compact_series``.
        """
        self._check_schema(df)
        cols = self.schema.fieldNames()
        keys = list(keys) if keys else [TS_COL]
        unknown = [k for k in keys if k not in cols]
        if unknown:
            raise TimeSeriesTableError(f"upsert keys not in schema: {unknown}")
        reserved = {"__src", "__m"} & set(cols)
        if reserved:
            raise TimeSeriesTableError(
                f"upsert reserves column names {sorted(reserved)}; rename them in the schema"
            )
        # The merge orders rows via max(struct(...)); every column must be
        # orderable or the failure is an opaque AnalysisException later.
        unorderable = [
            f.name for f in self.schema.fields if isinstance(f.dataType, T.MapType)
        ]
        if unorderable:
            raise TimeSeriesTableError(
                f"upsert cannot merge non-orderable (map-typed) columns: {unorderable}"
            )

        value_cols = [c for c in cols if c not in keys]
        dated_new = df.withColumn(DATE_COL, F.to_date(F.col(TS_COL)))
        # One job does double duty: the distinct-dates collect also
        # surfaces null timestamps (a null ts derives a null date).
        dates = [r[0] for r in dated_new.select(DATE_COL).distinct().collect()]
        if None in dates:
            raise TimeSeriesTableError("null timestamps not allowed")
        if not dates:
            return
        touched = set(dates)
        existing = self._read([d for d in self._partition_dates() if d in touched])
        tagged_old = existing.select(*cols, DATE_COL).withColumn("__src", F.lit(0))
        tagged_new = dated_new.select(*cols, DATE_COL).withColumn("__src", F.lit(1))
        # Group on (identity, date), NOT identity alone: if the same
        # identity exists on two touched days (a violated date-stability
        # contract), grouping by identity alone would MERGE the two
        # table rows and silently delete one on rewrite. Per-day
        # grouping replaces within each day and leaves the cross-day
        # duplicate visible instead of losing it.
        merged = (
            tagged_old.unionByName(tagged_new)
            .groupBy(*keys, DATE_COL)
            .agg(F.max(F.struct("__src", *value_cols)).alias("__m"))
            .select(*keys, *[F.col(f"__m.{c}").alias(c) for c in value_cols], DATE_COL)
            .select(*cols, DATE_COL)
        )

        rewrite_days(
            self.spark, self.path, merged, "__upserting",
            self.compression, self.max_records_per_file,
        )

    # -- A2+: schema evolution ----------------------------------------------
    def evolve(self, new_schema: T.StructType) -> None:
        """Widen the series schema by ADDING nullable columns — without
        rewriting a single existing file. The reference's schema is
        frozen at create_ts; a long-lived 100 TB series can't be: new
        telemetry fields arrive, and rewriting years of parquet to add
        a null column is exactly the O(table) cost this layout avoids.

        Only additive evolution is allowed (every existing field kept
        with an identical type, new fields nullable) — renames, drops
        and type changes are rejected: they would require a rewrite to
        stay consistent, and silently reinterpreting old files is how
        engines corrupt history. Reads need no mergeSchema scan-side
        inference: ``_read_days`` already passes the declared schema, and
        Spark's parquet reader fills columns missing from a file with
        nulls — so old files serve the new schema for free and
        partition pruning/pushdown are unchanged.
        """
        old = {f.name: f.dataType for f in self.schema.fields}
        new = {f.name: f.dataType for f in new_schema.fields}
        missing = [c for c in old if c not in new]
        if missing:
            raise TimeSeriesTableError(f"evolve cannot drop columns: {missing}")
        changed = [c for c in old if new[c] != old[c]]
        if changed:
            raise TimeSeriesTableError(
                f"evolve cannot change column types: {changed}"
            )
        for f in new_schema.fields:
            if f.name not in old and not f.nullable:
                raise TimeSeriesTableError(
                    f"new column '{f.name}' must be nullable (old files have no values)"
                )
        old_nullable = {f.name: f.nullable for f in self.schema.fields}
        tightened = [
            f.name
            for f in new_schema.fields
            if f.name in old_nullable and old_nullable[f.name] and not f.nullable
        ]
        if tightened:
            # Existing files may already hold nulls; declaring the column
            # non-nullable would let the optimizer miscompile null checks.
            raise TimeSeriesTableError(
                f"evolve cannot tighten columns to non-nullable: {tightened}"
            )
        if DATE_COL in new:
            raise TimeSeriesTableError(
                f"'{DATE_COL}' is the reserved partition column; rename it in the schema"
            )
        meta_path = os.path.join(self.path, _META_FILE)
        meta = json.loads(_fs_read_text(self.spark, meta_path))
        meta["schema"] = new_schema.jsonValue()
        tmp = meta_path + ".tmp"
        _fs_write_text(self.spark, tmp, json.dumps(meta))
        _fs_rename_overwrite(self.spark, tmp, meta_path)
        self.schema = new_schema

    # -- internal: schema gate, read with pruning -------------------------
    def _check_schema(self, df: DataFrame) -> None:
        got = {f.name: f.dataType for f in df.schema.fields}
        want = {f.name: f.dataType for f in self.schema.fields}
        if got != want:
            raise TimeSeriesTableError(f"schema mismatch: got {got}, want {want}")

    def _read(self, days) -> DataFrame:
        return _read_days(self.spark, self.path, days, self.schema)

    def to_df(self) -> DataFrame:
        """Whole series as a DataFrame (without the derived date column)."""
        return self._read(self._partition_dates()).select(*self.schema.fieldNames())

    # -- A4: read_range -----------------------------------------------------
    def _projected_names(self, columns: list[str] | None, op: str) -> list[str]:
        """Validated output column list for read_range/read_at: ts + the
        requested value columns, de-duped preserving order; unknown names
        raise immediately (matching append's schema strictness)."""
        names = self.schema.fieldNames()
        if columns is None:
            return names
        unknown = [c for c in columns if c not in names]
        if unknown:
            raise TimeSeriesTableError(
                f"{op} columns not in series schema: {unknown}"
            )
        seen: set[str] = {TS_COL}
        return [TS_COL] + [c for c in columns if not (c in seen or seen.add(c))]

    @staticmethod
    def _pandas_shape(pdf):
        """The reference's output shape: tz-aware UTC DatetimeIndex named
        ts, sorted, with the ts column folded into the index."""
        idx = pdf[TS_COL]
        try:
            idx = idx.dt.tz_localize("UTC")
        except TypeError:  # already tz-aware
            idx = idx.dt.tz_convert("UTC")
        out = pdf.drop(columns=[TS_COL])
        out.index = idx.rename(TS_COL)
        return out.sort_index()

    def read_range(
        self, start: datetime, end: datetime, columns: list[str] | None = None
    ) -> DataFrame:
        """All rows with ``start <= ts <= end`` — inclusive both ends,
        exactly like ``TsTable.read_range`` (SURVEY.md §2 A4).

        Only the ``date=`` dirs from ``start``'s UTC day to ``end``'s are
        read (the reference's manual day-group walk), and the ``date
        BETWEEN`` predicate stays on top as a partition filter. The ``ts
        BETWEEN`` predicate is pushed to the Parquet reader, where
        row-group min/max stats — tight, thanks to the write-time sort —
        skip non-overlapping row groups (the reference's binary search).

        ``columns`` optionally projects the result to ``ts`` + the named
        value columns. The projection reaches the Parquet scan
        (``ReadSchema`` column pruning — asserted in tests), so a
        2-column read of a wide series pays for 2 columns of I/O, not
        the full row — the columnar advantage the reference's
        row-oriented HDF5 layout cannot offer. Unknown names raise
        immediately (matching the schema-strictness of append).
        """
        start, end = _as_utc(start), _as_utc(end)
        names = self._projected_names(columns, "read_range")
        days = [d for d in self._partition_dates() if start.date() <= d <= end.date()]
        return self._read(days).where(
            (F.col(DATE_COL) >= F.lit(start.date()))
            & (F.col(DATE_COL) <= F.lit(end.date()))
            & (F.col(TS_COL) >= F.lit(start))
            & (F.col(TS_COL) <= F.lit(end))
        ).select(*names)

    # -- pandas edge (the reference's native interface) ---------------------
    def append_pandas(self, pdf, strict_order: bool = False, files_per_day: int = 1) -> None:
        """Append a pandas DataFrame with a tz-aware DatetimeIndex — the
        reference's exact input shape (``TsTable.append(dataframe)``).
        Naive indexes are rejected like the reference's pytz validation;
        the index becomes the ``ts`` column (µs precision, UTC)."""
        import pandas as pd

        if not isinstance(pdf.index, pd.DatetimeIndex):
            raise TimeSeriesTableError("append_pandas requires a DatetimeIndex")
        if pdf.index.tz is None:
            raise TimeSeriesTableError(
                "DatetimeIndex must be tz-aware (the reference rejects naive timestamps)"
            )
        out = pdf.copy()
        out.insert(0, TS_COL, pdf.index.tz_convert("UTC").tz_localize(None))
        out = out.reset_index(drop=True)
        sdf = self.spark.createDataFrame(out, schema=self.schema)
        self.append(sdf, strict_order=strict_order, files_per_day=files_per_day)

    def read_range_pandas(
        self, start: datetime, end: datetime, columns: list[str] | None = None
    ):
        """``read_range`` returning the reference's output shape: a pandas
        DataFrame indexed by a tz-aware UTC DatetimeIndex (Arrow-backed
        collect; only the requested range crosses the driver).
        ``columns`` projects like ``read_range``."""
        return self._pandas_shape(self.read_range(start, end, columns).toPandas())

    def read_at_pandas(self, at: datetime, columns: list[str] | None = None):
        """``read_at`` in the reference's output shape (tz-aware UTC
        DatetimeIndex); only the winning timestamp's rows cross the
        driver. ``columns`` projects like ``read_at``."""
        return self._pandas_shape(self.read_at(at, columns).toPandas())

    # -- point lookup: latest row at-or-before an instant --------------------
    def read_at(self, at: datetime, columns: list[str] | None = None) -> DataFrame:
        """All rows bearing the LATEST timestamp at-or-before ``at`` —
        the tick-data point lookup ("the quote as of 14:30:00") that the
        date-partitioned, ts-sorted layout makes metadata-cheap, and the
        single-series special case of the as-of join family
        (operators/asof.py).

        Cost discipline mirrors ``min_dt``/``max_dt`` (``_walk_days``):
        walk date partitions from ``at`` backwards, one single-dir top-1
        probe (one job) per day until a day holds a row at-or-before
        ``at``, then read exactly that timestamp's rows from that dir.
        Batch writes never leave an empty ``date=`` dir, so that is at
        most two probes (``at``'s own day, then the newest earlier day),
        independent of table size; a streaming micro-batch whose job
        aborted can leave one, which costs one more probe.
        Returns an empty DataFrame when no row exists at-or-before
        ``at``. ``columns`` projects like ``read_range`` (ReadSchema
        pruning). Multiple rows sharing the winning timestamp are all
        returned — deterministic, and consistent with read_range's
        inclusive contract."""
        at = _as_utc(at)
        names = self._projected_names(columns, "read_at")
        found = self._walk_days(True, last=at.date(), cond=F.col(TS_COL) <= F.lit(at))
        if found is None:
            return self._read([]).select(*names)
        d, hit = found
        return self._read([d]).where(F.col(TS_COL) == F.lit(hit)).select(*names)

    # -- A5/A6: min/max -----------------------------------------------------
    def _partition_dates(self) -> list:
        """Sorted dates of this series' day partitions (``_list_days``) —
        the reference's y/m/d group enumeration; a root Hadoop does not
        resolve to the local file system is listed through its API."""
        return _list_days(self.spark, self.path)

    def _walk_days(self, reverse: bool, last=None, cond=None):
        """``(day, ts)``: the earliest ``ts`` of the oldest day partition
        holding a row that matches ``cond`` — or, ``reverse``, the latest
        ``ts`` of the newest such day up to ``last``. None when no day
        qualifies.

        One Spark job per probed day: each probe is a top-1 over ONE
        day dir's ``ts`` column (a shuffle-free TakeOrderedAndProject),
        so the cost is the number of days probed, independent of total
        table size."""
        days = [d for d in self._partition_dates() if last is None or d <= last]
        order = F.col(TS_COL).desc() if reverse else F.col(TS_COL).asc()
        for d in (reversed(days) if reverse else days):
            df = self._read([d])
            if cond is not None:
                df = df.where(cond)
            top = df.select(TS_COL).orderBy(order).limit(1).collect()
            if top:
                return d, top[0][0]
        return None

    def _edge_dt(self, reverse: bool) -> datetime | None:
        """Reference semantics (``TsTable.min_dt``/``max_dt``): walk day
        partitions from the edge inward until one holds data."""
        found = self._walk_days(reverse)
        # collect() yields naive datetimes in session TZ (UTC, pinned in
        # __init__); return tz-aware UTC like the reference's
        # pytz-localized min_dt/max_dt.
        return None if found is None else found[1].replace(tzinfo=timezone.utc)

    def min_dt(self) -> datetime | None:
        """Earliest timestamp (edge-partition walk, not a full scan)."""
        return self._edge_dt(reverse=False)

    def max_dt(self) -> datetime | None:
        """Latest timestamp (edge-partition walk, not a full scan)."""
        return self._edge_dt(reverse=True)

    # -- lifecycle: retention purge -----------------------------------------
    def purge_before(self, cutoff) -> list:
        """Drop every whole-day partition strictly older than ``cutoff``
        (a date, or a datetime whose UTC date is used). Returns the list
        of purged partition dates.

        This is the data-lifecycle half the reference never needed (an
        .h5 file you delete whole) but a 100 TB series cannot live
        without: retention is a METADATA operation — enumerate partition
        directory names, delete the expired ones — cost O(days dropped),
        never a scan or rewrite of surviving data. Deletes go through
        the Hadoop FileSystem API so the same code runs on HDFS/S3.
        Partition granularity is the contract (like SQL engines'
        DROP PARTITION): a cutoff inside a day does not split that day —
        callers wanting sub-day trims rewrite via upsert/compact.

        Snapshots recorded before a purge refer to deleted files — purge
        is this layout's VACUUM, and invalidates older versions
        (documented in ``snapshot``)."""
        if isinstance(cutoff, datetime):
            cutoff = _as_utc(cutoff).date()
        if not isinstance(cutoff, date):
            raise TimeSeriesTableError(f"cutoff must be a date/datetime, got {type(cutoff)}")
        fs, _, jvm = _jfs(self.spark, self.path)
        purged = []
        for d in self._partition_dates():
            if d < cutoff:
                day = os.path.join(self.path, f"{DATE_COL}={d}")
                fs.delete(jvm.org.apache.hadoop.fs.Path(day), True)
                purged.append(d)
        return purged

    # -- lifecycle: snapshots / time travel ---------------------------------
    def _versions_dir(self) -> str:
        return os.path.join(self.path, "_ts_versions")

    def snapshot(self) -> int:
        """Record the series' current data-file set as a new version;
        returns the version number. ``read_version`` later reconstructs
        exactly this state — time travel for audits and reproducible
        training runs ("the corpus as of the Tuesday snapshot").

        Design: a version is a MANIFEST (relative paths of live data
        files), like Delta/Iceberg snapshots but without a transaction
        log — appends here are directory-append-only, so a file listing
        IS a consistent snapshot. Cost is one recursive listing of the
        series (metadata-only; a production writer would record its own
        written-files list instead of re-listing — same manifest,
        no listing). Manifests pin logical file sets, NOT bytes:
        compaction/purge/upsert delete files, so older snapshots
        spanning rewritten days become unreadable — the standard
        vacuum trade every snapshotting table format makes."""
        manifest = [
            rel for rel in self._live_files()
            if rel.startswith(f"{DATE_COL}=") and rel.endswith(".parquet")
        ]
        _fs_mkdirs(self.spark, self._versions_dir())
        existing = self.versions()
        v = (existing[-1] + 1) if existing else 1
        tmp = os.path.join(self._versions_dir(), f"v{v}.json.tmp")
        _fs_write_text(self.spark, tmp, json.dumps({"version": v, "files": sorted(manifest)}))
        final = os.path.join(self._versions_dir(), f"v{v}.json")
        fs, jtmp, jvm = _jfs(self.spark, tmp)
        _rename_checked(fs, jtmp, jvm.org.apache.hadoop.fs.Path(final))
        return v

    def _live_files(self) -> set[str]:
        """Every file under the series root, relative to it — ONE
        recursive listing (metadata only). The root is qualified through
        the FileSystem first: listFiles returns Hadoop-normalized URIs, so
        prefix-matching the raw ``self.path`` spelling (e.g. file:///x vs
        file:/x) would match nothing."""
        fs, jroot, _ = _jfs(self.spark, self.path)
        base = fs.makeQualified(jroot).toString().rstrip("/") + "/"
        live = set()
        it = fs.listFiles(jroot, True)
        while it.hasNext():
            p = it.next().getPath().toString()
            if p.startswith(base):
                live.add(p[len(base):])
        return live

    def versions(self) -> list[int]:
        """Recorded snapshot versions, ascending."""
        names = _fs_list_names(self.spark, self._versions_dir())
        out = []
        for n in names:
            m = re.fullmatch(r"v(\d+)\.json", n)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def read_version(self, version: int) -> DataFrame:
        """The series exactly as of ``snapshot()`` number ``version``.

        Reads only the manifest's files (``_read_days`` over paths
        relative to the root), so date pruning on top of this frame still
        works. An empty manifest yields an empty frame of the declared
        schema."""
        vpath = os.path.join(self._versions_dir(), f"v{version}.json")
        if not _fs_exists(self.spark, vpath):
            raise TimeSeriesTableError(
                f"no snapshot v{version}; have {self.versions()}"
            )
        files = json.loads(_fs_read_text(self.spark, vpath))["files"]
        # ONE recursive listing instead of a per-file exists probe —
        # O(files) sequential RPCs against a remote store would add
        # seconds of pure metadata latency.
        live = self._live_files()
        missing = [rel for rel in files if rel not in live]
        if missing:
            raise TimeSeriesTableError(
                f"snapshot v{version} references files removed by a later "
                f"compact/purge/upsert (vacuum invalidates old versions): {missing[:3]}"
            )
        return self._read(files).select(*self.schema.fieldNames())


def list_series(root: str, spark: SparkSession | None = None) -> list[str]:
    """Names of all series under a catalog root (the reference's File
    holds many series groups; this is the directory-level analog).
    Pass ``spark`` to enumerate a remote (hdfs://, s3a://) root through
    the Hadoop FileSystem API; without it, local paths only."""
    if spark is not None:
        return sorted(
            n
            for n in _fs_list_names(spark, root)
            if _fs_exists(spark, os.path.join(root, n, _META_FILE))
        )
    if not _is_local_path(root):
        raise TimeSeriesTableError(
            f"remote catalog root {root!r} requires list_series(root, spark=...)"
        )
    try:
        names = os.listdir(root)
    except OSError:
        return []
    return sorted(
        n for n in names if os.path.exists(os.path.join(root, n, _META_FILE))
    )


def _as_utc(dt: datetime) -> datetime:
    """Naive datetimes are rejected by the reference; we interpret them as
    UTC but tz-aware input is normalized to UTC, matching the pytz-based
    converters in ``tstables/tstable.py``."""
    if dt.tzinfo is None:
        return dt.replace(tzinfo=timezone.utc)
    return dt.astimezone(timezone.utc)
