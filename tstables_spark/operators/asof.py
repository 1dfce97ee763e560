"""As-of join: for each left row, the most recent right row at-or-before
it (per key) — pandas ``merge_asof`` / DuckDB ``ASOF JOIN`` semantics,
built from a union + running ``last(ignorenulls)`` window.

Why this shape and not a range join: a naive non-equi join ("right.ts <=
left.ts") explodes to all prior rows per left row before picking the
max — quadratic per key. The union+window plan is a single shuffle on
the key, a within-partition sort on (time, side), and a linear running
carry-forward: exactly one pass, no explosion, spill-safe. At 100 TB
with a 1000-executor cluster this is the only shape that survives —
cost is O(|L|+|R|) shuffle + sort per key, and AQE's skew-join splitting
still applies to the shuffle.

Semantics matched to DuckDB ``ASOF LEFT JOIN ... ON l.key = r.key AND
l.ts >= r.ts``: inclusive (a right row exactly at the left timestamp
matches), left rows with no prior right row get nulls. Right side must
be unique per (key, time) for deterministic output — pre-aggregate
duplicates upstream (see plans/timeseries.py::join_asof).
"""

from __future__ import annotations

import warnings
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame, Observation, Window as W
from pyspark.sql import functions as F

from tstables_spark import _staging
from tstables_spark._staging import pin

_SIDE = "__asof_side"
_TIME = "__asof_time"
_KEY = "__asof_key"
_CARRY = "__asof_carry"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_by: str,
    right_by: str,
    right_values: Sequence[str],
    tolerance_seconds: int | None = None,
    direction: str = "backward",
) -> DataFrame:
    """Left as-of join; returns all left columns + ``right_values``
    (null where no right row at-or-before exists).

    ``tolerance_seconds`` bounds staleness (pandas ``merge_asof``'s
    ``tolerance``): a carried right row older than the bound is treated
    as absent — the match nulls out, it does not fall back to an even
    older row. Implemented by carrying the right row's own timestamp
    inside the struct and masking after the window; the plan is
    UNCHANGED (same single shuffle + linear carry-forward), the mask is
    one codegen'd comparison per output row on exact microseconds.

    ``direction`` (pandas ``merge_asof`` naming): ``"backward"`` picks
    the most recent right row at-or-BEFORE each left row; ``"forward"``
    the earliest right row at-or-AFTER it (the "next quote" join).
    Forward is the exact mirror — same single shuffle and linear pass,
    with the window frame flipped to current->following and a running
    ``first(ignorenulls)`` instead of ``last``; at equal timestamps the
    right row sorts on the inclusive side of the left row in both
    directions.

    ``"nearest"`` picks whichever of the two is closer in absolute
    time, preferring the backward match on exact ties (deterministic,
    and consistent with an exact-timestamp match having gap 0). Both
    running carries are computed over the SAME partitioning and sort,
    so the plan is still ONE shuffle + one sort (two window frames over
    it); ``tolerance_seconds`` bounds each side's staleness before the
    choice."""
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be 'backward', 'forward' or 'nearest', got {direction!r}"
        )
    if direction == "nearest":
        return _asof_nearest(
            left, right, left_on, right_on, left_by, right_by,
            right_values, tolerance_seconds,
        )
    backward = direction == "backward"
    left_cols = left.columns
    rts = F.col(right_on).alias("__rts")
    l = left.select(
        F.col(left_by).alias(_KEY),
        F.col(left_on).alias(_TIME),
        F.lit(1 if backward else 0).alias(_SIDE),
        F.lit(None).cast(
            right.select(F.struct(*right_values, rts).alias("s")).schema["s"].dataType
        ).alias(_CARRY),
        *[F.col(c) for c in left_cols],
    )
    r = right.select(
        F.col(right_by).alias(_KEY),
        F.col(right_on).alias(_TIME),
        F.lit(0 if backward else 1).alias(_SIDE),
        F.struct(*right_values, rts).alias(_CARRY),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_cols],
    )
    # Order (time, side): at equal timestamps the right row sorts on the
    # inclusive side of the left row — before it (side 0 < 1) for
    # backward, after it (side 1 > 0) for forward.
    if backward:
        w = (
            W.partitionBy(_KEY)
            .orderBy(_TIME, _SIDE)
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        carried = l.unionByName(r).withColumn(
            _CARRY, F.last(_CARRY, ignorenulls=True).over(w)
        )
    else:
        w = (
            W.partitionBy(_KEY)
            .orderBy(_TIME, _SIDE)
            .rowsBetween(W.currentRow, W.unboundedFollowing)
        )
        carried = l.unionByName(r).withColumn(
            _CARRY, F.first(_CARRY, ignorenulls=True).over(w)
        )
    fresh = F.lit(True)
    if tolerance_seconds is not None:
        gap = F.unix_micros(F.col(_TIME)) - F.unix_micros(F.col(f"{_CARRY}.__rts"))
        if not backward:
            gap = -gap
        fresh = gap <= tolerance_seconds * 1_000_000
    out = carried.where(F.col(_SIDE) == (1 if backward else 0)).select(
        *left_cols,
        *[F.when(fresh, F.col(f"{_CARRY}.{v}")).alias(v) for v in right_values],
    )
    return out


def stage_asof_layout(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_by: str,
    right_by: str,
    right_values: Sequence[str],
    table_name: str,
    path: str,
    num_buckets: int = 8,
) -> None:
    """Write the pre-unioned backward-as-of relation as a bucketed
    (key) + sorted (key, time, side) table with ONE file per bucket —
    the "pre-sorted bucket streaming" physical strategy (SURVEY §4):
    pay the as-of shuffle and sort ONCE at write time, so every
    subsequent ``asof_join_presorted`` read elides BOTH the Exchange
    and the Sort (FileSourceScanExec only claims the sort order when
    each bucket has a single file, hence the repartition before the
    bucketed write). This is exactly the trade the TimeSeriesTable
    layout makes for time-range scans, applied to the as-of union.

    Spark stopped CLAIMING bucketed-scan sort order by default in 3.0
    (SPARK-28632 — the claim is unsafe with multiple files per bucket);
    the READING session must therefore set
    ``spark.sql.legacy.bucketedTableScan.outputOrdering=true`` for the
    sort elision to plan (Spark still only applies the claim to
    single-file buckets — which the pre-write repartition here
    guarantees — so it cannot mis-order any other bucketed read). This
    function deliberately does NOT set that conf itself: mutating
    session-wide SQLConf as a hidden side effect of an operator call
    would silently change planning for every other bucketed scan in the
    caller's session (ADVICE r7). ``get_spark`` carries it in the
    engine defaults and ``plans/timeseries.py::join_asof_presorted_q``
    re-asserts it at the query boundary; a session without it still
    reads CORRECT results, just with a redundant in-partition Sort
    (pinned by the zero-Sort plan test in tests/test_operators.py)."""
    carry_t = right.select(
        F.struct(*right_values, F.col(right_on).alias("__rts")).alias("s")
    ).schema["s"].dataType
    union = _encode_asof_sides(
        left,
        right,
        left_on,
        right_on,
        left_by,
        right_by,
        right_values,
        left.columns,
        carry_t,
        lambda c: left.schema[c].dataType,
    )
    _write_asof_table(union, table_name, path, num_buckets)


def _write_asof_table(
    union: DataFrame, table_name: str, path: str, num_buckets: int
) -> None:
    """The shared physical writer of ``stage_asof_layout`` /
    ``append_asof_layout``: bucket by key with ONE file per bucket,
    sorted (key, time, side) — the layout every presorted read's
    Exchange/Sort elision depends on."""
    (
        union.repartition(num_buckets, F.col(_KEY))
        .write.bucketBy(num_buckets, _KEY)
        .sortBy(_KEY, _TIME, _SIDE)
        .option("path", path)
        .mode("overwrite")
        .saveAsTable(table_name)
    )


def append_asof_layout(
    spark,
    table_name: str,
    path: str,
    left: DataFrame | None = None,
    right: DataFrame | None = None,
    *,
    left_on: str | None = None,
    right_on: str | None = None,
    left_by: str | None = None,
    right_by: str | None = None,
    right_values: Sequence[str] = (),
    num_buckets: int = 8,
) -> None:
    """Append new left and/or right rows to a ``stage_asof_layout``
    table — the real-series-append path for a build-once layout. New
    rows are encoded exactly as staging encodes them (types taken from
    the STAGED schema, so the carry struct and null padding cannot
    drift), merged with the existing staged rows, and rewritten through
    the shared bucketed writer — every presorted read afterwards keeps
    its zero-Exchange / zero-Sort plan, asserted in tests.

    Honest cost: the rewrite re-shuffles and re-sorts O(|staged|+|new|)
    rows — unlike ``append_nsw_layout`` there is no expensive compute
    to skip (staging IS just the shuffle+sort), so what this saves is
    re-running the upstream plans that produced the original left/right
    (the staged table is self-contained; callers need only the delta).
    The existing rows are pinned (serialized MEMORY_AND_DISK) before
    the overwrite both to permit writing the path being read and to
    read them once. At 100 TB, use ``stage_asof_epoch_layout`` /
    ``append_asof_epoch_layout`` instead (r13, below): the
    epoch-PARTITIONED variant bounds every append to the touched
    epochs' partitions with the readers unchanged — this full-rewrite
    variant remains for small/single-epoch series where one sorted
    file per bucket (and therefore a zero-Sort read) matters more than
    append cost. Pass the same ``right_values`` order the table was
    staged with."""

    staged = spark.table(table_name)
    left_cols = [c for c in staged.columns if c not in (_KEY, _TIME, _SIDE, _CARRY)]
    carry_t = staged.schema[_CARRY].dataType
    parts = [staged]
    if left is not None or right is not None:
        parts.append(
            _encode_asof_sides(
                left,
                right,
                left_on,
                right_on,
                left_by,
                right_by,
                right_values,
                left_cols,
                carry_t,
                lambda c: staged.schema[c].dataType,
            )
        )
    merged = pin(reduce(DataFrame.unionByName, parts))
    _write_asof_table(merged, table_name, path, num_buckets)


_EPOCH = "__asof_epoch"


def _encode_asof_sides(
    left: DataFrame | None,
    right: DataFrame | None,
    left_on: str | None,
    right_on: str | None,
    left_by: str | None,
    right_by: str | None,
    right_values: Sequence[str],
    left_cols: Sequence[str],
    carry_t,
    left_type_of,
) -> DataFrame:
    """The canonical as-of row encoding, shared by the epoch-layout
    writers: left rows as (key, time, side=1, NULL carry, left cols),
    right rows as (key, time, side=0, carry struct, NULL-padded left
    cols). ``left_type_of(name)`` supplies the null-padding DataTypes
    (from the inputs at stage time, from the STAGED schema at append
    time so the encoding cannot drift). ALL FOUR layout writers
    (stage/append x single-epoch/epoch) share this encoder (r13), so
    the layouts' interchangeability-to-readers is structural, not
    reviewed; only asof_join/_asof_nearest keep inline copies (their
    encoding feeds a window directly, never a staged table)."""
    parts = []
    if left is not None:
        parts.append(
            left.select(
                F.col(left_by).alias(_KEY),
                F.col(left_on).alias(_TIME),
                F.lit(1).alias(_SIDE),
                F.lit(None).cast(carry_t).alias(_CARRY),
                *[F.col(c) for c in left_cols],
            )
        )
    if right is not None:
        rts = F.col(right_on).alias("__rts")
        parts.append(
            right.select(
                F.col(right_by).alias(_KEY),
                F.col(right_on).alias(_TIME),
                F.lit(0).alias(_SIDE),
                F.struct(*right_values, rts).alias(_CARRY),
                *[F.lit(None).cast(left_type_of(c)).alias(c) for c in left_cols],
            )
        )
    return reduce(DataFrame.unionByName, parts)


# Named epoch granularities: the auto-pick vocabulary, persisted per
# table (TBLPROPERTIES) so appends and recovery resolve the SAME epoch
# function knob-free — a mismatched function between stage and append
# would silently mis-place rows across partitions.
_EPOCH_GRANULARITY_PROP = "tstables.epoch_granularity"
# All three granularities read SESSION-CALENDAR fields (year/month/
# dayofmonth), so they agree on bucket membership with each other and
# with epoch_floor()'s calendar dates in ANY session timezone — a
# unix-day floor for "day" would bucket by UTC day while month/year
# bucket by session calendar, shifting retention boundaries by up to a
# day on non-UTC sessions (review r15). Day epochs are yyyymmdd ints:
# ordering matches time ordering, which is all expire/compact need.
_EPOCH_FNS = {
    "day": lambda t: F.year(t) * 10000 + F.month(t) * 100 + F.dayofmonth(t),
    "month": lambda t: F.year(t) * 100 + F.month(t),
    "year": F.year,
}


def auto_epoch_granularity(append_span_seconds: float | None = None) -> str:
    """Pick the epoch granularity from the expected APPEND-BATCH time
    span — the measured guidance (SCALE.md 100x granularity curve:
    year 6.1 s / month 2.1 s / day 1.2 s append vs 0.34 / 1.1 / 17.2 s
    read at the fixture's epoch counts) distilled to 'one append batch
    ~ one epoch': a batch much wider than its epoch rewrites many
    partitions per append; an epoch much wider than the batch rewrites
    the same big partition every append. ``None`` (cadence unknown)
    defaults to month — the fixture curve's sweet spot and the common
    production ingest cadence bracket."""
    if append_span_seconds is None:
        return "month"
    if append_span_seconds <= 2 * 86400:
        return "day"
    if append_span_seconds <= 45 * 86400:
        return "month"
    return "year"


def epoch_floor(granularity: str, d) -> int:
    """The epoch integer a date/datetime ``d`` lands in under a named
    granularity — the retention caller's bridge from a calendar horizon
    to ``expire_asof_epoch_layout(min_epoch=...)``."""
    if granularity == "year":
        return d.year
    if granularity == "month":
        return d.year * 100 + d.month
    if granularity == "day":
        return d.year * 10000 + d.month * 100 + d.day
    raise ValueError(f"unknown epoch granularity {granularity!r}")


def _persisted_epoch_granularity(spark, table_name: str) -> str | None:
    """The table's persisted granularity property value, or None when
    the table predates the property (SHOW TBLPROPERTIES returns a
    does-not-have-property sentinel string for missing keys — anything
    outside the vocabulary + 'custom' maps to None)."""
    rows = spark.sql(
        f"SHOW TBLPROPERTIES {table_name}('{_EPOCH_GRANULARITY_PROP}')"
    ).collect()
    val = rows[0]["value"] if rows else None
    return val if val == "custom" or val in _EPOCH_FNS else None


def _resolve_epoch_of(spark, table_name: str, epoch_of):
    """The epoch function an append/recovery must use: a caller-passed
    callable wins (the custom-function override); a granularity NAME
    resolves from the vocabulary AND must agree with the table's
    persisted granularity — appending epoch_of='year' to a month-staged
    table would silently mix epoch integer spaces, and a later expire
    with a month-space min_epoch (e.g. 199701) would drop live
    year-space partitions (2024 < 199701) — exactly the mis-placement
    the persistence exists to prevent (r15 advice). ``None`` resolves
    from the persisted property — and raises rather than guessing when
    the table predates the property or was staged with a custom
    callable (the caller must re-supply it)."""
    if callable(epoch_of):
        return epoch_of
    if isinstance(epoch_of, str):
        if epoch_of not in _EPOCH_FNS:
            raise ValueError(
                f"unknown epoch granularity {epoch_of!r} "
                f"(valid: {sorted(_EPOCH_FNS)})"
            )
        persisted = _persisted_epoch_granularity(spark, table_name)
        if persisted is not None and persisted != epoch_of:
            raise ValueError(
                f"{table_name} was staged with epoch granularity "
                f"{persisted!r} but this append/recovery passed "
                f"epoch_of={epoch_of!r}: mixing epoch integer spaces "
                f"would mis-place rows and break expire/compact epoch "
                f"arithmetic — pass epoch_of=None to resolve the "
                f"persisted granularity"
                + (
                    " (custom-callable tables must re-supply the callable)"
                    if persisted == "custom"
                    else ""
                )
            )
        return _EPOCH_FNS[epoch_of]
    val = _persisted_epoch_granularity(spark, table_name)
    if val in _EPOCH_FNS:
        return _EPOCH_FNS[val]
    raise ValueError(
        f"{table_name} has no persisted epoch granularity "
        f"({_EPOCH_GRANULARITY_PROP}={val!r}): it was staged with a custom "
        f"epoch_of callable (re-supply it) or predates the property"
    )


def stage_asof_epoch_layout(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_by: str,
    right_by: str,
    right_values: Sequence[str],
    table_name: str,
    path: str,
    epoch_of=None,
    num_buckets: int = 8,
    append_span_seconds: float | None = None,
) -> str:
    """``stage_asof_layout`` with BOUNDED APPEND I/O — the "per-epoch
    tables" answer its append docstring promises, realized as ONE table
    PARTITIONED BY a coarse time epoch and bucketed by key:

    - ``epoch_of`` (Column -> Column, e.g. ``lambda t: F.year(t) * 100
      + F.month(t)``) assigns every encoded row an integer epoch from
      its time; rows land in ``{path}/__asof_epoch=<e>/`` partitions.
      It may also be a granularity NAME (``"day"``/``"month"``/
      ``"year"``) or ``None`` — None auto-picks from
      ``append_span_seconds``, the caller's expected append-batch
      cadence (batch ~ one epoch; ``auto_epoch_granularity``). Named
      or auto granularities are PERSISTED as a table property, so
      ``append_asof_epoch_layout`` / ``recover_asof_epoch_append``
      called with ``epoch_of=None`` resolve the identical function
      knob-free; a custom callable is the documented override and
      must be re-supplied on every append. Returns the granularity
      name used (``"custom"`` for callables).
    - Appends (``append_asof_epoch_layout``) dynamic-overwrite ONLY the
      touched epochs' partitions — at 100 TB an append into the newest
      month rewrites that month, never the archive, vs
      ``append_asof_layout``'s honest O(|staged|+|new|) full rewrite.
    - Reads need NO epoch-aware logic: a bucketed scan merges every
      file of a bucket ACROSS partitions into one task, so all epochs
      of a key arrive in the same window partition and the running
      carry crosses epoch boundaries by construction —
      ``asof_join_presorted`` / ``_directional`` work unchanged (the
      extra ``__asof_epoch`` column passes through unselected), with
      ZERO Exchange at any epoch count. The only cost vs the
      single-epoch layout is the in-partition Sort Spark re-inserts
      when a bucket holds >1 file (multi-epoch reads; the legacy
      outputOrdering claim applies only to single-file buckets, so
      correctness never depends on the claim).

    The row encoding is ``_encode_asof_sides`` — byte-identical to
    ``stage_asof_layout``'s, so the two layouts are interchangeable to
    every reader."""
    if epoch_of is None:
        gran = auto_epoch_granularity(append_span_seconds)
    elif isinstance(epoch_of, str):
        if epoch_of not in _EPOCH_FNS:
            raise ValueError(
                f"unknown epoch granularity {epoch_of!r} "
                f"(valid: {sorted(_EPOCH_FNS)})"
            )
        gran = epoch_of
    else:
        gran = "custom"
    fn = epoch_of if gran == "custom" else _EPOCH_FNS[gran]
    carry_t = right.select(
        F.struct(*right_values, F.col(right_on).alias("__rts")).alias("s")
    ).schema["s"].dataType
    union = _encode_asof_sides(
        left,
        right,
        left_on,
        right_on,
        left_by,
        right_by,
        right_values,
        left.columns,
        carry_t,
        lambda c: left.schema[c].dataType,
    )
    (
        union.withColumn(_EPOCH, fn(F.col(_TIME)).cast("int"))
        .repartition(num_buckets, F.col(_KEY))
        .write.partitionBy(_EPOCH)
        .bucketBy(num_buckets, _KEY)
        .sortBy(_KEY, _TIME, _SIDE)
        .option("path", path)
        .mode("overwrite")
        .saveAsTable(table_name)
    )
    spark = left.sparkSession
    spark.sql(
        f"ALTER TABLE {table_name} SET TBLPROPERTIES"
        f"('{_EPOCH_GRANULARITY_PROP}'='{gran}')"
    )
    return gran


def _table_fs_root(spark, table_name: str):
    """(jvm, FileSystem, root Path, location str) of a catalog table's
    data directory — the shared resolution for every epoch-layout verb
    that touches bytes (expire's reclamation, the append commit
    marker). Raises rather than guessing: a mis-resolved location
    would silently skip byte work."""
    loc = None
    for r in spark.sql(f"DESC FORMATTED {table_name}").collect():
        if (r[0] or "").strip() == "Location":
            loc = (r[1] or "").strip()
            break
    if not loc:
        raise RuntimeError(
            f"cannot resolve the data location of {table_name}: "
            f"filesystem-level maintenance would silently skip — refusing"
        )
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(loc)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    return jvm, fs, root, loc


# Append commit marker: leading "_" makes it invisible to Spark's file
# listings (bucketed scans, compact's plain-parquet read), so only the
# lifecycle verbs ever see it.
_PENDING = "_asof_append_pending.json"


def _read_small_file(jvm, fs, jpath) -> bytes:
    """Driver-side read of a tiny FS file through the Hadoop API (works
    on any FileSystem, not just file:)."""
    inp = fs.open(jpath)
    try:
        try:
            # hadoop-common bundles commons-io; one RPC for the payload
            return bytes(
                jvm.org.apache.commons.io.IOUtils.toByteArray(inp)
            )
        except Exception:
            buf = bytearray()  # fallback: per-byte py4j read (marker ~200 B)
            while True:
                b = inp.read()
                if b < 0:
                    break
                buf.append(b)
            return bytes(buf)
    finally:
        inp.close()


def pending_asof_epoch_append(spark, table_name: str, _fsroot=None):
    """The commit marker of an epoch append that cannot be proven
    complete, or ``None``. A present marker means an
    ``append_asof_epoch_layout`` wrote it and never reached its
    completion line: the touched epochs (``epochs`` in the payload,
    ``null_partition`` for the NULL-time partition) may hold any of
    {old rows, a partial commit, the full new state} — re-running the
    append would DUPLICATE rows in already-committed epochs, so the
    next append refuses until ``recover_asof_epoch_append`` rebuilds
    the touched epochs from source (or the operator verifies the
    commit landed and calls ``clear_asof_epoch_append_marker``).

    ``_fsroot``: a precomputed ``_table_fs_root`` tuple — the append
    path resolves it once per call instead of paying three DESC
    FORMATTED collects (it sits on the streaming caller's per-batch
    wall). The marker is written atomically (temp + rename), so an
    unparseable payload is NOT a crash artifact — it is raised as a
    labeled error instead of guessed away: auto-clearing a marker we
    cannot read would waive exactly the duplication guard it exists
    for (manual remediation: inspect, then delete the file)."""
    import json

    jvm, fs, root, loc = _fsroot or _table_fs_root(spark, table_name)
    jpath = jvm.org.apache.hadoop.fs.Path(f"{loc}/{_PENDING}")
    if not fs.exists(jpath):
        return None
    raw = _read_small_file(jvm, fs, jpath)
    try:
        return json.loads(raw.decode("utf-8"))
    except ValueError as e:
        raise RuntimeError(
            f"{loc}/{_PENDING} exists but does not parse ({e}): the "
            f"table has an UNREADABLE pending-append marker. Refusing "
            f"to guess its epoch set — inspect the table, rebuild or "
            f"verify the suspect epochs, then delete the marker file."
        ) from e


def clear_asof_epoch_append_marker(spark, table_name: str, _fsroot=None) -> None:
    """Remove the append commit marker — the operator's explicit
    declaration that the touched epochs were verified or rebuilt."""
    jvm, fs, root, loc = _fsroot or _table_fs_root(spark, table_name)
    jpath = jvm.org.apache.hadoop.fs.Path(f"{loc}/{_PENDING}")
    if fs.exists(jpath) and not fs.delete(jpath, False):
        raise RuntimeError(f"could not delete {loc}/{_PENDING}")


def _write_pending_marker(jvm, fs, loc: str, payload: dict) -> None:
    """Atomically publish the commit marker: write a uniquely-named
    temp file, sync, then RENAME onto the final path. A crash
    mid-write leaves only an ignored temp orphan and NO marker — safe,
    because the marker write precedes every destructive byte. The
    rename also refuses to clobber an existing marker (HDFS-semantics
    rename onto an existing file returns false): a concurrent append
    to the same table fails LOUDLY here instead of silently voiding
    the first writer's crash detection.

    In-process concurrency (two streaming foreachBatch appends to one
    table) is serialized by the SAME process-wide lock the dynamic
    overwrite uses: POSIX rename silently REPLACES an existing
    destination (RawLocalFileSystem delegates to it), so the explicit
    exists-check below is check-then-act and only safe under the lock;
    cross-process publication on local FS stays best-effort, while
    HDFS-class stores enforce rename-refuses-existing themselves."""
    import json
    import uuid


    tmp = jvm.org.apache.hadoop.fs.Path(
        f"{loc}/{_PENDING}.{uuid.uuid4().hex[:8]}.tmp"
    )
    jpath = jvm.org.apache.hadoop.fs.Path(f"{loc}/{_PENDING}")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(payload).encode("utf-8")))
        try:
            out.hsync()
        except Exception:
            # non-syncable FileSystems (e.g. object stores without the
            # syncable downgrade) raise UnsupportedOperationException —
            # fall back to a flush; close() flushes either way, and the
            # temp+rename pattern is the real atomicity lever
            try:
                out.hflush()
            except Exception:
                pass
    finally:
        out.close()
    with _staging._OVERWRITE_LOCK:
        if fs.exists(jpath) or not fs.rename(tmp, jpath):
            fs.delete(tmp, False)
            raise RuntimeError(
                f"could not publish {loc}/{_PENDING} (a concurrent append's "
                f"marker already exists, or the FileSystem refused the "
                f"rename) — refusing to overwrite another writer's crash "
                f"evidence; resolve the pending append first"
            )


def append_asof_epoch_layout(
    spark,
    table_name: str,
    left: DataFrame | None = None,
    right: DataFrame | None = None,
    *,
    left_on: str | None = None,
    right_on: str | None = None,
    left_by: str | None = None,
    right_by: str | None = None,
    right_values: Sequence[str] = (),
    epoch_of=None,
    num_buckets: int = 8,
    idempotent: bool = False,
) -> None:
    """Append into a ``stage_asof_epoch_layout`` table, rewriting ONLY
    the epochs the new rows land in: new rows are encoded exactly as
    staging encodes them (types from the STAGED schema), their epoch
    set is collected (bounded — real appends land in one or few
    epochs), the touched epochs' existing rows are pinned (they are
    read from the very partitions the overwrite replaces), and the
    union is dynamic-partition-overwritten back. Untouched epochs'
    files are never opened, so append I/O is bounded by the touched
    epochs' size — the bound ``append_asof_layout`` cannot offer. The
    per-bucket repartition before the write restores ONE file per
    (epoch, bucket), so repeated appends into an epoch do not
    accumulate files.

    Crash contract: the write is a single dynamic overwrite. For the
    common one-epoch append it is all-or-nothing at the partition
    level; a multi-epoch append that fails mid-write may leave a
    subset of touched epochs committed, and RE-RUNNING WOULD DUPLICATE
    the new rows in the committed ones (as-of rows carry no unique id
    to anti-join on, unlike append_nsw_layout). The failure is
    DETECTED, not silent (r13 verdict #2): a commit marker
    (``_asof_append_pending.json``, hidden from every scan by its
    ``_`` prefix) is written with the touched-epoch set before the
    overwrite and removed after it completes — the expire verb's
    metadata-first discipline applied to append. A later append that
    finds the marker raises instead of duplicating; recovery is
    ``recover_asof_epoch_append`` (rebuild the touched epochs from
    source, bounded by their size) or manual verification plus
    ``clear_asof_epoch_append_marker``.

    ``idempotent=True``: append only the MULTISET DIFFERENCE of the
    new rows against the touched epochs' existing rows (``new
    exceptAll keep``), making a REPLAYED append a no-op — the contract
    the streaming caller needs, because foreachBatch is at-least-once
    and a crash after this append completes but before the streaming
    commit re-runs the same batch (the marker only covers crashes
    DURING the append). Scoped to the DELTA, not the union (review
    r14): pre-existing duplicate rows in the table — legitimate data
    under default appends — are passed through untouched, and a
    batch's own internal duplicates survive (multiset semantics).
    The one excluded case is a caller intentionally re-appending a row
    that already exists identically in its epoch as a NEW occurrence —
    indistinguishable from a replay without a unique id, so callers
    with that workload keep the default. Costs one extra all-column
    exchange over the touched-epoch rows.

    Pass ``epoch_of`` and parameter names identical to staging: they
    are physical parameters of the layout — ``None`` (or a granularity
    name) resolves the staged table's persisted granularity, so
    named-granularity layouts append knob-free; only custom-callable
    layouts must re-supply the callable."""

    epoch_of = _resolve_epoch_of(spark, table_name, epoch_of)
    staged = spark.table(table_name)
    cols_order = staged.columns  # partition column last, per saveAsTable
    left_cols = [
        c for c in cols_order if c not in (_KEY, _TIME, _SIDE, _CARRY, _EPOCH)
    ]
    carry_t = staged.schema[_CARRY].dataType
    if left is None and right is None:
        raise ValueError(
            "append_asof_epoch_layout needs left rows, right rows, or both"
        )
    fsroot = _table_fs_root(spark, table_name)  # once per append:
    # pending-check, marker write and marker clear all reuse it (three
    # DESC FORMATTED collects per call would sit on the streaming
    # caller's per-batch wall)
    stale = pending_asof_epoch_append(spark, table_name, _fsroot=fsroot)
    if stale is not None:
        raise RuntimeError(
            f"append_asof_epoch_layout({table_name}): a prior append's "
            f"commit marker is present — epochs {stale.get('epochs')}"
            f"{' + NULL partition' if stale.get('null_partition') else ''} "
            f"may be partially committed; appending again would duplicate "
            f"rows. Rebuild them from source with "
            f"recover_asof_epoch_append, or verify the commit landed and "
            f"clear_asof_epoch_append_marker."
        )
    union = _encode_asof_sides(
        left,
        right,
        left_on,
        right_on,
        left_by,
        right_by,
        right_values,
        left_cols,
        carry_t,
        lambda c: staged.schema[c].dataType,
    )
    # The touched-epoch set rides the delta's pin job as an observed
    # metric (the components.py observe() trick) — no separate
    # distinct-collect scan per append, which matters for the
    # streaming caller where the per-batch wall is job-floor-bound.
    obs = Observation()
    new = pin(
        union.withColumn(_EPOCH, epoch_of(F.col(_TIME)).cast("int")).observe(
            obs,
            F.collect_set(_EPOCH).alias("es"),  # collect_set drops NULLs
            F.sum(F.when(F.col(_EPOCH).isNull(), 1).otherwise(0)).alias("nnull"),
        )
    )
    epochs = list(obs.get["es"])  # bounded: appends land in few epochs
    # NULL-epoch rows (a NULL time -> NULL epoch) land in the hive
    # default partition, which the overwrite below rewrites like any
    # other touched partition — but isin() never matches NULL, so the
    # null partition's preserved rows need an explicit isNull branch
    # (silently dropping them was the data-loss bug a review caught).
    touched = F.col(_EPOCH).isin(epochs)
    if (obs.get["nnull"] or 0) > 0:
        touched = touched | F.col(_EPOCH).isNull()
    keep = pin(staged.where(touched))
    # Lock-serialized dynamic-overwrite toggle (see
    # _staging.dynamic_partition_overwrite): the per-write option is
    # silently ignored by insertInto, and an unserialized conf toggle
    # races under concurrent writers in one session — reachable here
    # via the streaming foreachBatch caller.
    # marker BEFORE the overwrite, removed only after it returns: the
    # keep-pin above is already materialized (eager checkpoint), so
    # everything after the marker is the destructive window
    jvm, fs, _root, loc = fsroot
    _write_pending_marker(
        jvm,
        fs,
        loc,
        {
            "table": table_name,
            "epochs": sorted(epochs),
            "null_partition": bool((obs.get["nnull"] or 0) > 0),
        },
    )
    if idempotent:
        # multiset delta: each new row is admitted only for occurrences
        # beyond those already present in the touched epochs
        new = new.exceptAll(keep.select(*new.columns))
    union_out = keep.unionByName(new)
    with _staging.dynamic_partition_overwrite(spark):
        (
            union_out
            .select(*cols_order)  # insertInto is positional
            .repartition(num_buckets, F.col(_KEY))
            .write.insertInto(table_name, overwrite=True)
        )
    clear_asof_epoch_append_marker(spark, table_name, _fsroot=fsroot)


def recover_asof_epoch_append(
    spark,
    table_name: str,
    left: DataFrame | None = None,
    right: DataFrame | None = None,
    *,
    left_on: str | None = None,
    right_on: str | None = None,
    left_by: str | None = None,
    right_by: str | None = None,
    right_values: Sequence[str] = (),
    epoch_of=None,
    num_buckets: int = 8,
) -> list:
    """Rebuild the epochs a crashed append left in an unprovable state:
    the documented recovery for ``append_asof_epoch_layout``'s commit
    marker. ``left``/``right`` are the SOURCE-OF-TRUTH rows whose
    encoding is the full intended content of the touched epochs —
    callers pass the complete source; rows landing outside the
    marker's epoch set are ignored (this verb never touches an
    unmarked partition). Each touched epoch is dynamic-overwritten
    with exactly its replacement rows; a touched epoch with NO
    replacement rows is dropped outright (catalog + bytes, the expire
    discipline) — a half-committed partition must not survive because
    the rebuild happens to be empty there. The marker is cleared LAST,
    so a crash during recovery leaves it in place and the recovery is
    re-runnable (same inputs -> same bytes, idempotent).

    Returns the sorted list of rebuilt epochs."""

    marker = pending_asof_epoch_append(spark, table_name)
    if marker is None:
        raise RuntimeError(
            f"recover_asof_epoch_append({table_name}): no pending-append "
            f"marker — nothing to recover"
        )
    if left is None and right is None:
        raise ValueError(
            "recover_asof_epoch_append needs the source-of-truth rows "
            "(left, right, or both); to DROP every marked epoch, pass "
            "an explicitly empty frame (e.g. source.limit(0)) — an "
            "all-drop recovery must be spelled out, not defaulted into"
        )
    epoch_of = _resolve_epoch_of(spark, table_name, epoch_of)
    staged = spark.table(table_name)
    cols_order = staged.columns
    left_cols = [
        c for c in cols_order if c not in (_KEY, _TIME, _SIDE, _CARRY, _EPOCH)
    ]
    carry_t = staged.schema[_CARRY].dataType
    union = _encode_asof_sides(
        left,
        right,
        left_on,
        right_on,
        left_by,
        right_by,
        right_values,
        left_cols,
        carry_t,
        lambda c: staged.schema[c].dataType,
    )
    targets = set(marker.get("epochs") or [])
    with_null = bool(marker.get("null_partition"))
    scope = F.col(_EPOCH).isin(sorted(targets))
    if with_null:
        scope = scope | F.col(_EPOCH).isNull()
    obs = Observation()
    repl = pin(
        union.withColumn(_EPOCH, epoch_of(F.col(_TIME)).cast("int"))
        .where(scope)
        .observe(
            obs,
            F.collect_set(_EPOCH).alias("es"),
            F.sum(F.when(F.col(_EPOCH).isNull(), 1).otherwise(0)).alias("nnull"),
        )
    )
    have = set(obs.get["es"])
    have_null = (obs.get["nnull"] or 0) > 0
    if have or have_null:
        with _staging.dynamic_partition_overwrite(spark):
            (
                repl.select(*cols_order)
                .repartition(num_buckets, F.col(_KEY))
                .write.insertInto(table_name, overwrite=True)
            )
    # empty rebuilds: drop the partition entirely — catalog AND bytes
    jvm, fs, _root, loc = _table_fs_root(spark, table_name)
    empty = sorted(targets - have) + (
        ["__HIVE_DEFAULT_PARTITION__"] if with_null and not have_null else []
    )
    for v in empty:
        spark.sql(
            f"ALTER TABLE {table_name} DROP IF EXISTS PARTITION ({_EPOCH}='{v}')"
        )
        jpath = jvm.org.apache.hadoop.fs.Path(f"{loc}/{_EPOCH}={v}")
        if fs.exists(jpath) and not fs.delete(jpath, True):
            raise RuntimeError(
                f"FileSystem refused to delete {loc}/{_EPOCH}={v} during "
                f"append recovery — marker left in place; re-run after "
                f"fixing storage permissions"
            )
    clear_asof_epoch_append_marker(spark, table_name)
    return sorted(targets)


def _refuse_on_pending_marker(spark, epoch_path: str, verb: str, _fs=None) -> None:
    """Lifecycle verbs that REWRITE or DELETE epoch bytes must refuse
    while a pending-append marker is present: compacting an unproven
    state bakes it into the classic table, and expiring epochs a
    crashed append touched destroys the evidence recovery needs. The
    check is path-based (compact only knows the data path);
    ``_fs=(jvm, fs)`` reuses a caller's already-resolved FileSystem."""
    jvm = _fs[0] if _fs else spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(f"{epoch_path}/{_PENDING}")
    fs = _fs[1] if _fs else jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(jpath):
        raise RuntimeError(
            f"{verb}({epoch_path}): a pending-append commit marker is "
            f"present — the table holds an UNPROVEN append state. "
            f"Recover first (recover_asof_epoch_append) or verify and "
            f"clear_asof_epoch_append_marker; refusing to "
            f"{'rewrite' if verb.startswith('compact') else 'delete'} "
            f"unproven epochs."
        )


def compact_asof_epoch_layout(
    spark,
    epoch_path: str,
    table_name: str,
    path: str,
    num_buckets: int = 8,
) -> None:
    """Compact a (now cold) ``stage_asof_epoch_layout`` table into the
    single-file-per-bucket classic layout — the OPTIMIZE step of the
    epoch lifecycle: while a series is hot, epoch appends keep write
    I/O bounded and reads pay one in-partition Sort (multi-file
    buckets); once it goes cold, one compaction pays that sort a final
    time at write and every subsequent read is zero-Exchange AND
    zero-Sort again (ts_compact's trade, applied to the as-of union).
    The rows are already encoded — this is a pure re-layout through
    the shared ``_write_asof_table`` writer.

    ``epoch_path`` is the epoch table's DATA PATH, read as plain
    parquet rather than through the catalog: the bucketed catalog scan
    reports a partitioning compatible with the writer's repartition,
    Catalyst collapses that shuffle, and the write then emits one file
    per (source task x bucket) — multiple files per bucket, which
    silently voids the single-file outputOrdering claim the compaction
    exists to restore (measured r13). The plain-parquet read carries no
    partitioning claim, so the repartition stands and each bucket gets
    exactly one sorted file.

    Refuses while a pending-append marker is present: the plain-parquet
    read would otherwise bake a crashed append's unproven partial state
    into the compacted table (see _refuse_on_pending_marker)."""
    _refuse_on_pending_marker(spark, epoch_path, "compact_asof_epoch_layout")
    (
        _write_asof_table(
            spark.read.parquet(epoch_path).drop(_EPOCH),
            table_name,
            path,
            num_buckets,
        )
    )


def expire_asof_epoch_layout(spark, table_name: str, min_epoch: int) -> list:
    """RETENTION purge for the epoch as-of layout — the lifecycle's
    final verb (stage -> append -> compact -> EXPIRE, the
    ts_retention_purge policy applied to the as-of union): drop every
    epoch partition STRICTLY below ``min_epoch``, catalog metadata AND
    bytes (an external table keeps its files on DROP PARTITION; the
    Hadoop FileSystem delete reclaims them on any storage, not just a
    local fs). The NULL-epoch partition (rows with no time value —
    the hive default partition the append path explicitly preserves)
    is NEVER expired: retention is a time-axis policy and those rows
    sit outside the time axis.

    Readers need no change: the bucketed scan simply stops listing the
    dropped partitions, so ``asof_join_presorted`` afterwards equals
    the batch as-of over the boundary-filtered inputs (rows with
    ``epoch_of(ts) >= min_epoch``) with the zero-Exchange plan intact
    — a left row whose previous match lived only in an expired epoch
    reverts to unmatched, exactly as if the inputs had been filtered.

    Returns the sorted list of dropped epochs (empty list = nothing
    below the horizon; the call is idempotent). Crash recovery: the
    victim set is computed from the CATALOG UNION THE FILESYSTEM
    listing — a crash between the metadata drop and the byte delete
    leaves an orphaned directory that the NEXT call re-collects and
    deletes (review r13: a catalog-only victim scan leaked orphans
    forever, and compact_asof_epoch_layout reads the data path as
    plain parquet, so an orphan would silently RESURRECT expired rows
    through the lifecycle's own OPTIMIZE step). Byte reclamation is
    NOT best-effort: an unresolvable table location or a delete the
    FileSystem reports failed raises instead of returning the epoch
    as expired while its bytes remain (the 100 TB monthly trim must
    not silently leak storage). Refuses while a pending-append
    marker is present: a crashed append's touched epochs may include
    expiry victims, and deleting them would destroy the very state
    recovery needs (see _refuse_on_pending_marker)."""
    jvm, fs, root, loc = _table_fs_root(spark, table_name)
    _refuse_on_pending_marker(spark, loc, "expire_asof_epoch_layout", _fs=(jvm, fs))
    victims = set()

    def _epoch_or_none(v: str):
        # a foreign directory (e.g. a copied `__asof_epoch=3.bak`)
        # must not abort the whole retention run (r13 advice): skip
        # anything that does not parse as an epoch number
        if v == "__HIVE_DEFAULT_PARTITION__":
            return None
        try:
            return int(v)
        except ValueError:
            warnings.warn(
                f"expire_asof_epoch_layout: skipping unparseable "
                f"partition value {_EPOCH}={v!r} under {table_name}"
            )
            return None

    for p in spark.sql(f"SHOW PARTITIONS {table_name}").collect():
        ep = _epoch_or_none(p[0].split("=", 1)[1])
        if ep is not None and ep < min_epoch:
            victims.add(ep)
    # union the filesystem listing: re-collects orphans from a prior
    # crash between the metadata drop and the byte delete
    if fs.exists(root):
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if not name.startswith(f"{_EPOCH}="):
                continue
            ep = _epoch_or_none(name.split("=", 1)[1])
            if ep is not None and ep < min_epoch:
                victims.add(ep)
    if not victims:
        return []
    for v in sorted(victims):
        spark.sql(
            f"ALTER TABLE {table_name} DROP IF EXISTS PARTITION ({_EPOCH}={v})"
        )
        jpath = jvm.org.apache.hadoop.fs.Path(f"{loc}/{_EPOCH}={v}")
        if fs.exists(jpath) and not fs.delete(jpath, True):
            raise RuntimeError(
                f"FileSystem refused to delete {loc}/{_EPOCH}={v}: epoch "
                f"{v} is dropped from the catalog but its bytes remain — "
                f"re-run expire after fixing storage permissions"
            )
    return sorted(victims)


def asof_join_presorted(
    spark,
    table_name: str,
    left_cols: Sequence[str],
    right_values: Sequence[str],
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """Backward as-of over a ``stage_asof_layout`` table: the same
    running-carry window as ``asof_join``, but the scan's bucket
    partitioning satisfies the window's ClusteredDistribution and its
    per-bucket (key, time, side) sort satisfies the required ordering,
    so the plan is scan → Window → filter: no Exchange, no Sort
    (asserted in tests/test_plans.py).

    The sort-elision requires
    ``spark.sql.legacy.bucketedTableScan.outputOrdering=true`` in the
    READING session — set by ``stage_asof_layout`` (same session by
    construction) and by ``get_spark``'s engine defaults; a session
    without it still returns correct results, just with a redundant
    in-partition Sort. This function deliberately does NOT mutate
    session config on every read."""
    w = (
        W.partitionBy(_KEY)
        .orderBy(_TIME, _SIDE)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = spark.table(table_name).withColumn(
        _CARRY, F.last(_CARRY, ignorenulls=True).over(w)
    )
    fresh = F.lit(True)
    if tolerance_seconds is not None:
        gap = F.unix_micros(F.col(_TIME)) - F.unix_micros(F.col(f"{_CARRY}.__rts"))
        fresh = gap <= tolerance_seconds * 1_000_000
    return carried.where(F.col(_SIDE) == 1).select(
        *left_cols,
        *[F.when(fresh, F.col(f"{_CARRY}.{v}")).alias(v) for v in right_values],
    )


def asof_join_presorted_directional(
    spark,
    table_name: str,
    left_cols: Sequence[str],
    right_values: Sequence[str],
    direction: str = "forward",
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """FORWARD or NEAREST as-of over the SAME ``stage_asof_layout``
    table the backward read uses — one staged layout serves all three
    directions, so the staging shuffle+sort amortizes across the whole
    direction family, not just backward retrievals.

    The layout's physical sort is (key, time, side) with right rows
    (side 0) before an equal-time left row — the backward convention.
    Both auxiliary carries run over that SAME ascending order (backward
    = last(ignorenulls) over preceding, forward = first(ignorenulls)
    over following), so all window frames share the scan's claimed
    distribution and ordering: the plan stays scan → Window → project
    with ZERO Exchange and ZERO Sort for every direction.

    The forward frame starts at currentRow and therefore never sees an
    equal-time right row (it sorts BEFORE the left row in this layout);
    at-or-after semantics recover it from the backward carry, whose
    ``__rts`` equals the left time exactly in that case — one codegen'd
    comparison per row, no extra pass. Nearest then chooses the closer
    side with backward winning exact ties (gap 0), identical to
    ``_asof_nearest``'s choice."""
    if direction not in ("forward", "nearest"):
        raise ValueError(f"direction must be 'forward' or 'nearest', got {direction!r}")
    wb = (
        W.partitionBy(_KEY)
        .orderBy(_TIME, _SIDE)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wf = (
        W.partitionBy(_KEY)
        .orderBy(_TIME, _SIDE)
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    carried = (
        spark.table(table_name)
        .withColumn("__cb", F.last(_CARRY, ignorenulls=True).over(wb))
        .withColumn("__cf0", F.first(_CARRY, ignorenulls=True).over(wf))
    )
    bts = F.col("__cb.__rts").cast("timestamp")
    # recover the inclusive equal-time match the forward frame misses
    fw = F.when(F.unix_micros(bts) == F.unix_micros(F.col(_TIME)), F.col("__cb")).otherwise(
        F.col("__cf0")
    )
    carried = carried.withColumn("__cf", fw)
    gb = F.unix_micros(F.col(_TIME)) - F.unix_micros(bts)
    gf = F.unix_micros(F.col("__cf.__rts").cast("timestamp")) - F.unix_micros(F.col(_TIME))
    valid_b = F.col("__cb").isNotNull()
    valid_f = F.col("__cf").isNotNull()
    if tolerance_seconds is not None:
        bound = tolerance_seconds * 1_000_000
        valid_b = valid_b & (gb <= bound)
        valid_f = valid_f & (gf <= bound)
    if direction == "forward":
        chosen = F.when(valid_f, F.col("__cf"))
    else:
        chosen = F.when(valid_b & (~valid_f | (gb <= gf)), F.col("__cb")).when(
            valid_f, F.col("__cf")
        )
    return carried.where(F.col(_SIDE) == 1).select(
        *left_cols,
        *[chosen.getField(v).alias(v) for v in right_values],
    )


def stage_asof_interval_layout(
    right: DataFrame,
    right_on: str,
    right_by: str,
    right_values: Sequence[str],
    table_name: str,
    path: str,
    num_buckets: int = 8,
) -> None:
    """Stage a STATIC right side as validity intervals for REPEATED
    as-of retrieval against changing left sides (the streaming case).

    ``stage_asof_layout`` pre-sorts the UNION of both sides, so it only
    amortizes when the left side is fixed too. When the left side is a
    stream, every micro-batch is new rows — but the book is static, so
    the backward-as-of lookup "last right row at-or-before t" can be
    precomputed as an interval: right row i is the answer for every t
    in [time_i, time_{i+1}). One lead() window at staging time (paid
    once) turns the book into (key, __vfrom, __vto, values); each
    micro-batch then needs only an equi-join on key with two range
    conjuncts — NO union, NO window, NO sort of the book, per trigger.
    The table is bucketed by key so the book side of every per-batch
    sort-merge join is Exchange-free; only the (small) batch shuffles.

    Requires the right side unique per (key, time) — the same
    precondition every as-of entry point documents. Keys must also be
    NON-NULL (or accept NULL-never-matches): the retrieval is an
    equi-join, so a NULL-key left row carries NULL values even when
    NULL-key book rows exist — unlike ``asof_join``, whose union+window
    plan partitions NULL keys together and lets them match each other.
    Filter or coalesce NULL keys upstream if they must participate."""
    book = right.select(
        F.col(right_by).alias(_KEY),
        F.col(right_on).alias("__vfrom"),
        *right_values,
    ).withColumn(
        "__vto", F.lead("__vfrom").over(W.partitionBy(_KEY).orderBy("__vfrom"))
    )
    (
        book.repartition(num_buckets, F.col(_KEY))
        .write.bucketBy(num_buckets, _KEY)
        .sortBy(_KEY, "__vfrom")
        .option("path", path)
        .mode("overwrite")
        .saveAsTable(table_name)
    )


def asof_join_interval(
    left: DataFrame,
    table_name: str,
    left_on: str,
    left_by: str,
    right_values: Sequence[str],
) -> DataFrame:
    """Backward as-of of ``left`` against a ``stage_asof_interval_layout``
    table: a plain LEFT equi-join on key with the interval containment
    conjuncts (__vfrom <= t < __vto, open-ended last interval). Each
    left row matches at most one interval, so semantics are identical
    to ``asof_join`` for NON-NULL keys — but per retrieval the book is
    scanned, never shuffled or sorted, and the only window ever run was
    the one lead() at staging time. NULL-key left rows never match
    (equi-join semantics; see ``stage_asof_interval_layout``) and come
    back with NULL values."""
    book = left.sparkSession.table(table_name)
    t = left[left_on]
    cond = (
        (left[left_by] == book[_KEY])
        & (t >= book["__vfrom"])
        & (book["__vto"].isNull() | (t < book["__vto"]))
    )
    return left.join(book, cond, "left").select(
        *[left[c] for c in left.columns],
        *[book[v] for v in right_values],
    )


def stage_asof_multi_layout(
    left: DataFrame,
    sources: Sequence[tuple[DataFrame, str, str, Sequence[str]]],
    left_on: str,
    left_by: str,
    table_name: str,
    path: str,
    num_buckets: int = 8,
) -> None:
    """Stage the N-source point-in-time (feature-store) as-of relation
    as ONE bucketed (key) + sorted (key, time, side) table: the label
    rows and ALL feature sources union into a single relation, each
    source carrying its payload in its OWN nullable struct column
    (null on every other source's rows and on label rows).

    ``sources`` is a sequence of ``(right_df, right_on, right_by,
    right_values)``. Each source must be unique per (key, time) —
    pre-aggregate duplicates upstream, exactly as ``asof_join``
    requires.

    Why one table and not N staged pair-layouts: the chained
    union+window multi as-of pays N shuffles + N sorts per retrieval;
    N pair-layouts would still pay N scans + an N-way join to stitch
    the columns back together. One shared layout costs ONE staging
    shuffle+sort and every retrieval is then a single scan feeding a
    single Window operator that computes all N running carries over
    the same (key)-bucketed, (key, time, side)-sorted order — zero
    Exchange, zero Sort, no stitch join (``asof_join_multi_presorted``;
    plan pinned in tests). Time columns are cast to TIMESTAMP at
    staging (a DATE source joins at UTC midnight — the same cast
    unionByName applies inside ``asof_join``, matching DuckDB).

    The reading session needs the same
    ``spark.sql.legacy.bucketedTableScan.outputOrdering=true`` conf as
    ``stage_asof_layout`` (see that docstring); this function does not
    set it."""
    left_cols = left.columns
    carry_types = []
    for right, right_on, _, right_values in sources:
        rts = F.col(right_on).cast("timestamp").alias("__rts")
        carry_types.append(
            right.select(F.struct(*right_values, rts).alias("s")).schema["s"].dataType
        )

    def carries(live: int | None) -> list:
        out = []
        for i, (r, right_on, _, right_values) in enumerate(sources):
            name = f"{_CARRY}_{i}"
            if i == live:
                rts = F.col(right_on).cast("timestamp").alias("__rts")
                out.append(F.struct(*right_values, rts).alias(name))
            else:
                out.append(F.lit(None).cast(carry_types[i]).alias(name))
        return out

    l = left.select(
        F.col(left_by).alias(_KEY),
        F.col(left_on).cast("timestamp").alias(_TIME),
        F.lit(1).alias(_SIDE),
        *carries(None),
        *[F.col(c) for c in left_cols],
    )
    parts = [l]
    for i, (right, right_on, right_by, _) in enumerate(sources):
        parts.append(
            right.select(
                F.col(right_by).alias(_KEY),
                F.col(right_on).cast("timestamp").alias(_TIME),
                F.lit(0).alias(_SIDE),
                *carries(i),
                *[
                    F.lit(None).cast(left.schema[c].dataType).alias(c)
                    for c in left_cols
                ],
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    (
        u.repartition(num_buckets, F.col(_KEY))
        .write.bucketBy(num_buckets, _KEY)
        .sortBy(_KEY, _TIME, _SIDE)
        .option("path", path)
        .mode("overwrite")
        .saveAsTable(table_name)
    )


def asof_join_multi_presorted(
    spark,
    table_name: str,
    left_cols: Sequence[str],
    values_per_source: Sequence[Sequence[str]],
    tolerance_seconds: Sequence[int | None] | None = None,
) -> DataFrame:
    """Point-in-time retrieval over a ``stage_asof_multi_layout``
    table: ALL N running carries are computed by ONE Window operator
    (identical partitioning and ordering, so Catalyst collapses the N
    ``last(ignorenulls)`` frames into a single physical Window) over
    the scan's claimed bucket distribution and per-bucket sort — the
    plan is scan -> Window -> filter with zero Exchange and zero Sort
    regardless of how many feature sources the layout holds. The
    chained shape pays N shuffles + N sorts for the same answer."""
    w = (
        W.partitionBy(_KEY)
        .orderBy(_TIME, _SIDE)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    out = spark.table(table_name)
    n = len(values_per_source)
    for i in range(n):
        name = f"{_CARRY}_{i}"
        out = out.withColumn(name, F.last(name, ignorenulls=True).over(w))
    sel: list = [F.col(c) for c in left_cols]
    tols = tolerance_seconds or [None] * n
    for i, vals in enumerate(values_per_source):
        name = f"{_CARRY}_{i}"
        fresh = F.lit(True)
        if tols[i] is not None:
            gap = F.unix_micros(F.col(_TIME)) - F.unix_micros(
                F.col(f"{name}.__rts")
            )
            fresh = gap <= tols[i] * 1_000_000
        sel.extend(F.when(fresh, F.col(f"{name}.{v}")).alias(v) for v in vals)
    return out.where(F.col(_SIDE) == 1).select(*sel)


def _asof_nearest(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_by: str,
    right_by: str,
    right_values: Sequence[str],
    tolerance_seconds: int | None,
) -> DataFrame:
    """Nearest-in-time as-of: both running carries over one union —
    backward = last(ignorenulls) over preceding, forward =
    first(ignorenulls) over following — same key shuffle, same sort
    (the two Window operators share the exchange), then a codegen'd
    per-row choice of the closer side. Backward layout (right sorts
    before an equal-ts left row), so an exact-timestamp right row is
    the backward carry with gap 0 and always wins — the forward frame
    starting at currentRow never sees it, which is fine."""
    left_cols = left.columns
    rts = F.col(right_on).alias("__rts")
    carry_t = right.select(F.struct(*right_values, rts).alias("s")).schema["s"].dataType
    l = left.select(
        F.col(left_by).alias(_KEY),
        F.col(left_on).alias(_TIME),
        F.lit(1).alias(_SIDE),
        F.lit(None).cast(carry_t).alias(_CARRY),
        *[F.col(c) for c in left_cols],
    )
    r = right.select(
        F.col(right_by).alias(_KEY),
        F.col(right_on).alias(_TIME),
        F.lit(0).alias(_SIDE),
        F.struct(*right_values, rts).alias(_CARRY),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_cols],
    )
    wb = (
        W.partitionBy(_KEY)
        .orderBy(_TIME, _SIDE)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wf = (
        W.partitionBy(_KEY)
        .orderBy(_TIME, _SIDE)
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    carried = (
        l.unionByName(r)
        .withColumn("__cb", F.last(_CARRY, ignorenulls=True).over(wb))
        .withColumn("__cf", F.first(_CARRY, ignorenulls=True).over(wf))
    )
    # casts are no-ops for timestamp right_on; for a DATE right_on they
    # pin midnight-UTC semantics, matching DuckDB's date->timestamp cast
    gb = F.unix_micros(F.col(_TIME)) - F.unix_micros(F.col("__cb.__rts").cast("timestamp"))
    gf = F.unix_micros(F.col("__cf.__rts").cast("timestamp")) - F.unix_micros(F.col(_TIME))
    valid_b = F.col("__cb").isNotNull()
    valid_f = F.col("__cf").isNotNull()
    if tolerance_seconds is not None:
        bound = tolerance_seconds * 1_000_000
        valid_b = valid_b & (gb <= bound)
        valid_f = valid_f & (gf <= bound)
    chosen = F.when(valid_b & (~valid_f | (gb <= gf)), F.col("__cb")).when(
        valid_f, F.col("__cf")
    )
    return carried.where(F.col(_SIDE) == 1).select(
        *left_cols,
        *[chosen.getField(v).alias(v) for v in right_values],
    )
