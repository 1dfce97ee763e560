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

One encoding, one carry step. Every as-of relation, a fresh union or a
staged table, is in the BACKWARD LAYOUT that ``_encode_asof_sides``
alone builds: left rows are (key, time, side=1, NULL carry, left
columns), right rows are (key, time, side=0, carry struct of the right
values plus the right time ``__rts``, NULL-padded left columns), ordered
by (key, time, side) so an equal-time right row sorts before the left
row. ``_carry`` alone runs windows over it: the backward, forward and
nearest choices and the tolerance masks, for one carry column or many.

Staged layouts (``stage_asof_layout`` and its epoch, multi-source and
interval variants) are written by ``_write_asof_table``: bucketed by key
with ONE file per bucket, sorted within the bucket. A presorted read
plans with no Exchange; it also skips the in-partition Sort only when
the READING session sets
``spark.sql.legacy.bucketedTableScan.outputOrdering=true``. Spark
stopped claiming bucketed-scan sort order by default in 3.0
(SPARK-28632: the claim is unsafe with several files per bucket) and
still applies it only to single-file buckets, which every writer here
guarantees. No function in this module sets that conf: a session-wide
SQLConf changed as a side effect of an operator call would change the
planning of every other bucketed scan in the caller's session.
``get_spark`` carries it in the engine defaults and the presorted
registry queries set it at the query boundary; a session without it
reads correct results with a redundant in-partition Sort.
"""

from __future__ import annotations

import json
import warnings
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame, Observation, Window as W
from pyspark.sql import functions as F

from tstables_spark import _staging
from tstables_spark._staging import pin
from tstables_spark.tstable import _fs_read_text

_SIDE = "__asof_side"
_TIME = "__asof_time"
_KEY = "__asof_key"
_CARRY = "__asof_carry"
_EPOCH = "__asof_epoch"


def _encode_asof_sides(
    left: DataFrame | None,
    sources: dict[str, tuple],
    left_on: str | None,
    left_by: str | None,
    staged: DataFrame | None = None,
    as_timestamp: bool = False,
) -> DataFrame:
    """The as-of row encoding (the backward layout, module docstring):
    the only code that builds as-of rows. ``sources`` maps each carry
    column to ``(right, right_on, right_by, right_values)``; a source's
    rows carry their own struct and NULL in every other carry column.
    ``right`` (or ``left``) may be None to encode only the other side.

    ``staged`` is an existing staged table: the left columns, their
    NULL-padding types and the carry struct types are then taken from
    its schema, so rows appended to a layout cannot drift from the rows
    staged in it. Without it they come from ``left`` and the right
    frames. ``as_timestamp`` casts both times to TIMESTAMP (the
    multi-source layout's convention; a DATE joins at midnight, the
    cast ``unionByName`` applies anyway)."""

    def time(c):
        return F.col(c).cast("timestamp") if as_timestamp else F.col(c)

    if staged is not None:
        left_cols = [c for c in staged.columns if not c.startswith("__asof_")]
        types = {f.name: f.dataType for f in staged.schema}
    else:
        left_cols = left.columns
        types = {f.name: f.dataType for f in left.schema}
        for c, (right, right_on, _, values) in sources.items():
            carry = F.struct(*values, time(right_on).alias("__rts"))
            types[c] = right.select(carry.alias("s")).schema["s"].dataType
    parts = []
    if left is not None:
        parts.append(
            left.select(
                F.col(left_by).alias(_KEY),
                time(left_on).alias(_TIME),
                F.lit(1).alias(_SIDE),
                *[F.lit(None).cast(types[c]).alias(c) for c in sources],
                *[F.col(c) for c in left_cols],
            )
        )
    for live, (right, right_on, right_by, values) in sources.items():
        if right is None:
            continue
        parts.append(
            right.select(
                F.col(right_by).alias(_KEY),
                time(right_on).alias(_TIME),
                F.lit(0).alias(_SIDE),
                *[
                    F.struct(*values, time(right_on).alias("__rts")).alias(c)
                    if c == live
                    else F.lit(None).cast(types[c]).alias(c)
                    for c in sources
                ],
                *[F.lit(None).cast(types[c]).alias(c) for c in left_cols],
            )
        )
    return reduce(DataFrame.unionByName, parts)


def _carry(
    rows: DataFrame,
    left_cols: Sequence[str],
    carries: Sequence[tuple[str, Sequence[str], int | None]],
    direction: str = "backward",
) -> DataFrame:
    """The as-of step over ``rows`` in the backward layout: returns the
    left rows' ``left_cols`` plus, for each ``(carry column, right
    values, tolerance_seconds)`` in ``carries``, the chosen right row's
    values. Every window shares one partitioning (key) and one ordering
    (time, side), so a fresh union pays one shuffle and one sort and a
    staged layout's scan satisfies both (no Exchange, no Sort).

    - backward: ``last(ignorenulls)`` over the preceding rows.
    - forward: ``first(ignorenulls)`` over the following rows. That
      frame starts at the left row and never sees an equal-time right
      row, which sorts before it; the match is recovered from the
      backward carry, whose ``__rts`` then equals the left time.
    - nearest: the closer of the two in absolute time, the backward
      match winning exact ties (an exact-timestamp match is gap 0).

    ``tolerance_seconds`` bounds each side's staleness before the
    choice: a carried row further than the bound is absent, the match
    nulls out rather than falling back to a further row. Gaps are
    compared on exact microseconds; a DATE right time counts from
    midnight, as DuckDB casts it. A NULL time never matches, as in the
    inequality join an as-of join is defined by: a left row with a NULL
    time gets NULL right values, and a NULL-time right row (it sorts
    first in its key, so it is carried only where no timed right row
    precedes) is never chosen. DuckDB 1.0's ``ASOF JOIN`` agrees on
    NULL right times but does match a NULL-time left row."""
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be 'backward', 'forward' or 'nearest', got {direction!r}"
        )
    order = W.partitionBy(_KEY).orderBy(_TIME, _SIDE)
    t = F.unix_micros(F.col(_TIME))
    out = [F.col(c) for c in left_cols]
    for c, values, tol in carries:
        ahead = f"{c}_f"
        if direction != "backward":
            rows = rows.withColumn(
                ahead,
                F.first(c, ignorenulls=True).over(
                    order.rowsBetween(W.currentRow, W.unboundedFollowing)
                ),
            )
        rows = rows.withColumn(
            c,
            F.last(c, ignorenulls=True).over(
                order.rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        gb = t - F.unix_micros(F.col(f"{c}.__rts").cast("timestamp"))
        # a gap is NULL when either time is: no match (docstring)
        ok_b = gb.isNotNull()
        if tol is not None:
            ok_b = ok_b & (gb <= tol * 1_000_000)
        branches = [(ok_b, c)]
        if direction != "backward":
            rows = rows.withColumn(
                ahead, F.when(gb == 0, F.col(c)).otherwise(F.col(ahead))
            )
            gf = F.unix_micros(F.col(f"{ahead}.__rts").cast("timestamp")) - t
            ok_f = gf.isNotNull()
            if tol is not None:
                ok_f = ok_f & (gf <= tol * 1_000_000)
            near = ok_b & (~ok_f | (gb <= gf))
            branches = (
                [(ok_f, ahead)] if direction == "forward" else [(near, c), (ok_f, ahead)]
            )
        for v in values:
            pick = F  # F.when opens the CASE, Column.when adds a branch
            for cond, src in branches:
                pick = pick.when(cond, F.col(f"{src}.{v}"))
            out.append(pick.alias(v))
    return rows.where(F.col(_SIDE) == 1).select(*out)


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
    (null where no right row matches).

    ``direction`` (pandas ``merge_asof`` naming): ``"backward"`` picks
    the most recent right row at-or-BEFORE each left row, ``"forward"``
    the earliest right row at-or-AFTER it (the "next quote" join),
    ``"nearest"`` the closer of the two, backward winning exact ties.
    ``tolerance_seconds`` bounds staleness (pandas ``tolerance``). Every
    direction is one shuffle on the key, one sort and a linear pass
    (``_carry``)."""
    rows = _encode_asof_sides(
        left, {_CARRY: (right, right_on, right_by, right_values)}, left_on, left_by
    )
    return _carry(
        rows, left.columns, [(_CARRY, right_values, tolerance_seconds)], direction
    )


def _write_asof_table(
    rows: DataFrame,
    table_name: str,
    path: str,
    num_buckets: int,
    partition_by: str | None = None,
    sort_by: Sequence[str] = (_KEY, _TIME, _SIDE),
) -> None:
    """The one writer of every staged as-of table (pair, epoch,
    multi-source and interval layouts, and compaction): bucket by key
    with ONE file per bucket (the repartition before the write), sorted
    by ``sort_by`` within it, optionally partitioned by
    ``partition_by`` — the layout every presorted read's Exchange and
    Sort elision depends on."""
    w = rows.repartition(num_buckets, F.col(_KEY)).write
    if partition_by is not None:
        w = w.partitionBy(partition_by)
    (
        w.bucketBy(num_buckets, _KEY)
        .sortBy(*sort_by)
        .option("path", path)
        .mode("overwrite")
        .saveAsTable(table_name)
    )


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
    """Write the as-of union as a bucketed (key) + sorted (key, time,
    side) table with ONE file per bucket — the "pre-sorted bucket
    streaming" physical strategy (SURVEY §4): pay the as-of shuffle and
    sort ONCE at write time, so every subsequent ``asof_join_presorted``
    read, in any direction, elides the Exchange and (under the conf in
    the module docstring, which this function does not set) the Sort.
    This is the trade the TimeSeriesTable layout makes for time-range
    scans, applied to the as-of union."""
    rows = _encode_asof_sides(
        left, {_CARRY: (right, right_on, right_by, right_values)}, left_on, left_by
    )
    _write_asof_table(rows, table_name, path, num_buckets)


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
    rows are encoded against the STAGED schema (``_encode_asof_sides``),
    merged with the existing staged rows, and rewritten through the
    shared bucketed writer — every presorted read afterwards keeps its
    zero-Exchange / zero-Sort plan, asserted in tests.

    Honest cost: the rewrite re-shuffles and re-sorts O(|staged|+|new|)
    rows — staging IS just the shuffle+sort, so what this saves is
    re-running the upstream plans that produced the original left/right
    (the staged table is self-contained; callers need only the delta).
    The existing rows are pinned before the overwrite both to permit
    writing the path being read and to read them once. For large series
    use ``stage_asof_epoch_layout`` / ``append_asof_epoch_layout``,
    which bound every append to the touched epochs' partitions with the
    readers unchanged; this full-rewrite variant remains for small or
    single-epoch series where one sorted file per bucket (and therefore
    a zero-Sort read) matters more than append cost. Pass the same
    ``right_values`` order the table was staged with."""
    staged = spark.table(table_name)
    parts = [staged]
    if left is not None or right is not None:
        sources = {_CARRY: (right, right_on, right_by, right_values)}
        parts.append(_encode_asof_sides(left, sources, left_on, left_by, staged))
    merged = pin(reduce(DataFrame.unionByName, parts))
    _write_asof_table(merged, table_name, path, num_buckets)


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
# day on non-UTC sessions. Day epochs are yyyymmdd ints: ordering
# matches time ordering, which is all expire/compact need.
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


def _epoch_fn(granularity: str):
    """The epoch function of a granularity name; raises on any other."""
    if granularity not in _EPOCH_FNS:
        raise ValueError(
            f"unknown epoch granularity {granularity!r} "
            f"(valid: {sorted(_EPOCH_FNS)})"
        )
    return _EPOCH_FNS[granularity]


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
    the persistence exists to prevent. ``None`` resolves from the
    persisted property — and raises rather than guessing when the table
    predates the property or was staged with a custom callable (the
    caller must re-supply it)."""
    if callable(epoch_of):
        return epoch_of
    if isinstance(epoch_of, str):
        fn = _epoch_fn(epoch_of)
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
        return fn
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
    """``stage_asof_layout`` with BOUNDED APPEND I/O: ONE table
    PARTITIONED BY a coarse time epoch and bucketed by key.

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
      touched epochs' partitions — an append into the newest month
      rewrites that month, never the archive, vs
      ``append_asof_layout``'s O(|staged|+|new|) full rewrite.
    - Reads need NO epoch-aware logic: a bucketed scan merges every
      file of a bucket ACROSS partitions into one task, so all epochs
      of a key arrive in the same window partition and the running
      carry crosses epoch boundaries by construction —
      ``asof_join_presorted`` works unchanged in every direction (the
      extra ``__asof_epoch`` column passes through unselected), with
      ZERO Exchange at any epoch count. The only cost vs the
      single-epoch layout is the in-partition Sort Spark re-inserts
      when a bucket holds >1 file (multi-epoch reads; the outputOrdering
      claim applies only to single-file buckets, so correctness never
      depends on the claim).

    The rows are ``_encode_asof_sides``'s, as ``stage_asof_layout``'s,
    so the two layouts are interchangeable to every reader."""
    if callable(epoch_of):
        gran, fn = "custom", epoch_of
    else:
        gran = auto_epoch_granularity(append_span_seconds) if epoch_of is None else epoch_of
        fn = _epoch_fn(gran)
    rows = _encode_asof_sides(
        left, {_CARRY: (right, right_on, right_by, right_values)}, left_on, left_by
    )
    _write_asof_table(
        rows.withColumn(_EPOCH, fn(F.col(_TIME)).cast("int")),
        table_name,
        path,
        num_buckets,
        partition_by=_EPOCH,
    )
    left.sparkSession.sql(
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


def _drop_epoch(spark, table_name: str, fsroot, value) -> None:
    """Drop epoch partition ``value`` — the catalog partition, then its
    directory (an external table keeps its files on DROP PARTITION; the
    Hadoop FileSystem delete reclaims them on any storage). Raises when
    the FileSystem refuses the delete, so no caller reports an epoch
    gone while its bytes remain. ``fsroot`` is ``_table_fs_root``'s
    tuple."""
    jvm, fs, _root, loc = fsroot
    spark.sql(f"ALTER TABLE {table_name} DROP IF EXISTS PARTITION ({_EPOCH}='{value}')")
    jpath = jvm.org.apache.hadoop.fs.Path(f"{loc}/{_EPOCH}={value}")
    if fs.exists(jpath) and not fs.delete(jpath, True):
        raise RuntimeError(
            f"FileSystem refused to delete {loc}/{_EPOCH}={value}: the "
            f"epoch is dropped from the catalog but its bytes remain — "
            f"re-run after fixing storage permissions"
        )


# Append commit marker: leading "_" makes it invisible to Spark's file
# listings (bucketed scans, compact's plain-parquet read), so only the
# lifecycle verbs ever see it.
_PENDING = "_asof_append_pending.json"


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
    jvm, fs, root, loc = _fsroot or _table_fs_root(spark, table_name)
    if not fs.exists(jvm.org.apache.hadoop.fs.Path(f"{loc}/{_PENDING}")):
        return None
    try:
        return json.loads(_fs_read_text(spark, f"{loc}/{_PENDING}"))
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


def _pin_epochs(rows: DataFrame, epoch_of, scope=None):
    """Pin ``rows`` with their epoch column (optionally only the rows
    whose epoch satisfies ``scope(epoch column)``) and return
    ``(pinned, touched epochs, whether any epoch is NULL)``. The
    touched-epoch set rides the pin's own job as an observed metric —
    no separate distinct-collect scan, which matters for the streaming
    caller whose per-batch wall is job-floor-bound. ``collect_set``
    drops NULLs (a NULL time gives a NULL epoch, the hive default
    partition), hence the separate count."""
    rows = rows.withColumn(_EPOCH, epoch_of(F.col(_TIME)).cast("int"))
    if scope is not None:
        rows = rows.where(scope(F.col(_EPOCH)))
    obs = Observation()
    pinned = pin(
        rows.observe(
            obs,
            F.collect_set(_EPOCH).alias("es"),
            F.sum(F.when(F.col(_EPOCH).isNull(), 1).otherwise(0)).alias("nnull"),
        )
    )
    return pinned, list(obs.get["es"]), (obs.get["nnull"] or 0) > 0


def _overwrite_epochs(spark, table_name: str, rows: DataFrame, num_buckets: int) -> None:
    """Dynamic-overwrite the epoch partitions ``rows`` land in, one file
    per (epoch, bucket). Lock-serialized dynamic-overwrite toggle (see
    ``_staging.dynamic_partition_overwrite``): the per-write option is
    silently ignored by insertInto, and an unserialized conf toggle
    races under concurrent writers in one session — reachable via the
    streaming foreachBatch caller."""
    with _staging.dynamic_partition_overwrite(spark):
        (
            rows.select(*spark.table(table_name).columns)  # insertInto is positional
            .repartition(num_buckets, F.col(_KEY))
            .write.insertInto(table_name, overwrite=True)
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
    the epochs the new rows land in: new rows are encoded against the
    STAGED schema, their epoch set is observed on their pin (bounded —
    real appends land in one or few epochs), the touched epochs'
    existing rows are pinned (they are read from the very partitions
    the overwrite replaces), and the union is dynamic-partition-
    overwritten back. Untouched epochs' files are never opened, so
    append I/O is bounded by the touched epochs' size — the bound
    ``append_asof_layout`` cannot offer. The per-bucket repartition
    before the write restores ONE file per (epoch, bucket), so repeated
    appends into an epoch do not accumulate files.

    Crash contract: the write is a single dynamic overwrite. For the
    common one-epoch append it is all-or-nothing at the partition
    level; a multi-epoch append that fails mid-write may leave a
    subset of touched epochs committed, and RE-RUNNING WOULD DUPLICATE
    the new rows in the committed ones (as-of rows carry no unique id
    to anti-join on, unlike append_nsw_layout). The failure is
    DETECTED, not silent: a commit marker (``_asof_append_pending.json``,
    hidden from every scan by its ``_`` prefix) is written with the
    touched-epoch set before the overwrite and removed after it
    completes — the expire verb's metadata-first discipline applied to
    append. A later append that finds the marker raises instead of
    duplicating; recovery is ``recover_asof_epoch_append`` (rebuild the
    touched epochs from source, bounded by their size) or manual
    verification plus ``clear_asof_epoch_append_marker``.

    ``idempotent=True``: append only the MULTISET DIFFERENCE of the
    new rows against the touched epochs' existing rows (``new
    exceptAll keep``), making a REPLAYED append a no-op — the contract
    the streaming caller needs, because foreachBatch is at-least-once
    and a crash after this append completes but before the streaming
    commit re-runs the same batch (the marker only covers crashes
    DURING the append). Scoped to the DELTA, not the union:
    pre-existing duplicate rows in the table — legitimate data under
    default appends — are passed through untouched, and a batch's own
    internal duplicates survive (multiset semantics). The one excluded
    case is a caller intentionally re-appending a row that already
    exists identically in its epoch as a NEW occurrence —
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
    sources = {_CARRY: (right, right_on, right_by, right_values)}
    new, epochs, with_null = _pin_epochs(
        _encode_asof_sides(left, sources, left_on, left_by, staged), epoch_of
    )
    # isin() never matches NULL, so the NULL partition's preserved rows
    # need an explicit isNull branch (the overwrite rewrites it like any
    # other touched partition)
    touched = F.col(_EPOCH).isin(epochs)
    if with_null:
        touched = touched | F.col(_EPOCH).isNull()
    keep = pin(staged.where(touched))
    # marker BEFORE the overwrite, removed only after it returns: the
    # keep-pin above is already materialized, so everything after the
    # marker is the destructive window
    jvm, fs, _root, loc = fsroot
    _write_pending_marker(
        jvm,
        fs,
        loc,
        {"table": table_name, "epochs": sorted(epochs), "null_partition": with_null},
    )
    if idempotent:
        # multiset delta: each new row is admitted only for occurrences
        # beyond those already present in the touched epochs
        new = new.exceptAll(keep.select(*new.columns))
    _overwrite_epochs(spark, table_name, keep.unionByName(new), num_buckets)
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
    replacement rows is dropped outright (``_drop_epoch``: catalog +
    bytes) — a half-committed partition must not survive because the
    rebuild happens to be empty there. The marker is cleared LAST, so a
    crash during recovery leaves it in place and the recovery is
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
    targets = set(marker.get("epochs") or [])
    with_null = bool(marker.get("null_partition"))

    def scope(e):
        return e.isin(sorted(targets)) | e.isNull() if with_null else e.isin(sorted(targets))

    sources = {_CARRY: (right, right_on, right_by, right_values)}
    staged = spark.table(table_name)
    repl, have, have_null = _pin_epochs(
        _encode_asof_sides(left, sources, left_on, left_by, staged), epoch_of, scope
    )
    if have or have_null:
        _overwrite_epochs(spark, table_name, repl, num_buckets)
    fsroot = _table_fs_root(spark, table_name)
    empty = sorted(targets - set(have)) + (
        ["__HIVE_DEFAULT_PARTITION__"] if with_null and not have_null else []
    )
    for v in empty:
        _drop_epoch(spark, table_name, fsroot, v)
    clear_asof_epoch_append_marker(spark, table_name, _fsroot=fsroot)
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
    exists to restore. The plain-parquet read carries no partitioning
    claim, so the repartition stands and each bucket gets exactly one
    sorted file.

    Refuses while a pending-append marker is present: the plain-parquet
    read would otherwise bake a crashed append's unproven partial state
    into the compacted table (see _refuse_on_pending_marker)."""
    _refuse_on_pending_marker(spark, epoch_path, "compact_asof_epoch_layout")
    _write_asof_table(
        spark.read.parquet(epoch_path).drop(_EPOCH), table_name, path, num_buckets
    )


def expire_asof_epoch_layout(spark, table_name: str, min_epoch: int) -> list:
    """RETENTION purge for the epoch as-of layout — the lifecycle's
    final verb (stage -> append -> compact -> EXPIRE, the
    ts_retention_purge policy applied to the as-of union): drop every
    epoch partition STRICTLY below ``min_epoch``, catalog metadata AND
    bytes (``_drop_epoch``). The NULL-epoch partition (rows with no
    time value — the hive default partition the append path explicitly
    preserves) is NEVER expired: retention is a time-axis policy and
    those rows sit outside the time axis.

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
    deletes (a catalog-only victim scan would leak orphans forever, and
    compact_asof_epoch_layout reads the data path as plain parquet, so
    an orphan would silently RESURRECT expired rows through the
    lifecycle's own OPTIMIZE step). Byte reclamation is NOT
    best-effort: an unresolvable table location or a delete the
    FileSystem reports failed raises instead of returning the epoch as
    expired while its bytes remain. Refuses while a pending-append
    marker is present: a crashed append's touched epochs may include
    expiry victims, and deleting them would destroy the very state
    recovery needs (see _refuse_on_pending_marker)."""
    fsroot = _table_fs_root(spark, table_name)
    jvm, fs, root, loc = fsroot
    _refuse_on_pending_marker(spark, loc, "expire_asof_epoch_layout", _fs=(jvm, fs))
    victims = set()

    def _epoch_or_none(v: str):
        # a foreign directory (e.g. a copied `__asof_epoch=3.bak`)
        # must not abort the whole retention run: skip anything that
        # does not parse as an epoch number
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
    for v in sorted(victims):
        _drop_epoch(spark, table_name, fsroot, v)
    return sorted(victims)


def asof_join_presorted(
    spark,
    table_name: str,
    left_cols: Sequence[str],
    right_values: Sequence[str],
    tolerance_seconds: int | None = None,
    direction: str = "backward",
) -> DataFrame:
    """As-of over a ``stage_asof_layout`` (or epoch) table, in any
    ``direction`` with any ``tolerance_seconds``, as ``asof_join``: the
    same ``_carry`` step, but the scan's bucket partitioning satisfies
    the windows' ClusteredDistribution and its per-bucket (key, time,
    side) sort their ordering, so the plan is scan → Window → filter
    with no Exchange and — under the conf in the module docstring — no
    Sort (asserted in tests). One staged layout serves all three
    directions, so the staging shuffle+sort amortizes across them."""
    return _carry(
        spark.table(table_name),
        left_cols,
        [(_CARRY, right_values, tolerance_seconds)],
        direction,
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
    _write_asof_table(book, table_name, path, num_buckets, sort_by=(_KEY, "__vfrom"))


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
    rows and ALL feature sources union into a single relation, source i
    carrying its payload in its OWN nullable struct column
    ``__asof_carry_<i>`` (null on every other source's rows and on label
    rows).

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
    unionByName applies inside ``asof_join``, matching DuckDB)."""
    rows = _encode_asof_sides(
        left,
        {f"{_CARRY}_{i}": s for i, s in enumerate(sources)},
        left_on,
        left_by,
        as_timestamp=True,
    )
    _write_asof_table(rows, table_name, path, num_buckets)


def asof_join_multi_presorted(
    spark,
    table_name: str,
    left_cols: Sequence[str],
    values_per_source: Sequence[Sequence[str]],
    tolerance_seconds: Sequence[int | None] | None = None,
) -> DataFrame:
    """Point-in-time retrieval over a ``stage_asof_multi_layout``
    table: ALL N backward carries are computed by ``_carry`` with one
    partitioning and ordering, so Catalyst collapses the N
    ``last(ignorenulls)`` frames into a single physical Window over the
    scan's claimed bucket distribution and per-bucket sort — the plan
    is scan -> Window -> filter with zero Exchange and zero Sort
    regardless of how many feature sources the layout holds. The
    chained shape pays N shuffles + N sorts for the same answer.
    ``tolerance_seconds`` gives one bound (or None) per source."""
    tols = tolerance_seconds or [None] * len(values_per_source)
    return _carry(
        spark.table(table_name),
        left_cols,
        [(f"{_CARRY}_{i}", v, tols[i]) for i, v in enumerate(values_per_source)],
    )
