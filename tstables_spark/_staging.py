"""Per-application scratch space, the one stage-once registry, the one
materialization primitive and the one single-task kernel path.

Every layout the plans stage lives under ONE per-application temp root
(``scratch_dir``), removed at interpreter exit.

Every relation staged once per application and re-read afterwards goes
through ``staged``: bucketed join inputs, presorted and epoch as-of
tables, the NSW index, stream source dirs and streamed pins. It is one
registry, keyed by (applicationId, prefix, key):

- bounded: LRU beyond ``_STREAM_PINNED_CAP`` entries. Eviction DROPs
  the entry's catalog tables and removes its dir; an evicted entry is
  staged again on its next use.
- in-use guarded: ``hold_stream_pins`` refcounts exempt an entry from
  eviction. The query registry holds them from plan construction
  through the returned frame's lifetime.
- race-checked: of two concurrent builds of one key the first wins;
  the loser's tables and dir are dropped.

``pin`` is the engine's one eager materialization: every relation a
plan or operator consumes more than once, or whose lineage an
iteration must cut, goes through it, and nothing else in the package
calls ``localCheckpoint``. It decides how a relation is held:

- small (the default): an eager ``localCheckpoint``, memory first.
  A relation computed from files alone whose optimizer size estimate
  (no job) is at most Spark's broadcast threshold, a size Spark itself
  holds whole and deserialized in every executor, keeps Spark's
  default deserialized level, whose rows every re-read scans without
  decoding. Any other is serialized ``MEMORY_AND_DISK``, whose blocks
  take a fraction of the heap. The estimate errs high (a join
  multiplies its inputs' sizes), so it rarely keeps a big relation
  deserialized. A relation over an earlier pin is not estimated:
  through an iteration's chain of pins the estimate compounds to
  numbers of millions of digits, whose transfer alone costs seconds
  a round.
- big: held off the heap. A checkpoint at a memory level holds one
  block per task in the heap at once, so a corpus-sized relation does
  not fit one. Without a ``cache_key`` or ``bucket_by`` it is a
  ``DISK_ONLY`` checkpoint: its blocks stream to local disk at
  constant memory, and Spark's ContextCleaner frees them once no frame
  reaches them, so an iteration's dead rounds go as they die. With
  either, it is ``stream_pin``: a scratch Parquet table, reused per
  key through ``staged`` and bucketed on a join key.

An ``Observation`` attached to the pinned frame is reported by the
pin's own job on every path, so a per-round probe (a label sum, a
survivor count) costs no extra job. Without py4j handles (Spark
Connect) no estimate is read, and every small pin is serialized.

``one_task`` is the engine's one single-task kernel path: below
``ONE_TASK_ROWS_MAX`` rows (a count or an upper bound the caller
supplies) a whole iterative loop runs as one numpy kernel in one
``mapInPandas`` task, so it costs no Spark job per round; above it the
caller runs its distributed loop. The bound is the one place that
decides what one Python worker may hold (PageRank and connected
components share it).

The free statistics the size gates read (``file_stats``: input file
sizes and Parquet footers, no Spark job) live here too.

A private module at the package root that imports nothing from the
package: operators and plans both import it, and importing it
registers no query.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
import threading
from typing import Any, NamedTuple

_APP_ROOTS: dict[str, str] = {}


def scratch_dir(spark, prefix: str) -> str:
    """``mkdtemp`` under the session's auto-cleaned staging root.

    The root is created once per Spark application and ``rmtree``'d at
    interpreter exit, bounding on-disk accumulation to one live app's
    working set regardless of how many sf sweeps run."""
    app = spark.sparkContext.applicationId
    root = _APP_ROOTS.get(app)
    if root is None:
        root = tempfile.mkdtemp(prefix="tstables_stage_")
        _APP_ROOTS[app] = root
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=root)


# Process-wide writer lock, shared by the two session-conf-adjacent
# critical sections that a streaming foreachBatch can race in one
# process: the dynamic-overwrite toggle-and-restore below, and the
# epoch-append marker check+publish (operators/asof.py) — POSIX rename
# silently REPLACES an existing destination on RawLocalFileSystem, so
# without serialization two in-process appends could both pass the
# exists check and the second would clobber the first writer's crash
# evidence. Cross-process publication stays best-effort on local FS
# (HDFS-class stores enforce rename-refuses-existing themselves).
_OVERWRITE_LOCK = threading.Lock()


def dynamic_partition_overwrite(spark):
    """Context manager: run ``insertInto(..., overwrite=True)`` writes
    under ``spark.sql.sources.partitionOverwriteMode=dynamic``,
    serialized by a process-wide lock.

    The session conf is the ONLY lever — the per-write
    ``.option("partitionOverwriteMode", "dynamic")`` is silently
    IGNORED by the catalog-table insertInto path (verified r13: the
    option-only write truncated every untouched partition), so the
    toggle-and-restore must be made concurrency-safe instead: without
    the lock, two writers in one session (reachable via streaming
    foreachBatch) can interleave so one's restore lands between the
    other's set and write, running that write in STATIC mode and
    truncating every partition of its table."""
    from contextlib import contextmanager

    @contextmanager
    def _cm():
        with _OVERWRITE_LOCK:
            saved = spark.conf.get(
                "spark.sql.sources.partitionOverwriteMode", "STATIC"
            )
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            try:
                yield
            finally:
                spark.conf.set("spark.sql.sources.partitionOverwriteMode", saved)

    return _cm()


# The stage-once registry (module docstring): full_key -> _Entry.
# LRU-bounded because a long-lived session running the full query
# registry accumulates one catalog table + one JVM filesource-relation
# cache entry (file listing + schema, heap-resident) per staged
# relation — unbounded, that OOM'd a 1 GB vanilla driver after ~200
# queries of an sf0.1 sweep. Evicting drops the entry's catalog tables
# (which invalidates the JVM relation cache) and reclaims its scratch
# bytes. Insertion order == recency (dict preserves order; hits
# re-insert).
_STREAM_PINNED: dict = {}
_STREAM_PINNED_CAP = 48
_STREAM_PINNED_LOCK = threading.Lock()
# In-use refcounts: full_key -> count of live hold_stream_pins scopes
# that touched the entry. Guarded by _STREAM_PINNED_LOCK. Eviction
# skips keys with refs > 0, so a plan constructed over the LRU tail
# cannot lose its files to a concurrent insert while its query scope
# is open.
_STREAM_PINNED_REFS: dict = {}
_PIN_SCOPES = threading.local()
# Per-thread stack of the table lists of in-flight builds:
# register_staged_table appends to the innermost one, so an entry knows
# every catalog table its build created.
_BUILDS = threading.local()


class _Entry(NamedTuple):
    """A registry entry: what the build returned, the scratch dir it
    wrote under, and the catalog tables it registered."""

    value: Any
    dir: str
    tables: tuple


def _note_pin_use(full_key) -> None:
    """Record that the current thread's innermost hold_stream_pins
    scope (if any) touched ``full_key``. Caller holds
    ``_STREAM_PINNED_LOCK``."""
    stack = getattr(_PIN_SCOPES, "stack", None)
    if stack:
        _STREAM_PINNED_REFS[full_key] = _STREAM_PINNED_REFS.get(full_key, 0) + 1
        stack[-1].append(full_key)


def _release_pin_refs(held: list) -> None:
    with _STREAM_PINNED_LOCK:
        for k in held:
            n = _STREAM_PINNED_REFS.get(k, 0) - 1
            if n <= 0:
                _STREAM_PINNED_REFS.pop(k, None)
            else:
                _STREAM_PINNED_REFS[k] = n


class _PinScope:
    """Handle yielded by ``hold_stream_pins``: ``transfer_to(df)`` moves
    the scope's refcounts onto ``df``'s LIFETIME (released by a weakref
    finalizer when the frame is garbage-collected) instead of at scope
    exit. This extends the eviction immunity past plan CONSTRUCTION to
    the frame's later EXECUTION: a concurrent foreachBatch thread
    staging >cap entries between the query fn returning and the
    driver's collect could otherwise evict a table the plan still
    scans."""

    def __init__(self, held: list):
        self.held = held
        self.transferred = False

    def transfer_to(self, obj) -> None:
        import weakref

        try:
            weakref.finalize(obj, _release_pin_refs, self.held)
        except TypeError:
            return  # not weakref-able: refs release at scope exit
        self.transferred = True


def hold_stream_pins():
    """Context manager: every registry entry touched by THIS THREAD
    inside the scope is refcounted and immune to LRU eviction until the
    scope exits — or, when the yielded scope's ``transfer_to(df)`` is
    called, until ``df`` is garbage-collected. The registry wrapper
    brackets each query's plan construction with it AND transfers the
    refs to the returned frame, so an entry a plan scans stays
    eviction-immune through the driver's execution of that frame for
    as long as the caller holds it (it must, to execute it). A frame
    held forever holds its entries' refs forever — bounded by live
    DataFrames, the caller's working set. Reentrant (nested scopes
    each hold their own touches)."""
    from contextlib import contextmanager

    @contextmanager
    def _cm():
        stack = getattr(_PIN_SCOPES, "stack", None)
        if stack is None:
            stack = _PIN_SCOPES.stack = []
        held: list = []
        scope = _PinScope(held)
        stack.append(held)
        try:
            yield scope
        finally:
            stack.pop()
            if not scope.transferred:
                _release_pin_refs(held)

    return _cm()


def _drop_tables(spark, tables) -> None:
    """Best-effort DROP: the metastore may belong to a finished app, or
    the JVM gateway may already be down at exit."""
    for t in tables:
        try:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        except Exception:
            pass


def _drop_entry(spark, entry: _Entry) -> None:
    """DROP the entry's catalog tables and remove its scratch dir."""
    _drop_tables(spark, entry.tables)
    shutil.rmtree(entry.dir, ignore_errors=True)


def _evict_stream_pins(spark, cap: int, keep=None) -> None:
    """Drop least-recently-used entries beyond ``cap``, skipping
    ``keep`` and in-use entries (refcount > 0 — a held entry may
    transiently push the registry over cap; it is reclaimed on the next
    insert after its scope closes). Caller must NOT hold
    ``_STREAM_PINNED_LOCK``: the victims are popped under the lock, but
    the catalog DROP and the rmtree run after release so concurrent
    lookups never stall behind metastore calls."""
    victims: list = []
    with _STREAM_PINNED_LOCK:
        overflow = len(_STREAM_PINNED) - cap
        for key in list(_STREAM_PINNED):
            if overflow <= 0:
                break
            if key == keep or _STREAM_PINNED_REFS.get(key, 0) > 0:
                continue
            victims.append(_STREAM_PINNED.pop(key))
            overflow -= 1
    for entry in victims:
        _drop_entry(spark, entry)


def staged(spark, prefix: str, key, build):
    """Stage a relation once per ``(applicationId, prefix, key)`` and
    return what ``build`` returned for it: a table tag, a path, or any
    other value that names the staged files.

    On a miss ``build(tag, d)`` runs outside the lock with a fresh
    ``tag`` (``prefix`` + a uuid suffix, a valid identifier for the
    catalog tables it creates) and a fresh ``d = scratch_dir(spark,
    prefix + "_")`` to write under; it must register every catalog
    table it creates with ``register_staged_table``. Two threads may
    build the same key at once: the re-check under the lock keeps the
    first winner and drops the loser's tables and dir. Every entry is
    refcounted by ``hold_stream_pins`` and LRU-evicted beyond
    ``_STREAM_PINNED_CAP``; eviction drops its tables and dir.

    ``key=None`` stages fresh and unregistered — a per-call relation
    whose tables are dropped at interpreter exit."""
    import uuid

    full_key = (spark.sparkContext.applicationId, prefix, key)
    if key is not None:
        with _STREAM_PINNED_LOCK:
            hit = _STREAM_PINNED.pop(full_key, None)
            if hit is not None:
                _STREAM_PINNED[full_key] = hit  # re-insert: refresh recency
                _note_pin_use(full_key)
                return hit.value
    tag = f"{prefix}_{uuid.uuid4().hex[:8]}"
    d = scratch_dir(spark, prefix + "_")
    tables: list = []
    builds = _BUILDS.__dict__.setdefault("stack", [])
    builds.append(tables)
    try:
        value = build(tag, d)
    finally:
        builds.pop()
    if key is None:
        return value
    entry = _Entry(value, d, tuple(tables))
    with _STREAM_PINNED_LOCK:
        winner = _STREAM_PINNED.pop(full_key, None)
        _STREAM_PINNED[full_key] = winner or entry
        _note_pin_use(full_key)
    if winner is not None:
        _drop_entry(spark, entry)
        return winner.value
    _evict_stream_pins(spark, _STREAM_PINNED_CAP, keep=full_key)
    return value


def is_pinned(spark, prefix: str, cache_key: tuple) -> bool:
    """Whether an unbucketed ``stream_pin(df, prefix, cache_key)`` would
    hit the registry now (a probe: touches neither recency nor refs)."""
    key = (spark.sparkContext.applicationId, prefix, (cache_key, None, None))
    return key in _STREAM_PINNED


def stream_pin(
    df,
    prefix: str,
    cache_key: tuple | None = None,
    bucket_by: str | None = None,
    num_buckets: int | None = None,
):
    """Materialize a multiply-consumed CORPUS-SIZED relation by
    STREAMING it into a scratch parquet table: ``pin``'s big path (see
    the module docstring). ``cache_key``: a tuple identifying the
    relation as a pure function of its inputs — when given, the table
    is a ``staged`` entry. ``bucket_by`` / ``num_buckets``: optionally
    bucket the staged table so key-clustered consumers (a groupBy or
    shuffle-hash join on the bucket key) read it with ZERO exchange."""
    spark = df.sparkSession
    nb = None
    if bucket_by is not None:
        nb = num_buckets or int(spark.conf.get("spark.sql.shuffle.partitions"))
    # the layout knobs are part of the relation's identity: a cached
    # UNBUCKETED table returned to a caller expecting the bucketed
    # zero-exchange scan would regain the full shuffle with no error
    key = None if cache_key is None else (cache_key, bucket_by, nb)

    def build(tag: str, d: str) -> str:
        w = df.write
        if bucket_by is not None:
            # repartition on the bucket key first: without it a T-task
            # upstream writes up to T x nb files — every later scan
            # then pays the listing and the per-bucket multi-file merge
            w = df.repartition(nb, bucket_by).write.bucketBy(nb, bucket_by)
        w.option("path", d + "/d").mode("overwrite").saveAsTable(tag)
        register_staged_table(spark, tag)
        return tag

    return spark.table(staged(spark, prefix, key, build))


def pin(
    df,
    big: bool = False,
    prefix: str = "pin",
    cache_key: tuple | None = None,
    bucket_by: str | None = None,
):
    """Materialize ``df`` eagerly and return the pinned frame (see the
    module docstring): a memory-first localCheckpoint unless ``big``;
    if ``big``, a ``DISK_ONLY`` localCheckpoint, or, given a
    ``cache_key`` or ``bucket_by``, a ``stream_pin`` scratch table
    named after ``prefix``."""
    from pyspark import StorageLevel

    if big and (cache_key is not None or bucket_by is not None):
        return stream_pin(df, prefix, cache_key=cache_key, bucket_by=bucket_by)
    if big:
        return df.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        jspark = df.sparkSession._jsparkSession
    except AttributeError:  # no py4j handles (Spark Connect): not shown small
        plan = None
    if plan is not None:
        leaves = plan.collectLeaves()
        if all(leaves.apply(i).nodeName() != "LogicalRDD" for i in range(leaves.size())):
            bound = jspark.sessionState().conf().autoBroadcastJoinThreshold()
            if 0 <= plan.stats().sizeInBytes() <= bound:
                return df.localCheckpoint(eager=True)  # Spark's default level
    return df.localCheckpoint(eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)


# Most rows of two int64 columns that ``one_task`` hands one Python
# worker. Measured on a 4-core x86 VM (numpy 1.26, Spark 4.1.2), peak
# RSS (VmHWM) of the kernel's worker: PageRank 557 MiB at 4M half edges
# over 150k nodes; connected components 561-568 MiB at 4M random pairs
# over 1M nodes (240 MiB at 1M), where the kernel call took 11-13 s
# end to end against 61 s and 42 jobs for the distributed rounds. Both
# stay a small fraction of a 15 GB host next to the 8g JVM heap.
ONE_TASK_ROWS_MAX = 4_000_000


def one_task(df, rows: int, kernel, schema: str):
    """``kernel`` run over all of ``df`` in ONE Python task, or None
    when ``rows`` (a count of ``df``'s rows or an upper bound on it)
    exceeds ``ONE_TASK_ROWS_MAX``: the caller then runs its distributed
    path.

    ``df`` is repartitioned to one partition and its Arrow batches are
    concatenated into one numpy array per column, passed to ``kernel``
    in column order. ``kernel`` returns a mapping of column name to
    array, read as ``schema``. An empty ``df`` yields no rows and never
    calls ``kernel``. ``kernel`` must be a closure, so it is pickled by
    value: a worker of a session started from another directory cannot
    import this package."""
    if rows > ONE_TASK_ROWS_MAX:
        return None

    def run(batches):
        import numpy as np
        import pandas as pd

        parts = [[b[c].to_numpy() for c in b.columns] for b in batches]
        if not any(len(p[0]) for p in parts):
            return
        cols = [np.concatenate(c) for c in zip(*parts)]
        del parts
        yield pd.DataFrame(kernel(*cols))

    return df.repartition(1).mapInPandas(run, schema)


def register_staged_table(spark, table: str) -> None:
    """Record ``table`` as created by the innermost in-flight ``staged``
    build on this thread (its entry drops it on eviction), and DROP it
    best-effort at interpreter exit.

    The data files live under ``scratch_dir`` (external tables), so the
    bytes are reclaimed by the root's ``rmtree`` either way; this keeps
    the metastore from accumulating dangling entries when the warehouse
    outlives the app (e.g. a derby metastore in the repo dir)."""
    builds = getattr(_BUILDS, "stack", None)
    if builds:
        builds[-1].append(table)
    atexit.register(_drop_tables, spark, (table,))


class FileStats(NamedTuple):
    """Free statistics of a file-backed frame (see ``file_stats``)."""

    bytes: int
    rows: int
    lo: Any  # min of the requested column over every row group, or None
    hi: Any  # max of it, or None


def file_stats(df, column: str | None = None) -> FileStats | None:
    """Summed sizes of ``df.inputFiles()``, their Parquet footer row
    count and, for ``column``, the min/max over every non-empty row
    group — read in this process from file metadata only: no Spark job,
    no data page. The statistics describe the files under ``df``, not
    ``df`` itself, so they bound any frame derived from them by
    projection or filter.

    ``lo``/``hi`` are None when the column is absent from a file or a
    row group lacks min/max statistics (a writer with statistics off);
    the whole result is None when a file cannot be read as Parquet
    through pyarrow's filesystems, so callers fall back to a measured
    statistic instead of trusting a partial one."""
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    size, rows, lo, hi = 0, 0, None, None
    ranged = column is not None
    try:
        for uri in df.inputFiles():
            fs, path = pafs.FileSystem.from_uri(uri)
            size += fs.get_file_info(path).size
            with fs.open_input_file(path) as f:
                md = pq.ParquetFile(f).metadata
            rows += md.num_rows
            if not ranged:
                continue
            names = md.schema.names
            if column not in names:
                ranged = False
                continue
            i = names.index(column)
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                if rg.num_rows == 0:
                    continue
                st = rg.column(i).statistics
                if st is None or not st.has_min_max:
                    ranged = False
                    break
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
    except (OSError, ValueError):  # pyarrow's IO / ArrowInvalid errors
        return None
    if not ranged:
        lo = hi = None
    return FileStats(size, rows, lo, hi)
