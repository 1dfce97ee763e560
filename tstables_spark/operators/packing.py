"""Sequence packing: assign documents to fixed-token-budget packs.

LLM pretraining concatenates documents into fixed-length sequences; the
assignment step is "walk the corpus in a canonical order, cut a new pack
every time the running token count crosses the budget". That running
count is a GLOBAL prefix sum — the naive Spark expression
(``sum().over(Window.orderBy(key))`` with no partitionBy) collapses all
rows into ONE task and is the textbook non-scalable plan.

``pack_sequences`` computes the same prefix sum in two phases, the
classic distributed scan:

1. range-repartition by the canonical key (so partition p holds a
   contiguous key range) and compute each partition's LOCAL running sum
   plus its partition TOTAL — one narrow pass;
2. collect only the P partition totals to the driver (P numbers, not
   rows), prefix-sum them there, and broadcast the per-partition offsets
   back; global running = local running + offset[p].

Wall-clock: ONE scan of the input (materialized at its range
partitioning via localCheckpoint — which also pins a single boundary
set, see the comment in ``pack_sequences``), two cheap passes over the
materialized partitions (totals, final projection), and a P-element
driver exchange, regardless of row count. The result is independent of
P and of where range boundaries land (the prefix sum over a fixed total
order doesn't care how it's chopped). This is the same decomposition
Spark itself uses inside ``zipWithIndex``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from tstables_spark._staging import pin


def distributed_cumsum(
    df: DataFrame,
    order_cols: list[str],
    value_cols: list[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Inclusive prefix sums of ``value_cols`` in ``order_cols`` order,
    WITHOUT the single-task global window — the two-phase distributed
    scan factored out of ``pack_sequences`` so any bounded-or-not
    cumulative query (CDFs, running totals over an aggregated domain)
    can reuse it: range-repartition on the order key (pinned with an
    eager localCheckpoint so the offsets job and the caller's final
    action see ONE boundary set), per-partition running sums under a
    ``spark_partition_id``-keyed window, then an O(P)-row driver
    exchange turns partition totals into per-partition offsets.

    Adds one ``cum_<col>`` column per value column; ``value_cols`` must
    be non-null (counts/sums — ``F.sum`` over a window skips nulls, so a
    null would silently shift the running total), and ``order_cols``
    must form a UNIQUE key per row: the per-partition window uses the
    default RANGE frame, so order-key ties would all receive the same
    (peak) running value instead of a row-by-row scan. Every current
    caller orders by the output key of a prior groupBy, which is unique
    by construction. Result is independent of P and of where the range
    boundaries land — which is what lets AQE pick P from the observed
    shuffle size (r17) instead of a constant tuned for either local
    mode or the cluster.
    """

    # Partition count: explicit when the caller passes one, else LET AQE
    # COALESCE the range shuffle by observed size (repartitionByRange
    # with no count is AQE-rebalanceable; a bare count pins it). The
    # r17 profile showed why a constant is wrong at BOTH ends: every
    # cumsum consumer fed a post-aggregation histogram (49k rows at
    # sf0.1) through a fixed defaultParallelism=32 layout, so each of
    # the ~6 downstream scans (window, totals collect, consumers)
    # launched 32 near-empty tasks — ~8 of ts_robust_zscore's 10 s of
    # summed task time was this per-task overhead, not work. AQE picks
    # 1 partition there and grows with the histogram (advisory 64 MB)
    # at the 100x envelope / cluster scale. Correctness is untouched:
    # the result is P-independent (see below), and __pid is frozen by
    # the eager checkpoint before the offsets job reads it.
    cols = [F.col(c) for c in order_cols]
    ranged = (
        df.repartitionByRange(num_partitions, *cols)
        if num_partitions
        else df.repartitionByRange(*cols)
    )
    parts = pin(ranged.withColumn("__pid", F.spark_partition_id()))
    local = W.partitionBy("__pid").orderBy(*order_cols)
    out = parts
    for c in value_cols:
        out = out.withColumn(f"__local_{c}", F.sum(c).over(local))
    totals = {
        r["__pid"]: r
        for r in parts.groupBy("__pid")
        .agg(*[F.sum(c).alias(c) for c in value_cols])
        .collect()
    }
    acc = {c: 0 for c in value_cols}
    offsets: dict[int, dict[str, int]] = {}
    for pid in sorted(totals):
        offsets[pid] = dict(acc)
        for c in value_cols:
            acc[c] += totals[pid][c] or 0
    # Apply the offsets via an O(P)-row BROADCAST JOIN on __pid, not a
    # P-branch literal CASE: at cluster parallelism (defaultParallelism
    # in the thousands) a chained coalesce(when(__pid==k, lit)) makes
    # every row evaluate O(P) predicates and risks Catalyst's 64 KB
    # codegen method limit — whole-stage codegen then silently falls
    # back to interpreted evaluation in exactly the queries this
    # operator exists to scale. Same de-literalization pattern as
    # prefix_dup_flags' boundary relation (operators/dedup.py).
    out = _apply_offsets(out, offsets, value_cols)
    for c in value_cols:
        out = out.withColumn(f"cum_{c}", F.col(f"__local_{c}") + F.col(f"__off_{c}"))
    return out.drop(
        "__pid",
        *[f"__local_{c}" for c in value_cols],
        *[f"__off_{c}" for c in value_cols],
    )


def _apply_offsets(
    out: DataFrame, offsets: dict[int, dict[str, int]], value_cols: list[str]
) -> DataFrame:
    """Attach the per-partition offsets as ``__off_<col>`` columns.

    Fast path (r17, the ts_robust_zscore profile): a pid-indexed ARRAY
    LITERAL read by ``element_at(lit(arr), __pid + 1)`` — ONE constant
    object embedded in codegen, O(1) per row, no join, no broadcast,
    and critically no local relation at all. The former O(P)-row
    ``createDataFrame(rows)`` was a PYTHON-RDD-backed scan: every
    broadcast build over it ran defaultParallelism tasks that each
    paid a Python-worker roundtrip (~300 ms of non-CPU runtime), which
    jstack attributed as 36.7 of ts_robust_zscore's 41.7 s summed task
    time — pure plumbing for 32 rows of offsets (SCALE.md r17). The
    array stays a single JVM constant at cluster parallelism too
    (thousands of longs — unlike the P-branch CASE chain this operator
    already rejected for the 64 KB codegen limit).

    Decimal-typed offsets (a decimal sum column) keep the broadcast
    relation, built via Arrow from pandas when possible — a typed
    LocalRelation, still no Python at scan time.

    Offsets are summed driver-side in Python, so ints can exceed
    int64 only if the column itself would have overflowed its Spark
    type; such columns are decimal-typed upstream and take the
    relation path."""
    import decimal

    if not offsets:
        for c in value_cols:
            out = out.withColumn(f"__off_{c}", F.lit(0))
        return out
    pids = sorted(offsets)
    per_col: dict[str, list] = {}
    simple = True
    for c in value_cols:
        vals = [offsets[pid][c] for pid in pids]
        if any(isinstance(v, decimal.Decimal) for v in vals):
            vals = [
                v if isinstance(v, decimal.Decimal) else decimal.Decimal(v)
                for v in vals
            ]
            simple = False
        elif any(isinstance(v, float) for v in vals):
            vals = [float(v) for v in vals]
        else:
            if any(abs(v) > 0x7FFFFFFFFFFFFFFF for v in vals):
                simple = False  # beyond int64: keep the typed relation
        per_col[c] = vals
    if simple:
        # dense pid->offset arrays (empty partitions produced no totals
        # row and no output rows — their slots just hold 0)
        by_pid = {pid: i for i, pid in enumerate(pids)}
        for c in value_cols:
            is_f = any(isinstance(v, float) for v in per_col[c])
            dense = [
                (per_col[c][by_pid[i]] if i in by_pid else (0.0 if is_f else 0))
                for i in range(pids[-1] + 1)
            ]
            # floats stay float so lit() infers one array element type
            if is_f:
                dense = [float(v) for v in dense]
            out = out.withColumn(
                f"__off_{c}",
                F.element_at(F.lit(dense), F.col("__pid") + 1),
            )
        return out
    rows = [
        tuple([pid] + [per_col[c][i] for c in value_cols])
        for i, pid in enumerate(pids)
    ]
    cols = ["__pid"] + [f"__off_{c}" for c in value_cols]
    spark = out.sparkSession
    try:
        import pandas as pd

        off_df = spark.createDataFrame(
            pd.DataFrame(rows, columns=cols)
        )
    except Exception:
        off_df = spark.createDataFrame(rows, cols)
    # Every row's __pid appears in the offset relation (it came from a
    # groupBy over the same materialized partitions), so inner join is
    # exact — and keeps the null-safety question out of the sum.
    return out.join(F.broadcast(off_df), "__pid", "inner")


def pack_sequences(
    df: DataFrame,
    order_col: str,
    weight_col: str,
    budget: int,
    num_partitions: int | None = None,
) -> DataFrame:
    """Adds ``running`` (inclusive prefix sum of ``weight_col`` in
    ``order_col`` order) and ``pack_id`` = floor((running - weight) /
    budget): a document starts the pack its first token lands in.

    Oversized single documents (weight > budget) get a pack to
    themselves plus overflow — matching the window-SQL semantics
    exactly (see the oracle twin), not truncating.
    """

    # MATERIALIZE the range partitioning before anything reads __pid:
    # two separate jobs (the totals collect below and the caller's final
    # action) each re-run an un-materialized repartitionByRange, and
    # RangePartitioner's reservoir sample is seeded per-job (rdd.id), so
    # range boundaries — hence __pid assignment — could differ between
    # the job that computed the offsets and the job that applies them,
    # silently corrupting running/pack_id at scale (ADVICE r2, high).
    # localCheckpoint pins one boundary set both jobs read (the same
    # pattern components.py uses for its iterated edge list).
    # Partition count: explicit when passed, else AQE-coalesced by
    # observed shuffle size — same scale-adaptive rationale as
    # distributed_cumsum (r17); the result is P-independent.
    ranged = (
        df.repartitionByRange(num_partitions, F.col(order_col))
        if num_partitions
        else df.repartitionByRange(F.col(order_col))
    )
    parts = pin(ranged.withColumn("__pid", F.spark_partition_id()))
    local = W.partitionBy("__pid").orderBy(order_col)
    with_local = parts.withColumn(
        "__local_run", F.sum(weight_col).over(local)
    )
    # P rows to the driver — the only non-distributed step, O(P) not
    # O(N). sum(weight) is the partition total for any weight sign
    # (max(__local_run) would assume non-negative weights).
    totals = {
        r["__pid"]: r["t"]
        for r in parts.groupBy("__pid")
        .agg(F.sum(weight_col).alias("t"))
        .collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(totals):
        offsets[pid] = {"run": acc}
        acc += totals[pid]
    # O(P)-row broadcast join, not a P-branch literal CASE — see the
    # rationale in distributed_cumsum/_apply_offsets.
    with_off = _apply_offsets(with_local, offsets, ["run"])
    return (
        with_off.withColumn("running", F.col("__local_run") + F.col("__off_run"))
        .withColumn(
            "pack_id",
            F.floor((F.col("running") - F.col(weight_col)) / F.lit(budget)).cast("long"),
        )
        .drop("__pid", "__local_run", "__off_run")
    )
