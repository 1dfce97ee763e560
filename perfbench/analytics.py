"""The ``analytics`` workload: a fixed set of registry queries, checked
against their DuckDB oracles.

One query is ``QUERIES[name](spark, sf_dir)`` (construction, which runs
any eager jobs the plan needs) followed by a noop write of the returned
frame (execution). A pass runs every query once, in an order the seed
permutes per pass. The query set is frozen here, so edits to the repo's
own ``bench.py`` headline cannot change this workload.
"""

from __future__ import annotations

import os
import random
import time

import numpy as np
import pandas as pd

from perfbench import gen
from perfbench.stats import median
from perfbench.trace import PYTHON_NODES, SparkCounts

SF = 0.01

# One construction-bound iterative operator (PageRank: an eager job per
# round) and two execution-bound Python-worker / Arrow kernels, all from
# the headline. Trimmed to what fits the run budget (README.md).
QUERY_SET = (
    "graph_pagerank",
    "udtf_apply_in_pandas",
    "sim_knn_graph",
)
# Every query gets a median of at least this many passes, so one pass
# slowed by the host does not move it.
MIN_PASSES = 3
# Untimed passes first: after the set-up in a fresh JVM, PageRank's
# construction still gets ~1.4x faster over the next ten calls. More
# warm passes would level it further but do not fit the run budget.
WARM_PASSES = 2
CONSTRUCT_DETAIL = ("graph_pagerank",)


def _run_query(spark, name: str, sf_dir: str) -> None:
    """One call of a query as a pass makes it: construction, then a noop write."""
    from tstables_spark.plans.registry import QUERIES

    QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()


def analytics_setup(ctx) -> str:
    """The set-up: the fixture, then the warm pass, the first call of
    every query on it (staging, pins, Python workers, codegen)."""
    import tstables_spark.plans  # noqa: F401  (registers every query)

    sf_dir = os.path.join(ctx.work, f"sf{SF}")
    os.makedirs(sf_dir)
    gen.write_analytics_fixture(ctx.seed, SF, sf_dir)
    t0 = time.perf_counter()
    for name in QUERY_SET:
        with ctx.tracer.span(f"warm.{name}"):
            _run_query(ctx.spark, name, sf_dir)
    ctx.layer["plans.warm_s"] = ctx.layer["setup.program_s"] = time.perf_counter() - t0
    return sf_dir


def analytics(ctx, sf_dir: str) -> dict:
    """Passes over the fixture until the run length is used up, and at
    least MIN_PASSES. Each query call is one operation of its own kind,
    so a round is a pass and ``round_s`` the typical pass, robust to one
    slow query in one pass. Then one more untimed call of each query, on
    the same staged state the timed passes used, is checked against DuckDB."""
    from tstables_spark.plans.registry import QUERIES

    tr = ctx.tracer
    rng = random.Random(ctx.seed)
    for _ in range(WARM_PASSES):
        for name in QUERY_SET:
            _run_query(ctx.spark, name, sf_dir)
    t_end = time.perf_counter() + ctx.seconds
    passes = 0
    while passes < MIN_PASSES or time.perf_counter() < t_end:
        for name in rng.sample(QUERY_SET, len(QUERY_SET)):
            def call(name=name):
                with tr.span(f"construct.{name}", layer="plans"):
                    df = QUERIES[name](ctx.spark, sf_dir)
                with tr.span(f"exec.{name}", layer="operators"):
                    df.write.format("noop").mode("overwrite").save()
            ctx.op(name, call)
        passes += 1
    m = _layers(ctx) if tr.on else {}
    _check_oracles(ctx, sf_dir)
    return m


def _layers(ctx) -> dict:
    """The plans / operators split of a pass: each a sum over queries of
    the per-query median, like ``round_s``."""
    tr, mb = ctx.tracer, 2.0 ** 20
    counts = SparkCounts(ctx.spark.sparkContext)

    def by_query(layer, value):
        meds = {q: median([value(c) for sp in spans for c in tr.descendants(sp) if c.get("layer") == layer])
                for q, spans in ctx.op_spans.items()}
        return sum(meds.values()), meds

    def jobs(sp):
        return counts.jobs_in([sp["group"]])

    def py_jobs(sp):
        return [j for j in jobs(sp) if counts.has_python(counts.sql_of_job.get(j["jobId"], {}))]

    def node(sp, metric):
        return counts.node_metric(counts.executions(jobs(sp)), PYTHON_NODES, metric) / mb

    out = {}
    out["plans.construct_s"], cs = by_query("plans", lambda sp: sp["s"])
    out["plans.construct_jobs"], cj = by_query("plans", lambda sp: len(jobs(sp)))
    out["plans.construct_job_s"], _ = by_query("plans", lambda sp: counts.job_seconds(jobs(sp)))
    out["plans.construct_self_s"], _ = by_query("plans", lambda sp: counts.self_seconds(sp, jobs(sp)))
    for q in CONSTRUCT_DETAIL:
        out[f"plans.construct_s.{q}"], out[f"plans.construct_jobs.{q}"] = cs[q], cj[q]
    out["operators.exec_s"], _ = by_query("operators", lambda sp: sp["s"])
    out["operators.jobs"], _ = by_query("operators", lambda sp: len(jobs(sp)))
    out["operators.task_s"], et = by_query("operators", lambda sp: counts.stage_sum(jobs(sp), "executorRunTime") / 1e3)
    out["operators.cpu_s"], _ = by_query("operators", lambda sp: counts.stage_sum(jobs(sp), "executorCpuTime") / 1e9)
    out["operators.python_s"], _ = by_query("operators", lambda sp: (
        counts.stage_sum(py_jobs(sp), "executorRunTime") / 1e3 - counts.stage_sum(py_jobs(sp), "executorCpuTime") / 1e9))
    out["operators.to_python_mb"], _ = by_query("operators", lambda sp: node(sp, "data sent to Python workers"))
    out["operators.from_python_mb"], _ = by_query("operators", lambda sp: node(sp, "data returned from Python workers"))
    out["operators.shuffle_write_mb"], _ = by_query("operators", lambda sp: counts.stage_sum(jobs(sp), "shuffleWriteBytes") / mb)
    out["operators.shuffle_read_mb"], _ = by_query("operators", lambda sp: counts.stage_sum(jobs(sp), "shuffleReadBytes") / mb)
    out["operators.spill_mb"], _ = by_query("operators", lambda sp: counts.stage_sum(jobs(sp), "diskBytesSpilled") / mb)
    for q in QUERY_SET:
        out[f"operators.task_s.{q}"] = et[q]
    traced_round = sum(median([sp["s"] for sp in spans]) for spans in ctx.op_spans.values())
    out["plans.layer_sum_share"] = (out["plans.construct_s"] + out["operators.exec_s"]) / traced_round
    return out


# -- output check -----------------------------------------------------------

def value_hash(pdf: pd.DataFrame) -> tuple[int, int]:
    """(row count, order-insensitive hash of the rows), columns by name."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    cols = {}
    for c in pdf.columns:
        s = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dtype, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            s = s.astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_bool_dtype(s):
            s = s.astype("Int64")
        elif pd.api.types.is_integer_dtype(s):
            s = s.astype("Int64")
        elif pd.api.types.is_float_dtype(s):
            s = s.astype("float64")
        else:
            s = s.map(lambda v: repr([float(x) for x in v]) if isinstance(v, (list, np.ndarray)) else repr(v))
        cols[c] = s.reset_index(drop=True)
    rows = pd.util.hash_pandas_object(pd.DataFrame(cols), index=False).to_numpy(dtype=np.uint64)
    return len(pdf), int(rows.sum(dtype=np.uint64))


def _check_oracles(ctx, sf_dir: str) -> None:
    """Each query's output, from one more call after the timed passes,
    against DuckDB by row count + value hash; rows-only where no oracle."""
    import duckdb

    from tstables_spark.plans.registry import ORACLES, QUERIES

    outputs = {}
    for name in QUERY_SET:
        ctx.attempted += 1
        try:
            outputs[name] = QUERIES[name](ctx.spark, sf_dir).toPandas()
        except Exception as e:
            ctx.fail(f"{name} (check call): {e!r}")
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        for t in gen.ANALYTICS_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        for name, got in outputs.items():
            if name not in ORACLES:
                if len(got) == 0:
                    ctx.fail(f"{name}: empty result")
                continue
            want = con.execute(ORACLES[name]).fetchdf()
            if sorted(got.columns) != sorted(want.columns) or value_hash(got) != value_hash(want):
                ctx.fail(f"{name}: result differs from the oracle ({len(got)} vs {len(want)} rows)")
    finally:
        con.close()
