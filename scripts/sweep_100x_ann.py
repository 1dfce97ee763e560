#!/usr/bin/env python
"""100x replica sweep for the two newest ANN scale stories (r11 verdict
item 7): IVF-PQ's ADC linear term and the staged-NSW walk.

Methodology: the standing r7 replica approach — the sf0.1 embeddings
table (2,000 vectors, 10 labels) replicated Rx with vec_id += i*2000
and label += i*10, so block SIZE stays constant (200 vectors) and
block COUNT grows Rx: the realistic 100 TB shape, where the blocking
knob bounds per-block work and scale adds blocks. Queries are the
same 10 ids (vec_id < 10) at every scale. Timings are end-to-end
(plan construction + collect, so eager index work is charged), best
of 3 after one warm run.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402


def replicate(spark, reps: int, path: str) -> None:
    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    parts = [
        emb.select(
            (F.col("vec_id") + F.lit(i * 2000)).alias("vec_id"),
            "embedding",
            (F.col("label") + F.lit(i * 10)).alias("label"),
        )
        for i in range(reps)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(32).write.mode("overwrite").parquet(path)


def best_of_3(fn) -> float:
    fn()  # warm
    return min(min(fn() for _ in range(3)), float("inf"))


def main() -> None:
    from tstables_spark import get_spark
    from tstables_spark.operators.similarity import (
        append_nsw_layout,
        cosine_topk,
        ivfpq_topk,
        nsw_topk_staged,
        stage_nsw_layout,
    )
    from tstables_spark._staging import scratch_dir

    spark = get_spark("ann_100x_sweep")
    pred = F.col("vec_id") < 10
    results = {}
    for reps in (1, 10, 100):
        root = scratch_dir(spark, f"sweep{reps}x_")
        path = f"{root}/emb"
        replicate(spark, reps, path)
        emb = spark.read.parquet(path)
        n = emb.count()

        def run_exact():
            t0 = time.perf_counter()
            cosine_topk(emb, pred, k=5).collect()
            return time.perf_counter() - t0

        def run_ivfpq():
            t0 = time.perf_counter()
            ivfpq_topk(emb, pred, k=5).collect()
            return time.perf_counter() - t0

        tag = f"nswsweep{reps}x"
        t0 = time.perf_counter()
        stage_nsw_layout(emb, tag, f"{root}/nsw")
        t_stage = time.perf_counter() - t0

        def run_walk():
            t0 = time.perf_counter()
            nsw_topk_staged(spark, tag, pred, k=5).collect()
            return time.perf_counter() - t0

        results[reps] = {
            "vectors": n,
            "exact_topk_s": round(best_of_3(run_exact), 2),
            "ivfpq_s": round(best_of_3(run_ivfpq), 2),
            "nsw_stage_s": round(t_stage, 2),
            "nsw_staged_walk_s": round(best_of_3(run_walk), 2),
        }
        # Append-path claim (r12): cost depends on AFFECTED BLOCKS, not
        # corpus size — 100 new vectors into 3 existing blocks should
        # time ~flat across 1x/10x/100x, and the walk must keep working
        # against the grown index.
        new = emb.where(F.col("vec_id") < 100).select(
            (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
            "embedding",
            (F.col("label") % 3).alias("label"),
        )
        t0 = time.perf_counter()
        append_nsw_layout(spark, new, tag)
        results[reps]["nsw_append_100v_s"] = round(time.perf_counter() - t0, 2)
        results[reps]["nsw_walk_after_append_s"] = round(run_walk(), 2)
        print(json.dumps({reps: results[reps]}), flush=True)
        # per-round judge-checkable artifact, shared with
        # sweep_100x_families.py (r14 verdict #8)
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        from sweep_100x_families import _record

        _record(f"ann_nsw_{reps}x", results[reps])
        for part in ("edges", "base", "entries"):
            spark.sql(f"DROP TABLE IF EXISTS {tag}_{part}")
    print("FINAL " + json.dumps(results), flush=True)


if __name__ == "__main__":
    main()
