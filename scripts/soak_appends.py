#!/usr/bin/env python
"""Append-path soak (r13; r12 verdict item 6): real series take MANY
small appends, and r12 only proved ONE append bit-identical. This
drives >= 20 sequential appends through both staged-layout append paths
and records the full curves (append wall, file counts, plan shape,
correctness spot checks) — results in SCALE.md r13.

- NSW (append_nsw_layout): a 10x replica corpus (20k vectors, 100
  label blocks of 200) staged over its first 80 blocks, then 20
  appends of ONE new block each — the realistic growth axis (blocks
  arrive; block size is the knob). Per round: wall, file counts of all
  three tables, the zero-Exchange bucketed-edges claim. Rounds 10/20:
  the staged walk must equal a FRESH nsw_topk over the cumulative
  corpus. Final: all three tables' row sets equal a fresh re-stage.
- as-of epochs (append_asof_epoch_layout): the same 20-append drive
  against the epoch-partitioned layout at 1x AND 10x archive sizes —
  walls must be flat and independent of archive size, archive epoch
  files byte-untouched, reads value-equal to the batch asof_join.
- as-of (append_asof_layout): sf0.1 events/orders staged over the
  first 60% of events by time, then 20 left-side appends of the next
  2% slice each — the daily-ingest shape. Per round: wall, file count
  (must stay one file per bucket — the sort-elision contract), the
  zero-Exchange / zero-Sort read plan. Every 5 rounds: presorted read
  equals the batch asof_join over the cumulative frames. The wall
  curve documents the layout's HONEST cost: each append rewrites
  O(|staged|+|new|) (operators/asof.py docstring) — bounded in
  production by per-epoch tables.

Usage: python scripts/soak_appends.py [nsw|asof|asof_epochs|both]
Prints one JSON line per soak; per-round curves inline.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# The NSW soak appends one of the 10x corpus's 100 label blocks per
# round (needs >= 1 staged block left), and the as-of soak slices the
# [0.6, 1.0] id-quantile range into ROUNDS appends — both bound ROUNDS.
ROUNDS = int(os.environ.get("SOAK_APPENDS", "20"))
assert 1 <= ROUNDS <= 99, "SOAK_APPENDS must be in [1, 99]"


def _count_files(path: str) -> int:
    n = 0
    for _, _, files in os.walk(path):
        n += sum(1 for f in files if not f.startswith(("_", ".")))
    return n


def soak_nsw(spark) -> dict:
    from tstables_spark.operators.similarity import (
        append_nsw_layout,
        nsw_topk,
        nsw_topk_staged,
        stage_nsw_layout,
    )
    from tstables_spark._staging import scratch_dir

    emb0 = spark.read.parquet(f"{SF}/embeddings.parquet")
    reps = 10
    parts = [
        emb0.select(
            (F.col("vec_id") + F.lit(i * 2000)).alias("vec_id"),
            "embedding",
            (F.col("label") + F.lit(i * 10)).alias("label"),
        )
        for i in range(reps)
    ]
    emb = parts[0]
    for p in parts[1:]:
        emb = emb.unionByName(p)
    emb = emb.localCheckpoint(eager=True)
    n_blocks = reps * 10
    first = n_blocks - ROUNDS  # stage everything but the last ROUNDS blocks
    tag = "nswsoak"
    root = scratch_dir(spark, "nsw_soak_")
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    stage_nsw_layout(emb.where(F.col("label") < first), tag, f"{root}/nsw")
    pred = F.col("vec_id") < 10
    curve = []
    for i in range(ROUNDS):
        blk = first + i
        new = emb.where(F.col("label") == blk)
        t0 = time.perf_counter()
        append_nsw_layout(spark, new, tag)
        wall = time.perf_counter() - t0
        files = {
            p: _count_files(f"{root}/nsw/{p}") for p in ("edges", "base", "entries")
        }
        edges = spark.table(f"{tag}_edges")
        plan = (
            edges.groupBy("src")
            .count()
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan, f"round {i}: bucketed claim broken"
        row = {"round": i + 1, "wall_s": round(wall, 2), **files}
        if (i + 1) in (ROUNDS // 2, ROUNDS):
            cum = emb.where(F.col("label") <= blk)
            walk = {
                tuple(r) for r in nsw_topk_staged(spark, tag, pred, k=5).collect()
            }
            fresh = {tuple(r) for r in nsw_topk(cum, pred, k=5).collect()}
            row["walk_equals_fresh"] = walk == fresh
            assert walk == fresh, f"round {i}: staged walk != fresh nsw_topk"
        curve.append(row)
        print(json.dumps(row), flush=True)
    # final: every table bit-equal (as row sets) to a fresh re-stage
    tag_b = "nswsoak_fresh"
    stage_nsw_layout(emb, tag_b, f"{root}/nsw_fresh")

    def rows_of(t, part):
        return {
            tuple(tuple(c) if isinstance(c, list) else c for c in r)
            for r in spark.table(f"{t}_{part}").collect()
        }

    identical = all(
        rows_of(tag, p) == rows_of(tag_b, p) for p in ("edges", "base", "entries")
    )
    assert identical, "20-append layout != fresh re-stage"
    for t in (tag, tag_b):
        for p in ("edges", "base", "entries"):
            spark.sql(f"DROP TABLE IF EXISTS {t}_{p}")
    return {
        "soak": "nsw_appends",
        "rounds": ROUNDS,
        "vectors": emb.count(),
        "final_equals_restage": identical,
        "wall_first5": round(sum(c["wall_s"] for c in curve[:5]) / 5, 2),
        "wall_last5": round(sum(c["wall_s"] for c in curve[-5:]) / 5, 2),
        "files_first": {p: curve[0][p] for p in ("edges", "base", "entries")},
        "files_last": {p: curve[-1][p] for p in ("edges", "base", "entries")},
    }


def soak_asof(spark) -> dict:
    from tstables_spark.operators.asof import (
        append_asof_layout,
        asof_join,
        asof_join_presorted,
        stage_asof_layout,
    )
    from tstables_spark._staging import scratch_dir
    from tstables_spark.plans.tables import load

    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    ev = load(spark, SF, "events").select("event_id", "user_id", "ts")
    od = (
        load(spark, SF, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(
            F.max("o_orderkey").alias("o_orderkey"),
            F.max_by("o_totalprice", "o_orderkey").alias("o_totalprice"),
        )
    ).localCheckpoint(eager=True)
    cuts = ev.approxQuantile(
        "event_id", [0.6 + 0.4 * i / ROUNDS for i in range(ROUNDS + 1)], 0.0
    )
    ev = ev.localCheckpoint(eager=True)
    tag = "asofsoak"
    root = scratch_dir(spark, "asof_soak_")
    path = f"{root}/t"
    stage_asof_layout(
        ev.where(F.col("event_id") < cuts[0]),
        od,
        left_on="ts",
        right_on="o_orderdate",
        left_by="user_id",
        right_by="o_custkey",
        right_values=["o_orderkey", "o_totalprice"],
        table_name=tag,
        path=path,
        num_buckets=8,
    )
    curve = []
    for i in range(ROUNDS):
        lo, hi = cuts[i], cuts[i + 1]
        cond = (F.col("event_id") >= lo) & (F.col("event_id") < hi)
        if i == ROUNDS - 1:
            cond = F.col("event_id") >= lo
        t0 = time.perf_counter()
        append_asof_layout(
            spark,
            tag,
            path,
            left=ev.where(cond),
            left_on="ts",
            left_by="user_id",
            num_buckets=8,
        )
        wall = time.perf_counter() - t0
        pre = asof_join_presorted(
            spark, tag, ["event_id", "user_id", "ts"], ["o_orderkey", "o_totalprice"]
        )
        plan = pre._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"round {i}: Exchange crept in"
        assert not re.search(r"\(\d+\) Sort ", plan), f"round {i}: Sort crept in"
        row = {
            "round": i + 1,
            "wall_s": round(wall, 2),
            "files": _count_files(path),
        }
        assert row["files"] <= 8 + 1, "one-file-per-bucket contract broken"
        if (i + 1) % 5 == 0:
            hi_cut = None if i == ROUNDS - 1 else cuts[i + 1]
            cum = ev if hi_cut is None else ev.where(F.col("event_id") < hi_cut)
            want = {
                tuple(r)
                for r in asof_join(
                    cum,
                    od,
                    "ts",
                    "o_orderdate",
                    "user_id",
                    "o_custkey",
                    ["o_orderkey", "o_totalprice"],
                ).collect()
            }
            got = {tuple(r) for r in pre.collect()}
            row["read_equals_batch"] = got == want
            assert got == want, f"round {i}: presorted read != batch asof"
        curve.append(row)
        print(json.dumps(row), flush=True)
    spark.sql(f"DROP TABLE IF EXISTS {tag}")
    return {
        "soak": "asof_appends",
        "rounds": ROUNDS,
        "events": ev.count(),
        "wall_first5": round(sum(c["wall_s"] for c in curve[:5]) / 5, 2),
        "wall_last5": round(sum(c["wall_s"] for c in curve[-5:]) / 5, 2),
        "files_last": curve[-1]["files"],
    }


def soak_asof_epochs(spark) -> dict:
    """The epoch-partitioned layout under the SAME 20-append drive as
    soak_asof, plus a 10x-archive variant: append walls must be flat
    AND independent of how much archive sits in other epochs (the
    bounded-I/O contract), with archive partition files byte-untouched
    throughout — the claim the full-rewrite layout cannot make."""
    from tstables_spark.operators.asof import (
        _EPOCH,
        append_asof_epoch_layout,
        asof_join,
        asof_join_presorted,
        stage_asof_epoch_layout,
    )
    from tstables_spark._staging import scratch_dir
    from tstables_spark.plans.tables import load

    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    ev0 = load(spark, SF, "events").select("event_id", "user_id", "ts")
    od = (
        load(spark, SF, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(
            F.max("o_orderkey").alias("o_orderkey"),
            F.max_by("o_totalprice", "o_orderkey").alias("o_totalprice"),
        )
    ).localCheckpoint(eager=True)
    out = {}
    for tag_sz, reps in (("1x_archive", 1), ("10x_archive", 10)):
        # replicate events backward in time: replica i shifts ts -i
        # years, so replicas land in DISTINCT year epochs (the archive)
        # and the append target epoch stays the same size
        parts = [
            ev0.select(
                (F.col("event_id") + F.lit(i * 10_000_000)).alias("event_id"),
                "user_id",
                (F.col("ts") - F.expr(f"INTERVAL {i * 366} DAYS")).alias("ts"),
            )
            for i in range(reps)
        ]
        ev = parts[0]
        for p in parts[1:]:
            ev = ev.unionByName(p)
        ev = ev.localCheckpoint(eager=True)
        newest = ev0  # appends always target the newest (2024) epoch
        cuts = newest.approxQuantile(
            "event_id", [0.6 + 0.4 * i / ROUNDS for i in range(ROUNDS + 1)], 0.0
        )
        tag = f"asofep_{tag_sz}"
        root = scratch_dir(spark, f"asof_ep_{tag_sz}_")
        epoch_of = F.year
        stage_asof_epoch_layout(
            ev.where(F.col("event_id") >= 10_000_000).unionByName(
                newest.where(F.col("event_id") < cuts[0])
            ),
            od,
            left_on="ts",
            right_on="o_orderdate",
            left_by="user_id",
            right_by="o_custkey",
            right_values=["o_orderkey", "o_totalprice"],
            table_name=tag,
            path=f"{root}/t",
            epoch_of=epoch_of,
            num_buckets=8,
        )
        archive_dirs = sorted(
            d for d in os.listdir(f"{root}/t") if d.startswith(_EPOCH) and "2024" not in d
        )
        archive_sig = {
            d: sorted(os.listdir(f"{root}/t/{d}")) for d in archive_dirs
        }
        walls = []
        for i in range(ROUNDS):
            lo, hi = cuts[i], cuts[i + 1]
            cond = (F.col("event_id") >= lo) & (
                F.lit(i == ROUNDS - 1) | (F.col("event_id") < hi)
            )
            t0 = time.perf_counter()
            append_asof_epoch_layout(
                spark,
                tag,
                left=newest.where(cond),
                left_on="ts",
                left_by="user_id",
                epoch_of=epoch_of,
                num_buckets=8,
            )
            walls.append(round(time.perf_counter() - t0, 2))
        assert {
            d: sorted(os.listdir(f"{root}/t/{d}")) for d in archive_dirs
        } == archive_sig, "archive epoch files were touched"
        pre = asof_join_presorted(
            spark, tag, ["event_id", "user_id", "ts"], ["o_orderkey", "o_totalprice"]
        )
        plan = pre._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        # VALUE-complete equality, not a count (a left as-of always has
        # exactly one row per left row, so counts are value-blind):
        # symmetric exceptAll stays distributed at 10x.
        want = asof_join(
            ev, od, "ts", "o_orderdate", "user_id", "o_custkey",
            ["o_orderkey", "o_totalprice"],
        ).select("event_id", "user_id", "ts", "o_orderkey", "o_totalprice")
        got = pre.select("event_id", "user_id", "ts", "o_orderkey", "o_totalprice")
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
        # r14: the streaming caller's idempotent mode — replay the last
        # slice (its rows are already committed) and record the wall:
        # this measures the exceptAll delta's cost at this archive size
        # AND proves the replay is a row-level no-op
        n_before = spark.table(tag).count()
        t0 = time.perf_counter()
        append_asof_epoch_layout(
            spark,
            tag,
            left=newest.where(F.col("event_id") >= cuts[ROUNDS - 1]),
            left_on="ts",
            left_by="user_id",
            epoch_of=epoch_of,
            num_buckets=8,
            idempotent=True,
        )
        replay_wall = round(time.perf_counter() - t0, 2)
        assert spark.table(tag).count() == n_before, "replay added rows"
        # the replay must honor the same bounded-I/O contract: archive
        # epoch files byte-untouched by the idempotent path too
        assert {
            d: sorted(os.listdir(f"{root}/t/{d}")) for d in archive_dirs
        } == archive_sig, "idempotent replay touched archive epochs"
        out[tag_sz] = {
            "rows_staged": ev.count(),
            "wall_first5": round(sum(walls[:5]) / 5, 2),
            "wall_last5": round(sum(walls[-5:]) / 5, 2),
            "idempotent_replay_wall": replay_wall,
            "archive_untouched": True,
        }
        spark.sql(f"DROP TABLE IF EXISTS {tag}")
        print(json.dumps({tag_sz: out[tag_sz]}), flush=True)
    return {"soak": "asof_epoch_appends", "rounds": ROUNDS, **out}


def main() -> None:
    from tstables_spark import get_spark

    which = sys.argv[1] if len(sys.argv) > 1 else "both"
    spark = get_spark("soak_appends")
    if which in ("nsw", "both"):
        print("NSW " + json.dumps(soak_nsw(spark)), flush=True)
    if which in ("asof", "both"):
        print("ASOF " + json.dumps(soak_asof(spark)), flush=True)
    if which in ("asof_epochs", "both"):
        print("ASOF_EPOCHS " + json.dumps(soak_asof_epochs(spark)), flush=True)


if __name__ == "__main__":
    main()
