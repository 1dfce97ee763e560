#!/usr/bin/env python
"""One-off guide-§1 probe: decompose graph_triangles_approx (cut='10')
at the 100x envelope into its phases — pin staging, wedge expansion,
closure join — via per-phase noop timings and the REST task-time probe.

Usage: python scripts/probe_census.py [fixture_dir] [cut]

Not part of the bench contract; results land in SCALE.md prose.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

FIXTURE = sys.argv[1] if len(sys.argv) > 1 else "/tmp/events100x_fixture"
CUT = sys.argv[2] if len(sys.argv) > 2 else "10"


def main() -> None:
    from pyspark.sql import functions as F

    from tstables_spark import get_spark
    import tstables_spark.plans  # noqa: F401
    import tstables_spark.plans.analytics as A
    from tstables_spark.plans.tables import load
    from tstables_spark.plans._portable_sql import epoch_floor_div
    from tstables_spark.plans._staging import wide_initial_partitions

    import bench

    spark = get_spark(
        "probe_census",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
        },
    )
    sc = spark.sparkContext
    tw = wide_initial_partitions(spark)

    ev = load(tw, FIXTURE, "events")
    b0 = ev.select(
        "user_id",
        F.expr(epoch_floor_div("unix_micros(ts)", 60000000)).alias("bucket"),
    )
    out: dict = {}
    groups: dict = {}

    def timed(tag: str, fn):
        group = f"probe:{tag}"
        sc.setJobGroup(group, tag)
        t0 = time.perf_counter()
        r = fn()
        out[tag] = round(time.perf_counter() - t0, 2)
        groups[tag] = [group]
        sc.setLocalProperty("spark.jobGroup.id", None)
        print(json.dumps({tag: out[tag]}), flush=True)
        return r

    ck = (FIXTURE, CUT)
    # phase 1: sampled-edge pin (derive + stage the scratch table)
    se = timed(
        "se_pin",
        lambda: A.pin(
            A._doulion_sample(A.cooccurrence_edges(b0, cap=256), CUT),
            True,
            "doulion_se",
            cache_key=ck,
        ),
    )
    timed("se_count", lambda: print("  n_se =", se.count()))

    # phase 2: oriented-edge pin (degree join + orientation + stage)
    deg = (
        se.select(F.col("u").alias("node"))
        .unionAll(se.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("degree").alias("degu"))
    dv = deg.select(F.col("node").alias("v"), F.col("degree").alias("degv"))
    fwd = (F.col("degu") < F.col("degv")) | (
        (F.col("degu") == F.col("degv")) & (F.col("u") < F.col("v"))
    )
    oe0 = (
        se.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(fwd, F.col("degv")).otherwise(F.col("degu")).alias("ddeg"),
        )
    )
    oe = timed(
        "oe_pin", lambda: A.pin(oe0, True, "census_oe", cache_key=ck)
    )

    # phase 3: wedge expansion alone (current self-join shape), noop sink
    a, b = oe.alias("a"), oe.alias("b")
    wed = a.join(
        b,
        (F.col("a.src") == F.col("b.src"))
        & (
            (F.col("a.ddeg") < F.col("b.ddeg"))
            | (
                (F.col("a.ddeg") == F.col("b.ddeg"))
                & (F.col("a.dst") < F.col("b.dst"))
            )
        ),
    ).select(F.col("a.dst").alias("y"), F.col("b.dst").alias("z"))
    timed(
        "wedges_noop",
        lambda: wed.write.format("noop").mode("overwrite").save(),
    )

    # phase 4: full closure (wedges + join against oe), the census count
    c = oe.alias("c")
    tri = wed.join(
        c, (F.col("c.src") == F.col("y")) & (F.col("c.dst") == F.col("z"))
    ).agg(F.count(F.lit(1)).alias("t"))
    timed("census_full", lambda: print("  t =", tri.collect()[0]["t"]))

    tt = bench._group_task_times(spark, groups)
    print(json.dumps({"wall": out, "taskcpu": tt, "load": list(os.getloadavg())}))
    spark.stop()


if __name__ == "__main__":
    main()
