"""The fixed cost of a Python-worker task, against a JVM-only task.

Usage: python scripts/measure_python_tasks.py [-nREPS] [--cpus N]
       [--conf KEY=VALUE ...]

Starts one ``get_spark`` session (``--conf`` pairs go to its
``extra_conf``, so ``--conf spark.python.unix.domain.socket.enabled=false``
measures the TCP transport) and times five one-task queries over the
same 1,000-row frame:

- ``jvm``: a projection written to the noop sink, no Python;
- ``map_in_pandas``: the same through an identity ``mapInPandas``;
- ``pandas_udf``: the projection as a scalar ``pandas_udf``;
- ``python_udf``: the projection as a plain Python UDF;
- ``to_pandas``: the frame collected with ``toPandas`` (the Arrow
  collect socket, no worker).

Each query runs twice untimed, then REPS times (default 100, so ten
samples lie beyond the p90) in turn with the others. Prints one JSON
line: per query the median and p90 wall milliseconds, plus ``extra_ms``,
the median over ``jvm``'s median, and the session's Unix-socket confs.
"""

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

ROWS = 1000


def _queries(spark) -> dict:
    import pandas as pd
    from pyspark.sql import functions as F

    df = spark.range(0, ROWS, 1, 1)

    def noop(frame):
        return lambda: frame.write.format("noop").mode("overwrite").save()

    def identity(batches):
        yield from batches

    @F.pandas_udf("long")
    def twice_pd(v: pd.Series) -> pd.Series:
        return v * 2

    twice_py = F.udf(lambda v: v * 2, "long")
    return {
        "jvm": noop(df.select((F.col("id") * 2).alias("v"))),
        "map_in_pandas": noop(df.mapInPandas(identity, df.schema)),
        "pandas_udf": noop(df.select(twice_pd("id").alias("v"))),
        "python_udf": noop(df.select(twice_py("id").alias("v"))),
        "to_pandas": df.toPandas,
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("-n", type=int, default=100, dest="reps")
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--conf", action="append", default=[], metavar="KEY=VALUE")
    args = ap.parse_args()

    from tstables_spark import get_spark

    spark = get_spark(
        "measure_python_tasks",
        cpus=args.cpus,
        extra_conf=dict(c.split("=", 1) for c in args.conf),
    )
    try:
        queries = _queries(spark)
        for run in queries.values():
            run()
            run()
        times: dict = {name: [] for name in queries}
        for _ in range(args.reps):
            for name, run in queries.items():
                t0 = time.perf_counter()
                run()
                times[name].append((time.perf_counter() - t0) * 1000)
        jvm = statistics.median(times["jvm"])
        conf = spark.sparkContext.getConf()
        out = {
            "reps": args.reps,
            "cpus": spark.sparkContext.defaultParallelism,
            "unix_domain_socket": {
                k: conf.get(f"spark.python.unix.domain.socket.{k}")
                for k in ("enabled", "dir")
            },
            "queries": {
                name: {
                    "median_ms": round(statistics.median(ts), 1),
                    "p90_ms": round(statistics.quantiles(ts, n=10)[-1], 1),
                    "extra_ms": round(statistics.median(ts) - jvm, 1),
                }
                for name, ts in times.items()
            },
        }
        print(json.dumps(out))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
