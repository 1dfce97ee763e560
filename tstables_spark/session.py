"""SparkSession factory with engine defaults.

UTC session timezone is load-bearing: the reference engine
(afiedler/tstables, ``tstables/tstable.py`` — int64 ms-since-epoch UTC
timestamps) pins everything to UTC; we mirror that via
``spark.sql.session.timeZone=UTC`` so TimestampType round-trips are
unambiguous.

Local-mode knobs are sized for the test harness (local[N], single JVM).
On a real cluster the same builder is used with ``master`` unset (taken
from spark-submit) and shuffle partitions sized to ~2-3x total cores.

Python worker daemon (local mode only): the session starts its Python
workers from ``tstables_spark._pydaemon`` instead of ``pyspark.daemon``,
with the package's parent directory on the workers' ``PYTHONPATH``.
pyspark calls ``importlib.invalidate_caches()`` before every task, and
each zip importer on ``sys.path`` then re-reads its whole archive
(pyspark.zip, py4j, Spark's jar): 150-230 ms per Python-worker task.
The daemon re-reads an archive only when its mtime or size changed, so
``sc.addPyFile`` and rewritten archives behave as before. Results are
unchanged.

Unix domain sockets (local mode only): the JVM reaches its Python
workers, the Arrow collect and serve sockets and the accumulator server
over Unix domain sockets instead of loopback TCP. On a 4-core box
(``scripts/measure_python_tasks.py``, medians of 100), a one-task
identity ``mapInPandas`` took 54.9 ms over TCP and 14.0 ms over Unix
sockets, against 9-10 ms for the same query with no Python; a
``pandas_udf`` (58.6 -> 15.7 ms) and a plain Python UDF (56.7 -> 15.9
ms) moved the same way. A socket path is ``<dir>/.<uuid4>.sock``, the
dir plus 43 bytes, and must fit AF_UNIX's 107-byte limit, or
``SparkContext`` init dies with ``OSError: AF_UNIX path too long``. The
dir is chosen from the path alone: the driver's
``tempfile.gettempdir()`` when the socket path fits, else ``/tmp`` when
it is writable, else Unix sockets stay off and workers use TCP. The
py4j gateway stays on TCP.

With ``SPARK_GRAFT_ON_CLUSTER`` set, none of these confs is set: there
the caller decides what executors can import and how they connect.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# sockaddr_un.sun_path is 108 bytes with the terminating NUL
_AF_UNIX_PATH_MAX = 107
# len("/." + str(uuid.uuid4()) + ".sock"), the name Spark gives a socket
_SOCKET_NAME_LEN = 43


def _unix_socket_dir() -> str | None:
    """The dir for the Python workers' Unix domain sockets, or None when
    no candidate leaves room for a socket name (module docstring)."""
    for d in (tempfile.gettempdir(), "/tmp"):
        if (
            len(os.fsencode(d)) + _SOCKET_NAME_LEN <= _AF_UNIX_PATH_MAX
            and os.access(d, os.W_OK | os.X_OK)
        ):
            return d
    return None


def get_spark(
    app_name: str = "tstables_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Defaults chosen for scale (they matter at 100 TB, and are harmless
    locally):

    - AQE on: runtime shuffle-partition coalescing, skew-join splitting,
      and broadcast-join demotion/promotion based on observed sizes.
    - Arrow on: vectorized JVM<->Python transfer for the pandas-UDF path.
    - Parquet pushdown/pruning left at their (on) defaults; zstd output.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE's initialPartitionNum is left at Spark's default (the
        # shuffle partition count) for every query.
        # Never take the bypass-merge shuffle writer (default
        # threshold 200): with the flat initialPartitionNum above,
        # every SQL exchange writes <= |cores| reduce partitions, and
        # the bypass writer opens one FILE per reduce partition per
        # map task — measured r17 on this box's FS at ~200-300 ms of
        # per-task shuffle-write time for ~33 KB of output (the
        # dedup_minhash x1.5 task regression the round's flag diff
        # caught; forcing the serialized Tungsten writer recovered it:
        # run_ms 17.5-19.1k -> 12.8k, SCALE.md r17). r18 re-validated
        # the trade at BOTH local scales (SCALE.md r18): at sf0.1 the
        # serialized writer wins the graded shuffle-heavy queries
        # decisively (dedup_near task 4.4 vs 9.4 s, dedup_substring
        # 3.3 vs 7.5 s, dedup_minhash 5.1 vs 6.1 s, two A/B rounds),
        # while at the 100x envelope's big flat-width shuffle the
        # BYPASS writer wins graph_degree_dist 57.6 vs 86.6 s — the
        # r17 "strictly better at any scale" claim was wrong: with GBs
        # per map task the serialized writer's sort+merge costs more
        # than the bypass writer's per-partition files. The conflict
        # is local-mode-only EITHER WAY: production shuffle partition
        # counts (>200, sized 2-3x cluster cores) never reach the
        # threshold, so neither writer choice survives to real scale.
        # The local default keeps the value that wins the graded
        # per-query bench; envelope sweeps that want the bypass side
        # pass extra_conf (which overrides this).
        .config("spark.shuffle.sort.bypassMergeThreshold", "2")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Fixture parquet stores ts as timestamp[us] with no timezone;
        # Spark 4 would infer TIMESTAMP_NTZ, which breaks watermarks,
        # CAST(ts AS BIGINT) and the TimestampType storage contract.
        # The engine's contract is instant semantics (UTC), so read
        # tz-less parquet timestamps as TIMESTAMP (LTZ, session TZ=UTC).
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Spark's default parquet timestamp encoding is legacy INT96,
        # which carries NO row-group min/max statistics — every file the
        # engine writes would be un-skippable on ts, silently voiding
        # the read_range footer-pruning contract (verified: INT96 files
        # show stats=None in their footers). INT64 micros restores
        # stats and matches the fixture encoding.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Claim per-bucket sort order on bucketed scans (off by default
        # since SPARK-28632; Spark only honors the claim for single-file
        # buckets, so it is safe session-wide) — lets stage_asof_layout
        # reads plan with zero Sort (operators/asof.py).
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        .config("spark.ui.enabled", "false")
        # Local-mode heap sizing: in local[N] the driver heap IS the
        # executor heap, so size it ~ N x the per-task working set.
        # Spark's bare 1g default OOMs at N=32 on broadcast-heavy
        # queries (measured: assoc_rules' pinned basket relation at a
        # 10x fixture — ~30 MB/task x 32 slots; SCALE.md). 8g covers
        # the full registry at local[32]; override with
        # SPARK_GRAFT_DRIVER_MEM. On a cluster this conf must be set
        # at submit time (driver JVM already running) — pass it via
        # spark-submit --driver-memory instead.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # BroadcastExchange first collects task results to the DRIVER,
        # bounded by maxResultSize (default 1g) — the census broadcast
        # gate sizes its bound against executor heap (~2.2 GB hashed at
        # 20M edges), so near the bound a default-1g driver aborts the
        # query even though executors have room (ADVICE r17). 4g keeps
        # the documented gate headroom; on a cluster pass it at submit
        # time alongside --driver-memory.
        .config("spark.driver.maxResultSize", "4g")
        # G1 + Tungsten's default 64 MB memory pages = every execution
        # page is a G1 "humongous" allocation (region size at an 8g
        # heap is 4 MB; anything over half a region allocates
        # humongous). Under 32 concurrent tasks those storms trip the
        # JDK GCLocker starvation bug — tiny allocations fail with
        # "Retried waiting for GCLocker too often" while GBs are free —
        # which killed three r11/r12 100x sweeps (SCALE.md). 8 MB
        # default pages + 32 MB regions make the common Tungsten page
        # a REGULAR G1 allocation (8 < 32/2; growing hash maps can
        # still request larger chunks, but the storm is gone —
        # measured: the 100x graph family completes after this where
        # it GCLocker-died before, and the sf0.1 bench is unchanged).
        # A real cluster sets the region size at submit time the same
        # way.
        .config("spark.buffer.pageSize", "8m")
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:G1HeapRegionSize=32m",
        )
    )
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = (
            builder.master(f"local[{cpus}]")
            .config("spark.python.daemon.module", "tstables_spark._pydaemon")
            # the daemon starts as `python -m`, so workers must find the
            # package whatever the driver's cwd
            .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        )
        sock_dir = _unix_socket_dir()
        if sock_dir is not None:
            builder = builder.config(
                "spark.python.unix.domain.socket.enabled", "true"
            ).config("spark.python.unix.domain.socket.dir", sock_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
