"""Relational core plans (SURVEY.md §2 Table B: scans, filters, joins,
aggregations, sorts, set ops). All declarative DataFrame/SQL — Catalyst
handles pushdown, pruning, join selection, and partial aggregation.

Typing discipline for the DuckDB oracle: DuckDB SUM over integers is
HUGEINT and ranking functions are BIGINT, so integer-valued aggregates
are cast to BIGINT on both sides; double-typed sums/averages are rounded
identically on both sides (floating-point summation order is engine- and
partitioning-dependent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from tstables_spark._exact import (
    exact_sum,
    exact_sum_distinct,
    sql_sum,
    sql_sum_distinct,
)
from tstables_spark.operators.skew import salted_join
from tstables_spark.plans._portable_sql import (
    _HEX13,
    _KMV_K,
    _qsketch_cells,
    _qsketch_cells_sql,
)
from tstables_spark._staging import register_staged_table, scratch_dir, staged
from tstables_spark.plans.registry import query
from tstables_spark.plans.tables import load, register_views


# -- scans ------------------------------------------------------------------
@query("scan_parquet", oracle="SELECT * FROM lineitem")
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full scan. With a projection/filter on top, Catalyst pushes both
    into the Parquet reader (ReadSchema / PushedFilters)."""
    return load(spark, sf_dir, "lineitem")


def _staged_interchange(spark: SparkSession, sf_dir: str, fmt: str) -> str:
    """Stage the nation fixture as CSV / JSON-lines once per (app, sf)."""

    def build(tag: str, d: str) -> str:
        path = d + "/nation"
        df = load(spark, sf_dir, "nation")
        if fmt == "csv":
            df.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)
        else:
            df.coalesce(1).write.mode("overwrite").json(path)
        return path

    return staged(spark, f"src_{fmt}", (sf_dir,), build)


@query("scan_csv", oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation")
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source with a mandatory schema, FAILFAST malformed-row policy
    (tstables_spark.sources — no inference pass at any scale)."""
    from tstables_spark.sources import read_csv

    schema = load(spark, sf_dir, "nation").schema
    return read_csv(spark, _staged_interchange(spark, sf_dir, "csv"), schema)


@query("scan_json", oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation")
def scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source with a mandatory schema (sources.read_json)."""
    from tstables_spark.sources import read_json

    schema = load(spark, sf_dir, "nation").schema
    return read_json(spark, _staged_interchange(spark, sf_dir, "json"), schema)


@query(
    "project_filter",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice, l_shipdate, l_returnflag
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND (l_returnflag = 'R' OR l_discount > 0.07)
      AND l_quantity IN (5, 10, 15, 20, 25, 30)
      AND l_shipdate IS NOT NULL
    """,
)
def project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column pruning + conjunctive/disjunctive predicates + IN-list +
    null check — all pushed to the scan."""
    li = load(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & ((F.col("l_returnflag") == "R") | (F.col("l_discount") > 0.07))
        & F.col("l_quantity").isin(5, 10, 15, 20, 25, 30)
        & F.col("l_shipdate").isNotNull()
    ).select("l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate", "l_returnflag")


# -- joins ------------------------------------------------------------------
@query(
    "join_broadcast",
    oracle="""
    SELECT n.n_nationkey, n.n_name, r.r_name
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-dimension equi-join with an explicit broadcast hint — no
    shuffle of the big side; the dim ships to every executor."""
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "inner")
        .select("n_nationkey", "n_name", "r_name")
    )


@query(
    "join_shuffle",
    oracle="""
    SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
           l.l_linenumber, l.l_quantity, l.l_extendedprice
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    """,
)
def join_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large fact-fact equi-join: both sides shuffle on the key;
    AQE picks sort-merge vs shuffled-hash and splits skewed keys."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return o.join(li, o.o_orderkey == li.l_orderkey, "inner").select(
        "o_orderkey", "o_orderdate", "o_orderpriority",
        "l_linenumber", "l_quantity", "l_extendedprice",
    )


@query(
    "join_salted",
    oracle="""
    SELECT c.c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_customers
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join (operators/skew.py): the fact side carries a
    uniform salt in [0,8), the dimension is replicated once per salt
    value, and the join key becomes (key, salt) — each hot key spreads
    over 8 reducers instead of pinning one. The output is row-for-row
    identical to the plain join (the oracle IS the plain join), which
    is the operator's whole contract: only the shuffle distribution
    changes. Use when skew is known up front or the join is
    shuffled-hash; AQE's adaptive skew split covers the sort-merge
    case."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = salted_join(o, c.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey", salt=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> str:
    """Stage orders/lineitem as bucketed+sorted tables (8 buckets on the
    join key). One-time cost per (app, sf); afterwards any equi-join on
    the bucket key is co-located — no Exchange at all — which is THE
    repeated-big-join strategy at 100 TB (pay the shuffle once at write
    time, never again per query)."""

    def build(tag: str, base: str) -> str:
        for name, bucket_col in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
            (
                load(spark, sf_dir, name)
                .write.bucketBy(8, bucket_col)
                .sortBy(bucket_col)
                .option("path", f"{base}/{name}")
                .mode("overwrite")
                .saveAsTable(f"{name}_{tag}")
            )
            register_staged_table(spark, f"{name}_{tag}")
        return tag

    return staged(spark, "bucketed", (sf_dir,), build)


@query(
    "join_bucketed",
    oracle="""
    SELECT o.o_orderkey, o.o_orderdate,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(l.l_quantity) AS BIGINT) AS sum_qty
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderkey, o.o_orderdate
    """,
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join on pre-bucketed tables: both sides bucketed (8,
    orderkey) + sorted, so the sort-merge join AND the groupBy on the
    same key run with zero Exchange (asserted in tests; the merge hint
    keeps AQE from broadcasting the small local side so the bucketed
    plan shape is the one that would run at scale)."""
    tag = _bucketed_tables(spark, sf_dir)
    o = spark.table(f"orders_{tag}").hint("merge")
    li = spark.table(f"lineitem_{tag}")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "inner")
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum("l_quantity").cast("long").alias("sum_qty"),
        )
    )


@query(
    "join_multi",
    oracle="""
    SELECT r.r_name, n.n_name,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           {sql_sum} / count(*) AS avg_acctbal
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN supplier s ON s.s_nationkey = n.n_nationkey
    GROUP BY r.r_name, n.n_name
    """.format(sql_sum=sql_sum("s.s_acctbal")),
)
def join_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-way dim chain (region -> nation -> supplier) + aggregate.
    Declared as plain inner joins: Catalyst reorders and broadcasts the
    two tiny dims, so the fact side streams through two broadcast hash
    joins with zero shuffles before the aggregate."""
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    s = load(spark, sf_dir, "supplier")
    return (
        s.join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_suppliers"),
            (exact_sum("s_acctbal") / F.count("*")).alias("avg_acctbal"),
        )
    )


@query(
    "join_left",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    """,
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query(
    "join_full",
    oracle=f"""
    WITH co AS (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 0),
         oo AS (SELECT o_custkey, {sql_sum('o_totalprice')} AS spend
                FROM orders GROUP BY o_custkey)
    SELECT co.c_custkey, co.c_acctbal, oo.o_custkey, oo.spend
    FROM co FULL OUTER JOIN oo ON co.c_custkey = oo.o_custkey
    """,
)
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join with unmatched rows on both sides (positive-balance
    customers vs per-customer spend)."""
    c = load(spark, sf_dir, "customer").where(F.col("c_acctbal") > 0).select(
        "c_custkey", "c_acctbal"
    )
    o = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(exact_sum("o_totalprice").alias("spend"))
    )
    return c.join(o, c.c_custkey == o.o_custkey, "full").select(
        "c_custkey", "c_acctbal", "o_custkey", "spend"
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as a left-semi join — only the key ships, no row
    multiplication."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(F.col("o_totalprice") > 100000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as a left-anti join."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


# -- aggregations -----------------------------------------------------------
@query(
    "agg_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_sum('l_quantity')} AS sum_qty,
           {sql_sum('l_extendedprice')} AS sum_base_price,
           {sql_sum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {sql_sum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {sql_sum('l_quantity')} / count(*) AS avg_qty,
           {sql_sum('l_extendedprice')} / count(*) AS avg_price,
           {sql_sum('l_discount')} / count(*) AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: hash aggregate with map-side
    partial aggregation — the shuffle carries one row per (group x task),
    not per input row. Sums run in decimal (order-independent; see
    _exact.py) so results are bit-identical across engines."""
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    n = F.count("*")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum("l_quantity").alias("sum_qty"),
            exact_sum("l_extendedprice").alias("sum_base_price"),
            exact_sum(disc_price).alias("sum_disc_price"),
            exact_sum(charge).alias("sum_charge"),
            (exact_sum("l_quantity") / n).alias("avg_qty"),
            (exact_sum("l_extendedprice") / n).alias("avg_price"),
            (exact_sum("l_discount") / n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


@query(
    "agg_distinct",
    oracle=f"""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS nd_part,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS nd_supp,
           {sql_sum_distinct('l_quantity')} AS sum_distinct_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT/SUM DISTINCT — Spark expands to a two-phase aggregate."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("nd_part"),
        F.countDistinct("l_suppkey").alias("nd_supp"),
        exact_sum_distinct("l_quantity").alias("sum_distinct_qty"),
    )


@query(
    "agg_approx_distinct",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS nd_users,
           CAST(count(DISTINCT event_id) AS BIGINT) AS nd_events,
           TRUE AS users_within_5pct,
           TRUE AS events_within_5pct
    FROM events GROUP BY event_type
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct counts. Approximate values are
    engine-specific by design, so the raw estimates can't be oracled;
    instead the query returns the EXACT counts plus booleans asserting
    the HLL estimate (rsd=1%) landed within ±5% of exact — the oracle
    expects TRUE, so the hash match pins both the exact counts and the
    sketch's accuracy contract (5 sigma at rsd=1%: deterministic for
    fixed data, generous enough to never flap)."""
    ev = load(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("a_users"),
        F.countDistinct("user_id").alias("nd_users"),
        F.approx_count_distinct("event_id", rsd=0.01).alias("a_events"),
        F.countDistinct("event_id").alias("nd_events"),
    )

    def within(a: str, e: str):
        return F.abs(F.col(a) - F.col(e)) <= F.lit(0.05) * F.col(e)

    return agg.select(
        "event_type",
        "nd_users",
        "nd_events",
        within("a_users", "nd_users").alias("users_within_5pct"),
        within("a_events", "nd_events").alias("events_within_5pct"),
    )


@query(
    "agg_pivot",
    oracle="""
    SELECT user_id,
           CAST(count(*) FILTER (event_type = 'click')    AS BIGINT) AS click,
           CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
           CAST(count(*) FILTER (event_type = 'view')     AS BIGINT) AS view,
           CAST(count(*) FILTER (event_type = 'signup')   AS BIGINT) AS signup,
           CAST(count(*) FILTER (event_type = 'error')    AS BIGINT) AS error
    FROM events GROUP BY user_id
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long -> wide): per-user event counts, one column per event
    type. With the value list given explicitly the pivot is a single
    hash aggregate over conditional counts — no extra pass to discover
    distinct values, which is the form that scales."""
    ev = load(spark, sf_dir, "events")
    kinds = ["click", "purchase", "view", "signup", "error"]
    p = ev.groupBy("user_id").pivot("event_type", kinds).agg(F.count(F.lit(1)))
    return p.select(
        "user_id", *[F.coalesce(F.col(k), F.lit(0)).cast("long").alias(k) for k in kinds]
    )


@query(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
           round(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
           round(quantile_cont(l_extendedprice, 0.99), 6) AS p99,
           round(min(l_extendedprice), 6) AS p_min,
           round(max(l_extendedprice), 6) AS p_max
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (JVM `percentile`, the
    sort-based exact path; `approx_count_distinct`'s quantile sibling
    `approx_percentile` is the constant-memory variant covered under
    agg_approx_distinct's family). Rounded to 6dp: both engines
    interpolate (1-f)*a + f*b over the sorted values but may order the
    arithmetic differently."""
    li = load(spark, sf_dir, "lineitem")
    pct = lambda q: F.round(F.percentile("l_extendedprice", F.lit(q)), 6)  # noqa: E731
    return li.groupBy("l_returnflag").agg(
        pct(0.5).alias("p50"),
        pct(0.9).alias("p90"),
        pct(0.99).alias("p99"),
        F.round(F.min("l_extendedprice"), 6).alias("p_min"),
        F.round(F.max("l_extendedprice"), 6).alias("p_max"),
    )


@query(
    "agg_rollup",
    oracle=f"""
    SELECT r_name, n_name,
           CAST(count(*) AS BIGINT) AS n_customers,
           {sql_sum('c_acctbal')} AS sum_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals region -> nation -> grand total."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return joined.rollup("r_name", "n_name").agg(
        F.count("*").alias("n_customers"), exact_sum("c_acctbal").alias("sum_bal")
    )


@query(
    "agg_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_sum('l_quantity')} AS sum_qty,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        exact_sum("l_quantity").alias("sum_qty"), F.count("*").alias("n")
    )


@query(
    "agg_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_sum('l_extendedprice')} AS sum_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets via Spark SQL (same Catalyst Expand plan as
    rollup/cube). The decimal-sum is the same order-independence trick as
    _exact.py, spelled in SQL."""
    register_views(spark, sf_dir, "lineitem")
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               {sql_sum('l_extendedprice')} AS sum_price
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


# -- sorts / top-k / set ops ------------------------------------------------
@query(
    "sort_limit",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 100
    """,
)
def sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans TakeOrderedAndProject — per-partition
    heaps + driver merge, never a full global sort. Tie-broken on the
    full key so the top-100 SET is deterministic."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.orderBy(F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .limit(100)
    )


@query(
    "topk_per_group",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice, CAST(rn AS BIGINT) AS rn FROM (
      SELECT l_orderkey, l_linenumber, l_extendedprice,
             row_number() OVER (PARTITION BY l_orderkey
                                ORDER BY l_extendedprice DESC, l_linenumber) AS rn
      FROM lineitem) WHERE rn <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 per group via ranked window + filter; Spark pushes a
    per-partition rank limit (WindowGroupLimit) before the shuffle."""
    li = load(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_orderkey").orderBy(F.col("l_extendedprice").desc(), "l_linenumber")
    return (
        li.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 3)
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "rn")
    )


@query(
    "set_union",
    oracle="""
    SELECT c_custkey AS key, 'customer' AS src FROM customer
    UNION ALL
    SELECT o_custkey AS key, 'orders' AS src FROM orders
    """,
)
def set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (bag semantics) — a zero-shuffle concatenation."""
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"), F.lit("customer").alias("src")
    )
    o = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("key"), F.lit("orders").alias("src")
    )
    return c.unionByName(o)


@query(
    "set_intersect",
    oracle="""
    SELECT c_custkey AS key FROM customer
    INTERSECT
    SELECT o_custkey AS key FROM orders
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select(F.col("c_custkey").alias("key"))
    o = load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("key"))
    return c.intersect(o)


@query(
    "set_except",
    oracle="""
    SELECT c_custkey AS key FROM customer
    EXCEPT
    SELECT o_custkey AS key FROM orders WHERE o_totalprice > 300000
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct): customers who never placed a >300k order.
    (The unfiltered variant is empty at every sf — every customer has
    an order — which would make the parity check vacuous.)"""
    c = load(spark, sf_dir, "customer").select(F.col("c_custkey").alias("key"))
    o = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 300000)
        .select(F.col("o_custkey").alias("key"))
    )
    return c.subtract(o)  # EXCEPT (distinct) semantics


# -- the pure-SQL surface (spark.sql over registered views) -----------------
# One shared ANSI string per query, executed verbatim by BOTH engines:
# Spark parses it with its SQL frontend (a different surface than the
# DataFrame API every other query exercises — sqlglot-free proof the
# engine speaks plain SQL), DuckDB runs it as the oracle.

_TPCH_Q3 = """
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1995-09-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1995-09-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
"""

_TPCH_Q5 = """
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(30,6))) AS DOUBLE) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey
      AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY n_name
"""


@query("sql_tpch_q3", oracle=_TPCH_Q3)
def sql_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority) through ``spark.sql`` — the SAME
    string the oracle runs, parsed by Spark's SQL frontend over temp
    views. Catalyst plans the 3-way join bottom-up: customer filtered
    on segment broadcasts into orders, lineitem's shipdate predicate
    pushes to its scan, and the top-10 is TakeOrderedAndProject (no
    global sort). revenue uses the decimal discipline inline; the
    deterministic (revenue, date, orderkey) sort makes LIMIT exact
    cross-engine."""
    register_views(spark, sf_dir, "customer", "orders", "lineitem")
    return spark.sql(_TPCH_Q3)


@query("sql_tpch_q5", oracle=_TPCH_Q5)
def sql_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): a SIX-way join through
    ``spark.sql``, verbatim-shared with the oracle. The join graph is
    the optimizer stress test — region/nation are broadcast leaves,
    customer⋈orders and lineitem⋈supplier hash-join on keys, and the
    double nationkey equality (customer's AND supplier's nation) closes
    the cycle; AQE re-plans the middle joins from runtime sizes. One
    final 5-group aggregate."""
    register_views(
        spark, sf_dir, "customer", "orders", "lineitem", "supplier", "nation", "region"
    )
    return spark.sql(_TPCH_Q5)


_TPCH_Q7 = """
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(CAST(volume AS DECIMAL(30,6))) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier, lineitem, orders, customer, nation n1, nation n2
      WHERE s_suppkey = l_suppkey
        AND o_orderkey = l_orderkey
        AND c_custkey = o_custkey
        AND s_nationkey = n1.n_nationkey
        AND c_nationkey = n2.n_nationkey
        AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                           AND TIMESTAMP '1997-12-31 00:00:00'
    ) AS shipping
    GROUP BY supp_nation, cust_nation, l_year
"""

_TPCH_Q10 = """
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
           c_acctbal, n_name
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_returnflag = 'R'
      AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
"""


@query("sql_tpch_q7", oracle=_TPCH_Q7)
def sql_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping; nation pair + ship-year adapted to the
    fixture's NATION_x names and 1995-2001 date span) via ``spark.sql``,
    verbatim-shared with the oracle. The self-joined nation dimension
    appears TWICE with a disjunctive pair predicate — the classic case
    where both copies broadcast and the OR stays above the joins; the
    shipdate range pushes into lineitem's scan, so the big table is
    filtered before either hash join."""
    register_views(
        spark, sf_dir, "supplier", "lineitem", "orders", "customer", "nation"
    )
    return spark.sql(_TPCH_Q7)


@query("sql_tpch_q10", oracle=_TPCH_Q10)
def sql_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting; column list trimmed to the
    fixture's customer schema) via ``spark.sql``, verbatim-shared with
    the oracle. One quarter of orders joins returned lineitems, grouped
    per customer with the nation dim broadcast; the top-20 runs as
    TakeOrderedAndProject on the deterministic (revenue DESC, custkey)
    key — no global sort, exact cross-engine LIMIT."""
    register_views(spark, sf_dir, "customer", "orders", "lineitem", "nation")
    return spark.sql(_TPCH_Q10)


@query(
    "agg_corr",
    oracle=f"""
    WITH s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             {sql_sum('l_quantity')} AS sx,
             {sql_sum('l_extendedprice')} AS sy,
             {sql_sum('l_quantity * l_extendedprice')} AS sxy,
             {sql_sum('l_quantity * l_quantity')} AS sx2,
             {sql_sum('l_extendedprice * l_extendedprice')} AS sy2
      FROM lineitem)
    SELECT CAST(n AS BIGINT) AS n,
           (n * sxy - sx * sy)
             / sqrt((n * sx2 - sx * sx) * (n * sy2 - sy * sy)) AS corr,
           (n * sxy - sx * sy) / (n * n) AS cov_pop
    FROM s
    """,
)
def agg_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + population covariance of (l_quantity,
    l_extendedprice) — the statistics pass a feature-engineering
    pipeline runs before deciding what to keep. ONE partial-agg pass
    collects the five moment sums (decimal-exact so partial-merge
    order can't flip a bit), then the correlation is composed with the
    SAME IEEE expression tree as the oracle — built-in ``F.corr`` is
    avoided on purpose: its streaming co-moment accumulation is
    order-dependent, which would break the cross-engine hash."""
    li = load(spark, sf_dir, "lineitem")
    s = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        exact_sum("l_quantity").alias("sx"),
        exact_sum("l_extendedprice").alias("sy"),
        exact_sum(F.col("l_quantity") * F.col("l_extendedprice")).alias("sxy"),
        exact_sum(F.col("l_quantity") * F.col("l_quantity")).alias("sx2"),
        exact_sum(F.col("l_extendedprice") * F.col("l_extendedprice")).alias("sy2"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sx2, sy2 = F.col("sxy"), F.col("sx2"), F.col("sy2")
    return s.select(
        n.cast("long").alias("n"),
        ((n * sxy - sx * sy) / F.sqrt((n * sx2 - sx * sx) * (n * sy2 - sy * sy))).alias(
            "corr"
        ),
        ((n * sxy - sx * sy) / (n * n)).alias("cov_pop"),
    )


_TPCH_Q4 = """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 30 DAY
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""

_TPCH_Q6 = """
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount
                         AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.02 AND 0.09
      AND l_quantity < 24
"""

_TPCH_Q12 = """
    SELECT l_linestatus,
           COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                 THEN 1 END) AS high_line_count,
           COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                 THEN 1 END) AS low_line_count
    FROM orders, lineitem
    WHERE o_orderkey = l_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
"""

_TPCH_Q14 = """
    SELECT CAST(CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                                   THEN l_extendedprice * (1 - l_discount)
                                   ELSE 0 END AS DECIMAL(30,6))) AS DOUBLE)
                * 100.0
                / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                                AS DECIMAL(30,6))) AS DOUBLE)
           AS DOUBLE) AS promo_revenue
    FROM lineitem, part
    WHERE l_partkey = p_partkey
      AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
"""

_TPCH_Q18 = """
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS total_qty
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(30,6))) > 150
      )
      AND c_custkey = o_custkey
      AND o_orderkey = l_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
    LIMIT 20
"""

_TPCH_Q19 = """
    SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
            AND l_quantity >= 1 AND l_quantity <= 21)
        OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
            AND l_quantity >= 10 AND l_quantity <= 30)
        OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
            AND l_quantity >= 20 AND l_quantity <= 40))
"""


@query("sql_tpch_q4", oracle=_TPCH_Q4)
def sql_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order-priority checking; the fixture lacks
    l_commitdate/l_receiptdate, so "late" is adapted to shipped >30
    days after order) via ``spark.sql``, verbatim-shared with the
    oracle. The correlated EXISTS is the decorrelation test: Catalyst
    rewrites it to a LEFT SEMI hash join on orderkey with the
    correlated date comparison as the join's extra condition — one
    pass over lineitem, no per-order subquery execution. The quarter
    filter prunes orders at the scan."""
    register_views(spark, sf_dir, "orders", "lineitem")
    return spark.sql(_TPCH_Q4)


@query("sql_tpch_q6", oracle=_TPCH_Q6)
def sql_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecast revenue change) via ``spark.sql``,
    verbatim-shared with the oracle. The pure-scan query: zero joins,
    zero groups — all four predicates (shipdate range, discount band,
    quantity cap) push to the parquet scan as range filters, and the
    whole plan is one WholeStageCodegen of scan→filter→partial
    agg→single final row. The canary for predicate-pushdown health:
    if PushedFilters is empty here, scan config regressed."""
    register_views(spark, sf_dir, "lineitem")
    return spark.sql(_TPCH_Q6)


@query("sql_tpch_q12", oracle=_TPCH_Q12)
def sql_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping-mode priority; the fixture lacks l_shipmode,
    so groups are l_linestatus and "late" is shipped >60 days after
    order) via ``spark.sql``, verbatim-shared with the oracle.
    Conditional-count aggregate over a fact-fact equi-join: the
    shipdate year pushes to lineitem's scan BEFORE the join, the
    non-equi lateness comparison rides the join as a post-condition,
    and COUNT(CASE WHEN..THEN 1 END) keeps both engines in BIGINT
    (SUM(int) would be HUGEINT in DuckDB — schema mismatch)."""
    register_views(spark, sf_dir, "orders", "lineitem")
    return spark.sql(_TPCH_Q12)


@query("sql_tpch_q14", oracle=_TPCH_Q14)
def sql_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect; p_type has flat category names in
    the fixture, so the PROMO% LIKE collapses to equality) via
    ``spark.sql``, verbatim-shared with the oracle. A ratio-of-sums
    aggregate: both numerator and denominator accumulate as exact
    DECIMAL(30,6) (order-independent), and the division happens ONCE
    at the end in IEEE double with an explicit a*100/b shape — the
    only float ops are the final three, identical in both engines.
    Part broadcasts; one month of lineitem survives the scan filter."""
    register_views(spark, sf_dir, "lineitem", "part")
    return spark.sql(_TPCH_Q14)


@query("sql_tpch_q18", oracle=_TPCH_Q18)
def sql_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers) via ``spark.sql``,
    verbatim-shared with the oracle. The IN-subquery aggregates
    lineitem per order FIRST (HAVING > 150 on an exact decimal sum),
    then semi-joins the qualifying keys back — Catalyst plans the
    subquery once as a shuffle-side aggregate, never per-row; AQE can
    broadcast the (small) qualifying-key set into the orders join.
    Top-20 on (totalprice DESC, date, key) runs as
    TakeOrderedAndProject with a deterministic tiebreak."""
    register_views(spark, sf_dir, "customer", "orders", "lineitem")
    return spark.sql(_TPCH_Q18)


@query("sql_tpch_q19", oracle=_TPCH_Q19)
def sql_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue; container/shipmode legs dropped —
    not in the fixture — leaving the brand x size x quantity
    disjunction) via ``spark.sql``, verbatim-shared with the oracle.
    The OR-of-ANDs stress test: Catalyst's CNF conversion extracts the
    part-only conjuncts (brand/size) below the join so the part scan
    filters on (brand12 OR brand23 OR brand3) before joining, while
    the mixed part x lineitem conjuncts stay as the join's residual
    condition. Guards against the naive plan that joins everything
    then filters."""
    register_views(spark, sf_dir, "lineitem", "part")
    return spark.sql(_TPCH_Q19)


@query(
    "agg_skew_kurt",
    oracle=f"""
    WITH kk AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS k FROM events
    ), s AS (
      SELECT event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(k AS DECIMAL(28,0))) AS DOUBLE) / 100.0 AS s1,
             CAST(SUM(CAST(k*k AS DECIMAL(28,0))) AS DOUBLE) / 10000.0 AS s2,
             CAST(SUM(CAST(k*k AS DECIMAL(19,0)) * CAST(k AS DECIMAL(19,0)))
                  AS DOUBLE) / 1000000.0 AS s3,
             CAST(SUM(CAST(k*k AS DECIMAL(19,0)) * CAST(k*k AS DECIMAL(19,0)))
                  AS DOUBLE) / 100000000.0 AS s4
      FROM kk GROUP BY event_type
    )
    SELECT event_type, n,
           s1 / n AS mean,
           s2 / n - (s1 / n) * (s1 / n) AS var_pop,
           round((s3 / n - 3 * (s1 / n) * (s2 / n)
                    + 2 * (s1 / n) * (s1 / n) * (s1 / n))
             / ((s2 / n - (s1 / n) * (s1 / n))
                * sqrt(s2 / n - (s1 / n) * (s1 / n))), 6) AS skewness,
           round((s4 / n - 4 * (s1 / n) * (s3 / n)
              + 6 * (s1 / n) * (s1 / n) * (s2 / n)
              - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
             / ((s2 / n - (s1 / n) * (s1 / n)) * (s2 / n - (s1 / n) * (s1 / n)))
             - 3, 6) AS kurtosis
    FROM s
    """,
)
def agg_skew_kurt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher distribution moments per group: population skewness and
    excess kurtosis — the profiling aggregates behind drift monitors
    and outlier-prone-column detection. NOT Spark's built-in
    skewness()/kurtosis(): those accumulate running central moments in
    float (partition-order-dependent — unfixable for the exact hash
    gate). Instead ONE partial+final aggregate collects exact decimal
    power sums Σx..Σx⁴ (order-independent, map-side combinable), and
    both engines compose the moments with an identical IEEE expression
    (sqrt, not pow(x,1.5) — pow's last-ulp behavior is libm-specific).
    The power sums run on INTEGER TICKS (value is 2-decimal fixed
    point, verified at every SF; k = round(100·value)); k² stays in
    BIGINT, and k³/k⁴ promote to DECIMAL(19,0)×DECIMAL(19,0) products
    — k⁴ exceeds 2⁶³ already at sf0.1's 560.21 max value (ANSI
    overflow, found by the sf0.1 parity sweep), and (19,0)·(19,0)
    is exact at width 38 in both engines: x⁴ as a double carries ~16 significant
    digits against 11 integer digits, so casting it to any decimal
    scale lands in tie territory where the engines' rounding modes
    differ — measured 1-ulp, then 1e-12, kurtosis skew at scales 6 and
    3. Integer powers summed in decimal have NO rounding boundary
    anywhere; the only float ops are the final shared composition,
    whose two derived statistics round at 6dp — Σk⁴ exceeds 2⁵³, and
    the engines' DECIMAL(38,0)→double conversions differ by 1 ulp
    there (measured), which 6dp absorbs with 9 orders of margin.
    Single scan, 5 groups out — the 100 TB plan is the same one."""
    ev = load(spark, sf_dir, "events")
    k = F.round(F.col("value") * 100).cast("long")
    kk = ev.select("event_type", k.alias("k"))
    kc = F.col("k")
    s = kk.groupBy("event_type").agg(
        F.count("*").alias("n"),
        (F.sum(kc.cast("decimal(28,0)")).cast("double") / F.lit(100.0)).alias("s1"),
        (F.sum((kc * kc).cast("decimal(28,0)")).cast("double") / F.lit(10000.0)).alias("s2"),
        (
            F.sum((kc * kc).cast("decimal(19,0)") * kc.cast("decimal(19,0)"))
            .cast("double") / F.lit(1000000.0)
        ).alias("s3"),
        (
            F.sum((kc * kc).cast("decimal(19,0)") * (kc * kc).cast("decimal(19,0)"))
            .cast("double") / F.lit(100000000.0)
        ).alias("s4"),
    )
    n = F.col("n")
    mean = F.col("s1") / n
    m2 = F.col("s2") / n - mean * mean
    m3 = F.col("s3") / n - F.lit(3) * mean * (F.col("s2") / n) + F.lit(2) * mean * mean * mean
    m4 = (
        F.col("s4") / n
        - F.lit(4) * mean * (F.col("s3") / n)
        + F.lit(6) * mean * mean * (F.col("s2") / n)
        - F.lit(3) * mean * mean * mean * mean
    )
    return s.select(
        "event_type", "n",
        mean.alias("mean"),
        m2.alias("var_pop"),
        F.round(m3 / (m2 * F.sqrt(m2)), 6).alias("skewness"),
        F.round(m4 / (m2 * m2) - F.lit(3), 6).alias("kurtosis"),
    )


@query(
    "agg_mode",
    oracle="""
    WITH c AS (
      SELECT event_type, user_id, COUNT(*) AS cnt
      FROM events GROUP BY event_type, user_id
    ), r AS (
      SELECT event_type, user_id, cnt,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY cnt DESC, user_id) AS rn
      FROM c
    )
    SELECT event_type, user_id AS mode_user, cnt FROM r WHERE rn = 1
    """,
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mode (most frequent user per event type) with a PINNED
    tie-break — deliberately not Spark's mode() / DuckDB's mode(),
    whose tie behavior is engine-private. Two-level plan: the
    (type, user) count aggregate collapses the fact table first
    (partial agg map-side), then the argmax runs over the small count
    relation as a WindowGroupLimit — the rank never sees raw events."""
    ev = load(spark, sf_dir, "events")
    c = ev.groupBy("event_type", "user_id").agg(F.count("*").alias("cnt"))
    w = W.partitionBy("event_type").orderBy(F.col("cnt").desc(), "user_id")
    return (
        c.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("event_type", F.col("user_id").alias("mode_user"), "cnt")
    )


@query(
    "sink_orc_roundtrip",
    oracle="""
    SELECT l_orderkey, l_partkey, l_linenumber, l_quantity, l_extendedprice,
           l_returnflag, l_shipdate
    FROM lineitem
    """,
)
def sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source round-trip (Spark's second first-class columnar
    format; zlib, vectorized reader, predicate pushdown — the exchange
    format when a downstream Hive/Trino stack is ORC-native). The
    oracle is the projected fixture itself: a hash match proves the
    write/read cycle is lossless for longs, doubles, strings and
    timestamps alike. Same partitioned-write discipline as the parquet
    sinks would apply at scale; kept single-dir here because the
    roundtrip property, not layout, is under test."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_returnflag", "l_shipdate",
    )
    out = scratch_dir(spark, "orc_sink_") + "/lineitem"
    li.write.mode("overwrite").format("orc").save(out)
    return spark.read.schema(li.schema).orc(out)


@query(
    "agg_hll_sketch_union",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(DISTINCT user_id) AS exact_daily
      FROM events GROUP BY 1
    ),
    total AS (SELECT COUNT(DISTINCT user_id) AS exact_total FROM events)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST((SELECT exact_total FROM total) AS BIGINT) AS exact_total,
           TRUE AS union_close,
           TRUE AS daily_close
    FROM daily
    """,
)
def agg_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count sketches — the pattern that makes
    100 TB distinct counting incremental: build one Datasketches HLL
    per day (hll_sketch_agg), then UNION the per-day sketches
    (hll_union_agg) instead of re-scanning history for every reporting
    window. The oracle pins exact counts and the driver-checkable
    claims are tolerance booleans (like agg_approx_distinct): the
    unioned estimate and every daily estimate must sit within 5% of
    exact. Sketch bytes themselves are engine-private, so they never
    cross the oracle boundary."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.expr("hll_sketch_agg(user_id, 12)").alias("sk"),
        F.countDistinct("user_id").alias("exact_daily"),
    )
    per_day_ok = daily.select(
        "day", "exact_daily",
        F.expr("hll_sketch_estimate(sk)").alias("est_daily"),
    ).agg(
        F.count("*").alias("n_days"),
        F.min(
            (F.abs(F.col("est_daily") - F.col("exact_daily"))
             <= 0.05 * F.col("exact_daily"))
        ).alias("daily_close"),
    )
    unioned = daily.agg(F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est_total"))
    exact_total = ev.agg(F.countDistinct("user_id").alias("exact_total"))
    return (
        per_day_ok.crossJoin(F.broadcast(unioned))
        .crossJoin(F.broadcast(exact_total))
        .select(
            "n_days",
            "exact_total",
            (F.abs(F.col("est_total") - F.col("exact_total"))
             <= 0.05 * F.col("exact_total")).alias("union_close"),
            F.col("daily_close"),
        )
    )


@query(
    "agg_theta_sketch",
    oracle=f"""
    WITH m AS MATERIALIZED (
      SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, user_id,
             md5(CAST(user_id AS VARCHAR)) AS h
      FROM events),
    sk AS MATERIALIZED (
      SELECT event_type, day, h FROM (
        SELECT event_type, day, h,
               row_number() OVER (PARTITION BY event_type, day
                                  ORDER BY h) AS rn
        FROM m) WHERE rn <= {_KMV_K}),
    th AS (SELECT event_type, day, max(h) AS kth, count(*) AS c
           FROM sk GROUP BY 1, 2),
    theta AS (SELECT event_type, day,
                     CASE WHEN c >= {_KMV_K} THEN kth END AS theta
              FROM th),
    ex AS MATERIALIZED (
      SELECT event_type, day, CAST(count(*) AS BIGINT) AS exact_n
      FROM m GROUP BY 1, 2),
    exi AS (
      SELECT a.event_type, a.day AS day_a, b.day AS day_b,
             CAST(count(*) AS BIGINT) AS exact_inter
      FROM m a JOIN m b ON a.event_type = b.event_type
                       AND a.user_id = b.user_id
                       AND b.day = a.day + 1
      GROUP BY 1, 2, 3),
    pairs AS (
      SELECT sa.event_type, sa.day AS day_a, sb.day AS day_b, sa.h
      FROM sk sa JOIN sk sb ON sa.event_type = sb.event_type
                           AND sa.h = sb.h AND sb.day = sa.day + 1),
    pe AS (
      SELECT p.event_type, p.day_a, p.day_b,
             least(coalesce(ta.theta, 'g'), coalesce(tb.theta, 'g'))
               AS theta,
             count(*) FILTER (WHERE p.h <
               least(coalesce(ta.theta, 'g'), coalesce(tb.theta, 'g')))
               AS c
      FROM pairs p
      JOIN theta ta ON ta.event_type = p.event_type AND ta.day = p.day_a
      JOIN theta tb ON tb.event_type = p.event_type AND tb.day = p.day_b
      GROUP BY 1, 2, 3,
               least(coalesce(ta.theta, 'g'), coalesce(tb.theta, 'g')))
    SELECT e.event_type,
           CAST(e.day_a AS VARCHAR) AS day_a,
           CAST(e.day_b AS VARCHAR) AS day_b,
           xa.exact_n AS exact_a, xb.exact_n AS exact_b, e.exact_inter,
           coalesce(CASE
             WHEN p.theta IS NULL OR p.theta = 'g' THEN CAST(p.c AS DOUBLE)
             ELSE round(CAST(p.c AS DOUBLE) * {_HEX13}
                        / CAST(('0x' || substr(p.theta, 1, 13)) AS BIGINT),
                        6)
           END, 0.0) AS est_inter,
           coalesce(abs(coalesce(CASE
             WHEN p.theta IS NULL OR p.theta = 'g' THEN CAST(p.c AS DOUBLE)
             ELSE round(CAST(p.c AS DOUBLE) * {_HEX13}
                        / CAST(('0x' || substr(p.theta, 1, 13)) AS BIGINT),
                        6)
           END, 0.0) - e.exact_inter)
             <= greatest(0.30 * e.exact_inter, 15.0), FALSE) AS inter_ok
    FROM exi e
    JOIN ex xa ON xa.event_type = e.event_type AND xa.day = e.day_a
    JOIN ex xb ON xb.event_type = e.event_type AND xb.day = e.day_b
    LEFT JOIN pe p ON p.event_type = e.event_type
                  AND p.day_a = e.day_a AND p.day_b = e.day_b
    """,
)
def agg_theta_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV/THETA SKETCH SET INTERSECTION — the one set operation the
    HLL family cannot answer: day-over-day retained audience per event
    type, estimated from two mergeable k-minimum-values sketches
    (k=256) and audited against the exact intersection in-data.
    HLL sketches union losslessly but have no intersection operator
    (inclusion-exclusion explodes the error); a KMV/theta sketch IS a
    uniform hash sample of the set, so |A∩B| ≈ |{{h ∈ S_A∩S_B : h<θ}}|/θ
    with θ = min(θ_A, θ_B) (Beyer et al., "On Synopses for Distinct-
    Value Estimation Under Multiset Operations", SIGMOD'07 — the
    Datasketches theta-sketch design). Unlike agg_hll_sketch_union
    (whose JVM sketch bytes are engine-private, so only tolerance
    booleans cross the oracle), the KMV sketch here is the portable
    md5 order statistic — BOTH engines build the identical sketch, so
    the ESTIMATES themselves hash-match exactly, and the tolerance
    audit (est within max(30%, 15) of exact — the 1/sqrt(k·J)
    concentration with tail slack; measured max rel err 22% at sf0.1,
    exact at sf0.01 where sets < k) is checked on top.

    Scale shape: sketches are per-(type, day) k-smallest order
    statistics built in TWO window stages — first within
    (type, day, salt=hash(user)%32) partitions, then over the ≤ 32k
    salted survivors — so no single task ever sorts a full group (the
    distributed top-k discipline); everything downstream touches only
    O(groups × k) sketch rows. The exact audit joins distinct
    memberships (|users| rows/day), the expensive-but-checkable half
    that exists only to grade the sketch; a production pipeline ships
    sketches alone — one 256-row relation per partition, mergeable by
    min-merge, no re-scan of history."""
    ev = load(spark, sf_dir, "events")
    m = (
        ev.select("event_type", F.to_date("ts").alias("day"), "user_id")
        .distinct()
        .withColumn("h", F.md5(F.col("user_id").cast("string")))
    )
    s1 = (
        m.withColumn("salt", F.pmod(F.hash("user_id"), F.lit(32)))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("event_type", "day", "salt").orderBy("h")
            ),
        )
        .where(F.col("rn") <= _KMV_K)
        .drop("rn", "salt", "user_id")
    )
    sk = (
        s1.withColumn(
            "rn",
            F.row_number().over(W.partitionBy("event_type", "day").orderBy("h")),
        )
        .where(F.col("rn") <= _KMV_K)
        .drop("rn")
    )
    theta = (
        sk.groupBy("event_type", "day")
        .agg(F.max("h").alias("kth"), F.count(F.lit(1)).alias("c"))
        .select(
            "event_type",
            "day",
            F.when(F.col("c") >= _KMV_K, F.col("kth")).alias("theta"),
        )
    )
    ex = m.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("exact_n")
    )
    ma, mb = m.alias("ma"), m.alias("mb")
    exi = (
        ma.join(
            mb,
            (F.col("ma.event_type") == F.col("mb.event_type"))
            & (F.col("ma.user_id") == F.col("mb.user_id"))
            & (F.col("mb.day") == F.date_add(F.col("ma.day"), 1)),
        )
        .groupBy(
            F.col("ma.event_type").alias("event_type"),
            F.col("ma.day").alias("day_a"),
            F.col("mb.day").alias("day_b"),
        )
        .agg(F.count(F.lit(1)).alias("exact_inter"))
    )
    sa, sb = sk.alias("sa"), sk.alias("sb")
    pairs = sa.join(
        sb,
        (F.col("sa.event_type") == F.col("sb.event_type"))
        & (F.col("sa.h") == F.col("sb.h"))
        & (F.col("sb.day") == F.date_add(F.col("sa.day"), 1)),
    ).select(
        F.col("sa.event_type").alias("event_type"),
        F.col("sa.day").alias("day_a"),
        F.col("sb.day").alias("day_b"),
        F.col("sa.h").alias("h"),
    )
    ta, tb = theta.alias("ta"), theta.alias("tb")
    th_pair = F.least(
        F.coalesce(F.col("ta.theta"), F.lit("g")),
        F.coalesce(F.col("tb.theta"), F.lit("g")),
    )
    pe = (
        pairs.join(
            F.broadcast(ta),
            (F.col("ta.event_type") == pairs["event_type"])
            & (F.col("ta.day") == pairs["day_a"]),
        )
        .join(
            F.broadcast(tb),
            (F.col("tb.event_type") == pairs["event_type"])
            & (F.col("tb.day") == pairs["day_b"]),
        )
        .groupBy(
            pairs["event_type"].alias("event_type"),
            "day_a",
            "day_b",
            th_pair.alias("theta"),
        )
        .agg(
            F.sum(F.when(F.col("h") < th_pair, 1).otherwise(0)).alias("c")
        )
    )
    est = F.coalesce(
        F.when(
            F.col("pe.theta").isNull() | (F.col("pe.theta") == "g"),
            F.col("pe.c").cast("double"),
        ).otherwise(
            F.round(
                F.col("pe.c").cast("double")
                * F.lit(_HEX13)
                / F.conv(F.substring("pe.theta", 1, 13), 16, 10).cast("long"),
                6,
            )
        ),
        F.lit(0.0),
    )
    exa, exb = ex.alias("exa"), ex.alias("exb")
    return (
        exi.alias("exi")
        .join(
            F.broadcast(exa),
            (F.col("exa.event_type") == F.col("exi.event_type"))
            & (F.col("exa.day") == F.col("exi.day_a")),
        )
        .join(
            F.broadcast(exb),
            (F.col("exb.event_type") == F.col("exi.event_type"))
            & (F.col("exb.day") == F.col("exi.day_b")),
        )
        .join(
            F.broadcast(pe.alias("pe")),
            (F.col("pe.event_type") == F.col("exi.event_type"))
            & (F.col("pe.day_a") == F.col("exi.day_a"))
            & (F.col("pe.day_b") == F.col("exi.day_b")),
            "left",
        )
        .select(
            F.col("exi.event_type").alias("event_type"),
            F.col("exi.day_a").cast("string").alias("day_a"),
            F.col("exi.day_b").cast("string").alias("day_b"),
            F.col("exa.exact_n").alias("exact_a"),
            F.col("exb.exact_n").alias("exact_b"),
            F.col("exi.exact_inter").alias("exact_inter"),
            est.alias("est_inter"),
            F.coalesce(
                F.abs(est - F.col("exi.exact_inter"))
                <= F.greatest(
                    F.lit(0.30) * F.col("exi.exact_inter"), F.lit(15.0)
                ),
                F.lit(False),
            ).alias("inter_ok"),
        )
    )


@query(
    "join_existence_prefilter",
    oracle="""
    SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                         WHERE o_totalprice > 200000)
    GROUP BY l_orderkey
    """,
)
def join_existence_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join reduction via an EXPLICIT min/max runtime filter: one
    tiny aggregate computes the key range of the filtered build side,
    broadcasts it as a single row, and the fact scan pre-filters with
    BETWEEN — a scan-pushable predicate that skips parquet row groups
    whose key stats fall outside the range — before the exact
    semi-join runs on the survivors. False positives only, so the
    result is identical to the plain semi-join (the oracle IS the
    plain semi-join); what changes at 100 TB is that non-candidate
    fact volume dies at the scan — row groups whose key stats fall
    outside the range are never read — instead of crossing the
    exchange. The range is COLLECTED (two values — contract-small,
    like every codebook in this engine) and planted as literals,
    because only literal predicates reach PushedFilters; a
    broadcast-joined range filters above the scan, not in it (the
    plan-shape test pins the literal form). This is the hand-placeable
    analog of Spark's runtime filters (bloom_filter_agg is not exposed
    as a user routine in Spark 4.1, and the min/max form pushes into
    row-group skipping, which a bloom cannot)."""
    li = load(spark, sf_dir, "lineitem")
    od = load(spark, sf_dir, "orders").where(F.col("o_totalprice") > 200000)
    lo, hi = od.agg(F.min("o_orderkey"), F.max("o_orderkey")).collect()[0]
    pre = li.where(F.col("l_orderkey").between(F.lit(lo), F.lit(hi)))
    return (
        pre.join(od.select("o_orderkey"), pre["l_orderkey"] == F.col("o_orderkey"), "left_semi")
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("n_lines"))
    )


@query(
    "agg_string_agg",
    oracle="""
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           string_agg(c_name, ',' ORDER BY c_name) AS members
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG/string_agg): members per
    nation, comma-joined in a PINNED sort order — unordered listagg is
    nondeterministic under any parallel engine, so the sort inside the
    aggregate is the whole contract. Spark side: collect_list under a
    hash aggregate, then array_sort + concat_ws ABOVE the aggregate —
    ordering applied once per group (cheap), not via a window sort of
    raw rows. Group payloads are bounded by group size; at 100 TB this
    op is only sane with bounded groups, same as every listagg."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.concat_ws(",", F.array_sort(F.collect_list("c_name"))).alias("members"),
        )
    )


@query(
    "fn_bitwise",
    oracle="""
    SELECT o_orderkey,
           o_orderkey & 255 AS lo_byte,
           o_orderkey | 4096 AS with_flag,
           xor(o_orderkey, o_custkey) AS mixed,
           o_orderkey << 2 AS shifted_l,
           o_orderkey >> 3 AS shifted_r,
           CAST(bit_count(o_orderkey) AS INT) AS popcount
    FROM orders
    """,
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise function battery (mask/flag/mix/shift/popcount) — the
    substrate of every hash/bitmap/bloom technique in the engine, all
    codegen'd JVM integer ops."""
    o = load(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).alias("lo_byte"),
        k.bitwiseOR(F.lit(4096)).alias("with_flag"),
        k.bitwiseXOR(F.col("o_custkey")).alias("mixed"),
        F.shiftleft(k, 2).alias("shifted_l"),
        F.shiftright(k, 3).alias("shifted_r"),
        F.bit_count(k).alias("popcount"),
    )


_TPCH_Q8 = """
    SELECT o_year,
           round(CAST(SUM(CAST(CASE WHEN nation = 'NATION_2'
                                    THEN volume ELSE 0 END
                               AS DECIMAL(30,6))) AS DOUBLE)
                 / CAST(SUM(CAST(volume AS DECIMAL(30,6))) AS DOUBLE),
                 6) AS mkt_share
    FROM (
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS nation
      FROM part, supplier, lineitem, orders, customer,
           nation n1, nation n2, region
      WHERE p_partkey = l_partkey
        AND s_suppkey = l_suppkey
        AND l_orderkey = o_orderkey
        AND o_custkey = c_custkey
        AND c_nationkey = n1.n_nationkey
        AND n1.n_regionkey = r_regionkey
        AND r_name = 'ASIA'
        AND s_nationkey = n2.n_nationkey
        AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        AND p_type = 'PROMO'
    ) AS all_nations
    GROUP BY o_year
"""

_TPCH_Q13 = """
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey
    ) AS c_orders
    GROUP BY c_count
"""

_TPCH_Q15 = """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(30,6))) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier, revenue
    WHERE s_suppkey = supplier_no
      AND total_revenue = (SELECT max(total_revenue) FROM revenue)
"""

_TPCH_Q16 = """
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part, lineitem
    WHERE p_partkey = l_partkey
      AND p_brand <> 'Brand#5'
      AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
    GROUP BY p_brand, p_type, p_size
"""

_TPCH_Q17 = """
    SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE)
                / 7.0 AS DOUBLE) AS avg_yearly,
           COUNT(*) AS n_small
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND p_brand = 'Brand#3'
      AND l_quantity < (
        SELECT 0.2 * avg(l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = p_partkey
      )
"""


@query("sql_tpch_q8", oracle=_TPCH_Q8)
def sql_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share; target nation/type adapted to
    the fixture domain) via ``spark.sql``, verbatim-shared with the
    oracle. The EIGHT-way join graph with the nation dimension joined
    twice on different roles (customer's region membership vs
    supplier's identity) — the widest optimizer test in the suite;
    part's equality filter and the two-year order window prune both
    fact paths before the joins. The market-share ratio divides two
    exact decimal sums once in IEEE, rounded 6dp."""
    register_views(
        spark, sf_dir,
        "part", "supplier", "lineitem", "orders", "customer", "nation", "region",
    )
    return spark.sql(_TPCH_Q8)


@query("sql_tpch_q13", oracle=_TPCH_Q13)
def sql_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer order-count distribution; the comment-LIKE
    exclusion adapted to an order-priority filter) via ``spark.sql``,
    verbatim-shared. The double-aggregation shape: LEFT join keeps
    customers with zero orders (COUNT(o_orderkey) counts non-null —
    0 for them), first aggregate per customer, second aggregate over
    the count itself. The join's extra non-key condition rides the
    join, not a post-filter — a post-filter would turn LEFT into
    INNER and silently drop the zero bucket."""
    register_views(spark, sf_dir, "customer", "orders")
    return spark.sql(_TPCH_Q13)


@query("sql_tpch_q15", oracle=_TPCH_Q15)
def sql_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier) via ``spark.sql``, verbatim-shared.
    The shared-subquery test: the revenue CTE appears both as a join
    input and inside the scalar MAX subquery; equality on the exact
    decimal-summed revenue is deterministic cross-engine because both
    compare values from the identical aggregation."""
    register_views(spark, sf_dir, "supplier", "lineitem")
    return spark.sql(_TPCH_Q15)


@query("sql_tpch_q16", oracle=_TPCH_Q16)
def sql_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship; the fixture has no
    partsupp table so lineitem plays the part-supplier link, and the
    supplier-complaints NOT EXISTS is dropped with the absent comment
    column) via ``spark.sql``, verbatim-shared. COUNT(DISTINCT) per
    3-column group over an IN-list-pruned dimension join — the
    distinct expands once, after the join keys prune."""
    register_views(spark, sf_dir, "part", "lineitem")
    return spark.sql(_TPCH_Q16)


@query("sql_tpch_q17", oracle=_TPCH_Q17)
def sql_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue) via ``spark.sql``,
    verbatim-shared. The correlated scalar subquery (per-part average
    quantity) decorrelates to an aggregate + join — never per-row
    execution. The 0.2*avg threshold is cross-engine exact because
    quantities are small integers: their double sum is exact in any
    order, so both engines derive the identical threshold."""
    register_views(spark, sf_dir, "lineitem", "part")
    return spark.sql(_TPCH_Q17)


@query(
    "agg_approx_percentile",
    oracle="""
    WITH b AS (
      SELECT event_type,
             quantile_cont(value, 0.45) AS lo50,
             quantile_cont(value, 0.55) AS hi50,
             quantile_cont(value, 0.94) AS lo99,
             quantile_cont(value, 1.00) AS hi99
      FROM events GROUP BY event_type
    )
    SELECT event_type, TRUE AS p50_ok, TRUE AS p99_ok FROM b
    """,
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based quantiles (approx_percentile, accuracy 100 → rank
    error <= 1%): the constant-memory, MERGEABLE path for percentile
    monitoring at 100 TB, where exact per-group sort-based quantiles
    (agg_percentiles) are the expensive alternative. The sketch's
    merge order is partition-dependent, so raw estimates can't be
    value-hashed; the driver-checkable claims are the GUARANTEE
    itself: each estimate must land between the exact quantiles at
    p ± 1% rank distance (computed Spark-side with exact percentile(),
    oracle-side with quantile_cont) — the oracle expects TRUE, so a
    sketch drifting past its contract fails the hash."""
    ev = load(spark, sf_dir, "events")
    approx = ev.groupBy("event_type").agg(
        F.expr("approx_percentile(value, array(0.5, 0.99), 100)").alias("ap"),
        F.expr("percentile(value, 0.45)").alias("lo50"),
        F.expr("percentile(value, 0.55)").alias("hi50"),
        F.expr("percentile(value, 0.94)").alias("lo99"),
        F.expr("percentile(value, 1.00)").alias("hi99"),
    )
    return approx.select(
        "event_type",
        ((F.col("ap")[0] >= F.col("lo50")) & (F.col("ap")[0] <= F.col("hi50"))).alias("p50_ok"),
        ((F.col("ap")[1] >= F.col("lo99")) & (F.col("ap")[1] <= F.col("hi99"))).alias("p99_ok"),
    )


_QS_SRC = "(SELECT CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem)"


@query(
    "agg_qsketch",
    oracle=f"""
    SELECT bucket, lo AS lo_cents, hi AS hi_cents, cnt
    FROM {_qsketch_cells_sql(_QS_SRC)} q
    """,
)
def agg_qsketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch of lineitem prices — the third
    mergeable summary alongside the CMS (frequency) and Bloom
    (membership) lifecycles: a DDSketch-shaped log2 histogram whose
    bucketing is EXACT integer arithmetic (binary length + shifts over
    cents), so unlike a libm-log gamma bucket both engines place every
    value in bit-identically the same bucket and the driver hash-checks
    the whole sketch, not a tolerance gate. See _portable_sql.py for
    the bucket algebra and the <1024-bucket bound.

    Scale shape: ONE narrow codegen'd projection into one partial+final
    hash aggregate; output bounded at <1024 rows for any BIGINT measure
    regardless of input size, and shard sketches merge by the very same
    per-bucket cnt sum — the monitoring summary you ship from every
    executor at 100 TB instead of a sort."""
    li = load(spark, sf_dir, "lineitem")
    cents = li.selectExpr("CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS v")
    sk = _qsketch_cells(cents)
    return sk.select(
        "bucket",
        F.col("lo").alias("lo_cents"),
        F.col("hi").alias("hi_cents"),
        F.col("cnt").cast("long").alias("cnt"),
    )


@query(
    "agg_qsketch_quantiles",
    oracle=f"""
    WITH src AS (SELECT v FROM {_QS_SRC} s),
    n AS (SELECT count(*) AS n FROM src),
    qs AS (SELECT unnest([500000, 900000, 990000, 999000]) AS q_ppm),
    ranks AS (SELECT q_ppm, n, (n * q_ppm + 999999) // 1000000 AS k
              FROM qs, n),
    skc AS (SELECT bucket, lo, hi,
                   sum(cnt) OVER (ORDER BY bucket) AS cum
            FROM {_qsketch_cells_sql("src")} sk),
    est AS (SELECT r.q_ppm, min(s.bucket) AS bucket
            FROM ranks r JOIN skc s ON s.cum >= r.k GROUP BY r.q_ppm),
    hist AS (SELECT v, count(*) AS c FROM src GROUP BY v),
    hc AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM hist),
    exact AS (SELECT r.q_ppm, min(h.v) AS exact_cents
              FROM ranks r JOIN hc h ON h.cum >= r.k GROUP BY r.q_ppm)
    SELECT CAST(r.q_ppm AS BIGINT) AS q_ppm, r.n AS n_rows, r.k AS rank,
           s.lo AS est_lo_cents, s.hi AS est_hi_cents, x.exact_cents,
           (x.exact_cents - s.lo) * 1000000 // x.exact_cents AS rel_err_ppm,
           (s.lo <= x.exact_cents AND x.exact_cents < s.hi) AS in_bucket
    FROM ranks r
    JOIN est e ON e.q_ppm = r.q_ppm
    JOIN skc s ON s.bucket = e.bucket
    JOIN exact x ON x.q_ppm = r.q_ppm
    """,
)
def agg_qsketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank statistics READ FROM the quantile sketch (p50/p90/p99/p999
    of lineitem cents), with the DDSketch-style guarantee audited in
    data: the exact rank-k value must land inside the estimating
    bucket (in_bucket TRUE), whose relative width is <= 1/16 — so
    rel_err_ppm (floored ppm distance from the bucket's lower bound)
    is the checked accuracy story, hash-exact on both engines.

    Scale shape: the sketch side is the bounded <1024-row relation, so
    its cumulative walk is a window over a CONSTANT domain (the
    bounded-domain window discipline, same as ts_seasonal_decompose's
    hourly grid); ranks come from a 4-row literal frame crossed with a
    1-row count broadcast. The EXACT side (value-keyed histogram +
    distributed_cumsum) is the audit half a production run drops —
    same split as dedup_bloom_probe's exact-membership join; its
    cumulative uses the two-phase range-partitioned prefix sum, never
    a single-task global window."""
    from tstables_spark.operators.packing import distributed_cumsum

    li = load(spark, sf_dir, "lineitem")
    cents = li.selectExpr("CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS v")
    n = cents.agg(F.count("*").alias("n"))
    from tstables_spark._local import local_df

    qs = local_df(
        spark, [(500000,), (900000,), (990000,), (999000,)], "q_ppm long"
    )
    ranks = qs.join(F.broadcast(n)).selectExpr(
        "q_ppm", "n", "(n * q_ppm + 999999) DIV 1000000 AS k"
    )
    skc = _qsketch_cells(cents).withColumn(
        "cum", F.sum("cnt").over(W.orderBy("bucket"))
    )
    est = (
        F.broadcast(ranks)
        .join(skc, skc["cum"] >= ranks["k"])
        .groupBy("q_ppm", "n", "k")
        .agg(F.min(F.struct("bucket", "lo", "hi")).alias("b"))
        .select("q_ppm", "n", "k", "b.lo", "b.hi")
    )
    hist = cents.groupBy("v").agg(F.count("*").alias("c"))
    hc = distributed_cumsum(hist, ["v"], ["c"])
    exact = (
        F.broadcast(ranks.select("q_ppm", "k"))
        .join(hc, hc["cum_c"] >= F.col("k"))
        .groupBy("q_ppm")
        .agg(F.min("v").alias("exact_cents"))
    )
    return (
        est.join(exact, "q_ppm")
        .select(
            "q_ppm",
            F.col("n").alias("n_rows"),
            F.col("k").alias("rank"),
            F.col("lo").alias("est_lo_cents"),
            F.col("hi").alias("est_hi_cents"),
            "exact_cents",
            F.expr("(exact_cents - lo) * 1000000 DIV exact_cents").alias(
                "rel_err_ppm"
            ),
            ((F.col("lo") <= F.col("exact_cents")) & (F.col("exact_cents") < F.col("hi"))).alias(
                "in_bucket"
            ),
        )
    )


_TPCH_Q2 = """
    WITH supply AS (
      SELECT l_partkey AS sp_partkey, l_suppkey AS sp_suppkey,
             round(min(l_extendedprice / l_quantity), 6) AS supplycost
      FROM lineitem
      WHERE l_quantity > 0
      GROUP BY l_partkey, l_suppkey
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_type, supplycost
    FROM part, supply, supplier, nation, region
    WHERE p_partkey = sp_partkey AND s_suppkey = sp_suppkey
      AND p_size < 10 AND p_type = 'STANDARD'
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'EUROPE'
      AND supplycost = (
        SELECT min(s2.supplycost)
        FROM supply s2, supplier sp2, nation n2, region r2
        WHERE s2.sp_partkey = p_partkey AND sp2.s_suppkey = s2.sp_suppkey
          AND sp2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
          AND r2.r_name = 'EUROPE'
      )
"""

_TPCH_Q9 = """
    SELECT nation, o_year,
           CAST(SUM(CAST(amount AS DECIMAL(30,6))) AS DOUBLE) AS sum_profit
    FROM (
      SELECT n_name AS nation,
             CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
             l_extendedprice * (1 - l_discount)
               - p_retailprice * 0.08 * l_quantity AS amount
      FROM part, supplier, lineitem, orders, nation
      WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
        AND l_orderkey = o_orderkey AND s_nationkey = n_nationkey
        AND p_name LIKE '%red%'
    ) AS profit
    GROUP BY nation, o_year
"""

_TPCH_Q11 = """
    SELECT l_partkey AS partkey,
           CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(30,6))) AS DOUBLE)
             AS part_value
    FROM lineitem, supplier, nation
    WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      AND n_name = 'NATION_1'
    GROUP BY l_partkey
    HAVING CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(30,6))) AS DOUBLE) > (
      SELECT 2.0 * CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(30,6))) AS DOUBLE)
             / COUNT(DISTINCT l_partkey)
      FROM lineitem, supplier, nation
      WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        AND n_name = 'NATION_1'
    )
"""

_TPCH_Q20 = """
    SELECT s_suppkey, s_name, s_acctbal
    FROM supplier, nation
    WHERE s_suppkey IN (
        SELECT l_suppkey FROM lineitem, part
        WHERE l_partkey = p_partkey AND p_type = 'PROMO'
          AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_suppkey, l_partkey
        HAVING SUM(l_quantity) > 50
      )
      AND s_nationkey = n_nationkey
"""

_TPCH_Q21 = """
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier, lineitem l1, orders, nation
    WHERE s_suppkey = l1.l_suppkey
      AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
      AND s_nationkey = n_nationkey
    GROUP BY s_name
"""

_TPCH_Q22 = """
    WITH active AS (
      SELECT c_custkey % 7 AS cntrycode, c_acctbal, c_custkey
      FROM customer
      WHERE c_custkey % 7 IN (0, 1, 2, 3)
    )
    SELECT CAST(cntrycode AS BIGINT) AS cntrycode,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE) AS totacctbal
    FROM active
    WHERE c_acctbal > (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)
        FROM customer
        WHERE c_acctbal > 0.0 AND c_custkey % 7 IN (0, 1, 2, 3)
      )
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
      )
    GROUP BY cntrycode
"""


@query("sql_tpch_q2", oracle=_TPCH_Q2)
def sql_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier) via ``spark.sql``, verbatim-
    shared with the oracle. The fixture has no partsupp table, so the
    part-supplier supply relation is DERIVED from lineitem (min
    observed unit price per (part, supplier) — 6dp-rounded so the
    min-equality correlation compares identical doubles cross-engine).
    The shape under test is Q2's: a correlated scalar MIN subquery over
    the same supply relation joined through supplier->nation->region
    twice, decorrelated by Catalyst into an aggregate + join rather
    than per-row re-execution."""
    register_views(
        spark, sf_dir, "part", "supplier", "lineitem", "nation", "region"
    )
    return spark.sql(_TPCH_Q2)


@query("sql_tpch_q9", oracle=_TPCH_Q9)
def sql_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit by nation and year) via
    ``spark.sql``, verbatim-shared. ps_supplycost does not exist in the
    fixture; the cost term is the deterministic proxy
    p_retailprice * 0.08 * l_quantity (same column roles, same
    expression tree both engines). The 5-way join graph filters part by
    the name LIKE before the fact join; profit amounts are summed with
    the decimal discipline so the per-(nation, year) totals hash
    exactly."""
    register_views(
        spark, sf_dir, "part", "supplier", "lineitem", "orders", "nation"
    )
    return spark.sql(_TPCH_Q9)


@query("sql_tpch_q11", oracle=_TPCH_Q11)
def sql_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock identification) via ``spark.sql``,
    verbatim-shared. Inventory value is adapted to lineitem revenue
    mass (no partsupp): per-part sum of l_extendedprice * l_quantity
    from NATION_1's suppliers, kept when above 2x the nation's MEAN
    per-part value (Q22's fixed fraction of total goes vacuous as part
    count grows — the mean-relative threshold selects a stable tail at
    every scale). The HAVING-over-scalar-subquery shape: the same
    aggregate appears per-group and globally; both sides are
    decimal-exact sums cast once to double, so the threshold
    comparison is identical cross-engine."""
    register_views(spark, sf_dir, "lineitem", "supplier", "nation")
    return spark.sql(_TPCH_Q11)


@query("sql_tpch_q20", oracle=_TPCH_Q20)
def sql_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion) via ``spark.sql``,
    verbatim-shared. The nested-IN shape: suppliers who moved more
    than 50 units of any single PROMO part in 1997 (the availqty
    half-threshold adapted to shipped quantity — no partsupp). The IN
    subquery aggregates per (supplier, part) with HAVING before the
    semi-join back to supplier; Catalyst plans it as aggregate ->
    LeftSemi, never a per-row IN probe."""
    register_views(spark, sf_dir, "supplier", "nation", "lineitem", "part")
    return spark.sql(_TPCH_Q20)


@query("sql_tpch_q21", oracle=_TPCH_Q21)
def sql_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting) via ``spark.sql``,
    verbatim-shared. The fixture has no commitdate/receiptdate, so
    "late" is adapted to l_shipdate > o_orderdate + 90 days; the shape
    under test is Q21's signature EXISTS + NOT EXISTS pair on the SAME
    fact table: the only-late-supplier-in-a-multi-supplier-order
    semantics plan as a semi-join and an anti-join against lineitem
    keyed on l_orderkey, with the correlated o_orderdate reference
    pushed into the anti-join condition."""
    register_views(spark, sf_dir, "supplier", "lineitem", "orders", "nation")
    return spark.sql(_TPCH_Q21)


@query("sql_tpch_q22", oracle=_TPCH_Q22)
def sql_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity) via ``spark.sql``,
    verbatim-shared. c_phone's country code is adapted to
    c_custkey % 7 (no phone column); "no orders" is scoped to orders
    since 2000 so the anti-join is non-vacuous on the fixture. The
    shape: scalar AVG subquery threshold (computed as decimal-exact
    sum / count so the boundary membership is identical cross-engine)
    + NOT EXISTS anti-join + final rollup by country code."""
    register_views(spark, sf_dir, "customer", "orders")
    return spark.sql(_TPCH_Q22)


from tstables_spark.operators.kll import GATE_ORACLE as _KLL_GATE_ORACLE


@query(
    "agg_kll_gate",
    oracle=_KLL_GATE_ORACLE,
)
def agg_kll_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fourth mergeable-summary lifecycle (after CMS / Bloom /
    qsketch): a deterministic MRL/KLL weighted-sample quantile sketch
    (operators/kll.py) built per input partition, merged, and AUDITED
    against the exact ranks — for each probe quantile q the estimate
    v must satisfy the standard eps-approximate contract
    ``rank_lt(v) <= (q + eps) * n`` and ``rank_le(v) >= (q - eps) * n``
    with eps = 5% (the deterministic compaction's worst-case bias is
    ~levels*n/2k ~ 1.6% at k=512 here, measured; see tests). The
    sketch's sample CONTENT depends on partition boundaries (any
    partitioned sketch's does), so like sim_recall this query
    hash-checks the CONTRACT booleans plus the exact n — never the
    samples.

    Scale shape: one Arrow-batched mapInPandas pass per partition with
    O(k * levels) task memory, a bounded ``partitions x 2k x levels``
    summary collect (the sketch IS the reduction — at 100 TB this is
    the per-executor partial aggregate a tree-reduce would combine),
    one driver merge, and ONE conditional-aggregation scan computing
    all 18 exact rank counters in a single partial-agg pass — no sort,
    no per-probe job."""
    from tstables_spark.operators.kll import merge_pairs, rank_gate, sketch_partitions

    # NULL and NaN both: the sketch kernel's pandas dropna removes both,
    # so n and the rank counters must run over the identical filter.
    ev = load(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    k = 512
    pairs = [
        (r["value"], r["weight"]) for r in sketch_partitions(ev, "value", k).collect()
    ]
    merged = merge_pairs(pairs, k)
    return rank_gate(ev, merged)
