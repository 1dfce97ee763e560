"""Event-analytics and data-operations plans (round 3): CDC keep-latest
dedup, stratified hash sampling, table profiling, data-quality gating,
conversion funnels, and cohort retention.

These are the operational queries a 100 TB event store runs daily:
compacting a changelog to current state, auditing table health before a
training run, and the two classic product-analytics shapes (funnel,
retention) that engines like ClickHouse ship as dedicated functions
(``windowFunnel``/``retention``) but that compose from joins +
conditional aggregation on any SQL engine.

Scale notes per query live on the docstrings; none of them collects
row-scale data to the driver, and every aggregate is partial-agg
(map-side combine) friendly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tstables_spark._exact import exact_sum, sql_sum
from tstables_spark._staging import one_task, pin
from tstables_spark.plans.registry import query
from tstables_spark.plans._portable_sql import epoch_floor_div
from tstables_spark.plans.tables import load


@query(
    "dedup_keep_latest",
    oracle="""
    SELECT user_id, event_type, ts, event_id, value FROM (
      SELECT user_id, event_type, ts, event_id, value,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) t
    WHERE rn = 1
    """,
)
def dedup_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog compaction: the LATEST row per (user_id,
    event_type) key — upsert semantics over an append-only log.

    Scale shape: ``max(struct(ts, event_id, value))`` is an ordinary
    aggregate, so Spark runs a partial max on every input partition
    before the single key shuffle — at 100 TB the shuffle carries one
    row per key per map task, not the raw log. A window + row_number
    (the oracle's phrasing, and the naive implementation) would instead
    shuffle EVERY raw row and sort each key group. (ts, event_id) is a
    total order (event_id is unique), so the struct max is
    deterministic and equals the oracle's rn=1 row exactly.
    """
    e = load(spark, sf_dir, "events")
    m = e.groupBy("user_id", "event_type").agg(
        F.max(F.struct("ts", "event_id", "value")).alias("m")
    )
    return m.select(
        "user_id",
        "event_type",
        F.col("m.ts").alias("ts"),
        F.col("m.event_id").alias("event_id"),
        F.col("m.value").alias("value"),
    )


@query(
    "sample_stratified",
    oracle="""
    SELECT doc_id, lang
    FROM documents
    WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2)
          < CASE WHEN lang = 'en' THEN '40' ELSE '80' END
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic sampling: downsample the dominant
    language (en at 64/256 = 25%) while keeping half of every other
    language — the language-rebalancing step of a pretraining mix.

    Same md5-prefix gate as ``operators/sampling.py`` (reproducible,
    partitioning-independent, engine-portable), with the threshold a
    per-stratum CASE instead of a constant. Still a codegen'd scan
    filter: no shuffle, no per-stratum pass, prunes at the source at
    any corpus size — unlike ``df.sampleBy``, whose RNG draw is
    partitioning-dependent and engine-specific.
    """
    d = load(spark, sf_dir, "documents")
    gate = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    thr = F.when(F.col("lang") == "en", F.lit("40")).otherwise(F.lit("80"))
    return d.where(gate < thr).select("doc_id", "lang")


_PROFILE_COLS = [
    # (column, is_numeric) — orders table
    ("o_orderkey", True),
    ("o_custkey", True),
    ("o_orderstatus", False),
    ("o_totalprice", True),
    ("o_orderpriority", False),
]


def _profile_oracle() -> str:
    parts = []
    for c, num in _PROFILE_COLS:
        mn = f"CAST(min({c}) AS DOUBLE)" if num else "CAST(NULL AS DOUBLE)"
        mx = f"CAST(max({c}) AS DOUBLE)" if num else "CAST(NULL AS DOUBLE)"
        parts.append(
            f"SELECT '{c}' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,"
            f" CAST(count(*) - count({c}) AS BIGINT) AS n_null,"
            f" CAST(count(DISTINCT {c}) AS BIGINT) AS ndv,"
            f" {mn} AS min_num, {mx} AS max_num FROM orders"
        )
    return " UNION ALL ".join(parts)


@query("profile_table", oracle=_profile_oracle())
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (one row per column: count / nulls / exact NDV /
    numeric min-max) — the ANALYZE-style statistics pass a pipeline
    runs before choosing join strategies or flagging schema drift.

    ONE scan: all per-column aggregates ride a single ``agg`` (Catalyst
    plans the multi-distinct via Expand, still one pass over the data),
    then the single result row is exploded into long format driver-free.
    At 100 TB you would swap the exact ``count(distinct)`` for
    ``approx_count_distinct`` (HLL, no Expand multiplier) — exact NDV
    is used here because the DuckDB oracle must match bit-for-bit.
    """
    o = load(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n")]
    for c, num in _PROFILE_COLS:
        aggs.append(F.count(c).alias(f"nn_{c}"))
        aggs.append(F.countDistinct(c).alias(f"nd_{c}"))
        if num:
            aggs.append(F.min(c).cast("double").alias(f"mn_{c}"))
            aggs.append(F.max(c).cast("double").alias(f"mx_{c}"))
    a = o.agg(*aggs)
    rows = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col("n").alias("n_rows"),
            (F.col("n") - F.col(f"nn_{c}")).alias("n_null"),
            F.col(f"nd_{c}").alias("ndv"),
            (F.col(f"mn_{c}") if num else F.lit(None).cast("double")).alias("min_num"),
            (F.col(f"mx_{c}") if num else F.lit(None).cast("double")).alias("max_num"),
        )
        for c, num in _PROFILE_COLS
    ]
    return a.select(F.explode(F.array(*rows)).alias("p")).select("p.*")


@query(
    "dq_check",
    oracle="""
    SELECT 'orders_null_custkey' AS rule, CAST(count(*) AS BIGINT) AS violations
      FROM orders WHERE o_custkey IS NULL
    UNION ALL
    SELECT 'orders_nonpositive_total', CAST(count(*) AS BIGINT)
      FROM orders WHERE o_totalprice <= 0
    UNION ALL
    SELECT 'lineitem_qty_range', CAST(count(*) AS BIGINT)
      FROM lineitem WHERE l_quantity < 1 OR l_quantity > 50
    UNION ALL
    SELECT 'lineitem_orphan_order', CAST(count(*) AS BIGINT)
      FROM lineitem l
      WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'orders_orphan_customer', CAST(count(*) AS BIGINT)
      FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    """,
)
def dq_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate: one row per rule with its violation count —
    the pre-training audit (nulls, ranges, referential integrity) run
    before a corpus snapshot is blessed.

    Scale shape: the three row-level rules share ONE conditional
    aggregate over each table (``count(when(...))`` — a single scan per
    table, map-side combined to one row, regardless of rule count); the
    two referential rules are left_anti joins that broadcast the
    key-projection of the dimension side when small and shuffle
    otherwise — never a driver-side check. The final union is five
    1-row plans.
    """
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    cu = load(spark, sf_dir, "customer")

    o_rules = o.agg(
        F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("orders_null_custkey"),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias("orders_nonpositive_total"),
    )
    li_rules = li.agg(
        F.count(
            F.when((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1)
        ).alias("lineitem_qty_range"),
    )

    def long_rows(df: DataFrame, names: list[str]) -> DataFrame:
        structs = [
            F.struct(F.lit(n).alias("rule"), F.col(n).alias("violations")) for n in names
        ]
        return df.select(F.explode(F.array(*structs)).alias("r")).select("r.*")

    li_orphan = (
        li.join(o.select("o_orderkey"), li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(F.lit("lineitem_orphan_order").alias("rule"), "violations")
    )
    o_orphan = (
        o.join(cu.select("c_custkey"), o.o_custkey == cu.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(F.lit("orders_orphan_customer").alias("rule"), "violations")
    )
    return (
        long_rows(o_rules, ["orders_null_custkey", "orders_nonpositive_total"])
        .unionByName(long_rows(li_rules, ["lineitem_qty_range"]))
        .unionByName(li_orphan)
        .unionByName(o_orphan)
    )


_FUNNEL_WINDOW = "INTERVAL 7 DAY"


@query(
    "funnel_steps",
    oracle=f"""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id),
    s2 AS (
      SELECT s1.user_id, s1.t1, min(e.ts) AS t2
      FROM s1 JOIN events e
        ON e.user_id = s1.user_id AND e.event_type = 'view'
       AND e.ts > s1.t1 AND e.ts <= s1.t1 + {_FUNNEL_WINDOW}
      GROUP BY s1.user_id, s1.t1),
    s3 AS (
      SELECT s2.user_id
      FROM s2 JOIN events e
        ON e.user_id = s2.user_id AND e.event_type = 'purchase'
       AND e.ts > s2.t2 AND e.ts <= s2.t1 + {_FUNNEL_WINDOW}
      GROUP BY s2.user_id)
    SELECT CAST(1 AS INT) AS step, 'signup' AS event_type,
           CAST(count(*) AS BIGINT) AS users FROM s1
    UNION ALL
    SELECT CAST(2 AS INT), 'view', CAST(count(*) AS BIGINT) FROM s2
    UNION ALL
    SELECT CAST(3 AS INT), 'purchase', CAST(count(*) AS BIGINT) FROM s3
    """,
)
def funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel (ClickHouse ``windowFunnel`` semantics):
    signup -> view -> purchase, strictly ordered timestamps, all inside
    a 7-day window opened by the user's FIRST signup. One row per step
    with the count of users who reached it.

    Scale shape: each step is a pre-filtered (event_type pushdown at
    the scan) aggregate joined to the previous step's per-user
    frontier. Every join keys on user_id: at test scale the shrinking
    frontiers broadcast (3x BroadcastExchange in the executed plan);
    at 100 TB they sort-merge on user_id, and because consecutive
    joins share the key, each join's output is already partitioned for
    the next — no re-shuffle between steps. No window sort over the
    raw log, no per-user collect_list — the usual sessionize-then-scan
    funnel implementation materializes every user's full event array,
    which at 100 TB is the skew bomb this composition avoids.
    """
    e = load(spark, sf_dir, "events")
    win = F.expr(_FUNNEL_WINDOW)
    s1 = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    ev = e.select("user_id", "event_type", F.col("ts").alias("ets"))
    s2 = (
        s1.join(ev, "user_id")
        .where(
            (F.col("event_type") == "view")
            & (F.col("ets") > F.col("t1"))
            & (F.col("ets") <= F.col("t1") + win)
        )
        .groupBy("user_id", "t1")
        .agg(F.min("ets").alias("t2"))
    )
    s3 = (
        s2.join(ev, "user_id")
        .where(
            (F.col("event_type") == "purchase")
            & (F.col("ets") > F.col("t2"))
            & (F.col("ets") <= F.col("t1") + win)
        )
        .select("user_id")
        .distinct()
    )

    def level(df: DataFrame, step: int, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("users")).select(
            F.lit(step).cast("int").alias("step"),
            F.lit(name).alias("event_type"),
            "users",
        )

    return (
        level(s1, 1, "signup")
        .unionByName(level(s2, 2, "view"))
        .unionByName(level(s3, 3, "purchase"))
    )


@query(
    "retention_cohorts",
    oracle="""
    WITH f AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id),
    a AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events)
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, a.w) // 7 AS BIGINT) AS week_offset,
           CAST(count(*) AS BIGINT) AS active_users
    FROM f JOIN a ON a.user_id = f.user_id
    GROUP BY f.cohort_week, week_offset
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by the ISO week of their
    first event; for each (cohort_week, week_offset) the count of
    cohort members active that week — the classic retention triangle.

    Scale shape: first-seen and distinct-active are both partial-agg
    aggregates keyed on user_id; the join is user_id-to-user_id so it
    reuses the same hash partitioning (no second shuffle of the big
    side), and the final rollup groups a few hundred (cohort, offset)
    cells. ``a`` is deduped to (user, week) BEFORE the join, so the
    join output is bounded by users x active-weeks, not raw events.
    """
    e = load(spark, sf_dir, "events")
    f = e.groupBy("user_id").agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    a = e.select("user_id", F.date_trunc("week", "ts").alias("w")).distinct()
    j = f.join(a, "user_id")
    off = (F.datediff(F.col("w"), F.col("cohort_week")) / 7).cast("long")
    return (
        j.select("cohort_week", off.alias("week_offset"))
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("active_users"))
    )


@query(
    "attribution_last_touch",
    oracle=f"""
    WITH t AS (
      SELECT user_id, ts, arg_max(event_type, event_id) AS channel
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY user_id, ts
    ),
    p AS (SELECT event_id, user_id, ts, value
          FROM events WHERE event_type = 'purchase'),
    a AS (
      SELECT p.value,
             CASE WHEN p.ts - t.ts <= INTERVAL 3 DAY THEN t.channel END AS channel
      FROM p ASOF LEFT JOIN t ON p.user_id = t.user_id AND p.ts >= t.ts
    )
    SELECT COALESCE(channel, 'none') AS channel,
           COUNT(*) AS conversions,
           {sql_sum('value')} AS revenue
    FROM a GROUP BY 1
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase is credited to
    the user's most recent click/view within a 3-day window; purchases
    with no qualifying touch fall into 'none'. This is the as-of join
    wearing its other production hat (revenue attribution instead of
    tick enrichment): one single-shuffle union+window as-of with a
    staleness bound (operators/asof.py), then a tiny channel rollup of
    exact decimal revenue. Touches collapse to one row per (user, ts)
    first — max event_id wins — so the same-instant case is
    deterministic in both engines."""
    from tstables_spark.operators.asof import asof_join

    ev = load(spark, sf_dir, "events")
    touches = (
        ev.where(F.col("event_type").isin("click", "view"))
        .groupBy("user_id", "ts")
        .agg(F.max_by("event_type", "event_id").alias("channel"))
        .select(F.col("user_id").alias("t_user"), F.col("ts").alias("t_ts"), "channel")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    joined = asof_join(
        purchases,
        touches,
        left_on="ts",
        right_on="t_ts",
        left_by="user_id",
        right_by="t_user",
        right_values=["channel"],
        tolerance_seconds=3 * 86400,
    )
    return (
        joined.groupBy(F.coalesce("channel", F.lit("none")).alias("channel"))
        .agg(F.count("*").alias("conversions"), exact_sum("value").alias("revenue"))
    )


@query(
    "cdc_scd2",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_type) OVER w IS NULL
                    OR lag(event_type) OVER w != event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    starts AS (
      SELECT user_id, event_type AS state, ts AS valid_from, event_id
      FROM flagged WHERE chg = 1
    )
    SELECT user_id, state, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY valid_from, event_id) AS valid_to,
           (lead(valid_from) OVER (PARTITION BY user_id
                                   ORDER BY valid_from, event_id) IS NULL)
             AS is_current
    FROM starts
    """,
)
def cdc_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 build: collapse each user's
    event-type changelog into validity intervals — one row per state
    RUN with [valid_from, valid_to) and an is_current flag, consecutive
    duplicates collapsed (the warehouse-standard dimension-history
    shape, and the reverse of a point-in-time as-of lookup). Plan: lag
    to flag state changes, filter to change points, lead for the
    closing edge — two window passes over ONE user_id shuffle
    (identical sort keys, no second exchange), no joins, no islands
    aggregation needed because only boundaries survive the filter."""
    ev = load(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(wo)
    flagged = ev.select(
        "user_id", "event_type", "ts", "event_id",
        F.when(prev.isNull() | (prev != F.col("event_type")), 1).otherwise(0).alias("chg"),
    )
    starts = flagged.where(F.col("chg") == 1).select(
        "user_id", F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"), "event_id",
    )
    w2 = W.partitionBy("user_id").orderBy("valid_from", "event_id")
    nxt = F.lead("valid_from").over(w2)
    return starts.select(
        "user_id", "state", "valid_from",
        nxt.alias("valid_to"), nxt.isNull().alias("is_current"),
    )


@query(
    "ts_benford",
    oracle="""
    WITH d AS (
      SELECT substr(CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR), 1, 1)
               AS digit
      FROM events WHERE value > 0
    ),
    n AS (SELECT COUNT(*) AS total FROM d)
    SELECT digit,
           COUNT(*) AS n,
           round(CAST(COUNT(*) AS DOUBLE) / (SELECT total FROM n), 6)
             AS observed,
           round(log10(1.0 + 1.0 / CAST(digit AS INT)), 6) AS benford
    FROM d GROUP BY digit
    """,
)
def ts_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit profile of the value column vs the Benford
    expectation log10(1+1/d) — the classic fabricated-data / fault
    detector for financial streams. The leading digit comes from the
    exact integer tick (round(100·value) — no float formatting
    divergence between engines), counts are one tiny aggregate (≤9
    groups after map-side combine), and both ratios round at 6dp
    (log10 is libm territory). Single scan, 9 rows out at any scale."""
    ev = load(spark, sf_dir, "events")
    digit = F.substring(F.round(F.col("value") * 100).cast("long").cast("string"), 1, 1)
    d = ev.where(F.col("value") > 0).select(digit.alias("digit"))
    n = d.agg(F.count("*").alias("total"))
    return (
        d.groupBy("digit")
        .agg(F.count("*").alias("n"))
        .crossJoin(F.broadcast(n))
        .select(
            "digit", "n",
            F.round(F.col("n").cast("double") / F.col("total"), 6).alias("observed"),
            F.round(F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("int")), 6).alias(
                "benford"
            ),
        )
    )


@query(
    "agg_gini",
    oracle="""
    WITH k AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS tick
      FROM events
    ),
    r AS (
      SELECT event_type, tick,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY tick, tick) AS rnk
      FROM k
    ),
    s AS (
      SELECT event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(tick AS DECIMAL(28,0))) AS BIGINT) AS sum_tick,
             CAST(SUM(CAST(rnk * tick AS DECIMAL(38,0))) AS BIGINT) AS sum_rt
      FROM r GROUP BY event_type
    )
    SELECT event_type, n,
           round((2.0 * CAST(sum_rt AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(sum_tick AS DOUBLE))
                 - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE),
                 6) AS gini
    FROM s
    """,
)
def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration index of value per event type (is revenue
    dominated by a few big prints?) via the rank formula
    G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over ascending-sorted values. All
    sums run on exact integer ticks × integer ranks in decimal — no
    float accumulates — and the final composition rounds at 6dp
    (Σ rank·tick exceeds 2⁵³, the agg_skew_kurt conversion lemma).
    The rank window shuffles once per group key; ties order by the
    value itself so duplicate ticks get consecutive ranks — the
    formula is tie-stable because Σ(i·x) over equal x is invariant to
    their rank order."""
    ev = load(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    tick = F.round(F.col("value") * 100).cast("long")
    k = ev.select("event_type", tick.alias("tick"))
    w = W.partitionBy("event_type").orderBy("tick", "tick")
    r = k.select("event_type", "tick", F.row_number().over(w).alias("rnk"))
    s = r.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("tick").cast("decimal(28,0)")).cast("long").alias("sum_tick"),
        F.sum((F.col("rnk") * F.col("tick")).cast("decimal(38,0)")).cast("long").alias("sum_rt"),
    )
    n = F.col("n").cast("double")
    return s.select(
        "event_type", "n",
        F.round(
            (F.lit(2.0) * F.col("sum_rt").cast("double"))
            / (n * F.col("sum_tick").cast("double"))
            - (n + F.lit(1.0)) / n,
            6,
        ).alias("gini"),
    )


@query(
    "graph_degree_dist",
    oracle="""
    WITH b0 AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 600000000 AS bucket
      FROM events
    ),
    b AS (
      SELECT user_id, bucket FROM (
        SELECT user_id, bucket,
               row_number() OVER (PARTITION BY bucket ORDER BY user_id) AS rn
        FROM b0
      ) WHERE rn <= 256
    ),
    edges AS (
      SELECT DISTINCT a.user_id AS u, b2.user_id AS v
      FROM b a JOIN b b2
        ON a.bucket = b2.bucket AND a.user_id < b2.user_id
    ),
    deg AS (
      SELECT u AS node, COUNT(*) AS degree
      FROM (SELECT u FROM edges UNION ALL SELECT v FROM edges)
           AS both_ends(u)
      GROUP BY u
    )
    SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY degree
    """,
)
def graph_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-occurrence graph degree distribution: users active in the
    same 10-minute bucket are neighbors; output = how many users have
    each degree (the first chart of any graph analysis, and the input
    to skew planning for graph algorithms). Plan: DISTINCT
    (user, bucket) first — collapsing repeat activity BEFORE the
    self-join is what bounds the pair expansion to Σ occupancy² over
    buckets instead of Σ events²; edges dedup once (a pair can share
    many buckets); degrees come from one union+count. The bucket key
    is exact µs integer division — the same no-calendar rule as
    ts_cross_rank.

    HOT-BUCKET GUARD: occupancy is capped at 256 users per bucket
    (keep the 256 lowest user_ids — deterministic, and applied
    IDENTICALLY in the oracle, so both engines drop the same rows).
    A single viral bucket at 100x otherwise goes quadratic: 10k users
    in one 10-minute window is 50M pairs from one key on one task.
    With the cap, any bucket costs at most 256² ≈ 32k pairs. Observed
    occupancy at the test scales is max 42 (sf0.1), so the cap is
    semantics-invisible there; at production scale the truncation is
    the documented contract (degree distribution of a capped
    co-occurrence graph), bounded by a property test with a synthetic
    10k-user bucket.

    AQE's initialPartitionNum stays at Spark's default (session.py): a
    x8 initial partition count cost this plan 112.5 s vs 79.5 s at the
    100x envelope (SCALE.md r16)."""
    ev = load(spark, sf_dir, "events")
    # raw memberships: cooccurrence_edges' collect_set dedups repeat
    # activity inside its one aggregate (r17) — the former separate
    # DISTINCT shuffle is gone
    b0 = ev.select(
        "user_id", F.expr(epoch_floor_div("unix_micros(ts)", 600000000)).alias("bucket")
    )
    return cooccurrence_degree_dist(b0, cap=256)


def cooccurrence_edges(
    b0: DataFrame, cap: int = 256, distinct: bool = True
) -> DataFrame:
    """Undirected edge list (u < v) of the bucket-co-occurrence graph
    over (user_id, bucket) memberships, per-bucket occupancy capped at
    ``cap`` lowest user_ids (the hot-bucket guard — see
    graph_degree_dist). Shared by the degree distribution, pagerank's
    edge derivation and the triangle census.

    r17 (the _pair_overlap discipline applied to the wedge expansion,
    verdict #5): ONE groupBy-bucket aggregate collects each bucket's
    member list (collect_set dedups repeat activity in the same
    aggregate, sort_array + slice IS the lowest-``cap`` guard — byte-
    identical to the former row_number cap), and the strict upper
    triangle is GENERATED from the sorted list (posexplode + suffix
    slice), exactly like the dedup posting lists. That replaces the
    former DISTINCT shuffle + per-bucket row_number window (a second
    full shuffle + sort) + membership-pinned SELF-JOIN (a third) with
    a single membership-sized shuffle and a narrow Generate — and the
    corpus-sized localCheckpoint pin disappears because nothing is
    consumed twice anymore. Callers may pass raw (non-distinct)
    memberships when ``b0`` feeds nothing else.

    ``distinct=False`` skips the final edge dedup for consumers whose
    next step is itself set-collecting (graph_jaccard's adjacency
    aggregate) — one less pair-sized shuffle, identical semantics."""
    members = b0.groupBy("bucket").agg(
        F.slice(F.sort_array(F.collect_set("user_id")), 1, cap).alias("us")
    )
    pairs = members.select(
        F.posexplode("us").alias("i", "u"), F.col("us")
    ).select("u", F.explode(F.expr("slice(us, i+2, size(us))")).alias("v"))
    return pairs.distinct() if distinct else pairs


def cooccurrence_degree_dist(b0: DataFrame, cap: int = 256) -> DataFrame:
    """Degree distribution of the bucket-co-occurrence graph (see
    cooccurrence_edges). Factored out so the hot-bucket guard is
    property-testable against a synthetic hot bucket without parquet
    fixtures. Both endpoints explode from ONE scan of the edge
    relation (r17: the former unionAll of two selects consumed — and
    on an unpinned frame re-derived — the edges twice)."""
    edges = cooccurrence_edges(b0, cap)
    deg = (
        edges.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count("*").alias("n_nodes"))


@query(
    "k_anonymity_check",
    oracle="""
    WITH g AS (
      SELECT event_type,
             CAST(EXTRACT(HOUR FROM ts) AS INT) AS hod,
             CAST(EXTRACT(DOW FROM ts) AS INT) AS dow,
             COUNT(*) AS group_size,
             COUNT(DISTINCT user_id) AS n_users
      FROM events GROUP BY 1, 2, 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           COUNT(CASE WHEN n_users < 5 THEN 1 END) AS violating_groups,
           CAST(MIN(n_users) AS BIGINT) AS min_k,
           COUNT(CASE WHEN n_users < 5 THEN 1 END) = 0 AS k5_anonymous
    FROM g
    """,
)
def k_anonymity_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier tuple (event_type,
    hour-of-day, day-of-week): how many equivalence classes exist,
    how many contain fewer than k=5 distinct users (re-identification
    risk), and the minimum class size — the privacy gate run before a
    dataset leaves a safe boundary, complementing pii_redact's
    masking. One partial+final aggregate to ≤ type×24×7 groups, then a
    4-row summary; the DOW mapping is pinned cross-engine as in
    ts_seasonal_profile."""
    ev = load(spark, sf_dir, "events")
    g = ev.groupBy(
        "event_type",
        F.hour("ts").cast("int").alias("hod"),
        (F.dayofweek("ts") - 1).cast("int").alias("dow"),
    ).agg(F.count("*").alias("group_size"), F.countDistinct("user_id").alias("n_users"))
    viol = F.count(F.when(F.col("n_users") < 5, F.lit(1)))
    return g.agg(
        F.count("*").alias("n_groups"),
        viol.alias("violating_groups"),
        F.min("n_users").cast("long").alias("min_k"),
        (viol == 0).alias("k5_anonymous"),
    )


@query(
    "forecast_naive_eval",
    oracle="""
    WITH hourly AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS tick_sum
      FROM events GROUP BY 1, 2
    ),
    f AS (
      SELECT event_type, h, tick_sum,
             lag(tick_sum, 24) OVER (PARTITION BY event_type ORDER BY h)
               AS forecast
      FROM hourly
    )
    SELECT event_type,
           CAST(COUNT(forecast) AS BIGINT) AS n_eval,
           CAST(SUM(abs(tick_sum - forecast)) AS BIGINT) AS abs_err_ticks,
           round(CAST(SUM(abs(tick_sum - forecast)) AS DOUBLE)
                 / COUNT(forecast) / 100.0, 6) AS mae
    FROM f WHERE forecast IS NOT NULL
    GROUP BY event_type
    """,
)
def forecast_naive_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtest scaffold: the seasonal-naive forecast (same
    hour yesterday) evaluated by MAE per event type — the baseline
    every real forecasting model must beat, and the eval-loop shape
    (build series → shift → score) that generalizes to any model
    whose predictions land in a column. The hourly series is a SUM of
    integer ticks (not a mean), so series, forecast, and absolute
    errors are all BIGINT-exact; MAE is one final IEEE division
    rounded at 6dp. Note the lag is over the ROW sequence of observed
    hours — the fixture's hourly series is gapless per type; a gappy
    series would densify first (ts_densify) to keep 'yesterday' honest."""
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.expr(epoch_floor_div("unix_micros(ts)", 3600000000)).alias("h")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("tick_sum"))
    wo = W.partitionBy("event_type").orderBy("h")
    f = hourly.select(
        "event_type", "h", "tick_sum", F.lag("tick_sum", 24).over(wo).alias("forecast")
    )
    err = F.abs(F.col("tick_sum") - F.col("forecast"))
    return (
        f.where(F.col("forecast").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("forecast").alias("n_eval"),
            F.sum(err).cast("long").alias("abs_err_ticks"),
            F.round(F.sum(err).cast("double") / F.count("forecast") / F.lit(100.0), 6).alias(
                "mae"
            ),
        )
    )


@query(
    "drift_psi_daily",
    oracle="""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT day, SUM(c) AS n FROM d GROUP BY day),
    p AS (
      SELECT d.day, d.event_type,
             CAST(d.c AS DOUBLE) / t.n AS share
      FROM d JOIN tot t ON d.day = t.day
    ),
    pairs AS (
      SELECT cur.day, cur.event_type,
             cur.share AS p_today,
             prev.share AS p_yesterday
      FROM p cur JOIN p prev
        ON cur.event_type = prev.event_type
       AND prev.day = cur.day - INTERVAL 1 DAY
    )
    SELECT CAST(day AS VARCHAR) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_categories,
           round(SUM((p_today - p_yesterday)
                     * ln(p_today / p_yesterday)), 6) AS psi
    FROM pairs GROUP BY day
    """,
)
def drift_psi_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day population stability index of the event-type mix —
    the industry drift alarm (PSI > 0.2 = investigate) for monitoring
    whether today's traffic still looks like yesterday's. Plan: one
    (day, type) count aggregate, shares against per-day totals, and a
    type-keyed self-join offset by one calendar day — every relation
    after the first aggregate has at most days × types rows, so the
    heavy table is scanned exactly once. Shares are exact-integer
    ratios (one IEEE division each); PSI composes them with a shared
    ln expression and rounds at 6dp, the same libm discipline as
    doc_tfidf/token_pmi. Categories missing on either day drop out of
    the pair join — the declared semantics (PSI's log is undefined at
    zero; production smoothing is a caller-side epsilon)."""
    ev = load(spark, sf_dir, "events")
    d = ev.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
        F.count("*").alias("c")
    )
    tot = d.groupBy("day").agg(F.sum("c").alias("n"))
    p = d.join(tot, "day").select(
        "day", "event_type", (F.col("c").cast("double") / F.col("n")).alias("share")
    )
    cur, prev = p.alias("cur"), p.alias("prev")
    pairs = cur.join(
        prev,
        (F.col("cur.event_type") == F.col("prev.event_type"))
        & (F.col("prev.day") == F.date_sub(F.col("cur.day"), 1)),
    ).select(
        F.col("cur.day").alias("day"),
        F.col("cur.share").alias("p_today"),
        F.col("prev.share").alias("p_yesterday"),
    )
    return pairs.groupBy(F.col("day").cast("string").alias("day")).agg(
        F.count("*").alias("n_categories"),
        F.round(
            F.sum(
                (F.col("p_today") - F.col("p_yesterday"))
                * F.log(F.col("p_today") / F.col("p_yesterday"))
            ),
            6,
        ).alias("psi"),
    )


@query(
    "agg_entropy",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY user_id, event_type)
    SELECT user_id,
           CAST(SUM(c) AS BIGINT) AS n_events,
           CAST(count(*) AS BIGINT) AS n_types,
           round(log2(CAST(SUM(c) AS DOUBLE))
                 - SUM(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE)))
                   / CAST(SUM(c) AS DOUBLE), 6) AS entropy_bits
    FROM c GROUP BY user_id
    """,
)
def agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (bits) of each user's event-type mix — the
    information-theoretic diversity profile: ~0 bits = a bot hammering
    one action, log2(5) ≈ 2.32 bits = uniform use of all five types.
    The same shape profiles label balance per source in a training
    corpus or per-day traffic mix.

    Scale shape: two keyed hash aggregates — (user, type) counts, then
    a user-keyed roll-up — both partial-agg friendly, TWO exchanges
    total and no join-back: the grouped form of the entropy,
    H = log2(n) − (Σ c·log2 c)/n, needs only per-(user,type) counts
    and per-user sums, unlike the Σ p·log2 p textbook form whose
    per-term share p = c/n forces a join (or window) to see n before
    the final fold. The only transcendental is log2 over exact counts,
    rounded at 6dp AFTER the final arithmetic on both engines (the
    drift_psi_daily discipline: never hash raw transcendental
    floats)."""
    e = load(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    cd = F.col("c").cast("double")
    n = F.sum("c")
    nd = n.cast("double")
    return c.groupBy("user_id").agg(
        n.cast("long").alias("n_events"),
        F.count(F.lit(1)).alias("n_types"),
        F.round(F.log2(nd) - F.sum(cd * F.log2(cd)) / nd, 6).alias("entropy_bits"),
    )


@query(
    "agg_markov_transitions",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events),
    c AS (
      SELECT event_type AS from_type, next_type AS to_type,
             CAST(count(*) AS BIGINT) AS n
      FROM s WHERE next_type IS NOT NULL
      GROUP BY 1, 2)
    SELECT from_type, to_type, n,
           CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
    FROM c
    """,
)
def agg_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior: for every
    (event_type → next event_type) step inside a user's timeline, the
    count and the row-normalized transition probability — the
    behavioral fingerprint session-anomaly and bot detectors compare
    against (and the event-stream analog of token bigrams).

    Scale shape: lead() needs one shuffle+sort on user_id (the standard
    per-series window discipline), the transition count is a
    partial-agg hash aggregate to ≤ |types|² rows, and the
    normalization window runs on that tiny relation — effectively free.
    p divides two exact BIGINTs, one correctly-rounded IEEE op, so no
    rounding is needed for cross-engine hashing."""
    from pyspark.sql import Window as W

    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    c = s.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    wt = W.partitionBy("from_type")
    return c.select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(wt).cast("double")).alias("p"),
    )


def _pagerank_oracle(iters: int = 3) -> str:
    """Unrolled-iteration DuckDB twin of graph_pagerank. Every rank is a
    scale-12 fixed-point BIGINT and every iteration step is integer
    arithmetic (floor divisions at declared points), so no float — and
    no double→decimal conversion, whose string-vs-numeric semantics
    differ between engines in the last decimal digit — ever enters the
    iteration. Both engines necessarily produce identical integers."""
    cte = [
        """
    b0 AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 600000000 AS bucket
      FROM events),
    b AS (
      SELECT user_id, bucket FROM (
        SELECT user_id, bucket,
               row_number() OVER (PARTITION BY bucket ORDER BY user_id) AS rn
        FROM b0) WHERE rn <= 256),
    edges AS (
      SELECT DISTINCT a.user_id AS u, b2.user_id AS v
      FROM b a JOIN b b2
        ON a.bucket = b2.bucket AND a.user_id < b2.user_id),
    de AS (SELECT u AS src, v AS dst FROM edges
           UNION ALL
           SELECT v AS src, u AS dst FROM edges),
    deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
            FROM de GROUP BY src),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
    r0 AS (SELECT node, degree,
                  CAST(1000000000000 // nn.n AS BIGINT) AS pr12
           FROM deg, nn)"""
    ]
    for i in range(1, iters + 1):
        cte.append(f"""
    c{i} AS (
      SELECT de.dst AS node,
             CAST(SUM(r{i-1}.pr12 * 1000000 // r{i-1}.degree) AS BIGINT) AS s18
      FROM de JOIN r{i-1} ON de.src = r{i-1}.node GROUP BY de.dst),
    r{i} AS (
      SELECT deg.node, deg.degree,
             CAST(150000000000 // nn.n
                  + 85 * (c{i}.s18 // 1000000) // 100 AS BIGINT) AS pr12
      FROM deg JOIN c{i} ON deg.node = c{i}.node, nn)""")
    return (
        "WITH" + ",".join(cte)
        + f"""
    SELECT node AS user_id, degree,
           round(pr12 / 1000000000000.0, 6) AS pagerank FROM r{iters}
    """
    )


# Above this node count the per-iteration rank broadcast (an
# un-evictable JVM-heap hashed relation per generation) outgrows a
# default 8g executor; iterations switch to the bucketed-edges +
# shuffled-rank join. 2M nodes ~ 200 MB hashed — comfortable at 8g,
# an order of magnitude under the first measured OOM (10M nodes).
_PR_BROADCAST_NODES_MAX = 2_000_000

# Above this estimated half-edge count an edge relation is STREAMED
# into a scratch table instead of localCheckpoint-pinned: checkpoint
# materialization holds one serialized block per task in heap
# simultaneously (32 tasks x ~19M edges x 16B ≈ 10 GB at the measured
# 100x fixture — the r12 8g OOM), while 50M half-edges cap blocks at
# ~25 MB/task. Estimated WITHOUT materializing anything: the capped
# per-bucket pair mass Σ min(occ,cap)·(min(occ,cap)-1)/2 is an upper
# bound on edges and is one cheap aggregate over the membership
# relation.
_EDGE_PIN_PAIRS_MAX = 50_000_000

# Census broadcast bound: at most this many MEASURED oriented edges,
# the census broadcasts both join build sides, so the wedge stream is
# generated and closed in one pipelined stage with no exchange, sort
# or shuffle file of its own (on the 100x fixture the wedge shuffle and
# sort-merge join were 95% of the census's 27k task-seconds, SCALE.md
# "r17 census decomposition"). The edge relation is built into two
# hashed relations (src-keyed and (src, dst)-keyed) of ~55 B/row each:
# 20M rows ~ 2.2 GB, inside a default 8g executor and an order under
# Spark's 512M-row / 8 GB broadcast cap. Above it both joins
# sort-merge.
_CENSUS_BROADCAST_EDGES_MAX = 20_000_000

# Census partition sizing, on both sides of the broadcast bound: the
# wedge stream (and above the bound every census exchange) takes one
# partition per this many measured oriented edges, never fewer than
# the session's shuffle partitions, so each task's slice of the wedge
# stream, and with it its time, sort and spill, stays bounded as the
# graph grows. AQE does not coalesce an explicit count. At both
# measured points it matches the x8 initial partition count the
# census once took from a session conf: 2.46M edges (10x events
# fixture, cut 40) on 4 cores -> 33 vs 32; 18.8M (100x fixture,
# p=1/16) on 32 cores -> 251 vs 256.
_CENSUS_EDGES_PER_PARTITION = 75_000

# ECONOMICS bound, distinct from the OOM bound above: for a
# multiply-consumed edge relation cached per (app, sf, cut), the
# streamed bucketed scratch table is the amortizing steady state well
# below the memory ceiling — r13 measured graph_kcore's 100x fixture
# (~7.1M sampled half-edges) at 97.98 s COLD STAGED (staging included)
# vs ~109 s per-invocation pinned, then 17.8 s on every repeat (the
# cached table feeds deg0 and all peel rounds with zero re-derivation).
# Above this mass the staged layout wins even one-shot, so iterative
# consumers flip to it knob-free (r13 verdict #3); below it (sf0.1 is
# ~71k) the serialized pin's lower constant cost wins the one-shot
# driver/bench shape. Set one order below the measured-cheaper point,
# two above sf0.1 — conservative on both sides.
_EDGE_STAGE_PAIRS_MIN = 1_000_000


def _graph_scale_stats(b0: DataFrame, cap: int) -> tuple[int, int]:
    """(distinct users, ``_pair_mass``) of the co-occurrence graph over
    memberships ``b0`` — the two 1-row statistics the graph queries
    pick physical strategies with (node count → broadcast vs shuffled
    ranks; pair mass → pinned vs streamed edge relations). Two
    aggregate-only jobs, nothing edge-sized exists before either
    decision."""
    n = b0.agg(F.countDistinct("user_id").alias("n")).collect()[0]["n"]
    return n, _pair_mass(b0, cap)


def _pair_mass(b0: DataFrame, cap: int) -> int:
    """Capped pair mass Σ min(occ, cap)·(min(occ, cap) − 1)/2 over the
    buckets of distinct memberships ``b0``: an upper bound on the
    co-occurrence graph's half edges, measured by one aggregate-only
    job."""
    pairs = (
        b0.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum(
                F.expr(f"least(c, {cap}L) * (least(c, {cap}L) - 1L) div 2L")
            ).alias("p")
        )
        .collect()[0]["p"]
    )
    return int(pairs or 0)


def _half_edge_bound(ev: DataFrame, cap: int) -> int | None:
    """Upper bound on the capped co-occurrence graph's half edges from
    the events files' footers (no Spark job): every edge joins two ids
    of the user_id range, and every membership row pairs with at most
    ``cap - 1`` others of its bucket, each pair counted from both ends.
    None when the footers lack user_id min/max statistics."""
    from tstables_spark._staging import file_stats

    st = file_stats(ev, "user_id")
    if st is None or st.lo is None:
        return None
    span = st.hi - st.lo + 1
    return min(span * (span - 1) // 2, st.rows * (cap - 1) // 2)


def pagerank_one_task(edges: DataFrame, half_edges: int) -> DataFrame | None:
    """``graph_pagerank``'s integer rounds over the half-edge list
    ``edges(u, v)`` (distinct, u < v) as one ``_staging.one_task``
    kernel, or None when ``half_edges`` (a bound on the list's rows) is
    above the primitive's bound. Returns ``(node, degree, pr12)``, no
    rows for an empty list. Node ids are mapped to dense indices with
    ``np.unique``, so any int64 id works; the scatter-add is an int64
    ``np.add.at``, so every sum is exact and order-independent."""

    def kernel(u, v):
        import numpy as np

        m = len(u)
        nodes, idx, degree = np.unique(
            np.concatenate([u, v]), return_inverse=True, return_counts=True
        )
        u, v = idx[:m], idx[m:]
        n = len(nodes)
        degree = degree.astype(np.int64)
        pr12 = np.full(n, 10**12 // n, dtype=np.int64)
        for _ in range(3):
            c18 = pr12 * 1_000_000 // degree
            s18 = np.zeros(n, dtype=np.int64)
            np.add.at(s18, v, c18[u])
            np.add.at(s18, u, c18[v])
            pr12 = 150_000_000_000 // n + 85 * (s18 // 1_000_000) // 100
        return {"node": nodes, "degree": degree, "pr12": pr12}

    return one_task(edges, half_edges, kernel, "node long, degree long, pr12 long")


@query("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 iterations) over the capped user
    co-occurrence graph (``cooccurrence_edges``, cap 256).

    Integer contract: ranks are scale-12 fixed-point BIGINTs and every
    step is an integer floor division, exactly as the oracle writes
    them — ``pr12 = 10¹² div n``; per round ``c18 = pr12·10⁶ div
    degree`` per source node, ``s18`` = the BIGINT sum of ``c18`` over
    each node's neighbours, ``pr12 = 1.5·10¹¹ div n + 85·(s18 div 10⁶)
    div 100``. No float enters the iteration (c18 ≤ 10¹⁸, so no int64
    overflow), so every strategy and the oracle produce identical
    integers; only the final report divides once (exact in IEEE, as
    pr12 < 2⁵³) and rounds at 6 dp, in Spark. Every node has degree ≥ 1, so there is no dangling mass.

    Strategies, picked without a Spark job when the events footers
    carry user_id statistics:

    - single task, when the footer bound on half edges
      ``min(C(user_id max − min + 1, 2), rows·(cap−1)/2)`` is within
      ``_staging.one_task``'s row bound: the raw memberships feed
      ``cooccurrence_edges`` and ``pagerank_one_task`` runs all rounds
      in one numpy kernel. The query stays lazy (no construction job
      beyond the parquet schema read) and executes as one scan, three
      exchanges and the kernel task. The bound is 11k at sf0.01 and
      1.1M at sf0.1; the 100x fixture (150k users, 10M rows) is far
      above it.
    - distributed, above it. Two measured 1-row statistics
      (``_graph_scale_stats``) steer two independent axes. Edge
      layout: under _EDGE_PIN_PAIRS_MAX capped pair mass the half-edge
      list is pinned in memory; above it the directed list is staged
      once per (app, sf_dir) as a table bucketed by src, so deg and
      every round's join read it with no edge-side exchange. Rank
      join: under _PR_BROADCAST_NODES_MAX nodes the per-node
      contribution relation is broadcast; above it it shuffle-hash
      joins into the bucket layout and the O(nodes) pins are held
      off the heap as disk-only checkpoints. Every pin is
      ``_staging.pin``.
      Each round pins its ranks (lineage cut), so construction runs
      one job per round plus the pins and statistics.

    Footers without user_id statistics fall back to the measured pair
    mass of ``_graph_scale_stats`` as the half-edge bound."""
    ev = load(spark, sf_dir, "events")
    mem = ev.select(
        "user_id", F.expr(epoch_floor_div("unix_micros(ts)", 600000000)).alias("bucket")
    )
    b0 = mem.distinct()
    stats = None
    half_edges = _half_edge_bound(ev, cap=256)
    if half_edges is None:
        stats = _graph_scale_stats(b0, cap=256)
        half_edges = stats[1]
    ranks = pagerank_one_task(cooccurrence_edges(mem, cap=256), half_edges)
    if ranks is None:
        stats = stats or _graph_scale_stats(b0, cap=256)
        ranks = _pagerank_distributed(spark, sf_dir, b0, *stats)
    return ranks.select(
        F.col("node").alias("user_id"),
        "degree",
        F.round(F.col("pr12") / F.lit(1000000000000.0), 6).alias("pagerank"),
    )


def _directed(half: DataFrame) -> DataFrame:
    """Both orientations ``(src, dst)`` of a half-edge list ``(u, v)``."""
    return half.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        half.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )


def _pagerank_distributed(
    spark: SparkSession, sf_dir: str, b0: DataFrame, n_est: int, pair_est: int
) -> DataFrame:
    """graph_pagerank's distributed strategies over distinct memberships
    ``b0`` with their measured ``_graph_scale_stats``; returns
    ``(node, degree, pr12)``."""
    big_nodes = n_est > _PR_BROADCAST_NODES_MAX
    big_edges = pair_est > _EDGE_PIN_PAIRS_MAX
    edges = cooccurrence_edges(b0, cap=256)
    if big_edges:
        # The directed edge list streamed into a scratch table bucketed
        # by src (pin's big path: no corpus-sized checkpoint blocks on
        # the heap), staged once per (app, sf_dir): the relation is a
        # pure function of the input, and re-writing GBs per call
        # exhausts disk.
        de = pin(
            _directed(edges), True, "pr_edges", cache_key=(sf_dir,), bucket_by="src"
        )
    else:
        de = _directed(pin(edges))
    # deg is O(nodes): pin once instead of re-deriving it from a 2|E|
    # scan + shuffle in every round's join. On the bucketed layout the
    # aggregate has no exchange. Wide graphs hold their O(nodes) pins
    # on disk: memory-first pins accumulate in heap faster than the
    # ContextCleaner reaps dead generations.
    deg = pin(
        de.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("degree")),
        big_nodes,
        "pr_deg",
    )
    n = deg.agg(F.count(F.lit(1)).alias("n")).collect()[0]["n"]  # 1-row
    ranks = deg.select(
        "node", "degree", F.expr(f"1000000000000L div {n}L").alias("pr12")
    )
    for _ in range(3):
        # O(nodes) eager pin: cuts the iteration lineage and feeds the
        # rank side of the join from materialized rows.
        rk = pin(ranks, big_nodes, "pr_ranks")
        # c18 depends only on the src node: evaluate it once per node
        # on the O(nodes) side, not once per directed edge.
        rks = rk.select("node", F.expr("pr12 * 1000000L div degree").alias("c18"))
        rkj = rks.hint("shuffle_hash") if big_nodes else F.broadcast(rks)
        contrib = de.join(rkj, de["src"] == rkj["node"]).select("dst", "c18")
        s = contrib.groupBy(F.col("dst").alias("node")).agg(
            F.sum("c18").alias("s18")
        )
        ranks = deg.join(s, "node").select(
            "node",
            "degree",
            F.expr(
                f"150000000000L div {n}L + 85L * (s18 div 1000000L) div 100L"
            ).alias("pr12"),
        )
    return ranks


@query(
    "drift_ks_test",
    oracle="""
    WITH t AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS tick,
             CASE WHEN isodow(ts) >= 6 THEN 1 ELSE 0 END AS wk
      FROM events),
    c AS (
      SELECT tick,
             count(CASE WHEN wk = 0 THEN 1 END) AS ca,
             count(CASE WHEN wk = 1 THEN 1 END) AS cb
      FROM t GROUP BY tick),
    tot AS (SELECT CAST(SUM(ca) AS DOUBLE) AS na,
                   CAST(SUM(cb) AS DOUBLE) AS nb FROM c),
    cum AS (
      SELECT tick,
             CAST(SUM(ca) OVER (ORDER BY tick) AS DOUBLE) AS cca,
             CAST(SUM(cb) OVER (ORDER BY tick) AS DOUBLE) AS ccb
      FROM c),
    d AS (SELECT tick, abs(cca / tot.na - ccb / tot.nb) AS d
          FROM cum, tot),
    m AS (SELECT max(d) AS md FROM d)
    SELECT CAST(tot.na AS BIGINT) AS n_weekday,
           CAST(tot.nb AS BIGINT) AS n_weekend,
           round(m.md, 6) AS ks_stat,
           (SELECT min(tick) FROM d WHERE d.d = m.md) AS ks_at_tick
    FROM tot, m
    """,
)
def drift_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the weekday and
    weekend value distributions — the nonparametric distribution-shift
    audit (no binning choice, unlike PSI) a feature store runs before
    trusting a segment split. D = max |F_wd − F_we| over the integer
    tick domain (round(100·value), the repo's exact-tick rule), plus
    the tick where the gap peaks.

    Scale shape: one (tick, segment) partial-agg count over raw rows —
    the only pass that touches data volume — then the CDF runs on the
    AGGREGATED tick domain via the two-phase distributed prefix sum
    (operators/packing.py::distributed_cumsum: range-partition by tick,
    per-partition running sums, O(P) boundary offsets through the
    driver) — no single-partition window even if a wide value range
    makes the tick domain large. Every F value is an
    exact-BIGINT-cumsum / exact-total division — one correctly-rounded
    IEEE op — so both engines build bit-identical CDFs and the argmax
    tie-break (min tick at max gap) compares identical doubles; only
    the reported statistic rounds at 6dp."""
    from tstables_spark.operators.packing import distributed_cumsum

    ev = load(spark, sf_dir, "events")
    tick = F.round(F.col("value") * 100).cast("long")
    wk = F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0)
    c = (
        ev.select(tick.alias("tick"), wk.alias("wk"))
        .groupBy("tick")
        .agg(
            F.count(F.when(F.col("wk") == 0, 1)).alias("ca"),
            F.count(F.when(F.col("wk") == 1, 1)).alias("cb"),
        )
    )
    cum = distributed_cumsum(c, ["tick"], ["ca", "cb"]).select(
        "tick",
        F.col("cum_ca").cast("double").alias("cca"),
        F.col("cum_cb").cast("double").alias("ccb"),
    )
    # totals = the cumsum's own final values (ca/cb are non-negative
    # counts, so the running sums are monotone and max == grand total):
    # read from the checkpointed cumsum output instead of re-aggregating
    # the raw-events branch, which would scan the table a second time.
    tot = cum.agg(F.max("cca").alias("na"), F.max("ccb").alias("nb"))
    d = cum.crossJoin(F.broadcast(tot)).select(
        "tick",
        "na",
        "nb",
        F.abs(F.col("cca") / F.col("na") - F.col("ccb") / F.col("nb")).alias("d"),
    )
    m = d.agg(F.max("d").alias("md"))
    return (
        d.crossJoin(F.broadcast(m))
        .where(F.col("d") == F.col("md"))
        .agg(
            F.min(F.col("na")).cast("long").alias("n_weekday"),
            F.min(F.col("nb")).cast("long").alias("n_weekend"),
            F.round(F.min("md"), 6).alias("ks_stat"),
            F.min("tick").alias("ks_at_tick"),
        )
    )


def _grouped_median2(counts: DataFrame, key: str, val: str, cnt: str) -> DataFrame:
    """Per-key exact 2x-median of an integer value from its (key, val,
    count) histogram: returns (key, n, m2) where m2 = k1th + k2th
    smallest value (k1=(n+1) div 2, k2=(n+2) div 2) — i.e. twice the
    interpolated median, but always an exact BIGINT (odd n: 2x the
    middle value; even n: the sum of the two middle values).

    Distribution: ONE distributed_cumsum over the global (key, val)
    order gives running counts; the per-key cumulative is recovered by
    subtracting each key's exclusive offset (a |keys|^2 self-join over
    the tiny per-key totals relation — |keys| is the event-type
    cardinality, not data). No per-key global window, no driver
    collect beyond distributed_cumsum's O(P) offsets."""
    from tstables_spark.operators.packing import distributed_cumsum

    cum = distributed_cumsum(counts, [key, val], [cnt])
    totals = counts.groupBy(key).agg(F.sum(cnt).alias("n"))
    a, b = totals.alias("a"), totals.alias("b")
    off = (
        a.join(b, F.col(f"b.{key}") < F.col(f"a.{key}"), "left")
        .groupBy(F.col(f"a.{key}").alias(key), F.col("a.n").alias("n"))
        .agg(F.coalesce(F.sum("b.n"), F.lit(0)).alias("off"))
    )
    j = cum.join(F.broadcast(off), key)
    g = F.col(f"cum_{cnt}") - F.col("off")
    return (
        j.groupBy(key, "n")
        .agg(
            F.min(F.when(g >= F.expr("(n + 1) div 2"), F.col(val))).alias("lo"),
            F.min(F.when(g >= F.expr("(n + 2) div 2"), F.col(val))).alias("hi"),
        )
        .select(key, "n", (F.col("lo") + F.col("hi")).alias("m2"))
    )


@query(
    "ts_robust_zscore",
    oracle="""
    WITH c AS (SELECT event_type AS et, CAST(round(value * 100) AS BIGINT) AS tick,
                      CAST(count(*) AS BIGINT) AS cnt
               FROM events GROUP BY 1, 2),
    tot AS (SELECT et, SUM(cnt) AS n FROM c GROUP BY et),
    cum AS (SELECT et, tick, cnt,
                   SUM(cnt) OVER (PARTITION BY et ORDER BY tick) AS g
            FROM c),
    med AS (SELECT cum.et, tot.n,
                   min(CASE WHEN g >= (n + 1) // 2 THEN tick END)
                   + min(CASE WHEN g >= (n + 2) // 2 THEN tick END) AS med2
            FROM cum JOIN tot ON cum.et = tot.et GROUP BY cum.et, tot.n),
    d AS (SELECT c.et, med.n, med.med2,
                 abs(2 * c.tick - med.med2) AS dev2, SUM(c.cnt) AS cnt
          FROM c JOIN med ON c.et = med.et GROUP BY 1, 2, 3, 4),
    cumd AS (SELECT et, n, med2, dev2, cnt,
                    SUM(cnt) OVER (PARTITION BY et ORDER BY dev2) AS g
             FROM d),
    mad AS (SELECT et, n, med2,
                   min(CASE WHEN g >= (n + 1) // 2 THEN dev2 END)
                   + min(CASE WHEN g >= (n + 2) // 2 THEN dev2 END) AS mad4
            FROM cumd GROUP BY et, n, med2),
    outl AS (SELECT d.et,
                    SUM(CASE WHEN 2 * d.dev2 > 4.4478 * mad.mad4
                             THEN d.cnt ELSE 0 END) AS n_outliers
             FROM d JOIN mad ON d.et = mad.et GROUP BY d.et)
    SELECT mad.et AS event_type, CAST(mad.n AS BIGINT) AS n,
           mad.med2 / 2.0 AS median, mad.mad4 / 4.0 AS mad,
           CAST(outl.n_outliers AS BIGINT) AS n_outliers
    FROM mad JOIN outl ON mad.et = outl.et
    """,
)
def ts_robust_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) outlier audit per event type — the
    heavy-tail-safe alternative to win_zscore's mean/stddev, which a
    single spike corrupts. Reports each type's exact median, MAD and
    the count of values beyond the classic 3-sigma-equivalent fence
    (|x - med| > 3 * 1.4826 * MAD).

    Exactness without floats: values live on the integer tick domain
    (round(100x), the repo's exact-tick rule); the median is carried
    as med2 = 2x median (k1th + k2th order statistic — an exact
    BIGINT even for even counts), deviations as dev2 = |2*tick - med2|
    (scale 2), MAD as mad4 = k1th + k2th of dev2 (scale 4). The fence
    2*dev2 > 4.4478*mad4 compares an exact integer to ONE double
    product — deterministic in both engines; only the report divides
    by 2.0/4.0.

    Scale shape: raw rows are touched by one (type, tick) partial-agg
    count; both order statistics run on aggregated histograms via
    _grouped_median2 (distributed_cumsum + a |types|-sized offset
    join) — no per-key global window, no collect of data rows."""
    ev = load(spark, sf_dir, "events")
    # Pin BOTH histograms once (the minhash/pagerank checkpoint
    # discipline): c feeds the median cumsum, its totals branch, and
    # the deviation derivation; d feeds the MAD cumsum, its totals
    # branch, and the outlier count. Without the checkpoints each of
    # those jobs re-scans and re-aggregates the raw events table —
    # ReuseExchange dedups within one plan, never across the separate
    # checkpoint/collect jobs the two-phase cumsums run.
    c = pin(
        ev.select(
            F.col("event_type").alias("et"),
            F.round(F.col("value") * 100).cast("long").alias("tick"),
        )
        .groupBy("et", "tick")
        .agg(F.count("*").alias("cnt"))
    )
    med = _grouped_median2(c, "et", "tick", "cnt").select(
        "et", "n", F.col("m2").alias("med2")
    )
    d = pin(
        c.join(F.broadcast(med.select("et", "med2")), "et")
        .select(
            "et",
            F.abs(2 * F.col("tick") - F.col("med2")).alias("dev2"),
            "cnt",
        )
        .groupBy("et", "dev2")
        .agg(F.sum("cnt").alias("cnt"))
    )
    mad = _grouped_median2(d, "et", "dev2", "cnt").select(
        "et", F.col("m2").alias("mad4")
    )
    meta = med.join(mad, "et")
    outl = (
        d.select("et", "dev2", "cnt")
        .join(F.broadcast(meta.select("et", "mad4")), "et")
        .groupBy("et")
        .agg(
            F.sum(
                F.when(
                    2 * F.col("dev2") > F.lit(4.4478) * F.col("mad4"), F.col("cnt")
                ).otherwise(F.lit(0))
            ).alias("n_outliers")
        )
    )
    return meta.join(outl, "et").select(
        F.col("et").alias("event_type"),
        "n",
        (F.col("med2") / F.lit(2.0)).alias("median"),
        (F.col("mad4") / F.lit(4.0)).alias("mad"),
        "n_outliers",
    )


def _oriented_census(e: DataFrame, big: bool = False, cache_key: tuple | None = None):
    """Degree-ordered oriented triangle census over a PINNED half-edge
    list ``e(u, v)`` (u < v). Returns ``(tri, deg, m)``: ``tri`` has
    one row ``(x, y, z)`` per triangle, oriented x→y, x→z, y→z,
    ``deg`` the (node, degree) relation and ``m`` the number of edges
    of ``e``. Every edge is oriented from its lower (degree, id)
    endpoint, so each triangle appears exactly once and the wedge
    expansion is O(m^1.5) by the arboricity bound (see
    graph_triangles). Shared by the exact census, the DOULION
    estimator, which runs it on a sampled edge subset, and their gate,
    which counts the sampled triangles among the exact ones.

    Contract, the same at every size:

    - one layout: the oriented relation ``(src, dst, ddeg)``, compared
      lexicographically, so any int64 id works. It is pinned once;
      ``big`` routes that pin through ``_staging.pin``'s streamed
      scratch table (``cache_key``) instead of a memory checkpoint.
    - one count: ``m`` is counted once on the pin (on the big path a
      parquet count-star on the staged table), before any join is
      planned.
    - one partition rule: the wedge stream, the only relation here
      that grows past the edge count (Σ outdeg² rows), is the pinned
      relation repartitioned by ``src`` to ``_census_partitions(m)``
      partitions, whatever count the pin was left with.
    - one join rule: when ``m <= _CENSUS_BROADCAST_EDGES_MAX`` both
      build sides (src-keyed for the wedge probe, (src, dst)-keyed for
      the closure) are broadcast, and the wedges are generated and
      closed in one stage of that many tasks with no further
      exchange. Above it both joins sort-merge on the same explicit
      count."""
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("degree").alias("degu"))
    dv = deg.select(F.col("node").alias("v"), F.col("degree").alias("degv"))
    fwd = (F.col("degu") < F.col("degv")) | (
        (F.col("degu") == F.col("degv")) & (F.col("u") < F.col("v"))
    )
    src = F.when(fwd, F.col("u")).otherwise(F.col("v"))
    dst = F.when(fwd, F.col("v")).otherwise(F.col("u"))
    ddeg = F.when(fwd, F.col("degv")).otherwise(F.col("degu"))
    oe = (
        e.join(du, "u")
        .join(dv, "v")
        .select(src.alias("src"), dst.alias("dst"), ddeg.alias("ddeg"))
    )
    oe = pin(oe, big, "census_oe", cache_key=cache_key)
    # one job: a global count over one coalesced partition has no exchange
    m = oe.coalesce(1).count()
    n = _census_partitions(oe, m)
    a = oe.repartition(n, "src").alias("a")
    bcast = m <= _CENSUS_BROADCAST_EDGES_MAX
    if bcast:
        b, c = F.broadcast(oe.alias("b")), F.broadcast(oe.alias("c"))
    else:
        b = oe.repartition(n, "src").alias("b")
        c = oe.repartition(n, "src", "dst").alias("c")
    wed = a.join(
        b,
        (F.col("a.src") == F.col("b.src"))
        & (
            (F.col("a.ddeg") < F.col("b.ddeg"))
            | ((F.col("a.ddeg") == F.col("b.ddeg")) & (F.col("a.dst") < F.col("b.dst")))
        ),
    ).select(
        F.col("a.src").alias("x"), F.col("a.dst").alias("y"), F.col("b.dst").alias("z")
    )
    if not bcast:
        wed = wed.repartition(n, "y", "z")
    tri = wed.join(
        c, (F.col("c.src") == F.col("y")) & (F.col("c.dst") == F.col("z"))
    ).select("x", "y", "z")
    return tri, deg, m


def _census_partitions(oe: DataFrame, m: int) -> int:
    """Partition count of the census's wedge stream over ``m`` measured
    oriented edges (see ``_CENSUS_EDGES_PER_PARTITION``)."""
    floor = int(oe.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return max(floor, -(-m // _CENSUS_EDGES_PER_PARTITION))


# DOULION edge-sampling knobs, shared by the estimator and its gate.
# Membership hangs off md5 of the edge key (the sample_hash discipline),
# so the sample — and therefore the ESTIMATE — is a pure function of the
# graph, reproducible across runs, partitionings, and engines; est =
# t_sampled / p^3 is computed in exact integer arithmetic (*64 div 27).
_DOULION_CUT = "c0"  # keep edges with md5 prefix < 'c0': p = 192/256 = 3/4
_DOULION_NUM, _DOULION_DEN = 256 ** 3, 192 ** 3  # 1/p^3 = 64/27


def _validate_cut(cut: str) -> int:
    """Validate a DOULION md5-prefix cut and return keep = int(cut, 16).

    Only a 2-char LOWERCASE hex string is sound: the membership test is
    a lexicographic compare against lowercase 2-char md5 prefixes, so an
    uppercase ('C0') or short ('4') cut silently mis-samples while the
    estimator still scales by 256^3/keep^3 — a wrong estimate instead of
    an error (ADVICE r12). Fail loudly at the plan boundary instead."""
    if (
        len(cut) != 2
        or cut != cut.lower()
        or any(c not in "0123456789abcdef" for c in cut)
    ):
        raise ValueError(
            f"DOULION cut must be a 2-char lowercase hex string, got {cut!r}"
        )
    keep = int(cut, 16)
    if keep == 0:
        raise ValueError("DOULION cut '00' keeps no edges (p = 0)")
    return keep


def _doulion_kept(u: Column, v: Column, cut: str = _DOULION_CUT) -> Column:
    """Whether edge ``(u, v)``, u < v, is in the DOULION sample at a
    validated ``cut``."""
    key = F.concat(u.cast("string"), F.lit("_"), v.cast("string"))
    return F.substring(F.md5(key), 1, 2) < cut


_DOULION_EDGES_SQL = """
    b0 AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 60000000 AS bucket
      FROM events),
    b AS (
      SELECT user_id, bucket FROM (
        SELECT user_id, bucket,
               row_number() OVER (PARTITION BY bucket ORDER BY user_id) AS rn
        FROM b0) WHERE rn <= 256),
    edges AS (
      SELECT DISTINCT a.user_id AS u, b2.user_id AS v
      FROM b a JOIN b b2
        ON a.bucket = b2.bucket AND a.user_id < b2.user_id),
    se AS (
      SELECT u, v FROM edges
      WHERE substr(md5(CAST(u AS VARCHAR) || '_' || CAST(v AS VARCHAR)),
                   1, 2) < 'c0'),
    ts_ AS (
      SELECT CAST(count(*) AS BIGINT) AS t
      FROM se e1 JOIN se e2 ON e1.v = e2.u
                 JOIN se e3 ON e3.u = e1.u AND e3.v = e2.v)
"""


@query(
    "graph_triangles_approx",
    oracle=f"""
    WITH {_DOULION_EDGES_SQL},
    ns AS (SELECT CAST(count(*) AS BIGINT) AS n FROM se)
    SELECT ts_.t AS n_triangles_sampled, ns.n AS n_edges_sampled,
           CAST(ts_.t * {_DOULION_NUM} // {_DOULION_DEN} AS BIGINT)
             AS est_triangles
    FROM ts_, ns
    """,
)
def graph_triangles_approx(
    spark: SparkSession, sf_dir: str, cut: str = _DOULION_CUT
) -> DataFrame:
    """DOULION triangle estimator (Tsourakakis et al., KDD'09) over the
    capped 1-minute co-occurrence graph — the 100 TB answer to the
    exact census, whose wedge shuffle exceeds single-box disk at 100x
    (SCALE.md r11): sparsify edges with probability p, census the
    sampled graph, scale by 1/p^3. The sampling coin is an md5 bucket
    of the (u, v) edge key — deterministic, so DuckDB replicates the
    IDENTICAL sample and estimate and this is a full hash-checked
    query, not a rows-only one; accuracy is additionally gated by
    graph_triangles_gate's tolerance boolean.

    Scale shape: the sampled census costs p^2 of the exact wedge
    volume and p^3 of the closure-join volume (each wedge needs both
    its edges sampled; each triangle all three). p is THE knob: here
    p = 3/4 (the fixture's triangle mass is small — DOULION's relative
    error concentrates as 1/sqrt(t * p^3), so small graphs need high
    p); a 100-TB census runs p = 1/10 for a ~1000x cost cut with
    billions of triangles keeping the error sub-percent. ``cut``
    EXPOSES the knob (md5-prefix hex cut; keeps int(cut,16)/256 of
    edges): the registered query pins 'c0' so the DuckDB twin is
    byte-identical, while the 100x sweep runs '40' (p=1/4) — the
    p=3/4 sampled wedge spill measurably exceeds the box's 80 GB disk
    (SCALE.md r12), and two independent low-p runs cross-check each
    other's estimates there. The estimate t_s * 256^3 div keep^3 is
    exact integer arithmetic — no float enters either engine. Runs on
    the caller's session (see graph_triangles)."""
    ev = load(spark, sf_dir, "events")
    b0 = ev.select(
        "user_id", F.expr(epoch_floor_div("unix_micros(ts)", 60000000)).alias("bucket")
    ).distinct()
    # Same edge-density knob as graph_pagerank (the capped pair-mass
    # bound, one cheap aggregate): above it, both the sampled-edge pin
    # and the census's internal oriented-edge pin become streamed
    # scratch tables — no edge-sized checkpoint blocks on the heap
    # (see _staging.pin).
    # Validate the knob BEFORE the pair-mass job — a malformed cut
    # must fail free, not after a corpus aggregate.
    keep = _validate_cut(cut)  # md5-prefix cut 'xx' keeps keep/256 of edges
    big = _pair_mass(b0, cap=256) > _EDGE_PIN_PAIRS_MAX
    # Streamed scratch pins cached per (app, sf_dir, cut) — the sampled
    # edge list and the census's oriented-edge relation are pure
    # functions of (input, cut), so best-of-N bench repetition at 100x
    # re-walks the staged files instead of re-writing GBs per run
    # (_staging.staged entries).
    ck = (sf_dir, cut)
    se = pin(
        cooccurrence_edges(b0, cap=256).where(_doulion_kept(F.col("u"), F.col("v"), cut)),
        big,
        "doulion_se",
        cache_key=ck,
    )
    tri, _, m = _oriented_census(se, big=big, cache_key=ck)
    return tri.agg(F.count(F.lit(1)).alias("t")).select(
        F.col("t").alias("n_triangles_sampled"),
        F.lit(m).cast("long").alias("n_edges_sampled"),
        F.expr(f"t * {256 ** 3}L div {keep ** 3}L").alias("est_triangles"),
    )


@query(
    "graph_triangles_gate",
    oracle=f"""
    WITH {_DOULION_EDGES_SQL},
    te AS (
      SELECT CAST(count(*) AS BIGINT) AS t
      FROM edges e1 JOIN edges e2 ON e1.v = e2.u
                    JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v),
    est AS (SELECT CAST(ts_.t * {_DOULION_NUM} // {_DOULION_DEN} AS BIGINT)
              AS e FROM ts_)
    SELECT te.t AS n_triangles, est.e AS est_triangles,
           round(abs(est.e - te.t) / GREATEST(te.t, 1), 6) AS rel_err,
           abs(est.e - te.t) <= 0.15 * GREATEST(te.t, 1) AS within_tol
    FROM te, est
    """,
)
def graph_triangles_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance gate for graph_triangles_approx — the sim_recall /
    agg_approx_* pattern: count the exact triangles AND the DOULION
    estimate's sampled ones in one oriented census of the pinned edge
    list (a triangle is in the sampled graph iff its three edges are
    kept), and emit the relative error plus a checked ``within_tol``
    (<= 15%) boolean. Hash-checked in both engines (the estimate is
    deterministic, the error one exact IEEE division of BIGINTs, the
    tolerance test pure integer comparison — 0.15 * t is exact for
    t < 2^50). Observed: rel_err 0.0696 at sf0.01 (574 exact
    triangles), 0.0059-scale at sf0.1 (613k) — the 1/sqrt(t p^3)
    concentration in action. Runs at fixture scale where the exact
    census is cheap; at 100x only the estimator runs (the point of
    having it). Runs on the caller's session (see graph_triangles)."""
    ev = load(spark, sf_dir, "events")
    b0 = ev.select(
        "user_id", F.expr(epoch_floor_div("unix_micros(ts)", 60000000)).alias("bucket")
    )  # raw memberships: the edge aggregate dedups (r17)
    e = pin(cooccurrence_edges(b0, cap=256))
    tri, _, _ = _oriented_census(e)

    def kept(p: str, q: str) -> Column:
        return _doulion_kept(F.least(p, q), F.greatest(p, q))

    sampled = kept("x", "y") & kept("x", "z") & kept("y", "z")
    est = F.expr(f"ts * {_DOULION_NUM}L div {_DOULION_DEN}L")
    return (
        tri.agg(
            F.count(F.lit(1)).alias("t"), F.count(F.when(sampled, 1)).alias("ts")
        )
        .select(
            F.col("t").alias("n_triangles"),
            est.alias("est_triangles"),
            F.round(
                F.abs(est - F.col("t")) / F.greatest(F.col("t"), F.lit(1)), 6
            ).alias("rel_err"),
            (
                F.abs(est - F.col("t"))
                <= F.lit(0.15) * F.greatest(F.col("t"), F.lit(1))
            ).alias("within_tol"),
        )
    )


@query(
    "graph_triangles",
    oracle="""
    WITH b0 AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 60000000 AS bucket
      FROM events),
    b AS (
      SELECT user_id, bucket FROM (
        SELECT user_id, bucket,
               row_number() OVER (PARTITION BY bucket ORDER BY user_id) AS rn
        FROM b0) WHERE rn <= 256),
    edges AS (
      SELECT DISTINCT a.user_id AS u, b2.user_id AS v
      FROM b a JOIN b b2
        ON a.bucket = b2.bucket AND a.user_id < b2.user_id),
    deg AS (
      SELECT u AS node, COUNT(*) AS degree
      FROM (SELECT u FROM edges UNION ALL SELECT v FROM edges)
           AS both_ends(u)
      GROUP BY u),
    orde AS (
      SELECT e.u, e.v, du.degree AS gu, dv.degree AS gv,
             (du.degree < dv.degree
              OR (du.degree = dv.degree AND e.u < e.v)) AS fwd
      FROM edges e
      JOIN deg du ON du.node = e.u
      JOIN deg dv ON dv.node = e.v),
    oe AS (
      SELECT CASE WHEN fwd THEN u ELSE v END AS src,
             CASE WHEN fwd THEN v ELSE u END AS dst,
             CASE WHEN fwd THEN gv ELSE gu END AS ddeg
      FROM orde),
    wed AS (
      SELECT a.dst AS y, b.dst AS z
      FROM oe a JOIN oe b
        ON a.src = b.src
       AND (a.ddeg < b.ddeg OR (a.ddeg = b.ddeg AND a.dst < b.dst))),
    tri AS (
      SELECT CAST(count(*) AS BIGINT) AS t
      FROM wed JOIN oe ON oe.src = wed.y AND oe.dst = wed.z),
    w AS (SELECT CAST(SUM(degree * (degree - 1) // 2) AS BIGINT) AS wedges,
                 CAST(count(*) AS BIGINT) AS n_nodes
          FROM deg),
    ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM edges)
    SELECT tri.t AS n_triangles, ne.n_edges, w.n_nodes, w.wedges,
           CASE WHEN w.wedges > 0
                THEN round(3.0 * tri.t / w.wedges, 6) END AS clustering
    FROM tri, w, ne
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census + global clustering coefficient of the capped
    1-MINUTE user co-occurrence graph — the community-density metric
    (are my co-occurrences cliques or stars?) and the classic
    distributed graph benchmark. The minute bucket (vs the 10-minute
    one of graph_degree_dist) keeps the fixture graph sparse enough
    that the census is the interesting cost, not the edge derivation.

    Scale shape — degree-ordered orientation, the standard
    triangle-count trick: every edge is oriented from its
    lower-(degree, id) endpoint to the higher one, each triangle is
    counted exactly once at its minimum-order vertex, and the wedge
    expansion is sum over nodes of ORIENTED out-degree squared =
    O(m^1.5) by the arboricity bound — NOT sum deg^2, which on a
    dense co-occurrence graph is 40x larger (measured at sf0.1:
    naive 10-min graph sum deg^2 = 1.4e9 rows OOMed an 8-thread 1 GiB
    session; the oriented 1-min census runs in seconds). The
    (degree, id) order is compared LEXICOGRAPHICALLY — a composite
    degree*K + id scalar would overflow int64 for snowflake-scale
    ids, exactly the 100-TB regime. Edges are
    pinned once (``_staging.pin``; three join legs);
    wedges = sum deg*(deg-1)/2 exactly in BIGINT; clustering
    3T/wedges is one double multiply + divide rounded at 6dp —
    identical in both engines.

    Like every query, the census family runs on the caller's session
    and its confs. The wedge stream's width is sized from the measured
    edge count, one partition per ``_CENSUS_EDGES_PER_PARTITION``
    edges and never under the session's shuffle partition count; AQE
    does not coalesce it (see ``_oriented_census``)."""
    ev = load(spark, sf_dir, "events")
    b0 = ev.select(
        "user_id", F.expr(epoch_floor_div("unix_micros(ts)", 60000000)).alias("bucket")
    )  # raw memberships: the edge aggregate dedups (r17)
    e = pin(cooccurrence_edges(b0, cap=256))
    tri, deg, m = _oriented_census(e)
    tri = tri.agg(F.count(F.lit(1)).alias("t"))
    w = deg.agg(
        F.sum(F.expr("degree * (degree - 1) div 2")).alias("wedges"),
        F.count(F.lit(1)).alias("n_nodes"),
    )
    return (
        tri.crossJoin(F.broadcast(w))
        .select(
            F.col("t").alias("n_triangles"),
            F.lit(m).cast("long").alias("n_edges"),
            "n_nodes",
            "wedges",
            F.when(
                F.col("wedges") > 0,
                F.round(F.lit(3.0) * F.col("t") / F.col("wedges"), 6),
            ).alias("clustering"),
        )
    )


_KCORE_ROUNDS = 24  # oracle unroll == kcore_peel max_iter: ONE constant
# so the "raises rather than silently diverges" guard can't drift from
# the oracle (review r13)


def _kcore_oracle(rounds: int = _KCORE_ROUNDS) -> str:
    """Unrolled-iteration DuckDB twin of graph_kcore. Peeling is a
    monotone fixpoint (Batagelj-Zaversnik): every post-fixpoint round
    reproduces the same survivor set, so unrolling MORE rounds than
    convergence needs is a no-op — 24 unrolled rounds cover the
    fixtures' measured 4 (sf0.01) / 7 (sf0.1) with 3x margin, and the
    Spark side passes max_iter == THIS round count so a deeper graph
    RAISES loudly instead of silently diverging from the oracle
    (review r13). Every
    quantity in the iteration is an integer (degrees, the rank-based
    median, k), so the fixpoint is bit-identical across engines.

    The edge relation and every round are AS MATERIALIZED: each round
    references its predecessor TWICE (both join legs), so DuckDB's
    default CTE inlining would expand the final round into 2^rounds
    copies of the edge derivation (measured at 16 rounds: exhausts
    file handles before it exhausts patience)."""
    cte = [
        """
    b0 AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 600000000 AS bucket
      FROM events),
    b AS (
      SELECT user_id, bucket FROM (
        SELECT user_id, bucket,
               row_number() OVER (PARTITION BY bucket ORDER BY user_id) AS rn
        FROM b0) WHERE rn <= 256),
    edges AS (
      SELECT DISTINCT a.user_id AS u, b2.user_id AS v
      FROM b a JOIN b b2
        ON a.bucket = b2.bucket AND a.user_id < b2.user_id),
    se AS (
      SELECT u, v FROM edges
      WHERE substring(md5(CAST(u AS VARCHAR) || '_' || CAST(v AS VARCHAR)),
                      1, 2) < '10'),
    de AS MATERIALIZED (SELECT u AS src, v AS dst FROM se
           UNION ALL
           SELECT v AS src, u AS dst FROM se),
    d0 AS MATERIALIZED (SELECT src AS node, CAST(count(*) AS BIGINT) AS c
           FROM de GROUP BY src),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d0),
    md AS (SELECT c AS med FROM (
             SELECT c, row_number() OVER (ORDER BY c) AS rn FROM d0)
           WHERE rn = (SELECT (n + 1) // 2 FROM nn)),
    kk AS (SELECT GREATEST(CAST(2 AS BIGINT), 3 * med // 4) AS k FROM md),
    a0 AS MATERIALIZED (SELECT node, c FROM d0 WHERE c >= (SELECT k FROM kk))"""
    ]
    for i in range(1, rounds + 1):
        cte.append(f"""
    a{i} AS MATERIALIZED (
      SELECT de.src AS node, CAST(count(*) AS BIGINT) AS c
      FROM de JOIN a{i-1} x ON de.src = x.node
              JOIN a{i-1} y ON de.dst = y.node
      GROUP BY de.src HAVING count(*) >= (SELECT k FROM kk))""")
    return (
        "WITH" + ",".join(cte)
        + f"""
    SELECT node AS user_id, c AS core_degree, (SELECT k FROM kk) AS k
    FROM a{rounds}
    """
    )


@query("graph_kcore", oracle=_kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-CORE DECOMPOSITION (fixed data-derived k) over a sparsified
    co-occurrence graph: the unique maximal subgraph in which every
    surviving user still has >= k surviving neighbors — the density
    backbone behind spam-ring extraction, loyal-cohort mining and
    "dense community" crawl gates, completing the graph family
    (degree dist / pagerank / triangles / jaccard) with its canonical
    degeneracy probe. No upstream-tstables analogue (SURVEY §0: the
    reference is a range-read store); graded as a pipeline operator.

    Graph: the capped bucket-co-occurrence edges (graph_degree_dist's
    derivation, shared helper) SPARSIFIED by a deterministic md5 edge
    cut (keep md5(u_v) 2-hex prefix < '10', p = 1/16 — the DOULION
    device, reused verbatim so both engines drop identical edges).
    The raw 10-minute co-occurrence graph is near-regular
    (min/median/max degree 70/94/115 at sf0.01 — every fixed or
    quantile-derived k measured either kept everyone or cascaded to
    empty); the sparsified graph has binomial degrees and a real core
    structure. k = max(2, 3*median_degree div 4), an exact rank-based
    integer statistic (value at ascending rank (n+1) div 2) — scale-
    free, and measured non-trivial at both fixture scales: sf0.01
    peels 27/150 nodes in 4 rounds (k=4), sf0.1 peels 56/1500 in 7
    (k=44).

    Correctness shape: every iteration quantity is an integer and the
    peel is a MONOTONE unique fixpoint (removal order irrelevant —
    Batagelj-Zaversnik), so the result hash-matches an unrolled-SQL
    oracle exactly; over-unrolled rounds are no-ops, and the kernel
    RAISES if max_iter is hit rather than return a non-fixpoint set.

    Scale shape: the directed edge relation materializes ONCE via
    _staging.pin (a checkpoint under the pair-mass bound,
    streamed bucketed-by-src scratch table above it — zero-exchange
    groupBy(src) off the bucketed scan); each round joins it against
    two O(nodes) survivor legs (broadcast under the node bound,
    shuffle-hash above — the graph_pagerank two-knob strategy),
    aggregates src-side with map-side combine, and pins one O(nodes)
    relation whose convergence count rides the SAME job via
    observe() (the CC kernel's probe discipline: one job per round,
    O(1) to the driver). The median comes from a degree HISTOGRAM +
    distributed_cumsum — no global single-task sort at any node
    count."""
    from tstables_spark.operators.kcore import kcore_peel
    from tstables_spark.operators.packing import distributed_cumsum

    ev = load(spark, sf_dir, "events")
    b0 = ev.select(
        "user_id",
        F.expr(epoch_floor_div("unix_micros(ts)", 600000000)).alias("bucket"),
    ).distinct()
    n_est, pair_est = _graph_scale_stats(b0, cap=256)
    big_nodes = n_est > _PR_BROADCAST_NODES_MAX
    # The md5 cut keeps 16/256 of edges uniformly, so the expected
    # sampled pair mass is pair_est/16; size the pin decision on that
    # (pair_est itself is already an upper bound on the unsampled
    # edge count, so the scaled figure stays conservative in
    # expectation — and flipping to the streamed layout early is
    # harmless, flipping late is the OOM). TWO bounds, one branch:
    # above _EDGE_STAGE_PAIRS_MIN the cached bucketed table is CHEAPER
    # (cold and amortized — the measured economics at its definition),
    # above _EDGE_PIN_PAIRS_MAX it is also the only layout that fits.
    sampled_pairs = (pair_est * 16) // 256
    big_edges = sampled_pairs > _EDGE_STAGE_PAIRS_MIN
    half = cooccurrence_edges(b0, cap=256).where(
        F.substring(
            F.md5(
                F.concat(
                    F.col("u").cast("string"),
                    F.lit("_"),
                    F.col("v").cast("string"),
                )
            ),
            1,
            2,
        )
        < "10"
    )
    if big_edges:
        # Streamed scratch table holds the directed list (the stream
        # is constant-memory regardless of size; consumers re-scan
        # files) — the pagerank big-edge discipline via _staging.pin.
        de = pin(
            _directed(half),
            True,
            "kcore_de",
            cache_key=(sf_dir, "kcore", "10"),
            bucket_by="src",
        )
    else:
        # Pin the HALF list (the _EDGE_PIN_PAIRS_MAX bound is in
        # half-edges — pinning 2|E| is the r11 pagerank OOM); both
        # directions derive lazily from the pinned rows.
        de = _directed(pin(half))
    # k = max(2, 3*med div 4); med = exact ascending-rank median of
    # full-graph degrees. Histogram (O(distinct degree values) rows)
    # + two-phase distributed prefix sum — no single-task window; the
    # two collects are 1-row contract-bounded aggregates. deg0 is
    # PINNED (O(nodes), the storage level honoring big_nodes like
    # every O(nodes) pin here): the node count, the histogram AND the
    # peel's round 0 all consume it — unpinned, each re-runs the full
    # 2|E| aggregate (review r13: a lazy deg0 made the pass-through
    # parameter a no-op).
    deg0 = pin(
        de.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("c")),
        big_nodes,
        "kcore_deg0",
    )
    n = deg0.agg(F.count(F.lit(1)).alias("n")).collect()[0]["n"]
    rank = (n + 1) // 2
    hist = deg0.groupBy("c").agg(F.count(F.lit(1)).alias("cnt"))
    med = (
        distributed_cumsum(hist, ["c"], ["cnt"])
        .where(F.col("cum_cnt") >= rank)
        .agg(F.min("c").alias("m"))
        .collect()[0]["m"]
    )
    # med is None only when the sampled edge set is EMPTY (deg0 has no
    # rows); the oracle's scalar subqueries go NULL and return an
    # empty relation there — k=2 over an empty graph peels to the
    # same empty result through the normal path.
    k = max(2, 3 * med // 4) if med is not None else 2
    # max_iter == the oracle's unrolled round count (ONE shared
    # constant): past it Spark RAISES where the oracle would silently
    # return a non-fixpoint round — the guard keeps divergence loud
    # (review r13). Fixtures converge in <= 7; 24 is 3x margin.
    core = kcore_peel(
        de, k, big_nodes=big_nodes, max_iter=_KCORE_ROUNDS, deg0=deg0
    )
    return core.select(
        F.col("node").alias("user_id"),
        F.col("c").alias("core_degree"),
        F.lit(k).cast("long").alias("k"),
    )


@query(
    "agg_linear_regression",
    oracle=f"""
    WITH pts AS (
      SELECT event_type,
             (EXTRACT(EPOCH FROM ts) - 1704067200) / 3600 AS x,
             value AS y
      FROM events),
    mom AS (
      SELECT event_type, COUNT(*) AS n,
             {sql_sum('x')} AS sx, {sql_sum('y')} AS sy,
             {sql_sum('x * x')} AS sxx, {sql_sum('x * y')} AS sxy,
             {sql_sum('y * y')} AS syy
      FROM pts GROUP BY 1)
    SELECT event_type, n,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
             AS intercept,
           round((n * sxy - sx * sy) * (n * sxy - sx * sy)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM mom
    WHERE n >= 2 AND n * sxx - sx * sx <> 0 AND n * syy - sy * sy <> 0
    """,
)
def agg_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS trend (slope per hour, intercept, R²) of event
    value over time — the drift/trend detector run per segment, and
    the shape every larger regression reduces to: FIVE moment sums in
    ONE partial+final hash aggregate, closed-form solve on the tiny
    grouped result. No gradient loop, no per-row Python — the classic
    'sufficient statistics beat iteration' pattern that holds at any
    scale (the moments are the only thing that crosses the shuffle,
    one row per group).

    Determinism discipline: x is anchored at 2024-01-01 and scaled to
    hours so x² sums stay far inside DECIMAL(30,6) (raw epoch seconds
    squared would near the precision ceiling at corpus scale — at
    100 TB, re-anchor per partition-epoch the same way); all five
    moments are exact decimal sums, the closed-form division runs on
    identical doubles in both engines, and the published coefficients
    round to 6dp."""
    ev = load(spark, sf_dir, "events")
    x = (F.unix_micros("ts") / F.lit(1_000_000.0) - F.lit(1_704_067_200.0)) / F.lit(
        3600.0
    )
    pts = ev.select("event_type", x.alias("x"), F.col("value").alias("y"))
    mom = pts.groupBy("event_type").agg(
        F.count("*").alias("n"),
        exact_sum("x").alias("sx"),
        exact_sum("y").alias("sy"),
        exact_sum(F.col("x") * F.col("x")).alias("sxx"),
        exact_sum(F.col("x") * F.col("y")).alias("sxy"),
        exact_sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    # Degenerate groups (single row, or zero x/y variance) hit 0/0,
    # where Spark non-ANSI (NULL) and DuckDB (inf/NaN or error) are
    # not pinned to agree — filter them on BOTH sides so the oracle
    # contract is data-independent, not fixture luck.
    mom = mom.where((F.col("n") >= 2) & (den != 0) & (deny != 0))
    slope = num / den
    return mom.select(
        "event_type",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
        F.round(
            num * num / (den * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))),
            6,
        ).alias("r2"),
    )


@query(
    "assoc_rules",
    oracle="""
    WITH b AS (SELECT DISTINCT l_orderkey AS ok, p_brand AS item
               FROM lineitem JOIN part ON p_partkey = l_partkey),
    n AS (SELECT count(DISTINCT ok) AS n FROM b),
    ic AS (SELECT item, count(*) AS c FROM b GROUP BY item),
    p AS (SELECT x.item AS antecedent, y.item AS consequent,
                 count(*) AS pair_cnt
          FROM b x JOIN b y ON x.ok = y.ok AND x.item < y.item
          GROUP BY 1, 2),
    r AS (SELECT p.antecedent, p.consequent, p.pair_cnt,
                 ca.c AS ante_cnt, cb.c AS cons_cnt, n.n AS n_baskets
          FROM p JOIN ic ca ON ca.item = p.antecedent
                 JOIN ic cb ON cb.item = p.consequent, n
          WHERE p.pair_cnt >= 20)
    SELECT antecedent, consequent, pair_cnt,
           pair_cnt * 1000000 // n_baskets AS supp_ppm,
           pair_cnt * 1000000 // ante_cnt AS conf_ppm,
           (pair_cnt * 1000000 // ante_cnt) * n_baskets // cons_cnt AS lift_ppm
    FROM r
    """,
)
def assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets of part
    brands: support, confidence, and lift for every co-occurring
    brand pair with pair support >= 20 baskets — the classic
    data-mining readout (and, in a training-data pipeline, the
    source-co-occurrence audit that flags entangled domains before
    mixture reweighting). All three metrics are exact floored-ppm
    integers, so both engines hash-match bit-for-bit.

    Scale shape (r18 rework — the cooccurrence_edges discipline,
    guide §2.3/§2.4, r17 verdict #5 applied here): basket building is
    one broadcast join (part is the small dim) feeding ONE
    groupBy(basket) aggregate — ``sort_array(collect_set(item))``
    dedups repeat (order, brand) rows map-side IN the same shuffle the
    old plan spent on DISTINCT alone — and pair generation is a
    suffix-slice GENERATE from each sorted basket list (posexplode +
    slice: the strict upper triangle x.item < y.item byte-for-byte,
    items being distinct and ascending). The former shape paid THREE
    fact-sized exchanges (the distinct, then both legs of a
    basket-key SELF-JOIN re-shuffling the pinned relation) plus two
    sorts; now exactly one fact-sized exchange exists in the whole
    plan, the pair aggregate partial-aggregates to <= #brands²/2 rows
    map-side, and the pair-generation cost — Σ per-basket items² —
    is unchanged (<= 7 items per TPC-H basket; capped in production
    by slicing the basket list, the same pre-join budget discipline
    as dedup_editdist). Item and basket counts derive from the SAME
    pinned basket-list relation (explode for items, count-star for
    baskets) and re-enter by broadcast (25 brands, 1 count row); the
    output domain is at most #brands^2 / 2 pairs regardless of fact
    size. lift is DEFINED as conf_ppm * n // cons_cnt (confidence
    over the consequent's base rate, floored once more): the
    triple-product form pair*n*1e6 overflows BIGINT already at ~1e7
    baskets for a popular pair (pair_cnt = O(n) in a 25-item domain),
    while this form's intermediate is bounded by 1e6 * n — safe
    through ~9e12 baskets, and exactly identical on both engines.
    The basket-list relation feeds three consumers (n, item counts,
    pair generation), so it is pinned with an eager checkpoint — the
    multi-leg reuse discipline of graph_triangles; the pin now holds
    one array row per ORDER (sorted, distinct brands) instead of one
    row per (order, brand) — strictly fewer bytes than the relation
    it replaces."""
    li = load(spark, sf_dir, "lineitem")
    pt = load(spark, sf_dir, "part")
    # the plan's one fact-sized materialization (three consumers)
    baskets = pin(
        li.join(
            F.broadcast(pt.select("p_partkey", "p_brand")),
            li["l_partkey"] == F.col("p_partkey"),
        )
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("item"))
        .groupBy("ok")
        .agg(F.sort_array(F.collect_set("item")).alias("items"))
    )
    # every basket has >= 1 item by construction (inner join), so
    # count-star over basket rows == the old countDistinct(ok)
    n = baskets.agg(F.count(F.lit(1)).alias("n_baskets"))
    ic = (
        baskets.select(F.explode("items").alias("item"))
        .groupBy("item")
        .agg(F.count("*").alias("c"))
    )
    pairs = (
        baskets.select(F.posexplode("items").alias("i", "antecedent"), "items")
        .select(
            "antecedent",
            F.explode(F.expr("slice(items, i+2, size(items))")).alias(
                "consequent"
            ),
        )
        .groupBy("antecedent", "consequent")
        .agg(F.count("*").alias("pair_cnt"))
        .filter(F.col("pair_cnt") >= 20)
    )
    out = (
        pairs.join(
            F.broadcast(ic.select(F.col("item").alias("antecedent"), F.col("c").alias("ante_cnt"))),
            "antecedent",
        )
        .join(
            F.broadcast(ic.select(F.col("item").alias("consequent"), F.col("c").alias("cons_cnt"))),
            "consequent",
        )
        .crossJoin(F.broadcast(n))
    )
    return out.select(
        "antecedent",
        "consequent",
        "pair_cnt",
        F.expr("pair_cnt * 1000000 DIV n_baskets").alias("supp_ppm"),
        F.expr("pair_cnt * 1000000 DIV ante_cnt").alias("conf_ppm"),
        F.expr("(pair_cnt * 1000000 DIV ante_cnt) * n_baskets DIV cons_cnt").alias(
            "lift_ppm"
        ),
    )


@query(
    "graph_jaccard",
    oracle="""
    WITH b0 AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 60000000 AS bucket
      FROM events),
    b AS (
      SELECT user_id, bucket FROM (
        SELECT user_id, bucket,
               row_number() OVER (PARTITION BY bucket ORDER BY user_id) AS rn
        FROM b0) WHERE rn <= 256),
    edges AS (
      SELECT DISTINCT a.user_id AS u, b2.user_id AS v
      FROM b a JOIN b b2
        ON a.bucket = b2.bucket AND a.user_id < b2.user_id),
    adj0 AS (SELECT u AS w, v AS x FROM edges
             UNION ALL SELECT v AS w, u AS x FROM edges),
    adj AS (
      SELECT w, x FROM (
        SELECT w, x, row_number() OVER (PARTITION BY w ORDER BY x) AS rn
        FROM adj0) WHERE rn <= 32),
    cdeg AS (SELECT x, count(*) AS d FROM adj GROUP BY x),
    cn AS (
      SELECT a1.x AS u, a2.x AS v, count(*) AS common
      FROM adj a1 JOIN adj a2 ON a1.w = a2.w AND a1.x < a2.x
      GROUP BY 1, 2 HAVING count(*) >= 2),
    jac AS (
      SELECT cn.u, cn.v, cn.common,
             du.d + dv.d - cn.common AS unions,
             cn.common * 1000000 // (du.d + dv.d - cn.common) AS jac_ppm
      FROM cn JOIN cdeg du ON du.x = cn.u
              JOIN cdeg dv ON dv.x = cn.v)
    SELECT u, v, common, unions, jac_ppm
    FROM jac ORDER BY jac_ppm DESC, u, v LIMIT 50
    """,
)
def graph_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by CO-CITATION Jaccard on the capped 1-minute
    co-occurrence graph: for users u, v, their capped CITER sets
    M(u) = {w : u is among w's 32 lowest-id neighbors}, scored
    |M(u) ∩ M(v)| / |M(u) ∪ M(v)| as exact floored ppm — the
    co-citation similarity recommender (two users repeatedly listed
    together by the same third parties), and in a pipeline the
    correlated-account audit. Shares the exact b0/cap-256/edges
    derivation with graph_triangles.

    The intersection counts co-MEMBERSHIP in w's capped list and the
    degrees count the SAME relation grouped by member (cdeg on x, not
    on w) — the two sides of the metric use one set definition, so
    common <= min(|M(u)|, |M(v)|) by construction: the union is
    always >= 2 (division-safe under ANSI mode) and jac_ppm <= 1e6.
    Scale shape: the wedge expansion through w costs Σ out-capped² <=
    n·32² under ANY degree skew (the out-cap is what the self-join
    fans out over; an in-degree-based variant would be unbounded on
    low-id hubs — rejected for exactly that reason). Top-50 via
    TakeOrdered (jac_ppm DESC, u, v) — per-partition heads reduced on
    the driver, never a global sort.

    The engine-global AQE initialPartitionNum is flat since r17 (see
    graph_degree_dist — the r16 bisection reproduced on this query's
    shared co-occurrence join shape: 132.7 s under the old global x8
    vs 96.9 s flat, fresh JVMs; SCALE.md r16), so this plan runs on
    the plain session.

    r17 (verdict #5, the _pair_overlap discipline end-to-end): the
    capped citer lists are collected by ONE groupBy-w aggregate
    (collect_set dedups, sort_array + slice IS the 32-lowest cap) over
    the NON-distinct symmetric pair stream — collect_set makes the
    former pair-DISTINCT shuffle redundant, so the biggest relation in
    the query crosses the wire once, not twice — and the co-membership
    pairs are GENERATED from each sorted list (posexplode + suffix
    slice) instead of the former row_number window + adjacency
    self-join. Both endpoint roles explode from one scan of the pair
    stream (no unionAll re-derivation)."""
    ev = load(spark, sf_dir, "events")
    b0 = ev.select(
        "user_id", F.expr(epoch_floor_div("unix_micros(ts)", 60000000)).alias("bucket")
    )
    pairs = cooccurrence_edges(b0, cap=256, distinct=False)
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("w"), F.col("v").alias("x")),
                F.struct(F.col("v").alias("w"), F.col("u").alias("x")),
            )
        ).alias("e")
    ).select("e.w", "e.x")
    # node-count-sized (32-capped adjacency arrays), consumed by both
    # the degree and the co-membership branches
    adj = pin(
        sym.groupBy("w").agg(
            F.slice(F.sort_array(F.collect_set("x")), 1, 32).alias("xs")
        )
    )
    cdeg = adj.select(F.explode("xs").alias("x")).groupBy("x").agg(
        F.count("*").alias("d")
    )
    cn = (
        adj.select(F.posexplode("xs").alias("i", "u"), F.col("xs"))
        .select("u", F.explode(F.expr("slice(xs, i+2, size(xs))")).alias("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("common"))
        .filter(F.col("common") >= 2)
    )
    jac = (
        cn.join(cdeg.select(F.col("x").alias("u"), F.col("d").alias("du")), "u")
        .join(cdeg.select(F.col("x").alias("v"), F.col("d").alias("dv")), "v")
        .select(
            "u",
            "v",
            "common",
            (F.col("du") + F.col("dv") - F.col("common")).alias("unions"),
            F.expr("common * 1000000 DIV (du + dv - common)").alias("jac_ppm"),
        )
    )
    return jac.orderBy(F.desc("jac_ppm"), "u", "v").limit(50)


@query(
    "pareto_frontier",
    oracle="""
    WITH p AS (SELECT p_brand, p_partkey, p_size, p_retailprice FROM part)
    SELECT a.p_brand, a.p_partkey, a.p_size, a.p_retailprice
    FROM p a
    WHERE NOT EXISTS (
      SELECT 1 FROM p b
      WHERE b.p_brand = a.p_brand AND (
            (b.p_size > a.p_size AND b.p_retailprice <= a.p_retailprice)
         OR (b.p_size >= a.p_size AND b.p_retailprice < a.p_retailprice)))
    """,
)
def pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand 2-D skyline (pareto frontier): the parts for which no
    other part of the same brand is simultaneously at-least-as-large
    AND at-least-as-cheap with a strict improvement in one dimension —
    "the cheapest part for its size class, per brand".

    Scale shape: the naive skyline (the oracle's NOT-EXISTS self-join)
    is O(n^2) per brand and dies at 100 TB. This plan exploits that one
    skyline dimension (p_size) has a BOUNDED domain (TPC-H sizes are
    1..50): a partial-agg-friendly ``min(price) GROUP BY (brand, size)``
    reduces the data to at most |brands|x|sizes| rows map-side before
    its (tiny) shuffle, two running-min windows over that bounded
    relation compute, per (brand, size), the cheapest strictly-larger
    and at-least-as-large prices, and a broadcast join streams every
    part row past its own pair of thresholds. No self-join, no global
    sort, one scan of the fact table; the only shuffle on a data-sized
    relation is the grouped min, which partial-aggregates to the domain
    size on every map task. A row is on the frontier iff
    ``price < m_strict`` (nobody strictly larger is as-cheap) AND
    ``price <= m_incl`` (nobody at-least-as-large is strictly cheaper).
    Duplicate (size, price) points co-survive, matching the oracle's
    strict-improvement dominance."""
    from pyspark.sql import Window as W

    p = load(spark, sf_dir, "part").select(
        "p_brand", "p_partkey", "p_size", "p_retailprice"
    )
    per_size = p.groupBy("p_brand", "p_size").agg(
        F.min("p_retailprice").alias("minp")
    )
    desc = W.partitionBy("p_brand").orderBy(F.desc("p_size"))
    thresholds = per_size.select(
        "p_brand",
        "p_size",
        F.min("minp")
        .over(desc.rowsBetween(W.unboundedPreceding, -1))
        .alias("m_strict"),
        F.min("minp")
        .over(desc.rowsBetween(W.unboundedPreceding, 0))
        .alias("m_incl"),
    )
    j = p.join(F.broadcast(thresholds), ["p_brand", "p_size"])
    return j.where(
        (F.col("m_strict").isNull() | (F.col("p_retailprice") < F.col("m_strict")))
        & (F.col("p_retailprice") <= F.col("m_incl"))
    ).select("p_brand", "p_partkey", "p_size", "p_retailprice")


@query(
    "agg_winsorize",
    oracle=f"""
    WITH src AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
    hist AS (SELECT event_type, value, count(*) AS c FROM src GROUP BY 1, 2),
    cum AS (SELECT event_type, value,
                   sum(c) OVER (PARTITION BY event_type ORDER BY value) AS cumt
            FROM hist),
    nt AS (SELECT event_type, count(*) AS n FROM src GROUP BY 1),
    lo AS (SELECT cum.event_type, min(cum.value) AS lo
           FROM cum JOIN nt ON cum.event_type = nt.event_type
           WHERE cum.cumt >= (5 * nt.n + 99) // 100 GROUP BY 1),
    hi AS (SELECT cum.event_type, min(cum.value) AS hi
           FROM cum JOIN nt ON cum.event_type = nt.event_type
           WHERE cum.cumt >= (95 * nt.n + 99) // 100 GROUP BY 1)
    SELECT s.event_type, nt.n, lo.lo, hi.hi,
           CAST(SUM(CASE WHEN s.value < lo.lo THEN 1 ELSE 0 END) AS BIGINT)
             AS clipped_low,
           CAST(SUM(CASE WHEN s.value > hi.hi THEN 1 ELSE 0 END) AS BIGINT)
             AS clipped_high,
           {sql_sum('greatest(lo.lo, least(hi.hi, s.value))')} AS sum_winsorized
    FROM src s
    JOIN nt ON s.event_type = nt.event_type
    JOIN lo ON s.event_type = lo.event_type
    JOIN hi ON s.event_type = hi.event_type
    GROUP BY 1, 2, 3, 4
    """,
)
def agg_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization audit — the robust-stats preprocessing
    pass (clip each event type's values at its own exact 5th/95th
    percentile_disc before any mean-based model sees them): bounds,
    clip counts, and the exact winsorized sum per type.

    Scale shape: exact per-group order statistics WITHOUT sorting the
    data — the ts_robust_zscore discipline: a (type, value) histogram
    (partial-agg; shuffle carries distinct values, not rows), one
    distributed_cumsum over the histogram in (type, value) order
    (range-partitioned two-phase prefix sum — no single-task window on
    the unbounded value domain), per-type offsets from a |types|-row
    broadcast relation, rank thresholds ceil(q*n) picked by min-over-
    filter, and ONE clip-and-aggregate pass over the raw scan against
    the broadcast bounds. percentile_disc (a data value, not an
    interpolation) keeps every output bit-identical cross-engine; the
    winsorized sum uses the exact-decimal trick."""
    from pyspark.sql import Window as W

    from tstables_spark.operators.packing import distributed_cumsum

    src = (
        load(spark, sf_dir, "events")
        .select("event_type", "value")
        .where(F.col("value").isNotNull())
    )
    hist = src.groupBy("event_type", "value").agg(F.count("*").alias("c"))
    cum = distributed_cumsum(hist, ["event_type", "value"], ["c"])
    nt = hist.groupBy("event_type").agg(F.sum("c").alias("n"))
    pre = W.orderBy("event_type").rowsBetween(W.unboundedPreceding, -1)
    off = nt.select(
        "event_type", "n", F.coalesce(F.sum("n").over(pre), F.lit(0)).alias("off")
    )
    cum_t = cum.join(F.broadcast(off), "event_type").withColumn(
        "cumt", F.col("cum_c") - F.col("off")
    )
    lo = (
        cum_t.where(F.col("cumt") >= F.expr("(5 * n + 99) DIV 100"))
        .groupBy("event_type")
        .agg(F.min("value").alias("lo"))
    )
    hi = (
        cum_t.where(F.col("cumt") >= F.expr("(95 * n + 99) DIV 100"))
        .groupBy("event_type")
        .agg(F.min("value").alias("hi"))
    )
    bounds = nt.select("event_type", "n").join(lo, "event_type").join(hi, "event_type")
    clamped = F.greatest(F.col("lo"), F.least(F.col("hi"), F.col("value")))
    return (
        src.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type", "n", "lo", "hi")
        .agg(
            F.sum((F.col("value") < F.col("lo")).cast("long")).alias("clipped_low"),
            F.sum((F.col("value") > F.col("hi")).cast("long")).alias("clipped_high"),
            exact_sum(clamped).alias("sum_winsorized"),
        )
    )
