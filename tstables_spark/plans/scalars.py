"""Scalar function breadth + UDF/UDAF/UDTF surface (SURVEY.md §2 Table B
phase 3).

Cross-engine discipline notes:

- DuckDB ``length``/``len``/ranking/extract return BIGINT → Spark ints
  are cast to long.
- Transcendental fns (ln) are not guaranteed bit-identical across libm
  implementations → rounded to 6 decimals on both sides (boundary
  collision probability ~1e-10/cell). sqrt IS IEEE-correctly-rounded,
  and +,-,*,/ are exact, so those are compared raw.
- Python UDF paths compute group means via quantized-Decimal sums —
  the same exact arithmetic as the decimal-sum trick in _exact.py — so
  Arrow-batched pandas results hash-match the SQL oracle bit-for-bit.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tstables_spark.operators.groupmap import grouped_apply_in_pandas
from tstables_spark._exact import sql_sum
from tstables_spark.plans.registry import query
from tstables_spark.plans.tables import load


# -- strings ----------------------------------------------------------------
@query(
    "fn_string",
    oracle="""
    SELECT p_partkey,
           lower(p_name) AS lo_name,
           upper(p_type) AS up_type,
           CAST(length(p_name) AS BIGINT) AS name_len,
           substr(p_name, 1, 5) AS first5,
           p_brand || '|' || p_type AS brand_type,
           str_split(p_name, ' ')[1] AS first_word,
           regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num,
           replace(p_type, 'E', '_') AS replaced,
           (p_name LIKE '%red%') AS is_red
    FROM part
    """,
)
def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function battery over part names — all JVM builtins inside
    whole-stage codegen (no Python in the hot path)."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("lo_name"),
        F.upper("p_type").alias("up_type"),
        F.length("p_name").cast("long").alias("name_len"),
        F.substring("p_name", 1, 5).alias("first5"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.split("p_name", " ").getItem(0).alias("first_word"),
        F.regexp_extract("p_brand", r"([0-9]+)", 1).alias("brand_num"),
        F.regexp_replace("p_type", "E", "_").alias("replaced"),
        F.col("p_name").like("%red%").alias("is_red"),
    )


# -- dates ------------------------------------------------------------------
@query(
    "fn_date",
    oracle="""
    SELECT o_orderkey, o_orderdate,
           CAST(year(o_orderdate) AS BIGINT) AS y,
           CAST(month(o_orderdate) AS BIGINT) AS m,
           CAST(day(o_orderdate) AS BIGINT) AS d,
           CAST(dayofweek(o_orderdate) AS BIGINT) AS dow,
           date_trunc('month', o_orderdate) AS month_start,
           o_orderdate + INTERVAL 7 DAY AS plus_week,
           CAST(date_diff('day', o_orderdate, TIMESTAMP '2000-01-01') AS BIGINT) AS days_to_y2k,
           CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
    FROM orders
    """,
)
def fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time battery (the reference's dt<->int64-ms conversion layer
    A7, generalized). Spark dayofweek is 1=Sunday, DuckDB 0=Sunday —
    aligned by subtracting 1."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        "o_orderdate",
        F.year("o_orderdate").cast("long").alias("y"),
        F.month("o_orderdate").cast("long").alias("m"),
        F.dayofmonth("o_orderdate").cast("long").alias("d"),
        (F.dayofweek("o_orderdate") - 1).cast("long").alias("dow"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 7 DAYS")).alias("plus_week"),
        F.datediff(F.lit("2000-01-01").cast("date"), F.col("o_orderdate"))
        .cast("long")
        .alias("days_to_y2k"),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
    )


# -- math -------------------------------------------------------------------
@query(
    "fn_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice / 7, 2) AS r2,
           abs(l_discount - 0.05) AS ab,
           CAST(ceil(l_extendedprice) AS BIGINT) AS ce,
           CAST(floor(l_extendedprice) AS BIGINT) AS fl,
           round(ln(l_extendedprice), 6) AS ln6,
           sqrt(l_quantity) AS sq,
           l_extendedprice * l_extendedprice AS pow2,
           CAST(l_quantity AS BIGINT) % 7 AS md,
           CAST(sign(l_discount - 0.05) AS DOUBLE) AS sg,
           greatest(l_tax, l_discount) AS gr
    FROM lineitem
    """,
)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math battery. pow is spelled x*x (exact IEEE) and ln is rounded —
    transcendentals are the only cross-engine nondeterminism here."""
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") / 7, 2).alias("r2"),
        F.abs(F.col("l_discount") - 0.05).alias("ab"),
        F.ceil("l_extendedprice").cast("long").alias("ce"),
        F.floor("l_extendedprice").cast("long").alias("fl"),
        F.round(F.log(F.col("l_extendedprice")), 6).alias("ln6"),
        F.sqrt("l_quantity").alias("sq"),
        (F.col("l_extendedprice") * F.col("l_extendedprice")).alias("pow2"),
        (F.col("l_quantity").cast("long") % 7).alias("md"),
        F.signum(F.col("l_discount") - 0.05).alias("sg"),
        F.greatest("l_tax", "l_discount").alias("gr"),
    )


# -- arrays -----------------------------------------------------------------
@query(
    "fn_array",
    oracle="""
    SELECT doc_id,
           CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
           list_contains(str_split(text, ' '), 'the') AS has_the,
           str_split(text, ' ')[1] AS first_tok,
           str_split(text, ' ')[-1] AS last_tok,
           array_to_string(list_slice(str_split(text, ' '), 1, 3), '-') AS first3
    FROM documents
    """,
)
def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array function battery over tokenized documents (split / size /
    contains / indexing / slice / join)."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.array_contains(toks, "the").alias("has_the"),
        F.element_at(toks, 1).alias("first_tok"),
        F.element_at(toks, -1).alias("last_tok"),
        F.array_join(F.slice(toks, 1, 3), "-").alias("first3"),
    )


# -- maps -------------------------------------------------------------------
@query(
    "fn_map",
    oracle="""
    SELECT event_id,
           event_type AS type_from_map,
           CAST(user_id AS VARCHAR) AS uid_from_map,
           CAST(2 AS BIGINT) AS n_keys,
           'type,uid' AS keys_csv
    FROM events
    """,
)
def fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map construction + key lookup + introspection. The oracle computes
    the same scalars directly (DuckDB map syntax differs; output equality
    is what's checked)."""
    ev = load(spark, sf_dir, "events")
    m = F.create_map(
        F.lit("type"), F.col("event_type"), F.lit("uid"), F.col("user_id").cast("string")
    )
    return ev.select(
        "event_id",
        F.element_at(m, "type").alias("type_from_map"),
        F.element_at(m, "uid").alias("uid_from_map"),
        F.size(F.map_keys(m)).cast("long").alias("n_keys"),
        F.array_join(F.map_keys(m), ",").alias("keys_csv"),
    )


# -- json -------------------------------------------------------------------
@query(
    "fn_json",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int,
           (json_extract_string(props, '$.k') IS NOT NULL) AS has_k
    FROM events
    """,
)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction (get_json_object) + typed parse (from_json
    with an explicit schema — the engine's preferred path: schema-on-read
    without inference)."""
    ev = load(spark, sf_dir, "events")
    parsed = F.from_json("props", "k BIGINT")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        parsed.getField("k").alias("k_int"),
        parsed.getField("k").isNotNull().alias("has_k"),
    )


# -- UDF surface ------------------------------------------------------------
@query(
    "udf_scalar_pandas",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
    FROM lineitem
    """,
)
def udf_scalar_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized scalar pandas UDF (Arrow batches, Series->Series).
    Pure per-row IEEE arithmetic — numpy and the SQL engines agree
    bit-for-bit, so the oracle is the plain expression."""

    @F.pandas_udf("double")
    def charge(price: pd.Series, disc: pd.Series, tax: pd.Series) -> pd.Series:
        return price * (1.0 - disc) * (1.0 + tax)

    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        charge("l_extendedprice", "l_discount", "l_tax").alias("charge"),
    )


def _exact_mean(values: pd.Series) -> float:
    """Group mean via quantized-Decimal summation — bit-identical to
    CAST(SUM(CAST(x AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*).

    Vectorized: the 6dp half-up quantization is round-half-away of the
    EXACT value v·10⁶, so integer micros come from one numpy pass —
    floor(x+0.5) / ceil(x−0.5) on x = fl(v·10⁶) — except where the
    float representation error could flip the decision. |x − v·10⁶| ≤
    |x|·2⁻⁵², so only values whose fractional part sits within
    |x|·1e-12 + 1e-9 of .5 (a ~10⁴× safety factor over the true bound,
    and every exact tie) take the per-value Decimal path; everything
    else is pure int64 arithmetic. Measured ~5× less kernel CPU than
    the all-Decimal loop on 1M values with identical bits. Local
    wall-time barely moves (the loop parallelized across 32 threads
    and the query is Arrow-transfer bound), but this kernel sits
    inside the grouped-map hot path (udtf_apply_in_pandas,
    udaf_grouped_agg) where executor CPU-seconds are the cost that
    scales with corpus size."""
    import numpy as np

    v = np.asarray(values, dtype=np.float64)
    n = len(v)
    x = v * 1e6
    fast_ok = np.abs(x) < 2**51  # headroom so x±0.5 and int64 stay exact
    frac_dist = np.abs(np.abs(x - np.floor(x)) - 0.5)
    risky = ~fast_ok | (frac_dist <= np.abs(x) * 1e-12 + 1e-9)
    micros = np.where(x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5))
    fast = micros[~risky].astype(np.int64)
    # Accumulate in Python ints, 2048-element chunks: each |value| < 2^51
    # (the fast_ok gate), so a chunk sum is < 2^62 — int64-safe — while
    # the RUNNING total is arbitrary-precision. A single np.sum would
    # silently wrap past 2^63 on huge same-signed groups (~4.6e12
    # value-micros), exactly the large-batch regime this kernel targets.
    total = 0
    for s in range(0, fast.size, 2048):
        total += int(fast[s : s + 2048].sum())
    if risky.any():
        q = Decimal("0.000001")
        for val in v[risky]:
            total += int(
                Decimal(float(val)).quantize(q, rounding=ROUND_HALF_UP).scaleb(6)
            )
    return float(Decimal(total).scaleb(-6)) / n


@query(
    "udaf_grouped_agg",
    oracle=f"""
    SELECT l_returnflag,
           median(l_extendedprice) AS med_price,
           max(l_extendedprice) - min(l_extendedprice) AS price_spread,
           {sql_sum('l_extendedprice')} / count(*) AS mean_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def udaf_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom grouped-aggregate pandas UDFs (GROUPED_AGG): median, spread,
    and an exact mean (Decimal-summed to match the SQL decimal trick)."""

    @F.pandas_udf("double")
    def med(v: pd.Series) -> float:
        return float(v.median())

    @F.pandas_udf("double")
    def spread(v: pd.Series) -> float:
        return float(v.max() - v.min())

    @F.pandas_udf("double")
    def exact_mean(v: pd.Series) -> float:
        return _exact_mean(v)

    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        med("l_extendedprice").alias("med_price"),
        spread("l_extendedprice").alias("price_spread"),
        exact_mean("l_extendedprice").alias("mean_price"),
    )


@query(
    "udtf_apply_in_pandas",
    oracle="""
    SELECT event_id, user_id, value,
           value - (CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER (PARTITION BY user_id) AS DOUBLE)
                    / COUNT(*) OVER (PARTITION BY user_id)) AS demeaned
    FROM events
    """,
)
def udtf_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-map transform: demean each user's values, mean computed with
    exact Decimal summation so the result hashes identically to the SQL
    window twin. Runs through the partition-amortized grouped-map
    (operators/groupmap.py) rather than native applyInPandas: same
    semantics and same single shuffle, but one Python round-trip per
    partition instead of per group — native GROUPED_MAP pays ~16 ms per
    group, which at a million groups (100 TB corpus keyed by user) is
    hours of fixed overhead. Native applyInPandas remains demonstrated
    where it belongs (few huge groups): operators/similarity.py's
    per-block matmul."""

    def demean(pdf: pd.DataFrame) -> pd.DataFrame:
        # from the columns' arrays: ``assign`` plus a column selection
        # copies the frame twice per group (2.3x this kernel's time on
        # the sf0.01 fixture)
        value = pdf["value"].to_numpy()
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"].to_numpy(),
                "user_id": pdf["user_id"].to_numpy(),
                "value": value,
                "demeaned": value - _exact_mean(pdf["value"]),
            }
        )

    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    return grouped_apply_in_pandas(
        ev, ["user_id"], demean,
        "event_id long, user_id long, value double, demeaned double",
    )


@query(
    "udtf_python",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ')[1:5] AS toks
      FROM documents WHERE text IS NOT NULL AND len(text) > 0
    )
    SELECT doc_id, CAST(s.pos AS INT) AS pos, s.token
    FROM (
      SELECT doc_id,
             unnest([{'pos': i - 1, 'token': toks[i]}
                     for i in generate_series(1, len(toks))]) AS s
      FROM t
    )
    """,
)
def udtf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 3.5+/4.x table function): explode each document
    into (doc_id, pos, token) for its first 5 tokens. The oracle is the
    unnest-with-position twin (DuckDB list comprehension), upgrading
    this from the former rows-only check."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, pos int, token string")
    class Tokenize:
        def eval(self, doc_id: int, text: str):
            if text:
                for i, tok in enumerate(text.split(" ")[:5]):
                    yield doc_id, i, tok

    d = load(spark, sf_dir, "documents")
    d.createOrReplaceTempView("__docs_for_udtf")
    spark.udtf.register("tokenize5", Tokenize)
    return spark.sql(
        "SELECT t.doc_id, t.pos, t.token FROM __docs_for_udtf, "
        "LATERAL tokenize5(doc_id, text) t"
    )


@query(
    "fn_struct",
    oracle="""
    SELECT o_orderkey,
           o_custkey AS s_cust,
           o_totalprice AS s_price,
           CAST(o_totalprice > 100000 AS BOOLEAN) AS s_big,
           'o:' || CAST(o_orderkey AS VARCHAR) AS s_tag
    FROM orders
    """,
)
def fn_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct (nested-type) function battery: pack columns into a
    struct, compute a derived field inside it, read fields back out
    with dotted access. Output is flattened (the driver hash compares
    scalar columns), but the struct genuinely exists mid-plan — the
    oracle recomputes the same leaves relationally, proving
    pack-then-extract is the identity. Catalyst collapses the
    pack/extract pair into plain column references (visible in the
    optimized plan), so nesting costs nothing at any scale."""
    o = load(spark, sf_dir, "orders")
    packed = o.select(
        "o_orderkey",
        F.struct(
            F.col("o_custkey").alias("cust"),
            F.col("o_totalprice").alias("price"),
            (F.col("o_totalprice") > 100000).alias("big"),
            F.concat(F.lit("o:"), F.col("o_orderkey").cast("string")).alias("tag"),
        ).alias("s"),
    )
    return packed.select(
        "o_orderkey",
        F.col("s.cust").alias("s_cust"),
        F.col("s.price").alias("s_price"),
        F.col("s.big").alias("s_big"),
        F.col("s.tag").alias("s_tag"),
    )


@query(
    "agg_unpivot",
    oracle="""
    SELECT c_custkey, metric, val
    FROM (
      SELECT c_custkey,
             CAST(c_acctbal AS DOUBLE) AS acctbal,
             CAST(c_nationkey AS DOUBLE) AS nationkey
      FROM customer
    )
    UNPIVOT (val FOR metric IN (acctbal, nationkey))
    """,
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot / melt (wide -> long): the inverse of agg_pivot, the
    standard reshape before per-metric grouped processing. Spark's
    native ``unpivot`` (Expand node — each input row fans out to one
    row per metric with NO shuffle and no UNION re-scan of the input;
    a UNION ALL formulation would scan the table once per metric).
    Values are pre-cast to one type because a long format has exactly
    one value column — the declared melt contract."""
    c = load(spark, sf_dir, "customer")
    wide = c.select(
        "c_custkey",
        F.col("c_acctbal").cast("double").alias("acctbal"),
        F.col("c_nationkey").cast("double").alias("nationkey"),
    )
    return wide.unpivot("c_custkey", ["acctbal", "nationkey"], "metric", "val")


@query(
    "fn_conditional",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 200000 THEN 'big'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'small' END AS size_band,
           COALESCE(NULLIF(o_orderstatus, 'P'), 'PENDING') AS status_norm,
           IF(o_orderpriority = '1-URGENT', 1, 0) AS is_urgent,
           LEAST(o_totalprice, 250000.0) AS capped,
           GREATEST(o_totalprice, 50000.0) AS floored
    FROM orders
    """,
)
def fn_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-expression battery: searched CASE, NULLIF+COALESCE
    normalization, IF, LEAST/GREATEST clamps — all codegen'd branch
    expressions (Catalyst folds constant branches and reorders cheap
    predicates first). LEAST/GREATEST here always see two non-null
    args, sidestepping the engines' divergent null-propagation
    policies on purpose (documented: Spark ignores nulls, ANSI
    propagates)."""
    o = load(spark, sf_dir, "orders")
    p = F.col("o_totalprice")
    return o.select(
        "o_orderkey",
        F.when(p > 200000, "big").when(p > 100000, "mid").otherwise("small").alias("size_band"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("PENDING")).alias(
            "status_norm"
        ),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("is_urgent"),
        F.least(p, F.lit(250000.0)).alias("capped"),
        F.greatest(p, F.lit(50000.0)).alias("floored"),
    )


@query(
    "fn_surrogate_key",
    oracle="""
    SELECT o_orderkey,
           md5('orders|' || CAST(o_orderkey AS VARCHAR)
                         || '|' || CAST(o_custkey AS VARCHAR)) AS sk,
           substr(md5('orders|' || CAST(o_orderkey AS VARCHAR)
                         || '|' || CAST(o_custkey AS VARCHAR)), 1, 16) AS sk16
    FROM orders
    """,
)
def fn_surrogate_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic surrogate keys: md5 over a namespaced natural-key
    string ('table|k1|k2') — the warehouse-standard engine-independent
    stable ID (same corpus → same keys on any engine, any run — the
    same portability contract as the dedup hash family). Pure codegen
    scan; the pipe delimiter prevents concatenation ambiguity between
    adjacent key parts."""
    o = load(spark, sf_dir, "orders")
    nat = F.concat_ws(
        "|", F.lit("orders"), F.col("o_orderkey").cast("string"), F.col("o_custkey").cast("string")
    )
    return o.select(
        "o_orderkey",
        F.md5(nat).alias("sk"),
        F.substring(F.md5(nat), 1, 16).alias("sk16"),
    )


@query(
    "fn_url",
    oracle=r"""
    WITH u AS (
      SELECT doc_id,
             'https://' || source || '.example.com/docs/'
               || CAST(doc_id AS VARCHAR) || '?lang=' || lang || '&v=2#s1'
               AS url
      FROM documents)
    SELECT doc_id, url,
           regexp_extract(url, '^([a-z]+)://', 1) AS proto,
           regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
           regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1) AS path,
           regexp_extract(url, '\?([^#]*)', 1) AS query,
           regexp_extract(url, '[?&]lang=([^&#]*)', 1) AS lang_param,
           regexp_extract(url, '^[a-z]+://[^/?#]*?([^./?#]+\.[^./?#]+)(?:[/?#]|$)',
                          1) AS reg_domain
    FROM u
    """,
)
def fn_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL function battery: protocol / host / path / query /
    query-parameter extraction plus the registered domain — the
    parsing every crawl pipeline runs before domain quota sampling
    (domain_quota_sample) and URL-keyed dedup. URLs are synthesized
    from fixture columns (the corpus has no URL column), so the parse
    is fully checkable. Spark side uses the built-in ``parse_url``
    (JVM, codegen'd) where its contract matches, and regexp for the
    registered domain; the oracle states everything as regexp — two
    independent implementations agreeing on every row. Scan-side,
    zero shuffles."""
    d = load(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"), F.lit("?lang="), F.col("lang"),
        F.lit("&v=2#s1"),
    )
    u = d.select("doc_id", url.alias("url"))
    pu = lambda part: F.expr(f"parse_url(url, '{part}')")  # noqa: E731
    return u.select(
        "doc_id",
        "url",
        F.lower(pu("PROTOCOL")).alias("proto"),
        pu("HOST").alias("host"),
        pu("PATH").alias("path"),
        pu("QUERY").alias("query"),
        F.expr("parse_url(url, 'QUERY', 'lang')").alias("lang_param"),
        F.regexp_extract(
            "url", r"^[a-z]+://[^/?#]*?([^./?#]+\.[^./?#]+)(?:[/?#]|$)", 1
        ).alias("reg_domain"),
    )
