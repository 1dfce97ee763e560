"""Parquet table loaders for the driver-generated fixtures (TESTDATA.md)."""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to TIMESTAMP (instant, session
    TZ=UTC). Fixture parquet stores tz-less timestamp[us]; the engine's
    contract (SURVEY.md §1, mirroring the reference's ms-since-epoch-UTC)
    is instant semantics, and NTZ breaks withWatermark, CAST(ts AS
    BIGINT) and the TimestampType storage assert. With the session TZ
    pinned UTC the wall-clock values are preserved exactly, so DuckDB
    oracle hashes are unaffected. Normally a no-op: the session also sets
    spark.sql.parquet.inferTimestampNTZ.enabled=false; this guards
    sessions built without engine defaults."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampNTZType

    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


# The session confs Spark 4.1's parquet schema inference reads:
# ``ParquetUtils.inferSchema`` (mergeSchema, respectSummaryFiles) and the
# ``ParquetToSparkSchemaConverter(SQLConf)`` constructor (the rest).
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.caseSensitive",
)


@functools.lru_cache(maxsize=64)
def _inferred_schema(spark: SparkSession, path: str, stamp, schema_conf):
    """The schema ``spark.read.parquet(path)`` infers (one Spark job).
    The key holds what the inference depends on: the session, the
    file's ``(st_mtime_ns, st_size)`` and the set values of
    ``_SCHEMA_CONFS``, so a rewritten file or a changed conf infers
    again."""
    return spark.read.parquet(path).schema


def _read(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema inferred once per
    (session, file version, schema confs) instead of on every call."""
    st = os.stat(path)
    conf = tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS)
    schema = _inferred_schema(spark, path, (st.st_mtime_ns, st.st_size), conf)
    return spark.read.schema(schema).parquet(path)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # Older fixture generations stored INT64 TIMESTAMP(NANOS), which
        # Spark's vectorized reader rejects. Read nanos as long and
        # truncate to microseconds with integer division (never float:
        # 1.7e18 ns exceeds double's 2^53 integer range) — exactly
        # DuckDB's nanos->micros truncation, so oracles agree.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read(spark, path)
        from pyspark.sql import functions as F

        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return _normalize_ntz(df)
    return _normalize_ntz(_read(spark, path))


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register fixture tables as temp views (for spark.sql-based plans)."""
    for name in names or TABLE_NAMES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
