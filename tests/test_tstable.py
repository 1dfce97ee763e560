"""Reference-semantics tests for TimeSeriesTable (SURVEY.md §5: the
reference's unittest categories — create/append/read_range roundtrip,
multi-day partitions, boundary inclusivity, UTC handling, min/max,
invalid appends, empty range, partition pruning)."""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tstables_spark.tstable import TimeSeriesTable, TimeSeriesTableError

UTC = timezone.utc

SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("symbol", T.StringType(), True),
        T.StructField("price", T.DoubleType(), True),
    ]
)


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="tstable_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _ticks(spark, start: datetime, n: int, step_s: int = 3600):
    rows = [
        (start + timedelta(seconds=i * step_s), "EURUSD", 1.0 + i * 0.001) for i in range(n)
    ]
    return spark.createDataFrame(rows, SCHEMA)


def test_create_append_read_roundtrip(spark, root):
    ts = TimeSeriesTable.create(spark, root, "eurusd", SCHEMA)
    start = datetime(2024, 3, 1, tzinfo=UTC)
    ts.append(_ticks(spark, start, 72))  # 3 UTC days
    got = ts.read_range(start, start + timedelta(hours=71))
    assert got.count() == 72
    # partition layout: one date=... dir per UTC day
    days = sorted(d for d in os.listdir(os.path.join(root, "eurusd")) if d.startswith("date="))
    assert days == ["date=2024-03-01", "date=2024-03-02", "date=2024-03-03"]


def test_range_bounds_inclusive_both_ends(spark, root):
    ts = TimeSeriesTable.create(spark, root, "s", SCHEMA)
    start = datetime(2024, 3, 1, tzinfo=UTC)
    ts.append(_ticks(spark, start, 10))
    lo, hi = start + timedelta(hours=2), start + timedelta(hours=5)
    got = ts.read_range(lo, hi).select("ts").collect()
    assert len(got) == 4  # hours 2,3,4,5 — inclusive both ends
    assert min(r.ts for r in got) == lo.replace(tzinfo=None)
    assert max(r.ts for r in got) == hi.replace(tzinfo=None)


def test_empty_range_and_inverted_range(spark, root):
    ts = TimeSeriesTable.create(spark, root, "s", SCHEMA)
    start = datetime(2024, 3, 1, tzinfo=UTC)
    ts.append(_ticks(spark, start, 5))
    far = datetime(2030, 1, 1, tzinfo=UTC)
    assert ts.read_range(far, far + timedelta(days=1)).count() == 0
    assert ts.read_range(far, start).count() == 0  # end < start


def test_min_max_dt(spark, root):
    ts = TimeSeriesTable.create(spark, root, "s", SCHEMA)
    assert ts.min_dt() is None and ts.max_dt() is None
    start = datetime(2024, 3, 1, 12, tzinfo=UTC)
    ts.append(_ticks(spark, start, 48))
    assert ts.min_dt() == start  # tz-aware UTC, like the reference
    assert ts.max_dt() == start + timedelta(hours=47)


def test_timezone_normalization(spark, root):
    """tz-aware non-UTC bounds are normalized to UTC (reference converts
    via pytz; naive input is treated as UTC here)."""
    ts = TimeSeriesTable.create(spark, root, "s", SCHEMA)
    start = datetime(2024, 3, 1, tzinfo=UTC)
    ts.append(_ticks(spark, start, 24))
    est = timezone(timedelta(hours=-5))
    got = ts.read_range(
        datetime(2024, 2, 29, 19, tzinfo=est),  # == 2024-03-01T00:00Z
        datetime(2024, 3, 1, 4, tzinfo=est),  # == 2024-03-01T09:00Z
    )
    assert got.count() == 10


def test_strict_order_append_rejected(spark, root):
    ts = TimeSeriesTable.create(spark, root, "s", SCHEMA)
    start = datetime(2024, 3, 2, tzinfo=UTC)
    ts.append(_ticks(spark, start, 4), strict_order=True)
    with pytest.raises(TimeSeriesTableError, match="append-only order"):
        ts.append(_ticks(spark, start - timedelta(days=1), 2), strict_order=True)
    # non-strict accepts out-of-order (documented divergence)
    ts.append(_ticks(spark, start - timedelta(days=1), 2))
    assert ts.min_dt() == start - timedelta(days=1)


def test_schema_enforced(spark, root):
    ts = TimeSeriesTable.create(spark, root, "s", SCHEMA)
    bad = spark.createDataFrame(
        [(datetime(2024, 3, 1), 1.0)],
        T.StructType(
            [
                T.StructField("ts", T.TimestampType(), False),
                T.StructField("price", T.DoubleType(), True),
            ]
        ),
    )
    with pytest.raises(TimeSeriesTableError, match="schema mismatch"):
        ts.append(bad)
    with pytest.raises(TimeSeriesTableError, match="must contain"):
        TimeSeriesTable.create(
            spark, root, "nots", T.StructType([T.StructField("x", T.LongType())])
        )


def test_partition_pruning_in_plan(spark, root):
    """read_range must touch only the date partitions overlapping the
    range — the reference's day-partition walk (SURVEY.md §4)."""
    ts = TimeSeriesTable.create(spark, root, "s", SCHEMA)
    start = datetime(2024, 3, 1, tzinfo=UTC)
    ts.append(_ticks(spark, start, 24 * 10))  # 10 days
    one_day = ts.read_range(
        datetime(2024, 3, 4, tzinfo=UTC), datetime(2024, 3, 4, 23, tzinfo=UTC)
    )
    assert one_day.count() == 24
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    # the derived date predicate must reach the scan as a partition filter
    # and the ts predicate as a pushed parquet filter
    assert "PartitionFilters: [isnotnull(date" in plan, plan
    assert "(date" in plan and ">= 2024-03-04" in plan, plan
    assert "PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts" in plan, plan
    # and only the one overlapping partition contributes any data
    from pyspark.sql import functions as F2

    files = [r.f for r in one_day.select(F2.input_file_name().alias("f")).distinct().collect()]
    assert files and all("date=2024-03-04" in f for f in files), files


def test_open_roundtrip_and_property_union(spark, root):
    """read_range(a,b) ∪ read_range(b+ε,c) == read_range(a,c)."""
    TimeSeriesTable.create(spark, root, "s", SCHEMA)
    ts = TimeSeriesTable.open(spark, root, "s")
    start = datetime(2024, 3, 1, tzinfo=UTC)
    ts.append(_ticks(spark, start, 50))
    a, b, c = start, start + timedelta(hours=20), start + timedelta(hours=49)
    eps = timedelta(microseconds=1)
    left = ts.read_range(a, b)
    right = ts.read_range(b + eps, c)
    both = ts.read_range(a, c)
    assert left.count() + right.count() == both.count() == 50
    assert left.unionByName(right).exceptAll(both).count() == 0


def test_appended_files_are_ts_sorted_within(spark, root):
    """The layout contract (tight row-group stats) requires every data
    file internally sorted by ts. Regression: the dynamic-partition
    writer re-sorts task rows by the partition column with an UNSTABLE
    sort unless the data already arrives ordered by it — append must
    therefore sort by (date, ts), not ts alone."""
    import glob
    import os

    ts = TimeSeriesTable.create(spark, root, "sorted_check", SCHEMA)
    start = datetime(2024, 3, 1, tzinfo=UTC)
    ts.append(_ticks(spark, start, 48), files_per_day=2)
    files = glob.glob(os.path.join(root, "sorted_check", "date=*", "*.parquet"))
    assert files
    for f in files:
        vals = [r[0] for r in spark.read.parquet(f).select("ts").collect()]
        assert vals == sorted(vals), f


def test_pandas_edge_roundtrip(spark, root):
    """The reference's native interface: append a pandas DataFrame with a
    tz-aware DatetimeIndex, read a range back as a tz-aware-indexed
    pandas DataFrame; naive indexes are rejected."""
    import pandas as pd

    ts = TimeSeriesTable.create(spark, root, "pd_edge", SCHEMA)
    idx = pd.date_range("2024-03-01", periods=48, freq="h", tz="UTC")
    pdf = pd.DataFrame(
        {"symbol": "EURUSD", "price": [float(i) for i in range(48)]}, index=idx
    )
    ts.append_pandas(pdf)

    got = ts.read_range_pandas(
        datetime(2024, 3, 1, 10, tzinfo=UTC), datetime(2024, 3, 2, 5, tzinfo=UTC)
    )
    assert len(got) == 20
    assert str(got.index.tz) == "UTC" and got.index.name == "ts"
    assert got["price"].iloc[0] == 10.0 and got["price"].iloc[-1] == 29.0
    assert got.index.is_monotonic_increasing

    naive = pdf.copy()
    naive.index = naive.index.tz_localize(None)
    with pytest.raises(TimeSeriesTableError, match="tz-aware"):
        ts.append_pandas(naive)
    with pytest.raises(TimeSeriesTableError, match="DatetimeIndex"):
        ts.append_pandas(pdf.reset_index(drop=True))


def test_list_series(spark, root):
    from tstables_spark.tstable import list_series

    assert list_series(root) == []
    TimeSeriesTable.create(spark, root, "a_series", SCHEMA)
    TimeSeriesTable.create(spark, root, "b_series", SCHEMA)
    assert list_series(root) == ["a_series", "b_series"]
    assert list_series(root + "/does_not_exist") == []


def test_a9_storage_knobs(spark, root):
    """A9 (PyTables Filters/chunkshape analog): the codec chosen at
    create() must land in the parquet footers of every append, the
    file-size cap must split output files, and open() must restore both
    knobs from series metadata."""
    from datetime import datetime, timedelta, timezone

    import pyarrow.parquet as pq

    t = TimeSeriesTable.create(
        spark, root, "knobs", SCHEMA, compression="gzip", max_records_per_file=10
    )
    base = datetime(2024, 3, 1, tzinfo=timezone.utc)
    rows = [(base + timedelta(minutes=i), "A", float(i)) for i in range(25)]
    t.append(spark.createDataFrame(rows, SCHEMA))

    files = []
    for dirpath, _, names in os.walk(t.path):
        files += [os.path.join(dirpath, f) for f in names if f.endswith(".parquet")]
    assert len(files) >= 3  # 25 rows / cap 10 -> >= 3 files
    for f in files:
        meta = pq.ParquetFile(f).metadata
        codecs = {
            meta.row_group(rg).column(c).compression
            for rg in range(meta.num_row_groups)
            for c in range(meta.num_columns)
        }
        assert codecs == {"GZIP"}, codecs

    reopened = TimeSeriesTable.open(spark, root, "knobs")
    assert reopened.compression == "gzip"
    assert reopened.max_records_per_file == 10

    with pytest.raises(TimeSeriesTableError, match="compression"):
        TimeSeriesTable.create(spark, root, "bad_codec", SCHEMA, compression="xz")
    with pytest.raises(TimeSeriesTableError, match="positive"):
        TimeSeriesTable.create(
            spark, root, "bad_cap", SCHEMA, max_records_per_file=0
        )


# -- upsert (late-data correction merge) ------------------------------------


def test_upsert_replaces_and_inserts(spark, root):
    t = TimeSeriesTable.create(spark, root, "up", SCHEMA)
    start = datetime(2024, 3, 1, tzinfo=UTC)
    t.append(_ticks(spark, start, 48))  # two full days, hourly
    # re-state two existing hours and add one brand-new tick, all day 1
    corr = spark.createDataFrame(
        [
            (start, "EURUSD", 9.0),
            (start + timedelta(hours=3), "EURUSD", 9.3),
            (start + timedelta(minutes=30), "EURUSD", 5.5),  # new identity
        ],
        SCHEMA,
    )
    t.upsert(corr)  # default identity: ts
    got = {
        (r["ts"].replace(tzinfo=UTC), r["price"])
        for r in t.read_range(start, start + timedelta(hours=4)).collect()
    }
    assert (start, 9.0) in got
    assert (start + timedelta(hours=3), 9.3) in got
    assert (start + timedelta(minutes=30), 5.5) in got
    assert (start + timedelta(hours=1), 1.001) in got  # untouched row survives
    assert len(got) == 6  # 5 original hours 0-4 + 1 inserted
    # day 2 partition untouched
    assert t.read_range(start + timedelta(hours=24), start + timedelta(hours=47)).count() == 24


def test_upsert_only_rewrites_touched_partitions(spark, root):
    t = TimeSeriesTable.create(spark, root, "up2", SCHEMA)
    start = datetime(2024, 3, 1, tzinfo=UTC)
    t.append(_ticks(spark, start, 48))
    day2 = os.path.join(t.path, "date=2024-03-02")
    before = sorted(os.listdir(day2))
    corr = spark.createDataFrame([(start, "EURUSD", 7.7)], SCHEMA)
    t.upsert(corr)
    assert sorted(os.listdir(day2)) == before  # day-2 files not rewritten


def test_upsert_validates_schema_and_keys(spark, root):
    t = TimeSeriesTable.create(spark, root, "up3", SCHEMA)
    start = datetime(2024, 3, 1, tzinfo=UTC)
    t.append(_ticks(spark, start, 2))
    bad = spark.createDataFrame([(start, "EURUSD")], "ts timestamp, symbol string")
    with pytest.raises(TimeSeriesTableError, match="schema mismatch"):
        t.upsert(bad)
    ok = spark.createDataFrame([(start, "EURUSD", 1.5)], SCHEMA)
    with pytest.raises(TimeSeriesTableError, match="keys not in schema"):
        t.upsert(ok, keys=["nope"])


def test_upsert_batch_duplicate_identities_resolve_deterministically(spark, root):
    t = TimeSeriesTable.create(spark, root, "up4", SCHEMA)
    start = datetime(2024, 3, 1, tzinfo=UTC)
    t.append(_ticks(spark, start, 2))
    dup = spark.createDataFrame(
        [(start, "EURUSD", 2.0), (start, "EURUSD", 3.0)], SCHEMA
    )
    t.upsert(dup)
    rows = t.read_range(start, start).collect()
    assert len(rows) == 1 and rows[0]["price"] == 3.0  # struct-max: highest wins


def test_reserved_column_names_rejected(spark, root):
    with_date = T.StructType(
        [
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("date", T.DateType(), True),
        ]
    )
    with pytest.raises(TimeSeriesTableError, match="reserved partition column"):
        TimeSeriesTable.create(spark, root, "bad_date", with_date)
    with_src = T.StructType(
        [
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("__src", T.LongType(), True),
        ]
    )
    t = TimeSeriesTable.create(spark, root, "bad_src", with_src)
    df = spark.createDataFrame([(datetime(2024, 3, 1, tzinfo=UTC), 1)], with_src)
    t.append(df)  # append is fine — only upsert reserves __src/__m
    with pytest.raises(TimeSeriesTableError, match="upsert reserves"):
        t.upsert(df)


# -- schema evolution --------------------------------------------------------


def test_evolve_adds_nullable_column(spark, root):
    t = TimeSeriesTable.create(spark, root, "ev1", SCHEMA)
    start = datetime(2024, 3, 1, tzinfo=UTC)
    t.append(_ticks(spark, start, 3))
    wider = T.StructType(
        list(SCHEMA.fields) + [T.StructField("venue", T.StringType(), True)]
    )
    t.evolve(wider)
    new = spark.createDataFrame(
        [(start + timedelta(hours=5), "EURUSD", 2.0, "XNYS")], wider
    )
    t.append(new)
    rows = {r["ts"].hour: r["venue"] for r in t.read_range(start, start + timedelta(hours=6)).collect()}
    assert rows[5] == "XNYS"
    assert rows[0] is None and rows[2] is None  # old files serve nulls
    # reopen sees the evolved schema
    assert "venue" in TimeSeriesTable.open(spark, root, "ev1").schema.fieldNames()


def test_evolve_rejects_unsafe_changes(spark, root):
    t = TimeSeriesTable.create(spark, root, "ev2", SCHEMA)
    dropped = T.StructType([f for f in SCHEMA.fields if f.name != "symbol"])
    with pytest.raises(TimeSeriesTableError, match="drop"):
        t.evolve(dropped)
    retyped = T.StructType(
        [
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("symbol", T.StringType(), True),
            T.StructField("price", T.FloatType(), True),
        ]
    )
    with pytest.raises(TimeSeriesTableError, match="change column types"):
        t.evolve(retyped)
    nonnull = T.StructType(
        list(SCHEMA.fields) + [T.StructField("venue", T.StringType(), False)]
    )
    with pytest.raises(TimeSeriesTableError, match="must be nullable"):
        t.evolve(nonnull)


def test_evolve_rejects_nullable_tightening(spark, root):
    t = TimeSeriesTable.create(spark, root, "ev3", SCHEMA)
    tightened = T.StructType(
        [
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("symbol", T.StringType(), True),
            T.StructField("price", T.DoubleType(), False),  # was nullable
        ]
    )
    with pytest.raises(TimeSeriesTableError, match="tighten"):
        t.evolve(tightened)


def test_upsert_rejects_map_columns(spark, root):
    with_map = T.StructType(
        [
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("tags", T.MapType(T.StringType(), T.StringType()), True),
        ]
    )
    t = TimeSeriesTable.create(spark, root, "up_map", with_map)
    df = spark.createDataFrame([(datetime(2024, 3, 1, tzinfo=UTC), {"a": "b"})], with_map)
    t.append(df)  # append is fine — maps are storable, just not orderable
    with pytest.raises(TimeSeriesTableError, match="non-orderable"):
        t.upsert(df)


def test_written_files_carry_ts_statistics(spark, root):
    """Engine-written parquet must use INT64 timestamps WITH row-group
    min/max stats — Spark's default INT96 encoding writes none, which
    silently voids read_range's footer-skipping contract. Upsert and
    compaction must hold this even on a session whose conf is INT96
    (e.g. an out-of-band compaction job that never opened the table)."""
    import glob

    import pyarrow.parquet as pq

    from tstables_spark.streaming.ingest import compact_series

    def assert_ts_stats():
        files = glob.glob(os.path.join(root, "stats_series", "date=*", "*.parquet"))
        assert files
        for f in files:
            md = pq.read_metadata(f)
            ci = md.schema.names.index("ts")
            assert md.row_group(0).column(ci).physical_type != "INT96"
            st = md.row_group(0).column(ci).statistics
            assert st is not None and st.has_min_max, f"no ts stats in {f}"

    conf = "spark.sql.parquet.outputTimestampType"
    start = datetime(2024, 3, 1, tzinfo=UTC)
    ts = TimeSeriesTable.create(spark, root, "stats_series", SCHEMA)
    ts.append(_ticks(spark, start, 48))
    assert_ts_stats()
    prior = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "INT96")
        ts.upsert(_ticks(spark, start, 6))
        assert_ts_stats()
        spark.conf.set(conf, "INT96")
        compact_series(spark, ts.path)
        assert_ts_stats()
    finally:
        spark.conf.set(conf, prior)
    assert ts.to_df().count() == 48


def test_purge_before_drops_whole_days(spark, root):
    from datetime import date

    ts = TimeSeriesTable.create(spark, root, "purge_s", SCHEMA)
    start = datetime(2024, 3, 1, tzinfo=UTC)
    ts.append(_ticks(spark, start, 96))  # 4 UTC days
    days = ts._partition_dates()
    assert days == [date(2024, 3, 1) + timedelta(days=i) for i in range(4)]
    purged = ts.purge_before(date(2024, 3, 3))
    assert purged == [date(2024, 3, 1), date(2024, 3, 2)]
    assert ts._partition_dates() == [date(2024, 3, 3), date(2024, 3, 4)]
    lo = ts.min_dt()
    assert lo is not None and lo.date() == date(2024, 3, 3)
    assert ts.to_df().count() == 48
    # datetime cutoffs use the UTC date; purging everything empties the series
    ts.purge_before(datetime(2100, 1, 1, tzinfo=UTC))
    assert ts._partition_dates() == []
    assert ts.min_dt() is None
    with pytest.raises(TimeSeriesTableError):
        ts.purge_before("2024-01-01")  # type: ignore[arg-type]


def test_snapshot_time_travel(spark, root):
    ts = TimeSeriesTable.create(spark, root, "tt_s", SCHEMA)
    assert ts.versions() == []
    start = datetime(2024, 3, 1, tzinfo=UTC)
    b1 = _ticks(spark, start, 40)
    ts.append(b1)
    v1 = ts.snapshot()
    assert v1 == 1 and ts.versions() == [1]
    ts.append(_ticks(spark, start + timedelta(hours=40), 32))
    v2 = ts.snapshot()
    assert ts.versions() == [1, 2]
    assert ts.read_version(v1).count() == 40
    assert ts.read_version(v2).count() == 72
    # v1 content is exactly batch 1 (set equality both directions)
    assert ts.read_version(v1).subtract(b1).count() == 0
    assert b1.subtract(ts.read_version(v1)).count() == 0
    # range pruning composes on top of a snapshot read (date col preserved)
    assert (
        ts.read_version(v2)
        .where(F.col("ts") >= start + timedelta(hours=70))
        .count()
        == 2
    )
    with pytest.raises(TimeSeriesTableError):
        ts.read_version(99)


def test_snapshot_read_with_uri_spelled_root(spark, root):
    """A root spelled as a file:// URI — unlike Hadoop's normalized
    file:/ spelling that listFiles returns — must not make
    read_version's liveness check think every file was removed
    (ADVICE r7): the base prefix is qualified through the FileSystem
    before matching."""
    ts = TimeSeriesTable.create(spark, root, "uri_s", SCHEMA)
    ts.append(_ticks(spark, datetime(2024, 3, 1, tzinfo=UTC), 40))
    v1 = ts.snapshot()
    via_uri = TimeSeriesTable.open(spark, "file://" + root, "uri_s")
    assert via_uri.read_version(v1).count() == 40
    # writer-side twin (r8 review): SNAPSHOT taken through the URI
    # spelling must record the real manifest, not silently an empty one
    via_uri.append(_ticks(spark, datetime(2024, 3, 5, tzinfo=UTC), 8))
    v2 = via_uri.snapshot()
    assert via_uri.read_version(v2).count() == 48
    assert ts.read_version(v2).count() == 48


def test_snapshot_invalidated_by_purge(spark, root):
    ts = TimeSeriesTable.create(spark, root, "ttp_s", SCHEMA)
    ts.append(_ticks(spark, datetime(2024, 3, 1, tzinfo=UTC), 72))
    v1 = ts.snapshot()
    ts.purge_before(ts._partition_dates()[-1])
    with pytest.raises(TimeSeriesTableError, match="vacuum"):
        ts.read_version(v1)


def test_read_range_column_projection_prunes_scan(spark, root):
    """read_range(columns=[...]) must reach the parquet scan as
    ReadSchema column pruning (a 2-column read of a wide series pays 2
    columns of I/O), keep ts first, and reject unknown columns."""
    import pytest as _pytest

    from tstables_spark.tstable import TimeSeriesTableError

    wide = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("price", T.DoubleType()),
            T.StructField("size", T.LongType()),
            T.StructField("venue", T.StringType()),
        ]
    )
    tbl = TimeSeriesTable.create(spark, root, "wide", wide)
    start = datetime(2024, 3, 1, tzinfo=UTC)
    rows = [
        (start + timedelta(minutes=i), float(i), i, f"v{i % 3}") for i in range(600)
    ]
    tbl.append(spark.createDataFrame(rows, wide))

    out = tbl.read_range(start, start + timedelta(hours=3), columns=["price"])
    assert out.columns == ["ts", "price"]
    assert out.count() == 181  # inclusive both ends
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" in plan
    schema_part = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "price" in schema_part and "venue" not in schema_part, schema_part

    # ts is always included exactly once, even if asked for; repeated
    # names collapse instead of producing ambiguous duplicate columns
    both = tbl.read_range(
        start, start + timedelta(hours=1), columns=["ts", "size", "size", "ts"]
    )
    assert both.columns == ["ts", "size"]

    with _pytest.raises(TimeSeriesTableError):
        tbl.read_range(start, start + timedelta(hours=1), columns=["nope"])


def test_read_at_point_lookup(spark, tmp_path):
    """read_at returns the latest row at-or-before the instant, walks
    back across empty days, returns all rows at a tied timestamp,
    projects columns, and is empty before the first row."""
    from datetime import datetime, timedelta, timezone

    from pyspark.sql import Row

    from tstables_spark import TimeSeriesTable

    t0 = datetime(2024, 5, 1, tzinfo=timezone.utc)
    rows = [Row(ts=t0 + timedelta(minutes=i), v=float(i)) for i in range(60)]
    # a second batch 3 days later (days in between have no partitions)
    t3 = t0 + timedelta(days=3)
    rows += [Row(ts=t3, v=100.0), Row(ts=t3, v=101.0)]  # tied timestamp
    df = spark.createDataFrame(rows)
    tbl = TimeSeriesTable.create(spark, str(tmp_path), "pt", df.schema)
    tbl.append(df)

    # exact hit
    got = tbl.read_at(t0 + timedelta(minutes=10)).collect()
    assert [(r.ts, r.v) for r in got] == [(t0.replace(tzinfo=None) + timedelta(minutes=10), 10.0)]
    # between ticks -> previous tick
    got = tbl.read_at(t0 + timedelta(minutes=10, seconds=30)).collect()
    assert got[0].v == 10.0
    # walks back across the empty-day gap
    got = tbl.read_at(t3 - timedelta(hours=1)).collect()
    assert got[0].v == 59.0
    # tied timestamp -> both rows
    got = tbl.read_at(t3 + timedelta(hours=5)).collect()
    assert sorted(r.v for r in got) == [100.0, 101.0]
    # before the first row -> empty
    assert tbl.read_at(t0 - timedelta(seconds=1)).count() == 0
    # column projection + unknown column raises
    assert tbl.read_at(t3, columns=["v"]).columns == ["ts", "v"]
    import pytest
    from tstables_spark.tstable import TimeSeriesTableError
    with pytest.raises(TimeSeriesTableError):
        tbl.read_at(t3, columns=["nope"])


def test_read_at_pandas_shape(spark, tmp_path):
    """read_at_pandas returns the reference's tz-aware-indexed shape."""
    from datetime import datetime, timedelta, timezone

    from pyspark.sql import Row

    from tstables_spark import TimeSeriesTable

    t0 = datetime(2024, 6, 1, tzinfo=timezone.utc)
    df = spark.createDataFrame(
        [Row(ts=t0 + timedelta(minutes=i), v=float(i)) for i in range(5)]
    )
    tbl = TimeSeriesTable.create(spark, str(tmp_path), "pp", df.schema)
    tbl.append(df)
    pdf = tbl.read_at_pandas(t0 + timedelta(minutes=3, seconds=20))
    assert str(pdf.index.tz) == "UTC" and pdf.index.name == "ts"
    assert list(pdf["v"]) == [3.0]


def test_upsert_cross_date_identity_keeps_both_rows(spark, tmp_path):
    """A violated date-stability contract (same non-ts identity on two
    touched days) must never silently collapse the two table rows: the
    per-(identity, date) merge keeps both, replacing only within each
    day."""
    from datetime import datetime, timezone

    from pyspark.sql import Row

    from tstables_spark import TimeSeriesTable

    def dt(d, h=0):
        return datetime(2024, 7, d, h, tzinfo=timezone.utc)

    df = spark.createDataFrame(
        [Row(ts=dt(1), id=5, v=1.0), Row(ts=dt(2), id=5, v=2.0),
         Row(ts=dt(1), id=6, v=3.0)]
    )
    tbl = TimeSeriesTable.create(spark, str(tmp_path), "u", df.schema)
    tbl.append(df)
    # correction touches BOTH days (ids 5 and 6), identity id=5 exists on both
    tbl.upsert(
        spark.createDataFrame(
            [Row(ts=dt(1, 6), id=6, v=30.0), Row(ts=dt(2, 6), id=5, v=20.0)]
        ),
        keys=["id"],
    )
    got = {(r.ts.date().isoformat(), r.id): r.v for r in tbl.to_df().collect()}
    # id=5 day-1 row SURVIVES (old contract would have silently deleted it)
    assert got[("2024-07-01", 5)] == 1.0
    # id=5 day-2 row replaced by the correction
    assert got[("2024-07-02", 5)] == 20.0
    # id=6 day-1 row replaced
    assert got[("2024-07-01", 6)] == 30.0
    assert len(got) == 3


def test_compact_preserves_versions_and_codec(spark, tmp_path):
    """Whole-table compaction must leave the root's _ts_meta.json and
    _ts_versions registry in place (version numbering may not restart),
    must rewrite with the series' persisted codec, not a hardcoded
    default, and neither it nor upsert may leave a temp or backup dir."""
    from datetime import datetime, timedelta, timezone
    import glob

    from pyspark.sql import Row

    from tstables_spark import TimeSeriesTable
    from tstables_spark.streaming.ingest import compact_series

    t0 = datetime(2024, 8, 1, tzinfo=timezone.utc)
    df = spark.createDataFrame(
        [Row(ts=t0 + timedelta(minutes=i), v=float(i)) for i in range(50)]
    )
    tbl = TimeSeriesTable.create(spark, str(tmp_path), "c", df.schema, compression="gzip")
    tbl.append(df)
    v1 = tbl.snapshot()
    meta_inode = os.stat(f"{tbl.path}/_ts_meta.json").st_ino
    compact_series(spark, tbl.path)  # default compression=None -> meta codec
    # root metadata is left in place (never copied or re-created)
    assert os.stat(f"{tbl.path}/_ts_meta.json").st_ino == meta_inode
    # version registry survived: next snapshot continues numbering
    v2 = tbl.snapshot()
    assert (v1, v2) == (1, 2)
    # the old manifest correctly reports its files as vacuumed (never
    # silently aliasing a different state)
    import pytest
    from tstables_spark.tstable import TimeSeriesTableError
    with pytest.raises(TimeSeriesTableError, match="removed by a later"):
        tbl.read_version(v1).collect()
    # and the rewrite used the persisted gzip codec
    files = glob.glob(f"{tbl.path}/date=*/*.parquet")
    assert files and all(".gz.parquet" in f for f in files), files
    assert tbl.read_version(v2).count() == 50
    tbl.upsert(df.where("v < 5").withColumn("v", F.col("v") + 100.0))
    # neither rewrite leaves a temp dir or a swap backup behind
    left = [
        n for n in os.listdir(tmp_path) + os.listdir(tbl.path)
        if any(m in n for m in ("__compacting", "__upserting", "__precompact"))
    ]
    assert left == []
    got = tbl.read_range(t0, t0 + timedelta(minutes=49))
    assert got.count() == 50
    assert got.agg(F.sum("v")).collect()[0][0] == sum(range(50)) + 500.0


def _jobs_run(spark, fn):
    """(fn's result, number of Spark jobs fn submitted), counted through
    a job group on the status tracker."""
    import time
    import uuid

    sc = spark.sparkContext
    group = "tstable_probe_" + uuid.uuid4().hex[:8]
    sc.setJobGroup(group, "probe jobs")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store is fed by the listener bus in order: once a
    # later job is visible, every job of the probe is too
    drain = "tstable_drain_" + uuid.uuid4().hex[:8]
    sc.setJobGroup(drain, "listener drain")
    try:
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.monotonic() + 30
    while not sc.statusTracker().getJobIdsForGroup(drain):
        assert time.monotonic() < deadline
        time.sleep(0.05)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_day_walk_probe_job_counts(spark, root):
    """min_dt / max_dt probe exactly their edge day (1 job each);
    read_at before the last day's first row probes that day, finds
    nothing, then hits the day before (2 jobs). Writes never leave an
    empty date= dir, so 2 is the bound for any instant inside the
    table's span."""
    t0 = datetime(2024, 3, 1, 9, tzinfo=UTC)
    ts = TimeSeriesTable.create(spark, root, "walk", SCHEMA)
    ts.append(_ticks(spark, t0, 3, step_s=86400))  # one tick on each of 3 days

    got, jobs = _jobs_run(spark, ts.min_dt)
    assert (got, jobs) == (t0, 1)
    got, jobs = _jobs_run(spark, ts.max_dt)
    assert (got, jobs) == (t0 + timedelta(days=2), 1)
    at = t0 + timedelta(days=2, hours=-1)  # last day, before its first row
    df, jobs = _jobs_run(spark, lambda: ts.read_at(at))
    assert jobs <= 2
    assert [r.ts for r in df.collect()] == [datetime(2024, 3, 2, 9)]


def test_compact_evolved_series_keeps_added_column(spark, root):
    """compact_series reads with the series' declared schema: a column
    added by ``evolve`` keeps its values through the rewrite even when
    the series' first data file predates the column."""
    from tstables_spark.streaming.ingest import compact_series

    ts = TimeSeriesTable.create(spark, root, "evo", SCHEMA)
    d1 = datetime(2024, 3, 1, tzinfo=UTC)
    ts.append(_ticks(spark, d1, 2))
    wide = T.StructType(list(SCHEMA.fields) + [T.StructField("c", T.StringType(), True)])
    ts.evolve(wide)
    d2 = d1 + timedelta(days=1)
    ts.append(spark.createDataFrame(
        [(d2, "EURUSD", 1.0, "x"), (d2 + timedelta(hours=1), "EURUSD", 1.1, "y")], wide
    ))
    compact_series(spark, ts.path, dates=[d2.date()])
    got = [r.c for r in ts.read_range(d2, d2 + timedelta(hours=1)).orderBy("ts").collect()]
    assert got == ["x", "y"]


def test_day_reads_run_the_same_jobs_on_a_longer_table(spark, root):
    """read_range, read_at, min_dt and max_dt run as many Spark jobs on a
    40-day table as on a 3-day one: each reads named day dirs, so the
    parallel-listing job Spark runs for more than 32 paths never shows
    up as the table grows."""
    jobs = {}
    for n in (3, 40):
        t0 = datetime(2024, 3, 1, 9, tzinfo=UTC)
        ts = TimeSeriesTable.create(spark, root, f"d{n}", SCHEMA)
        ts.append(_ticks(spark, t0, n, step_s=86400))  # one tick a day
        last = t0 + timedelta(days=n - 1)
        calls = {
            "read_range": lambda: ts.read_range(last, last + timedelta(hours=1)).collect(),
            "read_at": lambda: ts.read_at(last - timedelta(hours=1)).collect(),
            "min_dt": ts.min_dt,
            "max_dt": ts.max_dt,
        }
        jobs[n] = {name: _jobs_run(spark, fn)[1] for name, fn in calls.items()}
    assert jobs[40] == jobs[3], jobs


def test_store_reads_go_through_read_days():
    """``_read_days`` is the only code in ``tstable.py`` and
    ``streaming/ingest.py`` that reads the store's files: ``.read`` (as
    in ``spark.read``) appears in no other function. Found in the syntax
    tree, so comments and docstrings may name it."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "tstables_spark"
    inside, bad = [], []

    def visit(node, fn, rel):
        for child in ast.iter_child_nodes(node):
            scope = child.name if isinstance(child, ast.FunctionDef) else fn
            if isinstance(child, ast.Attribute) and child.attr == "read":
                (inside if fn == "_read_days" else bad).append(f"{rel}:{child.lineno}")
            visit(child, scope, rel)

    for rel in ("tstable.py", "streaming/ingest.py"):
        visit(ast.parse((pkg / rel).read_text()), None, rel)
    assert inside and not bad, bad
    assert not hasattr(TimeSeriesTable, "_df")


def test_list_names_local_and_hadoop_agree(spark, root, monkeypatch):
    """A local dir lists the same entries through ``os.listdir`` as
    through the one-call Hadoop listing other roots take (Hadoop's
    local FS hides its ``.crc`` checksum files)."""
    from tstables_spark import tstable

    ts = TimeSeriesTable.create(spark, root, "ls", SCHEMA)
    ts.append(_ticks(spark, datetime(2024, 3, 1, tzinfo=UTC), 48))
    local = sorted(n for n in tstable._fs_list_names(spark, ts.path) if not n.endswith(".crc"))
    monkeypatch.setattr(tstable, "_local_path", lambda fs, jpath: None)
    assert sorted(tstable._fs_list_names(spark, ts.path)) == local
    assert local == ["_SUCCESS", "_ts_meta.json", "date=2024-03-01", "date=2024-03-02"]
    assert tstable._fs_list_names(spark, os.path.join(root, "missing")) == []


def test_schemeless_root_follows_default_fs(spark, root):
    """Hadoop resolves a path with no scheme against ``fs.defaultFS``,
    and so does every Spark read and write of the store. With a default
    FS that is not local (a ``viewfs`` mount of ``root``), ``/<mount>``
    is no dir on this machine, so listing, claiming and rewriting it must
    go through Hadoop too, or reads come back empty and ``create``
    fails."""
    from tstables_spark.streaming.ingest import compact_series

    conf = spark._jsc.hadoopConfiguration()
    # Hadoop caches one FileSystem per scheme and authority: a fresh
    # authority gets a ViewFileSystem built from this mount table.
    mount = "ts" + uuid.uuid4().hex[:8]
    link = f"fs.viewfs.mounttable.{mount}.link./{mount}"
    default_fs = conf.get("fs.defaultFS")
    conf.set(link, "file://" + root)
    conf.set("fs.defaultFS", f"viewfs://{mount}/")
    try:
        assert not os.path.exists(f"/{mount}")
        start = datetime(2024, 3, 1, tzinfo=UTC)
        ts = TimeSeriesTable.create(spark, f"/{mount}", "s", SCHEMA)
        ts.append(_ticks(spark, start, 48))
        ts.append(_ticks(spark, start + timedelta(minutes=30), 48))
        days = sorted(d for d in os.listdir(os.path.join(root, "s")) if d.startswith("date="))
        assert days == ["date=2024-03-01", "date=2024-03-02"]
        with pytest.raises(TimeSeriesTableError):
            TimeSeriesTable.create(spark, f"/{mount}", "s", SCHEMA)

        assert ts.to_df().count() == 96
        assert ts.read_range(start, start + timedelta(hours=5)).count() == 11
        assert ts.min_dt() == start
        assert ts.max_dt() == start + timedelta(hours=47, minutes=30)
        at = ts.read_at(start + timedelta(hours=30, minutes=40)).collect()
        assert [r.ts for r in at] == [datetime(2024, 3, 2, 6, 30)]

        compact_series(spark, ts.path)
        for d in days:
            parts = [f for f in os.listdir(os.path.join(root, "s", d)) if f.endswith(".parquet")]
            assert len(parts) == 1
        ts.upsert(spark.createDataFrame([(start, "EURUSD", 9.0)], SCHEMA))
        assert ts.to_df().count() == 96
        assert [r.price for r in ts.read_at(start).collect()] == [9.0]
    finally:
        conf.set("fs.defaultFS", default_fs)
        conf.unset(link)
