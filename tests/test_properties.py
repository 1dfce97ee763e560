"""Property-based checks (SURVEY.md §5.3): range-split additivity of
read_range and resample/re-aggregate consistency, over randomized
boundaries inside one materialized fixture series."""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F
from pyspark.sql import types as T

from tstables_spark.tstable import TimeSeriesTable

UTC = timezone.utc
BASE = datetime(2024, 6, 1, tzinfo=UTC)
N_MINUTES = 3 * 24 * 60  # three days of minute ticks

SCHEMA = T.StructType(
    [T.StructField("ts", T.TimestampType()), T.StructField("v", T.DoubleType())]
)


@pytest.fixture(scope="module")
def series(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("prop"))
    t = TimeSeriesTable.create(spark, root, "s", SCHEMA)
    rows = [(BASE + timedelta(minutes=i), float(i % 97)) for i in range(N_MINUTES)]
    t.append(spark.createDataFrame(rows, SCHEMA))
    return t


minutes = st.integers(min_value=0, max_value=N_MINUTES - 1)

N_DAYS = 40  # above the 32 paths at which Spark lists in a parallel job


@pytest.fixture(scope="module")
def days40(spark, tmp_path_factory):
    """40 days of 6-hourly ticks; every second day gets a second file."""
    root = str(tmp_path_factory.mktemp("days40"))
    t = TimeSeriesTable.create(spark, root, "d40", SCHEMA)
    rows = [(BASE + timedelta(hours=6 * i), float(i)) for i in range(N_DAYS * 4)]
    t.append(spark.createDataFrame(rows, SCHEMA))
    t.append(spark.createDataFrame(rows[::8], SCHEMA))
    return t, rows + rows[::8]


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.integers(min_value=-3 * 24, max_value=(N_DAYS + 3) * 24),
    st.integers(min_value=0, max_value=10 * 24),
)
def test_read_range_reads_only_overlapping_day_dirs(days40, start_h, span_h):
    """read_range(start, end) reads exactly the files of the date= dirs
    from start's day to end's day, and returns exactly the rows inside
    the range."""
    import glob
    import os
    from datetime import date
    from urllib.parse import urlparse

    t, rows = days40
    start = BASE + timedelta(hours=start_h)
    end = start + timedelta(hours=span_h)
    df = t.read_range(start, end)
    base = os.path.realpath(t.path)
    want = {
        os.path.relpath(os.path.realpath(f), base)
        for f in glob.glob(os.path.join(t.path, "date=*", "*.parquet"))
        if start.date() <= date.fromisoformat(f.split("date=")[1][:10]) <= end.date()
    }
    got = {os.path.relpath(os.path.realpath(urlparse(f).path), base) for f in df.inputFiles()}
    assert got == want
    assert df.count() == sum(start <= ts <= end for ts, _ in rows)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.tuples(minutes, minutes, minutes).map(sorted))
def test_range_split_additivity(series, bounds):
    """read_range(a,b) ∪ read_range(b+1m,c) == read_range(a,c) — the
    inclusive-bounds contract means adjacent ranges must tile with no
    overlap and no gap."""
    a, b, c = (BASE + timedelta(minutes=m) for m in bounds)
    whole = series.read_range(a, c).count()
    left = series.read_range(a, b).count()
    right = series.read_range(b + timedelta(minutes=1), c).count()
    assert left + right == whole


@settings(max_examples=4, deadline=None, suppress_health_check=list(HealthCheck))
@given(minutes, st.sampled_from([60, 180, 720]))
def test_resample_reaggregate_consistency(series, start_min, bucket_minutes):
    """Sum over coarse buckets == sum over the raw rows of the same span
    (resample must neither drop nor duplicate rows)."""
    start = BASE + timedelta(minutes=start_min)
    end = start + timedelta(hours=20)
    df = series.read_range(start, end)
    raw_sum = df.agg(F.sum("v")).collect()[0][0] or 0.0
    bucketed = (
        df.groupBy(F.window("ts", f"{bucket_minutes} minutes"))
        .agg(F.sum("v").alias("s"))
        .agg(F.sum("s"))
        .collect()[0][0]
        or 0.0
    )
    assert abs(raw_sum - bucketed) < 1e-6


# -- round-2 operator properties -------------------------------------------
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.text(alphabet="ab cd", min_size=0, max_size=40), min_size=2, max_size=12
    ),
    threshold=st.sampled_from([0.2, 0.5, 0.8]),
)
def test_jaccard_pairs_match_bruteforce(docs, threshold):
    """jaccard_pairs == brute-force set Jaccard on arbitrary texts."""
    from tstables_spark.operators.dedup import jaccard_pairs
    from tstables_spark import get_spark

    spark = get_spark("tstables_spark_tests")
    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def sh(t, n=3):
        toks = t.lower().split(" ")
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    sets = {i: sh(t) for i, t in rows}
    brute = {}
    for a in sets:
        for b in sets:
            if a < b and sets[a] & sets[b]:
                j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
                if j >= threshold:
                    brute[(a, b)] = j
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(df, n=3, threshold=threshold).collect()
    }
    assert set(got) == set(brute)
    for k in got:
        assert abs(got[k] - brute[k]) < 1e-12


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    weights=st.lists(st.integers(min_value=0, max_value=5000), min_size=1, max_size=60),
    budget=st.sampled_from([1, 100, 4096]),
    parts=st.integers(min_value=1, max_value=5),
)
def test_pack_sequences_prefix_sum_property(weights, budget, parts):
    """running is the exact inclusive prefix sum in id order, for any
    partition count, including zero weights and weights > budget."""
    from tstables_spark.operators.packing import pack_sequences
    from tstables_spark import get_spark

    spark = get_spark("tstables_spark_tests")
    df = spark.createDataFrame(list(enumerate(weights)), "doc_id long, w long")
    got = {
        r.doc_id: (r.running, r.pack_id)
        for r in pack_sequences(df, "doc_id", "w", budget, num_partitions=parts).collect()
    }
    acc = 0
    for i, w in enumerate(weights):
        acc += w
        assert got[i] == (acc, (acc - w) // budget), (i, w, acc, got[i])


def test_editdist_banding_is_complete(spark, sf_dir):
    """The (lang, length-band) blocking must find EVERY pair inside the
    declared scope (same lang, |Δn_chars| <= band_width, bounded
    Levenshtein on prefixes) — banding with one-neighbor probes has
    recall 1.0 by the pigeonhole argument; verify against an unblocked
    brute force."""
    import duckdb

    from tstables_spark.operators.dedup import editdist_pairs
    from tstables_spark.plans.tables import load

    sf = sf_dir
    docs = load(spark, sf, "documents")
    got = {
        (r.doc_a, r.doc_b, r.dist) for r in editdist_pairs(docs).collect()
    }
    con = duckdb.connect()
    brute = con.execute(
        f"""
        WITH d AS (SELECT doc_id, lang, n_chars,
                          substring(lower(text), 1, 200) AS p
                   FROM read_parquet('{sf}/documents.parquet'))
        SELECT a.doc_id, b.doc_id, CAST(levenshtein(a.p, b.p) AS INT)
        FROM d a JOIN d b
          ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE abs(a.n_chars - b.n_chars) <= 64
          AND levenshtein(a.p, b.p) <= 20
        """
    ).fetchall()
    assert got == {tuple(r) for r in brute}
    assert len(got) > 0  # non-vacuous at this sf


def test_degree_dist_hot_bucket_guard(spark):
    """A synthetic viral bucket (10k users in one 10-minute window) must
    not go quadratic: the occupancy cap keeps only the 256 lowest
    user_ids, so the hot bucket contributes a 256-clique (each kept user
    degree 255) instead of 50M pairs, and the job completes in seconds.
    A cold 4-user bucket alongside is untouched (degree 3)."""
    from pyspark.sql import functions as F

    from tstables_spark.plans.analytics import cooccurrence_degree_dist

    hot = spark.range(10_000).select(
        F.col("id").alias("user_id"), F.lit(0).cast("long").alias("bucket")
    )
    cold = spark.range(4).select(
        (F.col("id") + 100_000).alias("user_id"),
        F.lit(1).cast("long").alias("bucket"),
    )
    out = {
        (r["degree"], r["n_nodes"])
        for r in cooccurrence_degree_dist(hot.unionAll(cold), cap=256).collect()
    }
    assert out == {(255, 256), (3, 4)}


def test_funnel_signal_kernel_edges(spark, tmp_path):
    """r17: pipeline_corpus_funnel's per-doc signals moved into an Arrow
    kernel — pin the edge semantics the kernel must mirror from the JVM
    expressions it replaced: null text (size(null) = -1, never kept),
    empty and single-token docs (keep_q guard), the all-duplicate-bigram
    doc (dup_frac > 0.1 drops it), stopword ratio, exact-dup collapse to
    the min-doc_id representative, and the language gate."""
    docs = [
        (1, None, "en"),                      # null text -> not kept
        (2, "", "en"),                        # 1 empty token -> guard
        (3, "the quick brown fox jumps over lazy dog one two three "
            "four five six seven eight nine ten eleven twelve", "en"),
        (4, "the quick brown fox jumps over lazy dog one two three "
            "four five six seven eight nine ten eleven twelve", "en"),
        # 30x 'the': 29 identical bigrams -> dup_frac = 1 - 1/29
        (5, " ".join(["the"] * 30), "en"),
        (6, "and alpha beta gamma delta epsilon zeta eta theta iota "
            "kappa lam mu nu xi omicron pi rho sigma tau", "de"),
    ]
    path = str(tmp_path / "documents.parquet")
    spark.createDataFrame(docs, "doc_id long, text string, lang string").write.parquet(path)

    from tstables_spark.plans.registry import QUERIES

    rows = {
        (r["stage"], r["stage_name"], r["n_docs"])
        for r in QUERIES["pipeline_corpus_funnel"](spark, str(tmp_path)).collect()
    }
    # raw 6; reps: null-h, "", doc3(=doc4), doc5, doc6 -> 5;
    # quality: doc3 (20 tokens, distinct bigrams, 'the' 1/20) + doc6
    # ('and' 1/20) -> 2; english: doc3 only.
    assert rows == {
        (1, "raw", 6),
        (2, "exact_dedup", 5),
        (3, "quality", 2),
        (4, "english", 1),
    }


def test_chunker_covers_every_word(spark, sf_dir):
    """Every document position must land in at least one chunk, chunks
    must start on the stride grid, and the last chunk must end exactly
    at the document's word count (no tail loss, no overrun)."""
    from pyspark.sql import functions as F

    from tstables_spark.plans.registry import QUERIES
    from tstables_spark.plans.tables import load

    chunks = QUERIES["doc_chunk_overlap"](spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.lower("text"), " ")).alias("n_words")
    )
    per_doc = chunks.groupBy("doc_id").agg(
        F.min("start_word").alias("first_start"),
        F.max(F.col("start_word") + F.col("n_words")).alias("covered_to"),
        F.max(F.col("start_word") % 48).alias("max_off_grid"),
    )
    bad = (
        per_doc.join(docs, "doc_id")
        .where(
            (F.col("first_start") != 0)
            | (F.col("covered_to") != F.col("n_words"))
            | (F.col("max_off_grid") != 0)
        )
        .count()
    )
    assert bad == 0
    assert per_doc.count() == docs.where(F.col("n_words") >= 1).count()


def test_exact_mean_fast_path_matches_decimal_reference():
    """_exact_mean's vectorized int-micros fast path must be
    bit-identical to the all-Decimal reference on adversarial inputs:
    exact half-micro ties, magnitudes past the int64-safety gate,
    values at the quantization floor, and tick-like rounded data."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np
    import pandas as pd

    from tstables_spark.plans.scalars import _exact_mean

    def reference(values):
        q = Decimal("0.000001")
        total = sum(
            (Decimal(float(v)).quantize(q, rounding=ROUND_HALF_UP) for v in values),
            Decimal(0),
        )
        return float(total) / len(values)

    rng = np.random.default_rng(7)
    k = rng.integers(-(10**9), 10**9, 5_000)
    cases = [
        rng.uniform(-1000, 1000, 20_000),
        rng.uniform(-1e9, 1e9, 5_000),
        np.array([0.0000005, -0.0000005, 1.0000005, 2.5e-7, -2.5e-7, 0.1, 0.2, 0.3]),
        np.round(rng.uniform(0, 100, 5_000), 2),
        np.array([1e12, -1e12, 3.14159, 2**50 / 1e6, 2**52 / 1e6]),
        rng.normal(0, 1e-7, 5_000),
        (k.astype(np.float64) + 0.5) / 1e6,  # exact half-micro ties
        # int64-overflow regime: same-signed near-gate magnitudes whose
        # raw micros total passes 2^63 (a single np.int64 sum wraps)
        np.full(9_000, 2**50 / 1e6),
        np.full(9_000, -(2**50) / 1e6),
    ]
    for i, c in enumerate(cases):
        s = pd.Series(c)
        assert _exact_mean(s) == reference(s), f"case {i} diverged"


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.floats(
            min_value=-1e9,
            max_value=1e9,
            allow_nan=False,
            allow_infinity=False,
        ),
        min_size=1,
        max_size=200,
    )
)
def test_exact_mean_fuzz_matches_decimal_reference(values):
    """Hypothesis fuzz for _exact_mean's fast path: any float list must
    reproduce the all-Decimal reference bit-for-bit."""
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd

    from tstables_spark.plans.scalars import _exact_mean

    q = Decimal("0.000001")
    total = sum(
        (Decimal(float(v)).quantize(q, rounding=ROUND_HALF_UP) for v in values),
        Decimal(0),
    )
    ref = float(total) / len(values)
    assert _exact_mean(pd.Series(values)) == ref


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(-500, 500)),
        min_size=1,
        max_size=120,
    )
)
def test_grouped_median2_matches_statistics_median(rows):
    """_grouped_median2's m2 must equal 2x the textbook median per key,
    for any multiset of integer values (odd/even counts, duplicates,
    negatives) — the fixed-point contract ts_robust_zscore rests on."""
    import statistics
    from collections import Counter

    from tstables_spark import get_spark
    from tstables_spark.plans.analytics import _grouped_median2

    spark = get_spark("props", cpus=4)
    counts = Counter(rows)
    df = spark.createDataFrame(
        [(k, v, c) for (k, v), c in counts.items()], "k string, v long, cnt long"
    )
    got = {r["k"]: r["m2"] for r in _grouped_median2(df, "k", "v", "cnt").collect()}
    by_key: dict = {}
    for k, v in rows:
        by_key.setdefault(k, []).append(v)
    for k, vals in by_key.items():
        vals.sort()
        n = len(vals)
        want = vals[(n - 1) // 2] + vals[n // 2]  # k1th + k2th, 1-based
        assert got[k] == want, (k, vals, got[k], want)
        assert got[k] == round(2 * statistics.median(vals))


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.text(alphabet="ab cd", min_size=0, max_size=40), min_size=2, max_size=12
    ),
    threshold=st.sampled_from([0.3, 0.6, 0.9]),
)
def test_containment_pairs_match_bruteforce(docs, threshold):
    """containment_pairs == brute-force shared/min-set-size on arbitrary
    texts — the asymmetric twin of the Jaccard property test, over the
    same shared _pair_overlap core."""
    from tstables_spark.operators.dedup import containment_pairs
    from tstables_spark import get_spark

    spark = get_spark("tstables_spark_tests")
    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def sh(t, n=3):
        toks = t.lower().split(" ")
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    sets = {i: sh(t) for i, t in rows}
    brute = {}
    for a in sets:
        for b in sets:
            if a < b and sets[a] & sets[b]:
                c = len(sets[a] & sets[b]) / min(len(sets[a]), len(sets[b]))
                if c >= threshold:
                    brute[(a, b)] = c
    got = {
        (r.doc_a, r.doc_b): r.containment
        for r in containment_pairs(df, n=3, threshold=threshold).collect()
    }
    assert set(got) == set(brute)
    for k in got:
        assert abs(got[k] - brute[k]) < 1e-12


# -- round-11: as-of family property ----------------------------------------
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    lefts=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 40)), min_size=1, max_size=15
    ),
    rights=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 40)), min_size=0, max_size=15
    ),
    tol=st.sampled_from([None, 0, 3, 10]),
)
def test_asof_join_matches_bruteforce_all_directions(lefts, rights, tol):
    """asof_join == the per-row brute force for backward/forward/nearest
    x tolerance, on adversarial small tables: key collisions, exact
    left==right timestamp ties (inclusive in BOTH directions), duplicate
    left rows, keys with no right rows, empty right side. The right
    side is deduped to unique (key, time) — the documented precondition
    of every as-of entry point."""
    from tstables_spark import get_spark
    from tstables_spark.operators.asof import asof_join

    spark = get_spark("tstables_spark_tests")
    rmap = {}  # unique per (key, time), deterministic value
    for k, s in rights:
        rmap[(k, s)] = k * 1000 + s
    lrows = [
        (i, k, BASE + timedelta(seconds=s)) for i, (k, s) in enumerate(lefts)
    ]
    rrows = [
        (k, BASE + timedelta(seconds=s), v) for (k, s), v in sorted(rmap.items())
    ]
    ldf = spark.createDataFrame(lrows, "lid long, key int, lts timestamp")
    rdf = spark.createDataFrame(
        rrows or [(0, BASE, 0)], "key int, rts timestamp, val long"
    )
    if not rrows:
        rdf = rdf.where(F.lit(False))

    def brute(direction):
        out = {}
        for lid, k, s in ((i, k, s) for i, (k, s) in enumerate(lefts)):
            back = [
                (rs, v) for (rk, rs), v in rmap.items()
                if rk == k and rs <= s and (tol is None or s - rs <= tol)
            ]
            fwd = [
                (rs, v) for (rk, rs), v in rmap.items()
                if rk == k and rs >= s and (tol is None or rs - s <= tol)
            ]
            b = max(back) if back else None  # latest at-or-before
            f = min(fwd) if fwd else None  # earliest at-or-after
            if direction == "backward":
                pick = b
            elif direction == "forward":
                pick = f
            else:  # nearest: closer wins, exact tie -> backward
                if b and f:
                    pick = b if (s - b[0]) <= (f[0] - s) else f
                else:
                    pick = b or f
            out[lid] = pick[1] if pick else None
        return out

    for direction in ("backward", "forward", "nearest"):
        got = {
            r.lid: r.val
            for r in asof_join(
                ldf, rdf, "lts", "rts", "key", "key", ["val"],
                tolerance_seconds=tol, direction=direction,
            ).collect()
        }
        want = brute(direction)
        assert got == want, (direction, tol, got, want)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.text(alphabet="ab cd", min_size=0, max_size=60), min_size=2, max_size=10
    ),
    w=st.sampled_from([2, 3, 5]),
    max_df=st.sampled_from([2, 32]),
)
def test_substring_dup_pairs_random_texts(docs, w, max_df):
    """substring_dup_pairs == brute force on arbitrary random texts —
    the adversarial tail the planted-corpus test can't enumerate:
    repeated tokens, empty strings, consecutive spaces (empty tokens),
    docs shorter than w, heavy cross-doc window collisions from the
    tiny alphabet (exercising the df cap on organic data)."""
    from tstables_spark.operators.dedup import substring_dup_pairs
    from tstables_spark import get_spark
    from tests.test_operators import _substring_bruteforce

    spark = get_spark("tstables_spark_tests")
    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): r.shared_windows
        for r in substring_dup_pairs(df, w=w, max_df=max_df).collect()
    }
    assert got == _substring_bruteforce(rows, w, max_df)


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    w=st.integers(min_value=1, max_value=13),
    h=st.integers(min_value=1, max_value=11),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    top_down=st.booleans(),
)
def test_bmp_ppm_decode_roundtrip(w, h, seed, top_down):
    """The stdlib image decoders against hand-encoded rasters over
    random dims (pure Python, no Spark): every width hits a different
    4-byte BMP stride padding, both BMP storage orders (positive
    biHeight = bottom-up, negative = top-down) decode to the same
    top-down matrix, and BMP/P6/P5 of the same logical image agree on
    the exact integer luma. A decoder that mis-handles stride, row
    order, channel order, or header offsets cannot pass for all dims."""
    import numpy as np

    from tstables_spark.operators.multimodal import _decode_bmp, _decode_ppm

    rng = np.random.default_rng(seed)
    rgb = rng.integers(0, 256, size=(h, w, 3), dtype=np.int64)
    want_gray = (299 * rgb[:, :, 0] + 587 * rgb[:, :, 1] + 114 * rgb[:, :, 2]) // 1000

    stride = (w * 3 + 3) & ~3
    raster = np.zeros((h, stride), dtype=np.uint8)
    raster[:, : w * 3] = rgb[:, :, ::-1].astype(np.uint8).reshape(h, w * 3)
    stored = raster if top_down else raster[::-1]
    px = stored.tobytes()
    bih = -h if top_down else h
    bmp = (
        b"BM"
        + (54 + len(px)).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + bih.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(px).to_bytes(4, "little")
        + b"\x00" * 16
        + px
    )
    dw, dh, gray_bmp = _decode_bmp(bmp)
    assert (dw, dh) == (w, h)
    assert (gray_bmp == want_gray).all()

    p6 = f"P6\n{w} {h}\n255\n".encode() + rgb.astype(np.uint8).tobytes()
    dw, dh, gray_p6 = _decode_ppm(p6)
    assert (dw, dh) == (w, h)
    assert (gray_p6 == want_gray).all()

    p5 = f"P5 {w}\n# c\n{h} 255\n".encode() + want_gray.astype(np.uint8).tobytes()
    dw, dh, gray_p5 = _decode_ppm(p5)
    assert (dw, dh) == (w, h)
    assert (gray_p5 == want_gray).all()


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    n_splits=st.integers(min_value=1, max_value=4),
    epoch_days=st.sampled_from([1, 3, 7]),
)
def test_asof_epoch_appends_random(seed, n_splits, epoch_days):
    """Epoch-layout appends == one-shot batch as-of on arbitrary random
    frames: random left/right rows (with key skew, duplicate times and
    a NULL-ts left row), a random epoch granularity, and the left side
    split into 1-4 appends in random order — the presorted read after
    staging+appends must VALUE-equal asof_join over the full frames,
    regardless of which epochs each append touches or how appends
    interleave across epoch boundaries."""
    import random

    import tempfile

    from pyspark.sql import functions as F

    from tstables_spark import get_spark
    from tstables_spark.operators.asof import (
        append_asof_epoch_layout,
        asof_join,
        asof_join_presorted,
        stage_asof_epoch_layout,
    )

    spark = get_spark("tstables_spark_tests")
    rng = random.Random(seed)
    n_left, n_right = 120, 40
    lrows = [
        (i, rng.randrange(6), rng.randrange(20 * 86400) if rng.random() > 0.02 else None)
        for i in range(n_left)
    ]
    rrows = [(rng.randrange(6), rng.randrange(20 * 86400), i) for i in range(n_right)]
    left = spark.createDataFrame(
        lrows, "event_id long, k long, t long"
    ).select("event_id", "k", F.timestamp_seconds("t").alias("ts"))
    right = (
        spark.createDataFrame(rrows, "k long, t long, val long")
        .groupBy("k", F.timestamp_seconds("t").alias("rts"))
        .agg(F.max("val").alias("val"))
    )
    epoch_of = lambda t: F.floor(  # noqa: E731
        F.unix_micros(t) / (epoch_days * 86400 * 1_000_000)
    )
    splits = [rng.randrange(n_splits) for _ in range(n_left)]
    sdf = spark.createDataFrame(
        [(i, s) for i, s in enumerate(splits)], "event_id long, split int"
    )
    lsplit = left.join(sdf, "event_id")
    name = f"asof_ep_prop_{seed % 100000}_{n_splits}_{epoch_days}"
    path = tempfile.mkdtemp(prefix="asof_ep_prop_")
    order = list(range(n_splits))
    rng.shuffle(order)
    try:
        stage_asof_epoch_layout(
            lsplit.where(F.col("split") == order[0]).drop("split"),
            right, "ts", "rts", "k", "k", ["val"], name, path + "/t",
            epoch_of, num_buckets=3,
        )
        for s in order[1:]:
            append_asof_epoch_layout(
                spark, name, left=lsplit.where(F.col("split") == s).drop("split"),
                left_on="ts", left_by="k", epoch_of=epoch_of, num_buckets=3,
            )
        want = {
            tuple(r)
            for r in asof_join(left, right, "ts", "rts", "k", "k", ["val"]).collect()
        }
        got = {
            tuple(r)
            for r in asof_join_presorted(
                spark, name, ["event_id", "k", "ts"], ["val"]
            ).collect()
        }
        assert got == want
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def _png_encode(arr, filters, palette=None):
    """Forward-filter PNG encoder for the decode test: per-row filter
    choice, per-byte spec recurrences — an encoder bug and a decoder
    bug cannot cancel for ALL random dims/filters/color types.
    ``palette``: (n, 3) uint8 array -> color type 3 with a PLTE chunk
    (``arr`` must then be (h, w, 1) indices)."""
    import struct
    import zlib

    import numpy as np

    h, w, ch = arr.shape
    stride = w * ch
    raw = bytearray()
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        row = arr[y].reshape(-1).astype(np.int64)
        ft = filters[y]
        raw.append(ft)
        for x in range(stride):
            a = row[x - ch] if x >= ch else 0
            b = prev[x]
            c = prev[x - ch] if x >= ch else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            raw.append(int((row[x] - pred) % 256))
        prev = row

    def chunk(typ, payload):
        return (
            len(payload).to_bytes(4, "big")
            + typ
            + payload
            + zlib.crc32(typ + payload).to_bytes(4, "big")
        )

    ctype = 3 if palette is not None else {1: 0, 3: 2, 4: 6}[ch]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    plte = (
        chunk(b"PLTE", palette.astype(np.uint8).tobytes())
        if palette is not None
        else b""
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + plte
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    w=st.integers(min_value=1, max_value=11),
    h=st.integers(min_value=1, max_value=9),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    ch=st.sampled_from([1, 3, 4]),
)
def test_png_decode_all_filters_roundtrip(w, h, seed, ch):
    """The stdlib PNG decoder against a hand-rolled forward-filter
    encoder (pure Python, no Spark): random dims, gray/RGB/RGBA color
    types and a RANDOM per-row mix of all five scanline filters
    (None/Sub/Up/Average/Paeth) must reconstruct the exact pixels —
    filter-prediction bugs corrupt values rather than shift them, so
    no dimension-coincidence can hide one. RGBA must agree with the
    RGB of its color planes (alpha ignored by the luma)."""
    import numpy as np

    from tstables_spark.operators.multimodal import _decode_png

    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
    filters = rng.integers(0, 5, size=h).tolist()
    png = _png_encode(arr, filters)
    dw, dh, gray = _decode_png(png)
    assert (dw, dh) == (w, h)
    a64 = arr.astype(np.int64)
    if ch == 1:
        want = a64[:, :, 0]
    else:
        want = (299 * a64[:, :, 0] + 587 * a64[:, :, 1] + 114 * a64[:, :, 2]) // 1000
    assert (gray == want).all()

    # palette variant of the same raster: indices through a random
    # PLTE must luma-match the looked-up RGB exactly
    pal = rng.integers(0, 256, size=(256, 3), dtype=np.uint8)
    idx = rng.integers(0, 256, size=(h, w, 1), dtype=np.uint8)
    png3 = _png_encode(idx, filters, palette=pal)
    dw, dh, gray3 = _decode_png(png3)
    assert (dw, dh) == (w, h)
    p64 = pal.astype(np.int64)[idx[:, :, 0]]
    want3 = (299 * p64[:, :, 0] + 587 * p64[:, :, 1] + 114 * p64[:, :, 2]) // 1000
    assert (gray3 == want3).all()
