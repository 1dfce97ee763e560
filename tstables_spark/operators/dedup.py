"""Document deduplication operators: exact, n-gram Jaccard (inverted
index), MinHash+LSH, SimHash.

Scale design (the point of each variant):

- ``exact_dedup``: one hash aggregate — embarrassingly parallel at any
  scale.
- ``jaccard_pairs``: exact pairwise Jaccard via an inverted index
  (posting list per shingle, pairs expanded post-shuffle). Cost is sum
  over shingles of df(s)^2 — fine when shingle document-frequency is
  bounded; pass ``max_df`` to drop stop-shingles (the standard trick
  that keeps the expansion linear-ish at 100 TB; dropped shingles only
  ever *lower* recall of high-frequency boilerplate pairs).
- ``minhash_lsh_pairs``: the sub-quadratic scale path. k min-hashes per
  doc -> b bands of r rows; only docs agreeing on a full band collide,
  so candidate generation is a cheap equi-join on (band, signature) and
  the exact Jaccard verify runs only on candidates. Collision
  probability 1-(1-j^r)^b — the classic LSH S-curve (Broder; Mining of
  Massive Datasets ch.3).
- ``simhash_fingerprints``: 64-bit charikar-style fingerprints; equal
  or near-equal (small Hamming distance) fingerprints flag near-dups.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from tstables_spark._staging import is_pinned, pin

# Portable hashing: every fingerprint below is reproducible OUTSIDE this
# engine (DuckDB, Trino, any SQL dialect with md5) — a deliberate contract,
# not a convenience. Dedup fingerprints outlive any one engine: a corpus
# hashed today must be incrementally deduplicable by tomorrow's stack, so
# the hash family must not be Spark-private (xxhash64's seed handling is).
#
#   base(x)  = int(substr(md5(x), 1, 15), 16)      -- 60-bit, any engine
#   h_i(x)   = (A_i * (base(x) % P) + B_i) % P     -- affine universal family
#
# P = 2^31-1 (Mersenne); A_i,B_i fixed odd-ish constants, A_i != 0 (mod P).
# Cost: ONE md5 per token + k codegen'd integer ops — cheaper than k seeded
# xxhash64 calls for k >= ~8, and the whole family stays inside
# whole-stage codegen.
PORTABLE_PRIME = 2_147_483_647


def portable_hash60(col: Column | str) -> Column:
    """60-bit integer hash reproducible in any engine with md5():
    ``('0x' || substr(md5(x),1,15))::BIGINT`` in DuckDB,
    ``conv(substr(md5(x),1,15),16,10)`` here. Codegen'd, non-negative."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def affine_coeffs(i: int) -> tuple[int, int]:
    """The i-th (A, B) pair of the affine family. A_i < P for i < 2146;
    A_i*x + B_i stays under 2^63 for x < P, so no 64-bit overflow and
    identical arithmetic in every engine."""
    return 1_000_003 * (i + 1) % PORTABLE_PRIME, 8191 * i + 127


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Raise the parallelism floor before a CPU-bound per-row stage.

    A corpus that arrives as few files / few row groups gives the scan
    that few tasks, and everything narrow above it (the interpreted
    n-gram lambda, per-token md5) runs on that few cores no matter how
    big the cluster is — measured 3-4x of ``dedup_minhash``'s wall time
    at sf0.1, where documents.parquet is ONE row group and the whole
    shingling stage ran on one core. At real scale inputs carry many
    splits and this is a no-op (the branch never fires); when it does
    fire it shuffles only the slim (id, text) projection — bytes the
    immediately-following wide stage would move anyway."""
    if df.isStreaming:
        # No batch RDD to inspect, and micro-batch input is already
        # split by maxFilesPerTrigger; let the stream pass through
        # (stream_bloom shingles the document stream through here).
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    return df


def shingles(
    docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    with_size: bool = False,
) -> DataFrame:
    """(doc_id, shingle) with per-doc-distinct word n-grams;
    ``with_size`` adds ``n_sh``, the doc's distinct-shingle count.

    Plan-shape note: the n-gram ``transform`` lambda is a higher-order
    function Spark evaluates interpreted (no whole-stage codegen), so it
    must be evaluated exactly ONCE per row. A ``when(size>=n, ...)``
    guard + plain ``explode`` makes Catalyst infer a ``size(arr)>0``
    filter below the Generate that re-evaluates the whole lambda 2-3x
    (measured 6x slower). Instead: pre-filter short docs on the cheap
    ``size(split(...))`` predicate, then ``explode_outer`` (no inferred
    filter) + null post-filter. Linear, shuffle-free at any scale.

    ``n_sh`` is computed SCAN-SIDE, before the explode — this is what
    lets jaccard_pairs / the minhash verify emit Jaccard denominators
    at pair-expansion time instead of joining a per-doc sizes relation
    (which at corpus scale is billions of rows — not broadcastable).
    The distinct array is aliased through its own projection so the
    non-cheap lambda isn't duplicated into both ``size`` and the
    Generate (CollapseProject leaves multi-referenced non-cheap
    aliases alone); ``size`` above the Generate is O(1) per row.
    """
    base = spread_small_scan(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text"))
    )
    toks = F.split(F.lower(F.col("__text")), " ")
    d = base.select("doc_id", toks.alias("__toks")).where(F.size("__toks") >= n)
    gram = F.transform(
        F.sequence(F.lit(0), F.size("__toks") - n),
        lambda i: F.concat_ws(" ", *[F.col("__toks")[i + j] for j in range(n)]),
    )
    if not with_size:
        return (
            d.select("doc_id", F.explode_outer(F.array_distinct(gram)).alias("shingle"))
            .where(F.col("shingle").isNotNull())
        )
    arr = d.select("doc_id", F.array_distinct(gram).alias("__sh"))
    return (
        arr.select("doc_id", F.size("__sh").alias("n_sh"), F.explode_outer("__sh").alias("shingle"))
        .where(F.col("shingle").isNotNull())
    )


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Group by normalized-content hash; keep the smallest id per group."""
    h = F.sha2(F.lower(F.trim(F.col(text_col))), 256)
    return (
        docs.groupBy(h.alias("content_hash"))
        .agg(F.min(id_col).alias("keep_doc_id"), F.count("*").alias("dup_count"))
    )


def jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.6,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing >=1 shingle.

    Plan shape: classic inverted index, exactly TWO shuffles and ZERO
    joins. Shingling computes each doc's set size ``n_sh`` scan-side
    (see ``shingles(with_size=True)``) and carries it through the
    posting lists as a (doc_id, n_sh) struct, so pair expansion emits
    (doc_a, na, doc_b, nb) directly and the Jaccard denominator is a
    first-value aggregate — no per-doc sizes relation, no sizes join.
    (Earlier rounds broadcast-joined a sizes table: fine at toy scale,
    but sizes has one row PER DOC — billions at 100 TB, not
    broadcastable, and Spark would silently fall back to two extra
    shuffle joins.) Pair expansion is Σ_s df(s)² rows, all generated
    post-shuffle with no broadcast; ``max_df`` drops stop-shingle
    posting lists right after aggregation, which is what bounds the
    quadratic pair fanout at 100 TB (per-list agg memory spills via
    SortAggregate if a single stop-shingle is pathological). Because
    ``n_sh`` is stamped before any filtering, max_df only removes
    shared-shingle evidence — denominators stay exact, so it can only
    lower recall, never create false positives.
    """
    shared = _pair_overlap(docs, n, max_df)
    jac = F.col("shared").cast("double") / (F.col("na") + F.col("nb") - F.col("shared"))
    return (
        shared.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "shared", "jaccard")
    )


def containment_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup: containment = shared / min(|A|, |B|) — the
    quote/superset detector. A short document wholly quoted inside a
    long one has tiny Jaccard (the union is dominated by the long doc)
    but containment ~1; training-data pipelines need this exactly where
    symmetric dedup goes blind — boilerplate inclusion, article+quote
    aggregators, truncated re-crawls that grew a footer. Same
    two-shuffle inverted index as ``jaccard_pairs`` (shared core), only
    the final threshold expression differs."""
    shared = _pair_overlap(docs, n, max_df)
    cont = F.col("shared").cast("double") / F.least(F.col("na"), F.col("nb"))
    return (
        shared.withColumn("containment", cont)
        .where(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "shared", "containment")
    )


def substring_dup_pairs(
    docs: DataFrame,
    w: int = 30,
    max_df: int = 32,
) -> DataFrame:
    """EXACT SUBSTRING-level dedup at ``w``-token granularity — the
    verbatim-window family of Lee et al. 2022 ("Deduplicating Training
    Data Makes Language Models Better", the 50-token-overlap rule):
    every pair of documents sharing at least one verbatim run of ``w``
    consecutive tokens, with the count of shared windows. Catches the
    copy-paste / boilerplate-injection duplicates that document-level
    Jaccard (jaccard_pairs) dilutes away and exact_dedup cannot see.

    Spark-first shape: a w-token sliding window IS a w-gram shingle, so
    this is the SAME inverted-index core as jaccard_pairs
    (``_pair_overlap``): per-doc-distinct windows fingerprint to 60-bit
    portable hashes at the scan (shuffles carry 8-byte longs, never
    text), posting lists generate only the strict upper triangle, and
    ``max_df`` caps the pair expansion — a window shared by more than
    ``max_df`` docs is boilerplate whose cluster the exact-dedup pass
    owns (the dedup_phash_band cap argument); with the cap the
    expansion is Sum df^2 <= max_df * Sum df, linear in corpus windows.
    ``w`` defaults to 30 (not Lee's 50) because the fixture's documents
    average ~54 tokens; production corpora pass w=50."""
    return _pair_overlap(docs, w, max_df).select(
        "doc_a", "doc_b", F.col("shared").alias("shared_windows")
    )


# (doc_id, n_sh) packing for _pair_overlap's posting lists: doc_id in
# the high 43 bits, n_sh in the low 20. Bounds enforced LOUDLY per row
# (a silent wrap would corrupt pair identities); ordering by packed
# value == ordering by doc_id (doc_id leads and is unique per list),
# which is what the upper-triangle generation sorts on.
_PACK_BITS = 20
_PACK_SHIFT = 1 << _PACK_BITS
_PACK_MAX_DOC = (1 << 43) - 1


def _pack_doc_nsh() -> Column:
    """``doc_id * 2^20 + n_sh`` with a codegen'd range guard: raises
    (never wraps) on doc_id outside [0, 2^43) or n_sh >= 2^20 — a
    >1M-distinct-shingle document or a hashed id space must be remapped
    by the caller, not silently mis-paired. The arithmetic is forced to
    LONG regardless of the input schema (r16 advice): with an
    IntegerType doc_id (jaccard_pairs/containment_pairs are public
    operators) and ANSI off, the multiply would otherwise run in int32
    and wrap for doc_id >= 2048 even though the guard (which compares
    against long literals) passes."""
    doc = F.col("doc_id").cast("long")
    nsh = F.col("n_sh").cast("long")
    ok = (doc >= 0) & (doc <= _PACK_MAX_DOC) & (nsh < _PACK_SHIFT)
    return F.when(ok, doc * _PACK_SHIFT + nsh).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "dedup pair packing out of range (need 0 <= doc_id < 2^43"
                    ", n_sh < 2^20): doc_id="
                ),
                F.col("doc_id").cast("string"),
                F.lit(" n_sh="),
                F.col("n_sh").cast("string"),
                F.lit(" — remap doc ids to a dense range or split the doc"),
            )
        ).cast("long")
    )


def _pair_overlap(docs: DataFrame, n: int, max_df: int | None) -> DataFrame:
    """Shared inverted-index core of jaccard_pairs/containment_pairs:
    (doc_a, doc_b, shared, na, nb) for every pair sharing >= 1
    fingerprint, two shuffles, zero joins (see jaccard_pairs for the
    full scale rationale)."""
    # Shingles become 60-bit portable fingerprints scan-side (same
    # contract as minhash_lsh_pairs: fingerprint-set Jaccard, md5-based
    # so the oracle reproduces collisions identically) — the inverted
    # index then shuffles 8-byte longs instead of ~25-byte strings,
    # through BOTH shuffles (shingle-keyed agg + pair agg feed).
    #
    # (doc_id, n_sh) rides the posting lists PACKED into one long
    # (_pack_doc_nsh) instead of a 2-long struct: the pair expansion —
    # the measured CPU center of the whole dedup family at the 100x
    # envelope (SCALE.md r15: 871 s of dedup_clusters' 1376 s task
    # time) — then sorts, explodes, shuffles and aggregates single
    # longs, and the pair aggregate's key IS the (doc, n_sh) pair, so
    # the min(na)/min(nb) carry aggregates disappear entirely. Measured
    # at 100x docs (500k): full jaccard_pairs 42.0 -> 24.5 s (1.7x);
    # output bit-identical (packing is invisible to every consumer —
    # the fingerprint family is untouched, so oracles need no change).
    sh = shingles(docs, n, with_size=True).select(
        _pack_doc_nsh().alias("pk"), portable_hash60("shingle").alias("h")
    )
    # sort_array at agg time: posting lists are sorted by doc_id (the
    # packed long's high bits; unique within a list), so the strict
    # upper triangle can be GENERATED (posexplode + suffix slice from
    # i+2, 1-based) instead of generated-square-then-filtered — the
    # slice carries only the suffixes (Σ df²/2 elements through the
    # Generate) and emits no filtered rows. Half the bytes through the
    # expansion — the half that matters at 100 TB.
    counted = sh.groupBy("h").agg(
        F.sort_array(F.collect_list("pk")).alias("ds"),
        F.count("*").alias("df"),
    )
    inv = counted if max_df is None else counted.where(F.col("df") <= max_df)
    pairs = (
        inv.select(F.col("ds"), F.posexplode("ds").alias("i", "a"))
        .select("a", F.explode(F.expr("slice(ds, i+2, size(ds))")).alias("b"))
    )
    shared = pairs.groupBy("a", "b").agg(F.count("*").alias("shared"))
    # exact bitwise decode (NOT division: a double quotient loses
    # mantissa bits above 2^53, silently corrupting large doc ids)
    return shared.select(
        F.shiftright("a", _PACK_BITS).alias("doc_a"),
        F.shiftright("b", _PACK_BITS).alias("doc_b"),
        "shared",
        F.col("a").bitwiseAND(F.lit(_PACK_SHIFT - 1)).alias("na"),
        F.col("b").bitwiseAND(F.lit(_PACK_SHIFT - 1)).alias("nb"),
    )


# Above this estimated shingle-row count the two multiply-consumed
# minhash relations (fingerprints, signatures) are STREAMED into scratch
# parquet tables instead of localCheckpoint-pinned: the checkpoint holds
# one serialized per-task block in heap simultaneously, and the 100x docs
# fixture (500k docs, ~26M fingerprint rows) rides that against the 8g
# heap envelope — every conf that completes at all clusters at 63-76 s on
# GC luck (SCALE.md r12 bisection). Streamed writes are constant-memory;
# consumers re-scan files. The bound is estimated WITHOUT shingling
# anything: Σ max(words - n + 1, 0) over docs is an upper bound on
# distinct shingle rows and is one cheap codegen'd scan aggregate.
_MINHASH_PIN_ROWS_MAX = 8_000_000


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.6,
    cache_key: tuple | None = None,
) -> DataFrame:
    """Near-dup candidate pairs via MinHash banding, verified with exact
    Jaccard. Returns (doc_a, doc_b, jaccard >= threshold).

    ``cache_key``: optional identity of ``docs`` (e.g. the sf_dir) —
    lets the big-corpus path reuse its streamed scratch tables across
    invocations (``_staging.staged`` entries; see _MINHASH_PIN_ROWS_MAX)."""

    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    # Physical-strategy knob BEFORE any data-sized materialization (the
    # graph_pagerank two-knob spirit): one codegen'd aggregate over the
    # token counts upper-bounds the fingerprint relation's rows and
    # picks checkpoint-pin (fast, memory-first — every fixture scale)
    # vs streamed scratch tables (constant-memory — the 100x envelope).
    # Cache-first: if BOTH streamed tables are already staged for this
    # cache_key, the big verdict is implied and the estimate scan (a
    # full docs pass) is skipped — the repeat-invocation path the cache
    # exists for must not re-scan the corpus just to re-derive `big`.
    big = cache_key is not None and all(
        is_pinned(docs.sparkSession, p, cache_key + extra)
        for p, extra in (("mh_sh", (n,)), ("mh_sig", (n, num_hashes)))
    )
    if not big:
        sh_rows_est = docs.agg(
            F.sum(
                F.greatest(
                    F.size(F.split(F.lower(F.col("text")), " ")) - n + 1, F.lit(0)
                )
            ).alias("s")
        ).collect()[0]["s"]  # 1-row contract-bounded collect
        big = (sh_rows_est or 0) > _MINHASH_PIN_ROWS_MAX

    def _pin(df: DataFrame, prefix: str, key_extra: tuple) -> DataFrame:
        ck = None if cache_key is None else cache_key + key_extra
        return pin(df, big, prefix, cache_key=ck)

    # Materialize the shingle set ONCE — as 60-bit portable fingerprints,
    # not strings. Three branches read it (the signature aggregate and
    # the two sides of the verify join), and each would otherwise
    # re-evaluate the interpreted n-gram lambda over the full corpus —
    # ReuseExchange can't help because the three consumers shuffle on
    # different keys. Hashing BEFORE the checkpoint (one codegen'd md5
    # per shingle row, scan-side) means (a) the materialization holds 3
    # longs per row instead of a ~25-byte string, (b) the signature
    # branch needs no hash stage of its own, and (c) the verify joins
    # shuffle and compare longs. The verify therefore intersects
    # FINGERPRINTS, not strings: a 60-bit within-doc collision
    # (p ~ n_sh²/2^61 per doc) could in principle perturb a Jaccard,
    # but the oracle intersects the identical md5-derived fingerprints,
    # so both engines would see the same perturbation — the contract is
    # fingerprint-set Jaccard, bit-reproducible anywhere with md5().
    # At 100 TB this is the standard persist-the-tokenization trade:
    # one materialization of Σ tokens rows vs three corpus re-scans.
    # The pin is SERIALIZED MEMORY_AND_DISK, not the deserialized
    # default: this relation is O(Σ tokens) — the one data-sized
    # materialization in the plan — and deserialized JVM rows cost
    # ~4x the serialized bytes. Measured at 100x docs (500k, 26M
    # fingerprint rows) on the 8g single-JVM harness: the deserialized
    # default GC-thrashes to death, the serialized pin completes
    # (SCALE.md r11); on a cluster the same sizing rule decides
    # whether an executor's slice fits its storage fraction. Above
    # _MINHASH_PIN_ROWS_MAX even the serialized pin rides the heap
    # envelope (the r12 63-76 s GC-luck cluster) — _pin streams it
    # into a scratch table instead.
    sh = _pin(
        shingles(docs, n, with_size=True).select(
            "doc_id", "n_sh", portable_hash60("shingle").alias("h")
        ),
        "mh_sh",
        (n,),
    )
    # k hash functions from ONE portable base hash + k affine maps (see
    # portable_hash60): k codegen'd integer ops on the checkpointed
    # fingerprint — cheaper than k seeded-xxhash64 calls AND
    # reproducible by the DuckDB oracle, so the full LSH output is
    # hash-checked, not rows-only. Deliberately exploded rows +
    # codegen'd projection + groupBy min, NOT scan-side
    # array_min(transform(...)) per seed: the HOF variant eliminates
    # the signature shuffle but runs k interpreted array walks per doc,
    # measured 1.5-2x slower end-to-end at sf0.1 (and the shuffle it
    # saves is small: one row per doc of k longs). CPU-bound hashing
    # wants whole-stage codegen at any scale.
    based = sh.select("doc_id", (F.col("h") % PORTABLE_PRIME).alias("__h"))
    hashed = based.select(
        "doc_id",
        *[
            ((F.lit(a) * F.col("__h") + F.lit(b)) % PORTABLE_PRIME).alias(f"h{i}")
            for i, (a, b) in ((i, affine_coeffs(i)) for i in range(num_hashes))
        ],
    )
    # The signature relation is pinned too (serialized — one row of k
    # longs per doc, #docs-sized): the band-bucket SELF-join consumes it
    # on BOTH sides, and without the pin each side re-runs the entire
    # signature pipeline — the k-way min HashAggregate (whose
    # BytesToBytesMap pages are the plan's largest allocations) plus the
    # band explode, TWICE, concurrently. Measured at 100x docs (500k) on
    # the 8g/32-thread harness: the unpinned twin GC-thrashes to death
    # in exactly that duplicated aggregate; pinned, the sweep completes
    # (SCALE.md r11). The accurate post-pin stats also let the planner
    # judge the self-join and verify joins from real sizes instead of
    # guessing under the duplicated-subtree estimate.
    sig = _pin(
        hashed.groupBy("doc_id").agg(
            *[F.min(f"h{i}").alias(f"m{i}") for i in range(num_hashes)],
        ),
        "mh_sig",
        (n, num_hashes),
    )
    # Band key = the band's minhash tuple rendered as a string — an
    # engine-neutral join key (the previous xxhash64-of-band-columns key
    # was Spark-private). Slightly wider shuffle rows (one short string
    # vs one long per band), same join shape.
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ",", *[F.col(f"m{b * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("sig"),
            )
            for b in range(bands)
        ]
    )
    buckets = sig.select("doc_id", F.explode(band_structs).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.sig").alias("sig")
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # Exact verify only on candidates: intersect fingerprint sets by
    # join (long equi-keys — see the checkpoint note above). The
    # checkpointed rows carry n_sh (stamped scan-side), so the Jaccard
    # denominators fall out of the verify aggregate itself — no per-doc
    # sizes relation, no sizes join (a sizes table is one row per doc:
    # billions at 100 TB, not broadcastable).
    sh_a = sh.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"), "h"
    )
    sh_b = sh.select(
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"),
        F.col("h").alias("h_b"),
    )
    shared = (
        cand.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .where(F.col("h") == F.col("h_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared"), F.min("na").alias("na"), F.min("nb").alias("nb"))
    )
    jac = F.col("shared").cast("double") / (F.col("na") + F.col("nb") - F.col("shared"))
    return (
        shared.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def incremental_jaccard_pairs(
    new: DataFrame,
    old: DataFrame,
    n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Exact n-gram Jaccard pairs BETWEEN a new batch and an existing
    corpus — the daily-increment production pattern: yesterday's corpus
    is already internally deduped, so today's run must only compare
    new-vs-old (and new-vs-new via ``jaccard_pairs`` on the small
    batch), never re-pair old-vs-old.

    Plan shape: bipartite inverted index as ONE equi-join on shingle +
    one pair aggregate. Expansion is Σ_s df_new(s)·df_old(s) — linear
    in the (small) batch side's posting mass, NOT quadratic in the
    corpus; at 100 TB the corpus side's scan is the cost floor and the
    join shuffles hashed shingles. Denominators ride scan-side ``n_sh``
    exactly like ``jaccard_pairs`` (no sizes relation, no sizes join).
    Corpus-hot stop-shingles are the fanout risk: pre-filter the OLD
    side by document frequency (the ``max_df`` analog) before the join
    when the corpus has boilerplate.
    """
    shn = shingles(new, n, with_size=True).select(
        F.col("doc_id").alias("new_doc"), F.col("n_sh").alias("na"),
        portable_hash60("shingle").alias("h"),
    )
    sho = shingles(old, n, with_size=True).select(
        F.col("doc_id").alias("old_doc"), F.col("n_sh").alias("nb"),
        portable_hash60("shingle").alias("h"),
    )
    shared = (
        shn.join(sho, "h")
        .groupBy("new_doc", "old_doc")
        .agg(F.count(F.lit(1)).alias("shared"), F.min("na").alias("na"), F.min("nb").alias("nb"))
    )
    jac = F.col("shared").cast("double") / (F.col("na") + F.col("nb") - F.col("shared"))
    return (
        shared.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("new_doc", "old_doc", "shared", "jaccard")
    )


def editdist_pairs(
    docs: DataFrame,
    band_width: int = 64,
    prefix: int = 200,
    max_dist: int = 20,
    max_candidate_pairs: int | None = 100_000_000,
) -> DataFrame:
    """Near-dup pairs by bounded Levenshtein distance on normalized
    prefixes, found WITHOUT an all-pairs comparison.

    Blocking: two docs within ``band_width`` characters of each other in
    length land in the same or adjacent ``n_chars // band_width`` bands,
    so the probe side emits each doc into its three neighboring bands
    and candidates come from an equi-join on (lang, band) — the same
    banding shape as the range/simhash joins. Within-bucket cost is
    quadratic in bucket occupancy (bounded by the corpus length
    histogram, tunable via ``band_width``), never in the corpus. The
    verify is Spark's threshold-capped ``levenshtein(a, b, t)`` —
    O(t·min(len)) per pair instead of O(len²), on a ``prefix``-capped
    slice so a single pair can never cost more than t·prefix — all
    codegen'd JVM, no Python.

    The length prefilter |Δn_chars| <= band_width is part of the
    declared semantics, like ``max_df`` for Jaccard: pairs further
    apart in raw length than one band are out of scope by definition
    (and since edit distance lower-bounds at the length difference,
    wildly different-length docs could not be near-dups anyway).

    Second blocking signal (round 9): a character-histogram L1 bound
    evaluated per candidate BEFORE the levenshtein. Each edit changes
    at most two character counts by one, so lev(pa, pb) <= t implies
    Σ_c |count_a(c) - count_b(c)| <= 2t — and the inequality still
    holds when the sum runs over any SUBSET of the alphabet (here
    a-z + space over the lowercased prefix; unlisted characters only
    make the bound looser, never wrong — recall stays exactly 1.0).
    The 27 counts are built scan-side as one array<int> (27 codegen'd
    length-of-replace expressions per doc, linear); the per-pair check
    is an unrolled codegen'd abs-diff sum. Measured at sf0.1: 782,322
    band candidates -> 42,864 survivors (94.5% rejected). The bound
    lives in the JOIN condition ordered ahead of the levenshtein
    conjuncts, so the plan — not conjunct ordering luck — guarantees
    levenshtein never sees a rejected pair (a post-join ``.where``
    gets merged AHEAD of the join's own conjuncts by Catalyst).

    The probe side also routes through ``spread_small_scan``: a small
    corpus arrives as one parquet split, and the quadratic-in-bucket
    verify stage would otherwise run on ONE core (measured 7.3 s ->
    0.6 s at sf0.1 just from spreading; at real scale the scan already
    has >= defaultParallelism splits and the branch is a no-op).

    ``max_candidate_pairs`` is the cost-model guard: measured cost is
    ~0.9 ms per candidate pair (SCALE.md), and the candidate count
    rides the corpus LENGTH HISTOGRAM (Σ over (lang, band-pair) of
    occupancy products), which nothing else bounds — a skewed corpus
    (many same-language docs of near-identical length) silently turns
    this into a multi-hour stage. Before building the join, an upper
    bound on the candidate count is computed from the (lang, band)
    occupancy histogram alone — two tiny aggregates, never the join
    itself — and the operator FAILS LOUDLY with the estimate and the
    knobs to turn (shrink ``band_width``, raise the budget) instead of
    degrading into an invisible 10-hour stage. ``None`` disables.
    """

    if max_candidate_pairs is not None:
        # Pinned: the estimate self-joins this tiny (lang, band)
        # histogram, and unpinned each side re-scans the corpus for
        # the occupancy aggregate (the minhash self-join lesson,
        # SCALE.md r11 — here the pin is rows-of-counts, KB).
        occ = pin(
            docs.groupBy("lang", F.expr(f"n_chars div {band_width}").alias("band"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        a, b = occ.alias("a"), occ.alias("b")
        # occupancy products in DOUBLE: a single hot block of ~3e9 docs
        # puts n_a*n_b past 2^63, and under ANSI mode (the Spark 4
        # default) a BIGINT product would raise ARITHMETIC_OVERFLOW in
        # exactly the regime this guard exists to diagnose — the
        # estimate needs magnitude, not exactness.
        est_row = (
            a.join(
                b,
                (F.col("a.lang") == F.col("b.lang"))
                & (F.col("b.band") - F.col("a.band")).between(-1, 1),
            )
            .agg(
                F.sum(F.col("a.n").cast("double") * F.col("b.n").cast("double")).alias(
                    "est"
                )
            )
            .collect()[0]
        )
        est = int((est_row["est"] or 0.0) // 2)  # ordered -> unordered pairs
        if est > max_candidate_pairs:
            raise ValueError(
                f"editdist_pairs: blocked candidate estimate {est:,} pairs "
                f"exceeds max_candidate_pairs={max_candidate_pairs:,} "
                f"(<= ~{est * 0.9e-3 / 3600:.1f} CPU-hours at the measured "
                f"0.9 ms/pair; an upper bound — the histogram-L1 prefilter "
                f"rejects corpus-dependently, 94% on the fixture, before "
                f"levenshtein runs). The corpus length histogram is too "
                f"concentrated for band_width={band_width}: shrink "
                f"band_width to split hot (lang, length) blocks, raise "
                f"max_candidate_pairs deliberately, or pass None to "
                f"disable the guard."
            )
    hist_chars = [chr(c) for c in range(ord("a"), ord("z") + 1)] + [" "]
    hist = F.array(
        *[
            (
                F.length("p") - F.length(F.replace(F.col("p"), F.lit(ch), F.lit("")))
            ).cast("int")
            for ch in hist_chars
        ]
    )
    d = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.expr(f"n_chars div {band_width}").alias("band"),
        F.substring(F.lower("text"), 1, prefix).alias("p"),
    ).withColumn("h", hist)
    probe = d.select(
        F.col("doc_id").alias("doc_a"),
        F.col("lang"),
        F.col("n_chars").alias("na"),
        F.col("p").alias("pa"),
        F.col("h").alias("ha"),
        F.explode(
            F.array(F.col("band") - 1, F.col("band"), F.col("band") + 1)
        ).alias("pb"),
    )
    build = d.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang"),
        F.col("n_chars").alias("nb"),
        F.col("p").alias("pb_text"),
        F.col("h").alias("hb"),
        F.col("band"),
    )
    probe = spread_small_scan(probe)
    # Codegen'd L1: an explicit GetArrayItem abs-diff sum, NOT
    # F.aggregate/F.zip_with — the lambda HOFs are CodegenFallback, and
    # one interpreted conjunct knocked the whole join condition out of
    # whole-stage codegen (measured: the HOF form made the join 3x
    # SLOWER than no prefilter at all; the unrolled form is free).
    l1 = sum(
        (F.abs(probe["ha"].getItem(i) - build["hb"].getItem(i)) for i in range(1, len(hist_chars))),
        F.abs(probe["ha"].getItem(0) - build["hb"].getItem(0)),
    )
    dist = F.levenshtein(F.col("pa"), F.col("pb_text"), max_dist)
    # The distance predicate lives in the JOIN condition, ordered AFTER
    # the L1 bound: a post-join `.where(dist <= t)` gets merged into
    # the join condition by Catalyst AHEAD of the original conjuncts
    # (measured: levenshtein ran on all 782k candidates and the L1
    # gate bought nothing), while conjuncts written in one condition
    # keep their order and short-circuit left-to-right in codegen.
    return (
        probe.join(
            build,
            (probe["lang"] == build["lang"])
            & (probe["pb"] == build["band"])
            & (probe["doc_a"] < build["doc_b"])
            & (F.abs(probe["na"] - build["nb"]) <= band_width)
            & (l1 <= 2 * max_dist)
            & (dist >= 0)
            & (dist <= max_dist),
        )
        .select("doc_a", "doc_b", dist.alias("dist"))
    )


def simhash_fingerprints(docs: DataFrame, bits: int = 32) -> DataFrame:
    """Charikar SimHash: per-token portable 60-bit hash (see
    portable_hash60 — reproducible by the DuckDB oracle, so fingerprints
    are hash-checked); each fingerprint bit is the sign of the summed
    +/-1 contributions of that bit across tokens. One explode + one
    aggregate — linear, shuffle on doc_id only. ``bits`` must be <= 60
    (the portable base hash width)."""
    assert bits <= 60, "portable base hash is 60 bits wide"
    tok = spread_small_scan(docs.select("doc_id", "text")).select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token")
    ).withColumn("h", portable_hash60("token"))
    bit_sums = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(bits)
        ]
    )
    fp = reduce(
        lambda acc, b: acc + F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0)),
        range(1, bits),
        F.when(F.col("s0") > 0, F.lit(1)).otherwise(F.lit(0)),
    )
    return bit_sums.select("doc_id", fp.cast("long").alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    bits: int = 32,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs whose SimHash fingerprints differ in at most
    ``max_hamming`` bits, found WITHOUT an all-pairs comparison.

    Pigeonhole banding (Manku et al., WWW'07 — the Google near-dup
    paper's trick): split the fingerprint into ``max_hamming + 1``
    equal bands; any pair within the Hamming radius must agree exactly
    on at least one band, so candidates come from an equi-join on
    (band index, band value) — sub-quadratic like MinHash banding, with
    recall 1.0 (the guarantee is exact, not probabilistic). Verify is a
    codegen'd ``bit_count(a XOR b)`` on the candidates only.
    """

    n_bands = max_hamming + 1
    assert bits % n_bands == 0, "bits must divide into max_hamming+1 bands"
    w = bits // n_bands
    mask = (1 << w) - 1
    # Pinned for the same reason minhash pins its signature relation
    # (see minhash_lsh_pairs): the banding SELF-join consumes this on
    # both sides, and unpinned each side re-runs the whole fingerprint
    # pipeline — the corpus token explode plus the `bits`-column
    # conditional-sum aggregate, the exact wide-aggregate shape that
    # GC-thrashed minhash at 100x docs. One row of (doc_id, long) per
    # doc.
    fp = pin(simhash_fingerprints(docs, bits))
    band_structs = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                F.shiftright("simhash", j * w).bitwiseAND(F.lit(mask)).alias("bval"),
            )
            for j in range(n_bands)
        ]
    )
    banded = fp.select("doc_id", "simhash", F.explode(band_structs).alias("bk")).select(
        "doc_id", "simhash", F.col("bk.band").alias("band"), F.col("bk.bval").alias("bval")
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def prefix_dup_flags(
    docs: DataFrame, text_col: str = "norm_text", id_col: str = "doc_id"
) -> DataFrame:
    """Prefix-duplicate detection: flag every document whose text is a
    PREFIX of another document's text (the truncated-crawl / partial
    re-scrape signature exact-hash dedup misses) plus exact duplicates,
    via the lexicographic-successor identity: X is a prefix of SOME
    document iff X is a prefix of its immediate successor in the global
    (text, id) sort order — any document starting with X sorts >= X,
    and the least such is the successor, which must itself start with X
    if any does. One comparison per document instead of an all-pairs or
    inverted-index join.

    Scale shape — a GLOBAL-ORDER lead without the single-task window:
    a bare ``lead() OVER (ORDER BY ...)`` plans one WindowExec task at
    any scale. Instead: range-repartition + in-partition sort, pin the
    partitioning with an eager localCheckpoint (two consumers would
    otherwise re-sample DIFFERENT range boundaries), lead() per
    physical partition (``spark_partition_id`` as the window key — the
    hash exchange on pid keeps each range block whole), and stitch the
    P partition boundaries with an O(P)-row successor relation: each
    partition's (first text) shifted down one slot by a lead() over
    the P-row firsts relation (a bounded window — P is the partition
    count, never the data), broadcast-joined back onto each
    partition's last row. No driver collect and no text embedded in
    the plan as literals — a create_map of full boundary documents
    would inline P long strings into the expression tree, the
    giant-literal regime that breaks codegen. Output rows only for
    flagged docs: O(dups).
    """

    d = pin(
        docs.select(id_col, text_col)
        .repartitionByRange(F.col(text_col), F.col(id_col))
        .sortWithinPartitions(text_col, id_col)
        .withColumn("__pid", F.spark_partition_id())
    )
    w = W.partitionBy("__pid").orderBy(text_col, id_col)
    led = d.withColumn("__nxt", F.lead(text_col).over(w))
    firsts = d.groupBy("__pid").agg(
        F.min(F.struct(F.col(text_col).alias("t"), F.col(id_col).alias("i"))).alias("f")
    )
    # lead over the P-row firsts relation: partition p's boundary is the
    # first text of the next NON-EMPTY partition (empty range partitions
    # simply have no row here, so lead skips them naturally)
    bnd = firsts.select(
        "__pid", F.lead("f.t").over(W.orderBy("__pid")).alias("__succ_first")
    )
    led = led.join(F.broadcast(bnd), "__pid", "left").withColumn(
        "__nxt", F.coalesce(F.col("__nxt"), F.col("__succ_first"))
    )
    t, nxt = F.col(text_col), F.col("__nxt")
    return (
        led.where(nxt.isNotNull() & nxt.startswith(t))
        .select(
            id_col,
            F.when(nxt == t, F.lit("exact")).otherwise(F.lit("prefix")).alias("dup_kind"),
            F.length(t).cast("long").alias("n_norm"),
        )
    )
