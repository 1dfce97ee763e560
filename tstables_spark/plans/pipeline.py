"""Training-data pipeline plans beyond Table B's baseline set:
deterministic sampling / splits, vocabulary statistics, sequence
packing, SimHash pair dedup, per-label embedding centroids.

These are the corpus-preparation operators a 100 TB pretraining
pipeline runs between raw ingest and tokenized shards; each docstring
states the scale-shape argument for its plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tstables_spark.operators.components import connected_components
from tstables_spark.operators.dedup import jaccard_pairs, simhash_pairs
from tstables_spark.operators.packing import pack_sequences
from tstables_spark.operators.sampling import hash_sample, hash_split
from tstables_spark.plans._portable_sql import simhash_fp_sql
from tstables_spark.plans._textnorm import norm_sql as _norm_sql
from tstables_spark.plans._textnorm import norm_text as _norm_text
from tstables_spark.plans.registry import query
from tstables_spark.plans.tables import load


# -- deterministic sampling / splitting ------------------------------------
@query(
    "sample_hash",
    oracle="""
    SELECT doc_id, source, lang, n_chars FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '40'
    """,
)
def sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~25% sample (64/256 md5 buckets) of documents —
    membership is a pure function of doc_id (operators/sampling.py), so
    the sample is reproducible across runs, partitionings, and engines;
    the gate is a codegen'd scan-level filter with no shuffle. The
    oracle is the literal same expression, which is the point."""
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "lang", "n_chars")
    return hash_sample(d, "doc_id", 64)


@query(
    "split_train_test",
    oracle="""
    WITH s AS (
      SELECT source,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e7' THEN 'val'
                  ELSE 'test' END AS split
      FROM documents)
    SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs
    FROM s GROUP BY source, split
    """,
)
def split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-keyed train/val/test split (205/26/25 of 256 buckets ≈
    80/10/10) aggregated per source. Because membership hangs off
    md5(doc_id), a document can never migrate between splits when the
    corpus is re-sharded or re-sampled — the leakage guarantee RNG
    splits don't give."""
    d = load(spark, sf_dir, "documents")
    return (
        hash_split(d, "doc_id")
        .groupBy("source", "split")
        .agg(F.count("*").alias("n_docs"))
    )


@query(
    "split_temporal",
    oracle="""
    SELECT event_id, ts,
           CASE WHEN ts < TIMESTAMP '2024-01-22 00:00:00' THEN 'train'
                WHEN ts < TIMESTAMP '2024-01-26 00:00:00' THEN 'val'
                ELSE 'test' END AS split
    FROM events
    """,
)
def split_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/val/test split of the event stream (train < Jan 22
    <= val < Jan 26 <= test) — the leakage-correct split for anything
    autocorrelated in time: a random or hash split would let the model
    peek at the future of the very series it predicts. Pure codegen'd
    CASE at scan level: no shuffle, no state, and the cutoffs prune
    cleanly on a date-partitioned series."""
    ev = load(spark, sf_dir, "events")
    split = (
        F.when(F.col("ts") < F.lit("2024-01-22 00:00:00").cast("timestamp"), "train")
        .when(F.col("ts") < F.lit("2024-01-26 00:00:00").cast("timestamp"), "val")
        .otherwise("test")
    )
    return ev.select("event_id", "ts", split.alias("split"))


@query(
    "mix_weights",
    oracle="""
    WITH s AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS chars
      FROM documents GROUP BY source),
    t AS (SELECT CAST(count(*) AS BIGINT) AS n_sources,
                 CAST(sum(chars) AS BIGINT) AS total_chars FROM s)
    SELECT s.source, s.n_docs, s.chars,
           CAST(s.chars AS DOUBLE) / CAST(t.total_chars AS DOUBLE) AS natural_share,
           1.0 / CAST(t.n_sources AS DOUBLE) AS target_share,
           (1.0 / CAST(t.n_sources AS DOUBLE))
             / (CAST(s.chars AS DOUBLE) / CAST(t.total_chars AS DOUBLE)) AS weight
    FROM s, t
    """,
)
def mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture reweighting: per-source corpus shares and the
    sampling weight that equalizes the mixture (weight = target_share /
    natural_share, the multiplier a sampler applies per source) — the
    knob every pretraining data pipeline tunes before tokenizing. One
    hash aggregate to per-source totals (exact integer char counts),
    then a 1-row global broadcast back over the handful of sources;
    the IEEE share/weight expressions are stated identically in the
    oracle, so they hash-match bit-for-bit."""
    d = load(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("chars")
    )
    t = s.agg(
        F.count("*").alias("n_sources"), F.sum("chars").alias("total_chars")
    )
    natural = F.col("chars").cast("double") / F.col("total_chars").cast("double")
    target = F.lit(1.0) / F.col("n_sources").cast("double")
    return s.crossJoin(F.broadcast(t)).select(
        "source", "n_docs", "chars",
        natural.alias("natural_share"),
        target.alias("target_share"),
        (target / natural).alias("weight"),
    )


# -- vocabulary -------------------------------------------------------------
@query(
    "vocab_topk",
    oracle="""
    SELECT token, CAST(count(*) AS BIGINT) AS freq
    FROM (SELECT unnest(str_split(lower(text), ' ')) AS token FROM documents)
    GROUP BY token
    ORDER BY freq DESC, token
    LIMIT 100
    """,
)
def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-100 whitespace tokens by frequency
    (ties broken by token for determinism). Explode + count is one
    shuffle with map-side partial aggregation; the global top-k is a
    TakeOrdered over the (already small) distinct-token aggregate, so
    no full sort materializes at any scale."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split(F.lower("text"), " ")).alias("token"))
    return (
        tok.groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), "token")
        .limit(100)
    )


# -- dedup variants ---------------------------------------------------------
@query(
    "dedup_near_maxdf",
    oracle="""
    WITH toks AS (SELECT doc_id, str_split(lower(text), ' ') AS t FROM documents),
    idx AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i FROM toks),
    sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle FROM idx),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    hs AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h FROM sh),
    kept AS (SELECT h FROM hs GROUP BY h HAVING count(*) <= 15),
    shf AS (SELECT hs.doc_id, hs.h FROM hs JOIN kept USING (h)),
    pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
              FROM shf a JOIN shf b ON a.h = b.h AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT p.doc_a, p.doc_b, CAST(p.shared AS BIGINT) AS shared,
           CAST(p.shared AS DOUBLE) / (sa.n_sh + sb.n_sh - p.shared) AS jaccard
    FROM pairs p
    JOIN sizes sa ON p.doc_a = sa.doc_id
    JOIN sizes sb ON p.doc_b = sb.doc_id
    WHERE CAST(p.shared AS DOUBLE) / (sa.n_sh + sb.n_sh - p.shared) >= 0.5
    """,
)
def dedup_near_maxdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard near-dup with the stop-shingle cutoff engaged
    (max_df=15): posting lists longer than 15 docs are dropped before
    pair expansion — the knob that bounds the quadratic fanout at
    100 TB. The oracle pins the fixed semantics: per-doc set sizes (the
    denominator) come from the UNFILTERED shingle sets, so max_df only
    removes shared-shingle evidence and can only lower recall, never
    create pairs (ADVICE r1 finding)."""
    return jaccard_pairs(
        load(spark, sf_dir, "documents"), n=3, threshold=0.5, max_df=15
    )


_SIMHASH_PAIRS_ORACLE = (
    "WITH"
    + simhash_fp_sql(bits=32)
    + """,
    bands AS (
      SELECT doc_id, simhash, j AS band, (simhash >> (j * 8)) & 255 AS bval
      FROM fp, unnest(generate_series(0, 3)) AS t(j)),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    a.simhash AS sim_a, b.simhash AS sim_b
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(sim_a, sim_b)) <= 3
    """
)


@query("dedup_simhash_pairs", oracle=_SIMHASH_PAIRS_ORACLE)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance <= 3 via pigeonhole
    banding (operators/dedup.py::simhash_pairs): 4 bands of 8 bits,
    equi-join on (band, value), exact bit_count verify on candidates —
    recall 1.0 without the all-pairs product. Hash-checked since r5: the
    portable fingerprint family lets the DuckDB oracle replay the exact
    banding and Hamming verify; the banding-vs-brute-force equivalence
    is additionally pinned by a unit test (tests/test_operators.py)."""
    return simhash_pairs(load(spark, sf_dir, "documents"), bits=32, max_hamming=3)


# -- sequence packing -------------------------------------------------------
@query(
    "pack_sequences",
    oracle="""
    WITH r AS (
      SELECT doc_id, n_chars,
             CAST(sum(n_chars) OVER (ORDER BY doc_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS running
      FROM documents)
    SELECT doc_id, n_chars, running,
           CAST((running - n_chars) // 16384 AS BIGINT) AS pack_id
    FROM r
    """,
)
def pack_sequences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign each document to a 16384-char pack by
    global prefix sum in doc_id order. The oracle's window
    (ORDER BY with no PARTITION BY) is exactly the plan that does NOT
    scale — one task holds every row; the engine computes the same
    prefix sum with the two-phase distributed scan in
    operators/packing.py (partition-local running sums + an O(P)
    driver-side offset exchange), so the answer is identical but the
    work stays parallel at any corpus size."""
    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return pack_sequences(d, "doc_id", "n_chars", budget=16384)


# -- dedup clusters (pairs -> components) -----------------------------------
@query(
    "dedup_clusters",
    oracle="""
    WITH RECURSIVE
    toks AS (SELECT doc_id, str_split(lower(text), ' ') AS t FROM documents),
    idx AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i FROM toks),
    sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle FROM idx),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    hs AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h FROM sh),
    cnt AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
            FROM hs a JOIN hs b ON a.h = b.h AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
    pairs AS (SELECT doc_a, doc_b FROM cnt
              JOIN sizes sa ON cnt.doc_a = sa.doc_id
              JOIN sizes sb ON cnt.doc_b = sb.doc_id
              WHERE CAST(shared AS DOUBLE) / (sa.n_sh + sb.n_sh - shared) >= 0.6),
    sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach AS (SELECT a, b FROM sym
              UNION
              SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a)
    SELECT a AS node, LEAST(a, min(b)) AS component
    FROM reach GROUP BY a
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS from near-dup pairs: connected components over
    the Jaccard>=0.6 pair graph (operators/components.py: one numpy
    kernel task within ``_staging.one_task``'s bound, min-label rounds
    above it). The component id (minimum member) is the
    canonical survivor each duplicate maps to — the last step of the
    dedup pipeline. The oracle computes the same unique fixpoint with a
    recursive-CTE transitive closure, which is exact but quadratic in
    cluster size — fine for an oracle, wrong for 100 TB; min
    propagation ships labels, never closures."""
    # The engine-global AQE initialPartitionNum is flat since r17
    # (the r16 bisection measured the old global x8 taxing THIS
    # query's posting shuffles 1.4x at 100x; session.py inverted the
    # trade), so the plain session is already the fast path.
    pairs = jaccard_pairs(load(spark, sf_dir, "documents"), n=3, threshold=0.6)
    return connected_components(pairs.select("doc_a", "doc_b"))


# -- per-document top terms -------------------------------------------------
@query(
    "doc_top_terms",
    oracle="""
    WITH tf AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(str_split(lower(text), ' ')) AS token
            FROM documents)
      GROUP BY doc_id, token),
    r AS (SELECT doc_id, token, tf,
                 CAST(row_number() OVER (PARTITION BY doc_id
                                         ORDER BY tf DESC, token) AS BIGINT) AS rnk
          FROM tf)
    SELECT doc_id, token, tf, rnk FROM r WHERE rnk <= 3
    """,
)
def doc_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per document by term frequency (ties broken by
    token) — the integer-exact core of TF-IDF keyword extraction (the
    idf log factor is deliberately left out of the oracle-checked
    surface: libm vs JVM transcendentals aren't bit-identical). Explode
    + two-level agg + WindowGroupLimit-pruned rank; one shuffle on
    (doc_id, token), one on doc_id."""
    d = load(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    tf = (
        d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tf").desc(), "token")
    return (
        tf.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
        .select("doc_id", "token", "tf", "rnk")
    )


# -- embedding centroids ----------------------------------------------------
@query(
    "embed_centroid",
    oracle="""
    WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    x AS (SELECT label, v, unnest(generate_series(1, len(v))) AS i FROM e)
    SELECT label, CAST(i - 1 AS INT) AS pos,
           CAST(SUM(CAST(v[i] AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS centroid
    FROM x GROUP BY label, i
    """,
)
def embed_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vector, one row per (label, dimension):
    posexplode + grouped mean. The sum runs in DECIMAL(30,6) (the
    tstables_spark/_exact.py trick) so it is order-independent and bit-identical
    across engines despite Spark's partial-aggregate tree. Flat
    (label, pos, value) output rather than an array column: centroids
    feed the IVF coarse quantizer as a broadcast table, and flat rows
    keep the compare engine-portable."""
    emb = load(spark, sf_dir, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("pos", "x"))
    dec = F.col("x").cast("double").cast("decimal(30,6)")
    return ex.groupBy("label", "pos").agg(
        (F.sum(dec).cast("double") / F.count("*")).alias("centroid")
    )


@query(
    "sample_weighted",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000
          < (n_chars * 1000000) / 4000
    """,
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted Bernoulli sampling: each document keeps with
    probability proportional to its size (n_chars / 4000, capped at 1
    by arithmetic) — the importance-sampling gate training pipelines
    use to bias toward substantive documents while staying
    REPRODUCIBLE: the 'coin flip' is an md5 bucket of the doc id, so
    the same corpus yields the same sample on any engine, any
    partitioning, any day (same contract as sample_hash /
    sample_stratified). All-integer threshold arithmetic — no float
    probability ever compared, so no rounding boundary exists. Pure
    codegen'd scan filter; zero shuffles."""
    d = load(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    ) % 1000000
    return d.where(bucket < (F.col("n_chars") * 1000000) / 4000).select(
        "doc_id", "lang", "n_chars"
    )


@query(
    "dedup_cluster_sizes",
    oracle="""
    WITH RECURSIVE
    toks AS (SELECT doc_id, str_split(lower(text), ' ') AS t FROM documents),
    idx AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i FROM toks),
    sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle FROM idx),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    hs AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h FROM sh),
    cnt AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
            FROM hs a JOIN hs b ON a.h = b.h AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
    pairs AS (SELECT doc_a, doc_b FROM cnt
              JOIN sizes sa ON cnt.doc_a = sa.doc_id
              JOIN sizes sb ON cnt.doc_b = sb.doc_id
              WHERE CAST(shared AS DOUBLE) / (sa.n_sh + sb.n_sh - shared) >= 0.6),
    sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach AS (SELECT a, b FROM sym
              UNION
              SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
    comp AS (SELECT a AS node, LEAST(a, min(b)) AS component
             FROM reach GROUP BY a),
    csz AS (SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY component)
    SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(cluster_size - 1) AS BIGINT) AS removable_docs
    FROM csz GROUP BY cluster_size
    """,
)
def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram + removable-doc accounting —
    the dedup pipeline's REPORT: for each cluster size, how many
    clusters exist and how many documents deleting all-but-one
    survivor would remove (the number a data lead actually asks for
    before signing off a dedup run). Two tiny aggregates on top of the
    connected-components labels; all the heavy lifting is the same
    pair+CC pipeline dedup_clusters runs, so this query also
    regression-pins the component STRUCTURE (size distribution), not
    just per-node labels."""
    from tstables_spark.operators.components import connected_components

    pairs = jaccard_pairs(load(spark, sf_dir, "documents"), n=3, threshold=0.6)
    comp = connected_components(pairs.select("doc_a", "doc_b"))
    csz = comp.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return csz.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters"),
        F.sum(F.col("cluster_size") - 1).cast("long").alias("removable_docs"),
    )


@query(
    "doc_chunk_overlap",
    oracle="""
    WITH toks AS (
      SELECT doc_id, str_split(lower(text), ' ') AS t FROM documents),
    starts AS (
      SELECT doc_id, t, unnest(generate_series(0, len(t) - 1, 48)) AS start
      FROM toks WHERE len(t) >= 1),
    chunks AS (
      SELECT doc_id, start, list_slice(t, start + 1, start + 64) AS c
      FROM starts)
    SELECT doc_id, CAST(start AS BIGINT) AS start_word,
           CAST(len(c) AS BIGINT) AS n_words,
           md5(array_to_string(c, ' ')) AS chunk_hash
    FROM chunks
    """,
)
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG/pretraining chunker: split every document into 64-word
    chunks on a 48-word stride (16-word overlap so no sentence is ever
    split across a boundary without a copy that contains it whole).
    Output is (doc_id, start_word, n_words, chunk_hash) — the md5
    identity of each chunk's text, which is what a chunk-level dedup
    or an embedding-ingest manifest keys on; emitting the hash keeps
    the result relation narrow while still pinning the exact chunk
    CONTENT cross-engine.

    Scale shape: tokenize once, generate start offsets with
    ``sequence`` and slice per offset — all scan-side array ops on the
    already-held token array, zero shuffles, linear in total words
    (each word lands in at most ceil(64/48)=2 chunks). The same
    explode-free-until-the-end discipline as shingles()."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), " ")
    base = d.select("doc_id", toks.alias("t")).where(F.size("t") >= 1)
    starts = base.select(
        "doc_id", "t",
        F.explode(F.sequence(F.lit(0), F.size("t") - 1, F.lit(48))).alias("start"),
    )
    chunk = F.slice("t", F.col("start") + 1, 64)
    return starts.select(
        "doc_id",
        F.col("start").cast("long").alias("start_word"),
        F.size(chunk).cast("long").alias("n_words"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
    )


@query(
    "domain_quota_sample",
    oracle="""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    ) WHERE rn <= 20
    """,
)
def domain_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota sampling: keep at most 20 documents per source,
    chosen by md5(doc_id) order — the domain-balancing step that stops
    one crawl domain from dominating the mixture, reproducible across
    engines and runs because the 'random' order is a content-free
    portable hash, not an RNG.

    Scale shape: one window rank per source partition. The rank is
    EXACT quota enforcement; its cost is a per-source sort, so a
    pathologically hot domain concentrates on one task. At 100 TB with
    known per-domain counts, swap the rank for the zero-shuffle
    md5-bucket threshold filter (sample_hash's shape) at the price of
    a binomial quota instead of an exact one — both forms are
    hash-reproducible; this query pins the exact-quota contract."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("doc_id", "source", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 20)
        .select("doc_id", "source")
    )


@query(
    "pipeline_corpus_funnel",
    oracle="""
    WITH m0 AS (
      SELECT doc_id, lang = 'en' AS is_en,
             md5({norm}) AS h,
             str_split(lower(text), ' ') AS toks
      FROM documents),
    m AS (
      SELECT doc_id, is_en, h,
             CASE WHEN len(toks) >= 2 THEN
               CAST(len(toks) AS BIGINT) >= 20
               AND 1.0 - CAST(len(list_distinct(
                     list_transform(generate_series(1, len(toks) - 1),
                                    i -> toks[i] || ' ' || toks[i+1])))
                     AS DOUBLE)
                   / (len(toks) - 1) <= 0.1
               AND CAST(len(list_filter(toks,
                     x -> x IN ('the', 'a', 'of', 'and'))) AS DOUBLE)
                   / len(toks) >= 0.02
             ELSE FALSE END AS keep_q
      FROM m0),
    rep AS (
      SELECT h, is_en, keep_q FROM (
        SELECT h, is_en, keep_q,
               row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
        FROM m) WHERE rn = 1)
    SELECT 1 AS stage, 'raw' AS stage_name,
           (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs
    UNION ALL
    SELECT 2, 'exact_dedup', CAST(count(*) AS BIGINT) FROM rep
    UNION ALL
    SELECT 3, 'quality', CAST(count(CASE WHEN keep_q THEN 1 END) AS BIGINT)
    FROM rep
    UNION ALL
    SELECT 4, 'english', CAST(count(CASE WHEN keep_q AND is_en THEN 1 END)
                              AS BIGINT) FROM rep
    """.format(norm=_norm_sql("text")),
)
def pipeline_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus-cleaning funnel: raw → exact-dedup survivors
    (min-doc_id representative per normalized-text md5, text_normalize's
    exact normalization) → Gopher-style quality gate (quality_filter's
    predicate: ≥20 tokens, dup-bigram ≤ 0.1, stopword ratio ≥ 0.02) →
    English subset. One row per stage with the surviving doc count —
    the per-stage attrition report every pretraining data run publishes,
    and the audit that catches a gate silently dropping 90% of a crawl.

    Scale shape: ONE scan computes the normalization hash and all
    quality signals scan-side (no explode, no join back); dedup +
    representative selection is a single min-of-struct hash aggregate
    on the text hash (the flags ride the struct, so stages 3–4 need NO
    join back to the corpus); the funnel itself is a 1-row final
    aggregate exploded to 4 rows. Two exchanges total regardless of
    corpus size — each stage is a conditional count over the same
    aggregate, not a separate pass (contrast funnel_steps, which joins
    per stage because its stages live on different rows).

    r17 (guide §4.2 — the per-doc signal kernel): the bigram/stopword
    signals moved from interpreted higher-order expressions
    (transform + concat_ws + array_distinct + filter, evaluated
    per-element outside whole-stage codegen) into one Arrow
    mapInPandas pass that emits THREE INTEGERS per doc; everything
    observable stays JVM-side and bit-identical — lower() and the
    normalization md5 are computed BEFORE the kernel (no Python
    casing/hashing semantics anywhere), Python splits on the literal
    single space (same empty-token behavior as Spark's split
    limit=-1) and counts distinct JOINED "a b" strings (preserving
    the oracle's concat collision semantics — ("a b","c") and
    ("a","b c") join equal), and keep_q's comparisons/divisions run
    on the returned integers in the JVM exactly as before (size(null)
    = -1 mirrored for null text). Measured same-session A/B on the
    100x docs fixture, warm best-of-2: HOF 35.66 s vs kernel 29.84 s
    (1.20x, kernel timed second under rising load) with EQUAL results
    at sf0.01 and 100x; at cluster scale the boundary crossing stays
    executor-local (one-way text stream into the iterator kernel, six
    small columns back — guide §4.1/§4.5)."""
    import pandas as pd

    d = load(spark, sf_dir, "documents")
    norm = _norm_text("text")
    src = d.select(
        "doc_id",
        (F.col("lang") == "en").alias("is_en"),
        F.md5(norm).alias("h"),
        F.lower("text").alias("lt"),
    )

    stop_words = frozenset(("the", "a", "of", "and"))

    def _signals(it):
        for pdf in it:
            n_tok, n_dg2, n_stop = [], [], []
            for s in pdf["lt"]:
                if s is None:
                    n_tok.append(-1)  # Spark's size(null) = -1
                    n_dg2.append(0)
                    n_stop.append(0)
                    continue
                t = s.split(" ")
                n = len(t)
                n_tok.append(n)
                n_stop.append(sum(1 for x in t if x in stop_words))
                n_dg2.append(
                    len({t[i] + " " + t[i + 1] for i in range(n - 1)})
                    if n >= 2
                    else 0
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "is_en": pdf["is_en"],
                    "h": pdf["h"],
                    "n_tokens": pd.Series(n_tok, dtype="int64"),
                    "nd": pd.Series(n_dg2, dtype="int64"),
                    "ns": pd.Series(n_stop, dtype="int64"),
                }
            )

    m0 = src.mapInPandas(
        _signals,
        "doc_id long, is_en boolean, h string, n_tokens long, nd long, ns long",
    )
    dup_frac = F.lit(1.0) - F.col("nd").cast("double") / (F.col("n_tokens") - 1)
    stop_ratio = F.col("ns").cast("double") / F.col("n_tokens")
    keep_q = F.when(
        F.col("n_tokens") >= 2,
        (F.col("n_tokens") >= 20) & (dup_frac <= 0.1) & (stop_ratio >= 0.02),
    ).otherwise(F.lit(False))
    m = m0.select("doc_id", "is_en", "h", keep_q.alias("keep_q"))
    rep = m.groupBy("h").agg(F.min(F.struct("doc_id", "keep_q", "is_en")).alias("r"))
    counts = rep.agg(
        F.count(F.lit(1)).alias("n2"),
        F.count(F.when(F.col("r.keep_q"), 1)).alias("n3"),
        F.count(F.when(F.col("r.keep_q") & F.col("r.is_en"), 1)).alias("n4"),
    ).crossJoin(F.broadcast(d.agg(F.count(F.lit(1)).alias("n1"))))
    stages = F.array(
        F.struct(F.lit(1).alias("stage"), F.lit("raw").alias("stage_name"), F.col("n1").alias("n_docs")),
        F.struct(F.lit(2).alias("stage"), F.lit("exact_dedup").alias("stage_name"), F.col("n2").alias("n_docs")),
        F.struct(F.lit(3).alias("stage"), F.lit("quality").alias("stage_name"), F.col("n3").alias("n_docs")),
        F.struct(F.lit(4).alias("stage"), F.lit("english").alias("stage_name"), F.col("n4").alias("n_docs")),
    )
    return counts.select(F.explode(stages).alias("s")).select("s.*")


@query(
    "vocab_coverage_curve",
    oracle="""
    WITH tok AS (SELECT unnest(str_split(lower(text), ' ')) AS token
                 FROM documents),
    c AS (SELECT token, CAST(count(*) AS BIGINT) AS freq
          FROM tok GROUP BY token),
    r AS (SELECT token, freq,
                 row_number() OVER (ORDER BY freq DESC, token) AS rank,
                 SUM(freq) OVER (ORDER BY freq DESC, token
                                 ROWS UNBOUNDED PRECEDING) AS cum
          FROM c),
    tot AS (SELECT SUM(freq) AS total FROM c),
    th AS (SELECT CAST(unnest([0.5, 0.9, 0.95, 0.99]) AS DOUBLE) AS threshold)
    SELECT th.threshold,
           CAST(min(CASE WHEN CAST(r.cum AS DOUBLE) / CAST(tot.total AS DOUBLE)
                              >= th.threshold
                         THEN r.rank END) AS BIGINT) AS vocab_size,
           CAST(min(tot.total) AS BIGINT) AS total_tokens
    FROM r, tot, th GROUP BY th.threshold
    """,
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: the smallest vocab size (tokens
    ranked by frequency, ties by token) whose cumulative frequency
    covers 50/90/95/99% of all token occurrences — the
    tokenizer-design question ("how big must the vocab be?") answered
    from the corpus itself.

    Scale shape: explode + one keyed partial-agg count, then the
    cumulative frequency over the FULL ranked vocabulary runs through
    operators/packing.py::distributed_cumsum (range-partition on
    (-freq, token), per-partition running sums, O(P) driver offsets) —
    ranking cum AND rank come from one pass with no global-order
    window, unlike the textbook row_number()-over-everything. The
    coverage test is exact-BIGINT / exact-BIGINT — one IEEE division
    against literal thresholds, identical in both engines."""
    from tstables_spark.operators.packing import distributed_cumsum

    d = load(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split(F.lower("text"), " ")).alias("token"))
    counts = tok.groupBy("token").agg(F.count("*").alias("freq"))
    ordered = counts.select(
        "token", "freq", (-F.col("freq")).alias("neg"), F.lit(1).alias("one")
    )
    cum = distributed_cumsum(ordered, ["neg", "token"], ["freq", "one"])
    # grand total = the final cumulative value (freq > 0 so cum_freq is
    # monotone) — read from the checkpointed cumsum output rather than
    # re-tokenizing the whole corpus for one number.
    tot = cum.agg(F.max("cum_freq").alias("total"))
    cov = cum.crossJoin(F.broadcast(tot))
    covered = F.col("cum_freq").cast("double") / F.col("total").cast("double")
    ths = F.explode(
        F.array(*[F.lit(t) for t in (0.5, 0.9, 0.95, 0.99)])
    ).alias("threshold")
    return (
        cov.select(covered.alias("covered"), F.col("cum_one").alias("rank"), "total", ths)
        .groupBy("threshold")
        .agg(
            F.min(F.when(F.col("covered") >= F.col("threshold"), F.col("rank"))).alias(
                "vocab_size"
            ),
            F.min("total").alias("total_tokens"),
        )
    )


@query(
    "mix_temperature",
    oracle="""
    WITH s AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS chars
      FROM documents GROUP BY source),
    w AS (SELECT source, n_docs, chars,
                 CAST(round(sqrt(chars)) AS BIGINT) AS w_int FROM s),
    t AS (SELECT CAST(sum(chars) AS BIGINT) AS total_chars,
                 CAST(sum(w_int) AS BIGINT) AS total_w FROM w)
    SELECT w.source, w.n_docs, w.chars,
           CAST(w.chars AS DOUBLE) / CAST(t.total_chars AS DOUBLE)
             AS natural_share,
           CAST(w.w_int AS DOUBLE) / CAST(t.total_w AS DOUBLE)
             AS temp_share,
           (CAST(w.w_int AS DOUBLE) / CAST(t.total_w AS DOUBLE))
             / (CAST(w.chars AS DOUBLE) / CAST(t.total_chars AS DOUBLE))
             AS weight
    FROM w, t
    """,
)
def mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing at alpha = 0.5 (the multilingual
    / multi-domain rebalancing rule: sample source s proportional to
    share^alpha — flattens the head without mix_weights' full
    equalization). The hazard in cross-engine temperature sampling is
    pow(): libm results differ in the last ulp between engines and a
    SUM over per-source doubles is order-dependent. alpha = 0.5 dodges
    both EXACTLY: sqrt is IEEE-754 correctly rounded (unlike pow), and
    round(sqrt(n)) of a BIGINT can never sit on a .5 boundary (that
    would need sqrt(n) = k + 1/2, i.e. n = k^2 + k + 1/4 — not an
    integer), so the per-source weights are exact BIGINTs and their
    total is an exact integer sum. Every reported share is then one
    IEEE division of exact integers — bit-identical in both engines
    with no rounding anywhere.

    Scale shape: identical to mix_weights — one partial-agg pass to
    per-source totals, a 1-row broadcast back over the handful of
    sources."""
    d = load(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("chars")
    )
    w = s.select(
        "source", "n_docs", "chars",
        F.round(F.sqrt(F.col("chars"))).cast("long").alias("w_int"),
    )
    t = w.agg(
        F.sum("chars").alias("total_chars"), F.sum("w_int").alias("total_w")
    )
    natural = F.col("chars").cast("double") / F.col("total_chars").cast("double")
    temp = F.col("w_int").cast("double") / F.col("total_w").cast("double")
    return w.crossJoin(F.broadcast(t)).select(
        "source", "n_docs", "chars",
        natural.alias("natural_share"),
        temp.alias("temp_share"),
        (temp / natural).alias("weight"),
    )


@query(
    "doc_dup_inflation",
    oracle="""
    WITH h AS (SELECT source, sha256(lower(trim(text))) AS ch FROM documents),
    s AS (SELECT source,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(count(DISTINCT ch) AS BIGINT) AS n_uniq
          FROM h GROUP BY source)
    SELECT source, n_docs, n_uniq,
           CAST(n_docs AS BIGINT) - n_uniq AS n_dup_docs,
           CAST(n_docs AS DOUBLE) / CAST(n_uniq AS DOUBLE) AS inflation
    FROM s
    """,
)
def doc_dup_inflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication inflation: raw docs vs distinct
    normalized-content hashes and their ratio — the first number a
    crawl-quality review asks for ("how much of source X is copies?"),
    and the diagnostic that decides whether the Σdf²-shaped near-dup
    passes need the exact-dedup-first recipe (SCALE.md). One scan-side
    sha256 + a per-source count-distinct aggregate (Expand-free at this
    group count; at 100 TB swap the exact distinct for HLL); the
    inflation ratio is one IEEE division of exact integers."""
    d = load(spark, sf_dir, "documents")
    h = d.select("source", F.sha2(F.lower(F.trim("text")), 256).alias("ch"))
    s = h.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.countDistinct("ch").alias("n_uniq")
    )
    return s.select(
        "source", "n_docs", "n_uniq",
        (F.col("n_docs") - F.col("n_uniq")).alias("n_dup_docs"),
        (F.col("n_docs").cast("double") / F.col("n_uniq").cast("double")).alias(
            "inflation"
        ),
    )


@query(
    "vocab_growth",
    oracle="""
    WITH mx AS (SELECT max(doc_id) AS mid FROM documents),
    toks AS (SELECT least(doc_id * 10 // (mid + 1), 9) AS dec,
                    substr(md5(tok), 1, 16) AS g
             FROM (SELECT doc_id, unnest(str_split(lower(text), ' ')) AS tok
                   FROM documents), mx),
    per_dec AS (SELECT dec, CAST(count(*) AS BIGINT) AS tokens
                FROM toks GROUP BY dec),
    fs AS (SELECT g, min(dec) AS first_dec FROM toks GROUP BY g),
    new_t AS (SELECT first_dec AS dec, CAST(count(*) AS BIGINT) AS new_types
              FROM fs GROUP BY first_dec)
    SELECT p.dec AS decile, p.tokens,
           CAST(sum(p.tokens) OVER (ORDER BY p.dec) AS BIGINT) AS cum_tokens,
           COALESCE(n.new_types, 0) AS new_types,
           CAST(sum(COALESCE(n.new_types, 0)) OVER (ORDER BY p.dec)
                AS BIGINT) AS cum_types
    FROM per_dec p LEFT JOIN new_t n ON p.dec = n.dec
    """,
)
def vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (Heaps' law audit) by ingestion-order
    decile: per tenth of the corpus, token occurrences and NEW distinct
    types (first corpus-wide appearance), plus both cumulative curves —
    the "is new data still adding vocabulary?" curation diagnostic that
    pairs with token_ngram_novelty's per-doc view.

    Scale shape: deciles come from pure doc_id arithmetic against one
    broadcast max (no global row_number over the data-sized documents
    relation); tokens are md5-fingerprinted at the scan (novelty's
    16-byte shuffle-key discipline); both aggregations are partial-agg
    (first-appearance = min over the token-keyed agg); the cumulative
    sums run over the TEN-row decile relation — a bounded window, not a
    data-sized one. Assumes nothing about doc_id density beyond
    monotone-in-ingestion ids: sparse ids just make deciles uneven,
    deterministically on both engines."""
    docs = load(spark, sf_dir, "documents")
    mx = docs.agg(F.max("doc_id").alias("mid"))
    toks = (
        docs.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok"))
        .crossJoin(F.broadcast(mx))
        .select(
            F.least(F.expr("doc_id * 10 DIV (mid + 1)"), F.lit(9)).alias("dec"),
            F.substring(F.md5("tok"), 1, 16).alias("g"),
        )
    )
    per_dec = toks.groupBy("dec").agg(F.count("*").alias("tokens"))
    new_t = (
        toks.groupBy("g")
        .agg(F.min("dec").alias("dec"))
        .groupBy("dec")
        .agg(F.count("*").alias("new_types"))
    )
    from pyspark.sql import Window as W

    cum = W.orderBy("dec").rowsBetween(W.unboundedPreceding, 0)
    return (
        per_dec.join(new_t, "dec", "left")
        .select(
            F.col("dec").alias("decile"),
            "tokens",
            F.sum("tokens").over(cum).cast("long").alias("cum_tokens"),
            F.coalesce("new_types", F.lit(0)).alias("new_types"),
            F.sum(F.coalesce("new_types", F.lit(0)))
            .over(cum)
            .cast("long")
            .alias("cum_types"),
        )
    )
