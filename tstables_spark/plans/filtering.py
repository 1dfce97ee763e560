"""Corpus-filtering plans (round 3): text normalization, Gopher-style
repetition scoring, the composite quality gate, and benchmark
decontamination — the filtering stages a pretraining pipeline runs
between raw ingest and tokenization (Rae et al. 2021 "Scaling Language
Models" app. A for the repetition/quality heuristics; benchmark
decontamination per GPT-3 paper §5 / public reproductions).

All four are pure column expressions or inverted-index equi-joins —
linear scans or bounded shuffles, oracle-checked end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tstables_spark.operators.dedup import shingles
from tstables_spark.operators.sampling import hash_split
from tstables_spark.plans._textnorm import norm_sql, norm_text
from tstables_spark.plans.registry import query
from tstables_spark.plans.tables import load


@query(
    "text_normalize",
    oracle=f"""
    WITH n AS (
      SELECT doc_id, {norm_sql('text')} AS norm_text
      FROM documents)
    SELECT doc_id, norm_text, CAST(length(norm_text) AS BIGINT) AS n_norm
    FROM n
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization: lowercase, whitespace→space FIRST
    (so a newline never glues two words together when punctuation is
    stripped), drop non-alphanumerics, collapse runs, trim — the
    normalization pass exact-dedup and tokenization key on, defined
    once in plans/_textnorm.py (dedup_prefix and
    pipeline_corpus_funnel share it). Pure JVM regex, linear scan, no
    shuffle."""
    d = load(spark, sf_dir, "documents")
    norm = norm_text("text")
    return d.select(
        "doc_id",
        norm.alias("norm_text"),
        F.length(norm).cast("long").alias("n_norm"),
    )


@query(
    "repetition_score",
    oracle="""
    WITH t AS (SELECT doc_id, str_split(lower(text), ' ') AS toks FROM documents),
    g AS (SELECT doc_id,
                 list_transform(generate_series(1, len(toks) - 1),
                                i -> toks[i] || ' ' || toks[i+1]) AS g2
          FROM t WHERE len(toks) >= 2)
    SELECT doc_id,
           CAST(len(g2) AS BIGINT) AS n_2grams,
           CAST(len(list_distinct(g2)) AS BIGINT) AS n_distinct,
           1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2) AS dup_frac
    FROM g
    """,
)
def repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-bigram fraction per document — the Gopher repetition
    filter (high dup_frac = boilerplate/spam/looped generation). The
    bigram list and its distinct count are per-row higher-order
    expressions: no explode, no shuffle, one linear scan. The division
    is int-exact on both engines, so the double is bit-identical."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), " ")
    g2 = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 2),
        lambda i: F.concat_ws(" ", toks[i], toks[i + 1]),
    )
    base = d.where(F.size(toks) >= 2).select(
        "doc_id",
        F.size(g2).cast("long").alias("n_2grams"),
        F.size(F.array_distinct(g2)).cast("long").alias("n_distinct"),
    )
    return base.select(
        "doc_id",
        "n_2grams",
        "n_distinct",
        (F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_2grams")).alias(
            "dup_frac"
        ),
    )


@query(
    "quality_filter",
    oracle="""
    WITH t AS (SELECT doc_id, str_split(lower(text), ' ') AS toks FROM documents),
    s AS (SELECT doc_id, toks,
                 CAST(len(toks) AS BIGINT) AS n_tokens,
                 list_transform(generate_series(1, len(toks) - 1),
                                i -> toks[i] || ' ' || toks[i+1]) AS g2
          FROM t WHERE len(toks) >= 2),
    m AS (SELECT doc_id, n_tokens,
                 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2) AS dup_frac,
                 CAST(len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'and')))
                      AS DOUBLE) / n_tokens AS stop_ratio
          FROM s)
    SELECT doc_id, n_tokens, dup_frac, stop_ratio,
           (n_tokens >= 20 AND dup_frac <= 0.1 AND stop_ratio >= 0.02) AS keep
    FROM m
    """,
)
def quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite pretraining quality gate: length floor + duplicate
    -bigram ceiling + stopword-density floor (the Gopher rule shapes),
    emitting every document with its metrics and the keep verdict —
    downstream stages filter on ``keep``. One linear scan, all
    higher-order column expressions, no shuffle; at 100 TB this is a
    map-only pass whose selectivity feeds the next stage's size
    estimate."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), " ")
    g2 = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 2),
        lambda i: F.concat_ws(" ", toks[i], toks[i + 1]),
    )
    base = d.where(F.size(toks) >= 2).select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(g2).cast("long").alias("__g"),
        F.size(F.array_distinct(g2)).cast("long").alias("__gd"),
        F.size(F.filter(toks, lambda x: x.isin("the", "a", "of", "and")))
        .cast("long")
        .alias("__stop"),
    )
    dup_frac = F.lit(1.0) - F.col("__gd").cast("double") / F.col("__g")
    stop_ratio = F.col("__stop").cast("double") / F.col("n_tokens")
    m = base.select(
        "doc_id", "n_tokens", dup_frac.alias("dup_frac"), stop_ratio.alias("stop_ratio")
    )
    keep = (
        (F.col("n_tokens") >= 20)
        & (F.col("dup_frac") <= 0.1)
        & (F.col("stop_ratio") >= 0.02)
    )
    return m.select("doc_id", "n_tokens", "dup_frac", "stop_ratio", keep.alias("keep"))


@query(
    "decontaminate",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e7' THEN 'val'
                  ELSE 'test' END AS split
      FROM documents),
    toks AS (SELECT doc_id, str_split(lower(text), ' ') AS t FROM documents),
    idx AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 5)) AS i FROM toks),
    sh AS (SELECT DISTINCT doc_id,
                  t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                  t[i+3] || ' ' || t[i+4] || ' ' || t[i+5] AS shingle
           FROM idx),
    tr AS (SELECT sh.doc_id AS train_doc, shingle
           FROM sh JOIN s USING (doc_id) WHERE s.split = 'train'),
    te AS (SELECT sh.doc_id AS test_doc, shingle
           FROM sh JOIN s USING (doc_id) WHERE s.split = 'test')
    SELECT train_doc, test_doc, CAST(count(*) AS BIGINT) AS n_shared
    FROM tr JOIN te USING (shingle)
    GROUP BY 1, 2
    """,
)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: find (train doc, test doc) pairs
    sharing at least one 6-gram across the deterministic hash split —
    the leakage check every serious pretraining run performs before
    training (long-n-gram overlap, GPT-3 §5 style; 6 here because the
    synthetic docs are short). Shape: the same inverted-index equi-join
    as dedup_near, keyed on the 6-gram — long shingles are rare, so
    posting lists are short and the pair fan-out stays near-linear; at
    100 TB you additionally key the join on xxhash64(shingle) to cut
    shuffle bytes (string keys kept here for the cross-engine oracle)
    and cap df like jaccard_pairs(max_df)."""
    docs = load(spark, sf_dir, "documents")
    sp = hash_split(docs, "doc_id").select("doc_id", "split")
    tagged = shingles(docs, 6).join(sp, "doc_id")
    tr = tagged.where(F.col("split") == "train").select(
        F.col("doc_id").alias("train_doc"), "shingle"
    )
    te = tagged.where(F.col("split") == "test").select(
        F.col("doc_id").alias("test_doc"), "shingle"
    )
    return (
        tr.join(te, "shingle")
        .groupBy("train_doc", "test_doc")
        .agg(F.count("*").alias("n_shared"))
    )


@query(
    "pii_redact",
    oracle="""
    SELECT event_id,
           sha256(CAST(user_id AS VARCHAR)) AS user_token,
           regexp_replace(props, '[0-9]+', '#', 'g') AS props_redacted,
           CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT) AS n_redacted
    FROM events
    """,
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identifier redaction before a table leaves the trust boundary —
    the compliance pass a training-data pipeline runs on raw event
    logs: direct identifiers are PSEUDONYMIZED (user_id -> sha-256
    token: stable across tables so joins still work, irreversible
    without the mapping) and free-text payloads are MASKED (every
    numeric run in props replaced — account numbers, zips, phone
    fragments), with a per-row redaction count for audit. Pure JVM
    regex + hash, one linear scan, no shuffle; at 100 TB this is
    map-only and runs at IO speed. Patterns are shared verbatim with
    the DuckDB oracle (simple character classes — identical RE2/Java
    semantics)."""
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.sha2(F.col("user_id").cast("string"), 256).alias("user_token"),
        F.regexp_replace("props", "[0-9]+", "#").alias("props_redacted"),
        F.size(F.expr(r"regexp_extract_all(props, '[0-9]+', 0)"))
        .cast("long")
        .alias("n_redacted"),
    )


@query(
    "dedup_embed_clusters",
    oracle="""
    WITH RECURSIVE
    e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    n AS (SELECT vec_id, label, v, list_sum(list_transform(v, x -> x * x)) AS n2 FROM e),
    p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                 round(list_sum(list_transform(generate_series(1, len(a.v)),
                                               i -> a.v[i] * b.v[i]))
                       / sqrt(a.n2 * b.n2), 4) AS cosine
          FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id),
    pairs AS (SELECT vec_a, vec_b FROM p WHERE cosine >= 0.3),
    sym AS (SELECT vec_a AS a, vec_b AS b FROM pairs
            UNION ALL SELECT vec_b, vec_a FROM pairs),
    reach AS (SELECT a, b FROM sym
              UNION
              SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a)
    SELECT a AS node, LEAST(a, min(b)) AS component
    FROM reach GROUP BY a
    """,
)
def dedup_embed_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic duplicate CLUSTERS: connected components over the
    embedding-cosine near-dup graph (dedup_embed's blocked pairs) — the
    same pairs -> components -> canonical-survivor step dedup_clusters
    applies to the lexical Jaccard graph, here over SEMANTIC duplicates
    (paraphrases, translations, re-renders that share no n-grams). Pair
    generation never leaves the per-block Arrow kernel; components come
    from operators/components.py (one numpy kernel task within
    ``_staging.one_task``'s bound, min-label rounds above it). The
    oracle is the recursive-CTE closure — exact, but quadratic in
    cluster size."""
    from tstables_spark.operators.components import connected_components
    from tstables_spark.operators.similarity import embedding_near_dup_pairs

    pairs = embedding_near_dup_pairs(
        load(spark, sf_dir, "embeddings"), block_col="label", threshold=0.3
    )
    return connected_components(pairs.select("vec_a", "vec_b"), src="vec_a", dst="vec_b")


@query(
    "lm_unigram_score",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(str_split(lower(text), ' ')) AS token
      FROM documents),
    vocab AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
    tot AS (SELECT sum(cnt) AS total FROM vocab),
    per_doc AS (
      SELECT t.doc_id,
             CAST(sum(v.cnt) AS BIGINT) AS sum_counts,
             CAST(count(*) AS BIGINT) AS n_tokens
      FROM toks t JOIN vocab v ON t.token = v.token
      GROUP BY t.doc_id)
    SELECT doc_id, sum_counts, n_tokens,
           CAST(sum_counts AS DOUBLE)
             / (CAST(total AS DOUBLE) * CAST(n_tokens AS DOUBLE)) AS score
    FROM per_doc, tot
    """,
)
def lm_unigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-self-estimated unigram LM fluency score per document — the
    simplified shape of CCNet's LM quality filter: documents whose
    tokens are corpus-typical score high, gibberish scores low. The
    score is the MEAN TOKEN PROBABILITY (sum of corpus counts of the
    doc's tokens, normalized by corpus size and doc length), kept as
    exact integer sums until ONE final double multiply+divide — log-
    probability variants put a transcendental (ln) on every token,
    whose last-ulp engine differences would break the cross-engine
    hash; identical-operand IEEE arithmetic cannot differ.

    Scale shape: the exploded token stream is consumed twice — once by
    the vocab aggregate (token-keyed shuffle, map-side combined), once
    as the scoring join's probe side (vocab broadcasts when it fits,
    else both sides hash on token). The two consumers differ below the
    exchange (one has a partial aggregate), so they are genuinely two
    passes; at 100 TB materialize the tokenization once (the
    persist-the-tokenization trade minhash_lsh_pairs documents) if the
    corpus scan dominates. The corpus total rides a broadcast 1-row
    cross join, never a driver collect.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token"))
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    per_doc = (
        toks.join(vocab, "token")
        .groupBy("doc_id")
        .agg(F.sum("cnt").alias("sum_counts"), F.count(F.lit(1)).alias("n_tokens"))
    )
    return per_doc.crossJoin(F.broadcast(total)).select(
        "doc_id",
        "sum_counts",
        "n_tokens",
        (
            F.col("sum_counts").cast("double")
            / (F.col("total").cast("double") * F.col("n_tokens").cast("double"))
        ).alias("score"),
    )


@query(
    "bpe_pair_counts",
    oracle="""
    WITH w AS (
      SELECT unnest(str_split(lower(text), ' ')) AS word FROM documents),
    p AS (
      SELECT substring(word, i, 2) AS pair
      FROM w CROSS JOIN unnest(generate_series(1, length(word) - 1)) AS u(i)
      WHERE length(word) >= 2)
    SELECT pair, CAST(count(*) AS BIGINT) AS cnt
    FROM p GROUP BY pair
    ORDER BY cnt DESC, pair
    LIMIT 50
    """,
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inner statistic of BPE tokenizer training: adjacent
    symbol-pair frequencies within words, top-50 by count (the pair a
    BPE trainer would merge next, iterated). One explode per character
    position (linear in corpus characters), ONE pair-keyed aggregate
    with map-side combine, and a TakeOrderedAndProject top-k — no
    global sort. Deterministic (cnt, pair) tiebreak makes the LIMIT
    exact cross-engine. At 100 TB the iterated trainer loops this
    query, shrinking the pair space each round; each round is the same
    single-shuffle plan.

    Guard note: Spark's ``sequence(1, n)`` runs DESCENDING when n < 1
    (DuckDB's generate_series is empty) — the ``length >= 2`` filter
    keeps the two engines' position lists identical.
    """
    d = load(spark, sf_dir, "documents")
    w = d.select(F.explode(F.split(F.lower("text"), " ")).alias("word")).where(
        F.length("word") >= 2
    )
    p = w.select(
        F.explode(F.expr("sequence(1, length(word) - 1)")).alias("i"), "word"
    ).select(F.expr("substring(word, i, 2)").alias("pair"))
    return (
        p.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(50)
    )


@query(
    "vocab_oov_rate",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(str_split(lower(text), ' ')) AS token
      FROM documents),
    vocab AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
    head AS (SELECT token FROM vocab ORDER BY cnt DESC, token LIMIT 16)
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(CASE WHEN h.token IS NULL THEN 1 END) AS BIGINT) AS n_oov,
           CAST(count(CASE WHEN h.token IS NULL THEN 1 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS oov_rate
    FROM toks t LEFT JOIN head h ON t.token = h.token
    GROUP BY t.doc_id
    """,
)
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus head
    vocabulary (top-16 tokens by frequency, ties broken
    lexicographically — 16 because the synthetic fixture has only 31
    distinct tokens; a production run uses the tokenizer's real vocab).
    High OOV = the document's tokens will fragment into many subword
    pieces — the signal tokenizer-aware quality filters gate on.

    Scale shape: the head vocab is a TakeOrdered of the token-keyed
    count aggregate (K rows — broadcast by construction, unlike a full
    vocab relation), left-broadcast-joined onto the token stream, then
    one doc-keyed count aggregate. Two shuffles (vocab agg, doc agg);
    the OOV flag itself is free at the join. Rate = one IEEE division
    of exact counts."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token"))
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    head = vocab.orderBy(F.col("cnt").desc(), "token").limit(16).select(
        "token", F.lit(1).alias("in_head")
    )
    return (
        toks.join(F.broadcast(head), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count(F.when(F.col("in_head").isNull(), 1)).alias("n_oov"),
        )
        .select(
            "doc_id", "n_tokens", "n_oov",
            (F.col("n_oov").cast("double") / F.col("n_tokens").cast("double")).alias(
                "oov_rate"
            ),
        )
    )


@query(
    "lm_bigram_score",
    oracle="""
    WITH toks AS (
      SELECT doc_id, str_split(lower(text), ' ') AS t FROM documents),
    big AS (
      SELECT doc_id, t[i] || ' ' || t[i+1] AS bigram
      FROM toks CROSS JOIN unnest(generate_series(1, len(t) - 1)) AS u(i)
      WHERE len(t) >= 2),
    vocab AS (SELECT bigram, count(*) AS cnt FROM big GROUP BY bigram),
    tot AS (SELECT sum(cnt) AS total FROM vocab),
    per_doc AS (
      SELECT b.doc_id,
             CAST(sum(v.cnt) AS BIGINT) AS sum_counts,
             CAST(count(*) AS BIGINT) AS n_bigrams
      FROM big b JOIN vocab v ON b.bigram = v.bigram
      GROUP BY b.doc_id)
    SELECT doc_id, sum_counts, n_bigrams,
           CAST(sum_counts AS DOUBLE)
             / (CAST(total AS DOUBLE) * CAST(n_bigrams AS DOUBLE)) AS score
    FROM per_doc, tot
    """,
)
def lm_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase-level fluency score: mean corpus-typicality of a
    document's word BIGRAMS (lm_unigram_score's order-sensitive
    sibling — a doc of common words in uncommon order scores high on
    unigrams but low here, which is exactly the gibberish/boilerplate
    split CCNet's LM filter wants). Same hash-stability trick as the
    unigram form: exact integer count sums with ONE final IEEE
    multiply+divide, no per-token transcendental.

    Scale shape: positional bigram construction is scan-side
    (``transform`` over the held token array, then one explode);
    the bigram-keyed vocab aggregate and the doc-keyed scoring
    aggregate are the only shuffles, identical to the unigram plan
    with the token stream replaced by the (larger-keyed) bigram
    stream."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), " ")
    base = d.select("doc_id", toks.alias("t")).where(F.size("t") >= 2)
    grams = F.transform(
        F.sequence(F.lit(0), F.size("t") - 2),
        lambda i: F.concat_ws(" ", F.col("t")[i], F.col("t")[i + 1]),
    )
    big = base.select("doc_id", F.explode(grams).alias("bigram"))
    vocab = big.groupBy("bigram").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    per_doc = (
        big.join(vocab, "bigram")
        .groupBy("doc_id")
        .agg(F.sum("cnt").alias("sum_counts"), F.count(F.lit(1)).alias("n_bigrams"))
    )
    return per_doc.crossJoin(F.broadcast(total)).select(
        "doc_id", "sum_counts", "n_bigrams",
        (
            F.col("sum_counts").cast("double")
            / (F.col("total").cast("double") * F.col("n_bigrams").cast("double"))
        ).alias("score"),
    )


# Above this corpus size (summed compressed sizes of the input files,
# _staging.file_stats — file metadata only, NO job) lm_kn_score
# stream-pins its bigram-type relation into a scratch table so the
# model branches read materialized rows instead of re-deriving the
# type aggregate (a corpus scan each). Below it the aggregate stays
# in-plan. BOTH paths are constant-memory (no localCheckpoint
# anywhere), so a misclassification costs one corpus scan, never an
# OOM — which is why a free compressed-bytes heuristic is enough where
# the checkpoint-safety gates (_MINHASH_PIN_ROWS_MAX) must pay a
# counting scan. 64 MB compressed ~ a few hundred MB of text ~
# tens of millions of bigram occurrences.
_KN_PIN_BYTES_MIN = 64 * 1024 * 1024


@query(
    "lm_kn_score",
    oracle="""
    WITH toks AS (
      SELECT doc_id, str_split(lower(text), ' ') AS t FROM documents),
    big AS MATERIALIZED (
      SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      FROM toks CROSS JOIN unnest(generate_series(1, len(t) - 1)) AS u(i)
      WHERE len(t) >= 2),
    bg AS MATERIALIZED (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
      FROM big GROUP BY 1, 2),
    cw1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
                   CAST(count(*) AS BIGINT) AS n1f
            FROM bg GROUP BY 1),
    cw2 AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1b
            FROM bg GROUP BY 1),
    bb AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM bg),
    p AS MATERIALIZED (
      SELECT bg.w1, bg.w2,
             CAST(((CAST(greatest(4 * bg.c12 - 3, 0) AS HUGEINT) * bb.nb
                    + 3 * cw1.n1f * cw2.n1b) * 1000000000000)
                  // (4 * CAST(cw1.c1 AS HUGEINT) * bb.nb) AS BIGINT)
               AS p12
      FROM bg JOIN cw1 ON bg.w1 = cw1.w1
              JOIN cw2 ON bg.w2 = cw2.w2, bb),
    pd AS (
      SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(sum(p.p12) AS BIGINT) AS score12
      FROM big b JOIN p ON b.w1 = p.w1 AND b.w2 = p.w2
      GROUP BY 1)
    SELECT doc_id, n_bigrams, score12,
           round(CAST(score12 AS DOUBLE)
                 / (CAST(n_bigrams AS DOUBLE) * 1e12), 6) AS mean_pkn
    FROM pd
    """,
)
def lm_kn_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KNESER-NEY smoothed bigram LM document scoring (d = 0.75) —
    the actual CCNet/cc_net-style language-model quality filter,
    completing the LM trio: lm_unigram_score (frequency typicality),
    lm_bigram_score (order typicality), and this — a proper
    conditional probability with absolute discounting and the
    continuation-probability backoff that makes KN the standard
    n-gram smoother (Kneser & Ney 1995; Chen & Goodman 1999):

        P_kn(w2|w1) = max(c(w1w2) - d, 0)/c(w1)
                      + d·N1+(w1·)/c(w1) · N1+(·w2)/B

    where N1+(w1·)/N1+(·w2) are distinct-continuation counts and B
    the number of distinct bigram types ("how many contexts does w2
    complete" — the reason 'francisco' scores low despite high
    frequency). A document's score is the sum of P_kn over its bigram
    occurrences; gibberish scores near 1/B per bigram, fluent text
    orders of magnitude higher.

    Hash-stability discipline (the graph_pagerank lesson): d = 3/4
    makes every term rational, so P_kn is computed as a scale-12
    FIXED-POINT integer in one exact division —
    ((max(4·c12−3,0)·B + 3·N1f·N1b) · 10¹²) div (4·c1·B) — carried in
    DECIMAL(38,0) on the Spark side and HUGEINT in DuckDB (max
    numerator ~10²⁴, well inside both), truncated identically (all
    terms non-negative, so trunc = floor). Per-doc score12 is an
    order-insensitive BIGINT sum; ONE final IEEE divide reports the
    mean probability at 6dp. No log, no per-token transcendental.

    Scale shape: bigram construction is scan-side (transform over the
    held token array + one explode, the lm_bigram_score plan); the
    model is three partial-agg'd aggregates over bigram TYPES (not
    occurrences) plus a 1-row type count; scoring re-joins occurrences
    to the p12 relation on the bigram key — the only occurrence-sized
    shuffles are the type aggregate and this scoring join, both
    map-side combined. Nothing vocabulary-sized reaches the driver.

    r18 (guide §2.4 — the committed r17 plan paid FIVE corpus scans):
    the occurrence stream feeds two consumers (the type aggregate and
    the scoring join) and the type relation feeds four (cw1, cw2, nb,
    the p join), but join-pushed isnotnull filters make every branch's
    subtree canonically distinct, so ReuseExchange never fired — the
    committed before-plan tokenizes and explodes the corpus five
    times and runs the occurrence-sized type aggregate four times.
    Fix, measured against two rejected alternatives (SCALE.md r18):
    the per-w1 totals (c1, n1f) and per-w2 total (n1b) are WINDOW
    functions over the type relation — sum/count over
    partitionBy(w1), count over partitionBy(w2), both keyed
    partitions, never a global window — so the four model branches
    collapse into ONE chain over ONE type-aggregate subtree, and only
    nb (a 1-row partial-agg'd count) re-derives it. Five corpus scans
    become three, one action, no materialization barrier. The first
    r18 attempt instead pinned BOTH relations behind a counting-scan
    gate (occurrence + type localCheckpoints): task fell 2.98 ->
    1.06 s but WALL rose 1.28 -> 1.50 s at sf0.1 — the gate job, two
    eager checkpoint barriers, and four broadcast-build jobs cost
    more serial latency than the re-scans they saved; a lazy-persist
    variant (cache blocking) read 1.45 s. Windows: 1.41 s wall,
    task ~1.1 s, strictly fewer jobs.

    Skew: the partitionBy(w1) and partitionBy(w2) windows have an
    unbounded frame, so WindowExec buffers each key's whole partition.
    A stopword-headed key (w1 = 'the') puts all of its bigram types in
    one task, which stays within memory only by spilling and is a
    straggler at large scale. A groupBy of the per-key totals joined
    back to the type relation avoids the per-key buffering; switch to
    that shape if a large-scale run shows this task as the straggler.

    Scale knob (§3.1): above _KN_PIN_BYTES_MIN of compressed corpus
    (summed input file sizes from file metadata — no gate job; a
    corpus whose files pyarrow cannot read stays in-plan) the type
    relation stream-pins into a scratch table, cutting the nb branch's
    corpus re-scan and giving the windows/scoring join real stats;
    both paths are constant-memory, so the cheap heuristic can only
    miss perf, not memory."""
    from pyspark.sql.window import Window

    from tstables_spark._staging import file_stats, stream_pin

    d = load(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), " ")
    base = d.select("doc_id", toks.alias("t")).where(F.size("t") >= 2)
    grams = F.transform(
        F.sequence(F.lit(0), F.size("t") - 2),
        lambda i: F.struct(
            F.col("t")[i].alias("w1"), F.col("t")[i + 1].alias("w2")
        ),
    )
    big = base.select("doc_id", F.explode(grams).alias("g")).select(
        "doc_id", F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2")
    )
    st = file_stats(d)
    corpus_bytes = st.bytes if st is not None else 0
    bg = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    if corpus_bytes > _KN_PIN_BYTES_MIN:
        bg = stream_pin(bg, "kn_bg", cache_key=(sf_dir,))
    w1w = Window.partitionBy("w1")
    w2w = Window.partitionBy("w2")
    nb = bg.agg(F.count(F.lit(1)).alias("nb"))
    p = (
        bg.withColumn("c1", F.sum("c12").over(w1w))
        .withColumn("n1f", F.count(F.lit(1)).over(w1w))
        .withColumn("n1b", F.count(F.lit(1)).over(w2w))
        .crossJoin(F.broadcast(nb))
        .select(
            "w1",
            "w2",
            F.expr(
                "CAST((CAST(greatest(4L*c12 - 3L, 0L) AS DECIMAL(38,0))"
                "       * CAST(nb AS DECIMAL(38,0))"
                # promote BEFORE multiplying: n1f*n1b in BIGINT would
                # wrap silently (non-ANSI) above ~3e18 while the
                # oracle's HUGEINT arithmetic stays exact — mirror its
                # promotion order (r13 advice)
                "      + CAST(3 AS DECIMAL(38,0))"
                "        * CAST(n1f AS DECIMAL(38,0))"
                "        * CAST(n1b AS DECIMAL(38,0)))"
                "     * CAST(1000000000000 AS DECIMAL(38,0))"
                "     div (CAST(4L*c1 AS DECIMAL(38,0))"
                "          * CAST(nb AS DECIMAL(38,0))) AS BIGINT)"
            ).alias("p12"),
        )
    )
    pd_ = (
        big.join(p, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("p12").alias("score12"),
        )
    )
    return pd_.select(
        "doc_id",
        "n_bigrams",
        "score12",
        F.round(
            F.col("score12").cast("double")
            / (F.col("n_bigrams").cast("double") * F.lit(1e12)),
            6,
        ).alias("mean_pkn"),
    )


def _bpe_oracle(n: int) -> str:
    """Unrolled-SQL twin of operators/bpe.py::bpe_train for ``n``
    rounds: each round re-derives pair counts from the previous symbol
    state, picks the (cnt DESC, pair ASC) argmax, and applies the merge
    with the same single ``replace`` call the engine uses (the wrapped
    '|sym|' representation makes string replace exactly BPE's greedy
    left-to-right non-overlapping merge)."""
    union = "\n    UNION ALL ".join(
        f"SELECT CAST(merge_rank AS INT) AS merge_rank, pair, cnt FROM m{r}"
        for r in range(1, n + 1)
    )
    return "WITH " + ",\n    ".join(_bpe_ctes(n)) + "\n    " + union


def _bpe_ctes(n: int) -> list:
    """The CTE chain of the unrolled BPE trainer, shared by the merge
    table readout (bpe_train_merges) and the encoded-vocabulary
    readout (bpe_encode)."""
    ctes = [
        """words AS (
      SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
        SELECT unnest(str_split(lower(text), ' ')) AS w FROM documents) t
      WHERE len(w) > 0 AND w NOT LIKE '%|%' GROUP BY w)""",
        r"""s0 AS (
      SELECT regexp_replace(w, '(.)', '|\1|', 'g') AS s, freq FROM words)""",
    ]
    for r in range(1, n + 1):
        prev = f"s{r - 1}"
        ctes.append(
            f"""p{r} AS (
      SELECT arr[i] || ' ' || arr[i + 1] AS pair,
             CAST(sum(freq) AS BIGINT) AS cnt
      FROM (SELECT arr, freq, unnest(generate_series(1, len(arr) - 1)) AS i
            FROM (SELECT str_split(substr(s, 2, len(s) - 2), '||') AS arr,
                         freq
                  FROM {prev}) a
            WHERE len(arr) >= 2) t
      GROUP BY 1)"""
        )
        ctes.append(
            f"""m{r} AS (
      SELECT {r} AS merge_rank, pair, cnt FROM p{r}
      ORDER BY cnt DESC, pair LIMIT 1)"""
        )
        ctes.append(
            f"""s{r} AS (
      SELECT replace(s,
               '|' || split_part(m.pair, ' ', 1) || '||'
                   || split_part(m.pair, ' ', 2) || '|',
               '|' || replace(m.pair, ' ', '') || '|') AS s, freq
      FROM {prev}, m{r} m)"""
        )
    return ctes


def _bpe_encode_oracle(n: int) -> str:
    """The same ``n`` unrolled training rounds, read out as the ENCODED
    vocabulary: explode the final symbol state and return the top-30
    tokens by freq-weighted occurrence — hash-checking the end state
    transitively through every merge."""
    return (
        "WITH "
        + ",\n    ".join(_bpe_ctes(n))
        + f"""
    SELECT sym AS token, CAST(sum(freq) AS BIGINT) AS cnt
    FROM (SELECT unnest(str_split(substr(s, 2, len(s) - 2), '||')) AS sym,
                 freq
          FROM s{n} WHERE len(s) >= 2) t
    GROUP BY 1 ORDER BY cnt DESC, token LIMIT 30"""
    )


@query("bpe_train_merges", oracle=_bpe_oracle(8))
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING, distributed — the iterated trainer
    bpe_pair_counts promises: 8 greedy merge rounds over the (word,
    freq) table, emitting the merge table (rank, pair, count) in
    training order with deterministic (cnt DESC, pair ASC) tie-breaks.

    Scale shape (operators/bpe.py): training never re-touches the
    corpus after the one word-count pass — every round is a single
    pair-keyed partial+final aggregate over the VOCABULARY-bounded
    word table plus a one-row argmax collect, and the merge applies as
    a codegen'd string replace (the '|sym|'-wrapped state makes
    replace's left-to-right non-overlapping scan exactly BPE's greedy
    merge semantics). The oracle is the same 8 rounds unrolled as SQL
    — every round's argmax AND the evolving symbol state are
    hash-checked end to end, which pins the iteration order, the
    tie-breaks, and the overlap semantics ('a a a' -> ('aa', 'a')),
    not just the final counts."""
    from tstables_spark.operators.bpe import bpe_train

    d = load(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .where((F.length("w") > 0) & (~F.col("w").contains("|")))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    return bpe_train(words, n_merges=8)


@query("bpe_encode", oracle=_bpe_encode_oracle(8))
def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING — the apply half of the tokenizer lifecycle
    bpe_train_merges trains: replay the 8 trained merges over the
    (word, freq) table and read out the encoded vocabulary, i.e. the
    top-30 tokens by freq-weighted occurrence after all merges
    (cnt DESC, token ASC). Training and encoding share ONE loop
    (operators/bpe.py::bpe_train_with_state) because applying a
    trained tokenizer to its corpus IS replaying its merges; the
    oracle unrolls the same 8 rounds and explodes the FINAL symbol
    state, so the hash pins the end-to-end encoded corpus — token
    inventory and weights — transitively through every merge, not
    just the merge table.

    Scale shape: identical to training (vocabulary-bounded state, one
    pair-agg + one-row argmax + codegen'd replace per round) plus ONE
    extra explode+agg over the final state and a TakeOrdered(30) —
    the corpus itself is never re-touched."""
    from tstables_spark.operators.bpe import bpe_train_with_state

    d = load(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .where((F.length("w") > 0) & (~F.col("w").contains("|")))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    _, state = bpe_train_with_state(words, n_merges=8)
    arr = F.split(F.expr("substring(s, 2, length(s) - 2)"), r"\|\|")
    toks = (
        state.where(F.length("s") >= 2)
        .select("freq", F.explode(arr).alias("token"))
        .groupBy("token")
        .agg(F.sum("freq").alias("cnt"))
    )
    return toks.orderBy(F.desc("cnt"), "token").limit(30)
