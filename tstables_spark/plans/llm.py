"""LLM-training-data pipeline plans (SURVEY.md §2 Table B phase 5):
deduplication, similarity search, text analysis, multimodal columns.

These are first-class engine operators (BASELINE.json north star), not
demos: each maps to a linear-or-better distributed plan documented in
the operators/ modules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tstables_spark.operators.dedup import (
    containment_pairs,
    editdist_pairs,
    exact_dedup,
    incremental_jaccard_pairs,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_fingerprints,
    substring_dup_pairs,
)
from tstables_spark.operators.multimodal import (
    decode_features,
    frame_sample,
    image_resize,
    pack_multimodal,
)
from tstables_spark.operators.similarity import (
    cosine_topk,
    embedding_near_dup_pairs,
    ivf_topk,
    lsh_topk,
)
from tstables_spark.plans._portable_sql import (
    _BLOOM_K,
    _BLOOM_M,
    _CMS_DEPTH,
    _bloom_words,
    _bloom_words_sql,
    _cms_bucket,
    _cms_cells,
    _cms_oracle,
    simhash_fp_sql,
)
from tstables_spark.plans._textnorm import norm_sql as _norm_sql
from tstables_spark.plans._textnorm import norm_text as _norm_text
from tstables_spark._staging import pin, scratch_dir
from tstables_spark.plans.registry import query
from tstables_spark.plans.tables import load


# -- dedup ------------------------------------------------------------------
@query(
    "dedup_exact",
    oracle="""
    SELECT sha256(lower(trim(text))) AS content_hash,
           CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(count(*) AS BIGINT) AS dup_count
    FROM documents GROUP BY content_hash
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-content sha256 — one hash aggregate."""
    return exact_dedup(load(spark, sf_dir, "documents"))


@query(
    "dedup_url",
    oracle="""
    WITH u AS (
      SELECT doc_id,
        CASE doc_id % 3
          WHEN 0 THEN 'https://cdn' || CAST(doc_id // 3 % 7 AS VARCHAR)
            || '.example.com/items/' || CAST(doc_id // 3 AS VARCHAR)
            || '?lang=x' || CAST(doc_id // 3 % 3 AS VARCHAR) || '&v=2'
          WHEN 1 THEN 'HTTPS://CDN' || CAST(doc_id // 3 % 7 AS VARCHAR)
            || '.Example.COM/items/' || CAST(doc_id // 3 AS VARCHAR)
            || '/?utm_source=feed&lang=x' || CAST(doc_id // 3 % 3 AS VARCHAR)
            || '&v=2#frag'
          ELSE 'https://cdn' || CAST(doc_id // 3 % 7 AS VARCHAR)
            || '.example.com:443/items/' || CAST(doc_id // 3 AS VARCHAR)
            || '?v=2&ref=tw&lang=x' || CAST(doc_id // 3 % 3 AS VARCHAR)
        END AS url
      FROM documents),
    c AS (
      SELECT doc_id, url,
        lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) || '://'
        || regexp_replace(
             lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)),
             ':443$', '')
        || regexp_replace(
             regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1),
             '/$', '')
        || CASE WHEN array_to_string(list_sort(list_filter(
                  str_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
                  p -> p <> '' AND NOT starts_with(p, 'utm_')
                       AND NOT starts_with(p, 'ref='))), '&') = ''
                THEN ''
                ELSE '?' || array_to_string(list_sort(list_filter(
                  str_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
                  p -> p <> '' AND NOT starts_with(p, 'utm_')
                       AND NOT starts_with(p, 'ref='))), '&')
           END AS canonical
      FROM u),
    g AS (
      SELECT canonical, CAST(min(doc_id) AS BIGINT) AS survivor,
             CAST(count(*) AS BIGINT) AS n_dups
      FROM c GROUP BY 1)
    SELECT c.doc_id, c.url, c.canonical, g.survivor, g.n_dups,
           c.doc_id <> g.survivor AS is_dup
    FROM c JOIN g ON c.canonical = g.canonical
    """,
)
def dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL CANONICALIZATION DEDUP — the first dedup pass of every
    crawl pipeline (CommonCrawl/C4 both run it before any content
    hash): case-fold scheme and host, strip the default :443 port,
    drop the fragment, remove tracking parameters (utm_*, ref=),
    SORT the surviving query parameters, and strip the trailing
    slash; then keep the lowest doc_id per canonical URL. Three noisy
    variants per target are synthesized from fixture columns (the
    corpus has no URL column — the fn_url precedent), covering
    exactly the noise classes the canonicalizer must collapse:
    mixed-case scheme/host + trailing slash + utm + fragment, and
    explicit default port + shuffled params + ref tracker. Output is
    per-doc (url, canonical, survivor, group size, is_dup) — every
    group of 3 collapses to one survivor.

    Scale shape: canonicalization is pure scan-side JVM expression
    work (regexp extraction + ONE higher-order filter/sort over the
    split parameter array — no UDF, stays in whole-stage codegen);
    the only shuffle is the canonical-keyed min/count aggregate and
    the join back of the O(groups) relation on the same key (the
    dedup_exact shape with a computed key). Survivor choice min(id)
    is order-insensitive."""
    d = load(spark, sf_dir, "documents")
    gid = F.expr("doc_id div 3")
    url = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("https://cdn"), (gid % 7).cast("string"),
                F.lit(".example.com/items/"), gid.cast("string"),
                F.lit("?lang=x"), (gid % 3).cast("string"), F.lit("&v=2"),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.lit("HTTPS://CDN"), (gid % 7).cast("string"),
                F.lit(".Example.COM/items/"), gid.cast("string"),
                F.lit("/?utm_source=feed&lang=x"), (gid % 3).cast("string"),
                F.lit("&v=2#frag"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://cdn"), (gid % 7).cast("string"),
                F.lit(".example.com:443/items/"), gid.cast("string"),
                F.lit("?v=2&ref=tw&lang=x"), (gid % 3).cast("string"),
            )
        )
    )
    u = d.select("doc_id", url.alias("url"))
    params = F.array_sort(
        F.filter(
            F.split(F.regexp_extract("url", r"\?([^#]*)", 1), "&"),
            lambda p: (p != "")
            & ~F.startswith(p, F.lit("utm_"))
            & ~F.startswith(p, F.lit("ref=")),
        )
    )
    qs = F.array_join(params, "&")
    canonical = F.concat(
        F.lower(F.regexp_extract("url", r"^([A-Za-z]+)://", 1)),
        F.lit("://"),
        F.regexp_replace(
            F.lower(F.regexp_extract("url", r"^[A-Za-z]+://([^/?#]+)", 1)),
            ":443$",
            "",
        ),
        F.regexp_replace(
            F.regexp_extract("url", r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1),
            "/$",
            "",
        ),
        F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(F.lit("")),
    )
    c = u.select("doc_id", "url", canonical.alias("canonical"))
    g = c.groupBy("canonical").agg(
        F.min("doc_id").alias("survivor"),
        F.count(F.lit(1)).alias("n_dups"),
    )
    return c.join(g, "canonical").select(
        "doc_id",
        "url",
        "canonical",
        "survivor",
        "n_dups",
        (F.col("doc_id") != F.col("survivor")).alias("is_dup"),
    )


@query(
    "dedup_near",
    oracle="""
    WITH toks AS (SELECT doc_id, str_split(lower(text), ' ') AS t FROM documents),
    idx AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i FROM toks),
    sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle FROM idx),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    hs AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h FROM sh),
    pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
              FROM hs a JOIN hs b ON a.h = b.h AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT p.doc_a, p.doc_b, CAST(p.shared AS BIGINT) AS shared,
           CAST(p.shared AS DOUBLE) / (sa.n_sh + sb.n_sh - p.shared) AS jaccard
    FROM pairs p
    JOIN sizes sa ON p.doc_a = sa.doc_id
    JOIN sizes sb ON p.doc_b = sb.doc_id
    WHERE CAST(p.shared AS DOUBLE) / (sa.n_sh + sb.n_sh - p.shared) >= 0.6
    """,
)
def dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact 3-gram Jaccard over an inverted-index
    self-join (operators/dedup.py — the exact baseline the LSH variant
    approximates).

    Runs on the caller's session with AQE's initialPartitionNum at
    Spark's default (session.py): a raised initial partition count
    measured 1.6x on this query's two posting shuffles at the 100x
    envelope, in pure reduce-task overhead (SCALE.md r13)."""
    return jaccard_pairs(load(spark, sf_dir, "documents"), n=3, threshold=0.6)


@query(
    "dedup_substring",
    oracle="""
    WITH toks AS (SELECT doc_id, str_split(lower(text), ' ') AS t FROM documents),
    idx AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 29)) AS i
            FROM toks WHERE len(t) >= 30),
    sh AS (SELECT DISTINCT doc_id,
                  ('0x' || substr(md5(array_to_string(list_slice(t, i, i + 29), ' ')), 1, 15))::BIGINT AS h
           FROM idx),
    keep AS (SELECT h FROM sh GROUP BY h HAVING count(*) <= 32),
    p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(count(*) AS BIGINT) AS shared_windows
          FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
          WHERE a.h IN (SELECT h FROM keep)
          GROUP BY 1, 2)
    SELECT doc_a, doc_b, shared_windows FROM p
    """,
)
def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level dedup (Lee et al. 2022's verbatim-window
    rule at fixture-scaled w=30): pairs of docs sharing >= 1 verbatim
    30-token run, with shared-window counts
    (operators/dedup.py::substring_dup_pairs — the jaccard_pairs
    inverted index at w-gram granularity, 60-bit portable fingerprints,
    df-capped expansion). Non-vacuous on the raw fixture: the corpus
    carries real copy-paste duplicates (21/20/189 pairs at
    sf0.001/0.01/0.1) — r7's suffix-granularity attempt found zero
    because true SUFFIX duplicates don't exist; window granularity is
    the right detector for this corpus, no planted fixture needed.
    The engine-global AQE initialPartitionNum is flat since r17 (see
    dedup_near), so no conf twin is needed here anymore."""
    return substring_dup_pairs(load(spark, sf_dir, "documents"), w=30, max_df=32)


@query(
    "dedup_containment",
    oracle="""
    WITH toks AS (SELECT doc_id, str_split(lower(text), ' ') AS t FROM documents),
    idx AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i FROM toks),
    sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle FROM idx),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    hs AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h FROM sh),
    pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
              FROM hs a JOIN hs b ON a.h = b.h AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT p.doc_a, p.doc_b, CAST(p.shared AS BIGINT) AS shared,
           CAST(p.shared AS DOUBLE) / least(sa.n_sh, sb.n_sh) AS containment
    FROM pairs p
    JOIN sizes sa ON p.doc_a = sa.doc_id
    JOIN sizes sb ON p.doc_b = sb.doc_id
    WHERE CAST(p.shared AS DOUBLE) / least(sa.n_sh, sb.n_sh) >= 0.8
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup by 3-gram CONTAINMENT (shared / min set
    size) — the quote/superset detector symmetric Jaccard misses: a
    short doc fully embedded in a long one has Jaccard ~|A|/|B| but
    containment ~1 (boilerplate inclusion, article+quote aggregators,
    truncated re-crawls). Same two-shuffle inverted index as
    dedup_near (operators/dedup.py::containment_pairs shares the
    _pair_overlap core), so the 100-TB shape is already proven; only
    the threshold expression differs. The engine-global AQE
    initialPartitionNum is flat since r17 (see dedup_near), so no conf
    twin is needed here anymore."""
    return containment_pairs(load(spark, sf_dir, "documents"), n=3, threshold=0.8)


def _minhash_oracle(num_hashes: int = 32, bands: int = 8, threshold: float = 0.6) -> str:
    """DuckDB twin of operators/dedup.py::minhash_lsh_pairs — same
    portable hash family (md5-based base + affine maps), same banding,
    same exact-Jaccard verify, so the LSH output is value-checkable."""
    from tstables_spark.operators.dedup import PORTABLE_PRIME, affine_coeffs

    r = num_hashes // bands
    mins = ",\n           ".join(
        f"min(({a}*h + {b}) % {PORTABLE_PRIME}) AS m{i}"
        for i, (a, b) in ((i, affine_coeffs(i)) for i in range(num_hashes))
    )
    band_rows = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band, concat_ws(',', {cols}) AS sig FROM sig".format(
            b=b, cols=", ".join(f"m{b * r + j}" for j in range(r))
        )
        for b in range(bands)
    )
    return f"""
    WITH toks AS (SELECT doc_id, str_split(lower(text), ' ') AS t FROM documents),
    idx AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i FROM toks),
    sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle FROM idx),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    hs AS (SELECT doc_id,
                  ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h60
           FROM sh),
    sig AS (SELECT doc_id,
           {mins}
           FROM (SELECT doc_id, h60 % {PORTABLE_PRIME} AS h FROM hs)
           GROUP BY doc_id),
    bands AS (
      {band_rows}
    ),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
    -- verify intersects the 60-bit fingerprints, mirroring the engine's
    -- fingerprint-set Jaccard contract (operators/dedup.py)
    shared AS (SELECT c.doc_a, c.doc_b, count(*) AS shared
               FROM cand c
               JOIN hs sa ON sa.doc_id = c.doc_a
               JOIN hs sb ON sb.doc_id = c.doc_b AND sa.h60 = sb.h60
               GROUP BY 1, 2)
    SELECT s.doc_a, s.doc_b,
           CAST(s.shared AS DOUBLE) / (sa.n_sh + sb.n_sh - s.shared) AS jaccard
    FROM shared s
    JOIN sizes sa ON s.doc_a = sa.doc_id
    JOIN sizes sb ON s.doc_b = sb.doc_id
    WHERE CAST(s.shared AS DOUBLE) / (sa.n_sh + sb.n_sh - s.shared) >= {threshold}
    """


@query("dedup_minhash", oracle=_minhash_oracle())
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH banding (32 hashes, 8 bands) with exact-Jaccard verify
    on candidates — the sub-quadratic scale path. Hash-checked since r5:
    the portable md5-based hash family (operators/dedup.py) is
    reproduced verbatim by the DuckDB oracle, so the exact candidate set
    AND the verified Jaccard values are value-compared, not rows-only."""
    return minhash_lsh_pairs(
        load(spark, sf_dir, "documents"),
        n=3,
        num_hashes=32,
        bands=8,
        threshold=0.6,
        cache_key=(sf_dir, "documents"),
    )


@query(
    "dedup_incremental",
    oracle="""
    WITH toks AS (SELECT doc_id, str_split(lower(text), ' ') AS t FROM documents),
    idx AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i FROM toks),
    sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle FROM idx),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    hs AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h FROM sh),
    pairs AS (
      SELECT a.doc_id AS new_doc, b.doc_id AS old_doc, count(*) AS shared
      FROM hs a JOIN hs b ON a.h = b.h
      WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 != 0
      GROUP BY 1, 2)
    SELECT p.new_doc, p.old_doc, CAST(p.shared AS BIGINT) AS shared,
           CAST(p.shared AS DOUBLE) / (sa.n_sh + sb.n_sh - p.shared) AS jaccard
    FROM pairs p
    JOIN sizes sa ON p.new_doc = sa.doc_id
    JOIN sizes sb ON p.old_doc = sb.doc_id
    WHERE CAST(p.shared AS DOUBLE) / (sa.n_sh + sb.n_sh - p.shared) >= 0.6
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (batch-vs-corpus) near-dup detection: today's batch
    (doc_id % 10 = 0 stands in for the daily increment) compared only
    against the existing corpus — the bipartite inverted-index join
    that keeps daily dedup linear in the batch, never re-pairing
    old-vs-old (operators/dedup.py::incremental_jaccard_pairs)."""
    d = load(spark, sf_dir, "documents")
    new = d.where(F.col("doc_id") % 10 == 0)
    old = d.where(F.col("doc_id") % 10 != 0)
    return incremental_jaccard_pairs(new, old, n=3, threshold=0.6)


@query(
    "dedup_editdist",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang, n_chars, n_chars // 64 AS band,
             substring(lower(text), 1, 200) AS p
      FROM documents),
    probe AS (
      SELECT doc_id, lang, n_chars, p,
             unnest([band - 1, band, band + 1]) AS pb
      FROM d)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.p, b.p) AS INT) AS dist
    FROM probe a JOIN d b
      ON a.lang = b.lang AND a.pb = b.band AND a.doc_id < b.doc_id
    WHERE abs(a.n_chars - b.n_chars) <= 64
      AND levenshtein(a.p, b.p) <= 20
    """,
)
def dedup_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by bounded Levenshtein on 200-char normalized
    prefixes, candidates from (lang, length-band) blocking — the fuzzy
    complement to token-set Jaccard (catches character-level edits that
    shift every shingle). operators/dedup.py::editdist_pairs."""
    return editdist_pairs(load(spark, sf_dir, "documents"))


@query("dedup_simhash", oracle="WITH" + simhash_fp_sql() + "\n    SELECT doc_id, simhash FROM fp")
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprints per document. Hash-checked since r5:
    fingerprints use the portable md5-based token hash
    (operators/dedup.py::portable_hash60), reproduced bit-for-bit by the
    DuckDB oracle."""
    return simhash_fingerprints(load(spark, sf_dir, "documents"), bits=32)


@query(
    "dedup_embed",
    oracle="""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    n AS (SELECT vec_id, label, v, list_sum(list_transform(v, x -> x * x)) AS n2 FROM e),
    p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                 round(list_sum(list_transform(generate_series(1, len(a.v)),
                                               i -> a.v[i] * b.v[i]))
                       / sqrt(a.n2 * b.n2), 4) AS cosine
          FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id)
    SELECT vec_a, vec_b, cosine FROM p WHERE cosine >= 0.3
    """,
)
def dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by label (the blocking
    key bounds the pairwise expansion — operators/similarity.py)."""
    return embedding_near_dup_pairs(
        load(spark, sf_dir, "embeddings"), block_col="label", threshold=0.3
    )


# -- similarity search ------------------------------------------------------
@query(
    "sim_topk",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    n AS (SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS n2 FROM e),
    q AS (SELECT vec_id AS qid, v AS qv, n2 AS qn2 FROM n WHERE vec_id < 10),
    c AS (SELECT vec_id AS nid, v AS cv, n2 AS cn2 FROM n),
    s AS (SELECT qid, nid,
                 round(list_sum(list_transform(generate_series(1, len(qv)),
                                               i -> qv[i] * cv[i]))
                       / sqrt(qn2 * cn2), 4) AS cosine
          FROM q, c WHERE qid != nid),
    r AS (SELECT qid, nid, cosine,
                 row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
          FROM s)
    SELECT qid, nid, cosine, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 5
    """,
)
def sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for query vectors vec_id < 10: broadcast
    query side, one streaming scan of candidates, windowed rank. Cosine
    rounded to 4dp before ranking for cross-engine determinism."""
    emb = load(spark, sf_dir, "embeddings")
    return cosine_topk(emb, F.col("vec_id") < 10, k=5)


@query("sim_ivf")
def sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via multi-table multi-probe hyperplane LSH
    (6 planes x 8 independent tables, Hamming-1 probes): candidates
    only from shared buckets — a (table, bucket) equi-join instead of
    a cross join, the classic L-table LSH construction. Rows-only:
    approximate by design; exact twin is sim_topk, recall surfaced by
    sim_recall."""
    emb = load(spark, sf_dir, "embeddings")
    return lsh_topk(emb, F.col("vec_id") < 10, k=5, planes=6, n_tables=8, probe_bits=1)


@query("sim_ivf_centroid")
def sim_ivf_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via IVF cells (operators/similarity.py::
    ivf_topk): deterministic coarse codebook, every vector assigned to
    its nearest centroid's cell, queries probe their 4 nearest of 16
    cells — candidate count scales as n_probe/n_cells of the corpus,
    the FAISS IVF-Flat layout expressed as a broadcast + equi-join.
    Rows-only: approximate by design; exact twin is sim_topk, recall
    floor pinned in tests/test_operators.py."""
    emb = load(spark, sf_dir, "embeddings")
    return ivf_topk(emb, F.col("vec_id") < 10, k=5, n_cells=16, n_probe=4)


# -- text analysis ----------------------------------------------------------
@query(
    "text_stats",
    oracle="""
    SELECT source, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(sum(len(str_split(text, ' '))) AS BIGINT) / CAST(count(*) AS DOUBLE)
               AS avg_tokens
    FROM documents GROUP BY source, lang
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus statistics per (source, lang): doc/char/token counts."""
    d = load(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " ")).cast("long")
    return d.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(n_tok).alias("total_tokens"),
        (F.sum(n_tok).cast("double") / F.count("*")).alias("avg_tokens"),
    )


@query(
    "token_count",
    oracle=r"""
    SELECT doc_id,
           CAST(len(str_split(text, ' ')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))
                AS BIGINT) AS bpe_tokens,
           CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))
                AS DOUBLE) / len(str_split(text, ' ')) AS tok_ratio
    FROM documents
    """,
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    (letter runs | digit runs | single punctuation — the pre-tokenizer
    shape real BPE vocabularies start from). Pure JVM regex, linear."""
    d = load(spark, sf_dir, "documents")
    bpe = F.regexp_count(F.lower("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]")).cast("long")
    ws = F.size(F.split("text", " ")).cast("long")
    return d.select(
        "doc_id",
        ws.alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
        (bpe.cast("double") / ws).alias("tok_ratio"),
    )


@query(
    "lang_id",
    oracle="""
    WITH t AS (SELECT doc_id, lang, str_split(lower(text), ' ') AS toks FROM documents),
    s AS (SELECT doc_id, lang,
                 len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'and'))) AS en_hits,
                 len(list_filter(toks, x -> x IN ('le', 'la', 'et', 'des'))) AS fr_hits,
                 len(list_filter(toks, x -> x IN ('der', 'und', 'die', 'das'))) AS de_hits
          FROM t)
    SELECT doc_id, lang,
           CAST(en_hits AS BIGINT) AS en_hits,
           CASE WHEN en_hits >= fr_hits AND en_hits >= de_hits AND en_hits > 0 THEN 'en'
                WHEN fr_hits >= de_hits AND fr_hits > 0 THEN 'fr'
                WHEN de_hits > 0 THEN 'de'
                ELSE 'unknown' END AS pred_lang,
           (CASE WHEN en_hits >= fr_hits AND en_hits >= de_hits AND en_hits > 0 THEN 'en'
                 WHEN fr_hits >= de_hits AND fr_hits > 0 THEN 'fr'
                 WHEN de_hits > 0 THEN 'de'
                 ELSE 'unknown' END = lang) AS is_correct
    FROM s
    """,
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID — the standard cheap n-gram heuristic,
    expressed as pure column ops (no UDF). The synthetic corpus reuses
    one vocabulary for every lang label, so is_correct measures the
    labels, not the method; parity is what the oracle checks."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), " ")
    en = F.size(F.filter(toks, lambda x: x.isin("the", "a", "of", "and"))).alias("en_hits")
    fr = F.size(F.filter(toks, lambda x: x.isin("le", "la", "et", "des")))
    de = F.size(F.filter(toks, lambda x: x.isin("der", "und", "die", "das")))
    s = d.select("doc_id", "lang", en.cast("long").alias("en_hits"), fr.alias("f"), de.alias("g"))
    pred = (
        F.when((F.col("en_hits") >= F.col("f")) & (F.col("en_hits") >= F.col("g")) & (F.col("en_hits") > 0), "en")
        .when((F.col("f") >= F.col("g")) & (F.col("f") > 0), "fr")
        .when(F.col("g") > 0, "de")
        .otherwise("unknown")
    )
    return s.select(
        "doc_id",
        "lang",
        "en_hits",
        pred.alias("pred_lang"),
        (pred == F.col("lang")).alias("is_correct"),
    )


@query(
    "quality_score",
    oracle="""
    WITH t AS (SELECT doc_id, text, n_chars, str_split(lower(text), ' ') AS toks
               FROM documents),
    s AS (SELECT doc_id, n_chars,
                 CAST(len(toks) AS BIGINT) AS n_tokens,
                 CAST(len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'and'))) AS BIGINT)
                     AS stop_hits
          FROM t)
    SELECT doc_id, n_tokens, stop_hits,
           CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens AS avg_tok_len,
           CAST(stop_hits AS DOUBLE) / n_tokens AS stop_ratio,
           0.5 * (CAST(stop_hits AS DOUBLE) / n_tokens)
             + 0.5 * least(CAST(n_tokens AS DOUBLE) / 300.0, 1.0) AS quality
    FROM s
    """,
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality: stopword density + length saturation
    (the usual pre-training corpus filters), all JVM-side arithmetic."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), " ")
    s = d.select(
        "doc_id",
        F.col("n_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.filter(toks, lambda x: x.isin("the", "a", "of", "and")))
        .cast("long")
        .alias("stop_hits"),
    )
    avg_tok = (F.col("n_chars") - (F.col("n_tokens") - 1)).cast("double") / F.col("n_tokens")
    stop_ratio = F.col("stop_hits").cast("double") / F.col("n_tokens")
    quality = 0.5 * stop_ratio + 0.5 * F.least(
        F.col("n_tokens").cast("double") / 300.0, F.lit(1.0)
    )
    return s.select(
        "doc_id",
        "n_tokens",
        "stop_hits",
        avg_tok.alias("avg_tok_len"),
        stop_ratio.alias("stop_ratio"),
        quality.alias("quality"),
    )


@query(
    "doc_fingerprint",
    oracle=r"""
    SELECT doc_id,
           sha256(substr(regexp_replace(lower(text), '\s+', ' ', 'g'), 1, 64)) AS fingerprint,
           CAST(length(regexp_replace(lower(text), '\s+', ' ', 'g')) AS BIGINT) AS norm_len
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint: sha256 of the first 64 chars of
    whitespace-normalized text — the cheap prefilter before full dedup."""
    d = load(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower("text"), r"\s+", " ")
    return d.select(
        "doc_id",
        F.sha2(F.substring(norm, 1, 64), 256).alias("fingerprint"),
        F.length(norm).cast("long").alias("norm_len"),
    )


# -- multimodal -------------------------------------------------------------
@query(
    "multimodal_schema",
    oracle="""
    SELECT doc_id, 'text/plain' AS mime,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           lower(hex(encode(text)))[1:16] AS feat
    FROM documents
    """,
)
def multimodal_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal struct column {binary, mime, meta map} round-tripped
    through Parquet, then feature-extracted via Arrow-batched
    mapInPandas (operators/multimodal.py; decode is a deterministic
    stand-in — real codecs absent in this container). The stand-in is
    pure byte arithmetic, so it HAS an exact oracle (utf-8 byte length +
    first-8-bytes hex via DuckDB's encode/hex): the hash match pins the
    whole parquet-roundtrip + Arrow-batch plumbing, upgraded from the
    former rows-only check."""
    packed = pack_multimodal(load(spark, sf_dir, "documents"))
    out = scratch_dir(spark, "mm_") + "/blobs"
    packed.write.mode("overwrite").parquet(out)
    return decode_features(spark.read.parquet(out))


@query(
    "multimodal_frames",
    oracle="""
    WITH b AS (
      SELECT doc_id, lower(hex(encode(text))) AS hx,
             greatest(octet_length(encode(text)) // 64, 1) AS n_frames,
             least(octet_length(encode(text)), 64) AS thumb_bytes
      FROM documents
    )
    SELECT doc_id, CAST(s.fi AS BIGINT) AS frame_idx,
           hx[s.fi*128 + 1 : s.fi*128 + 8] AS frame_feat,
           CAST(thumb_bytes AS BIGINT) AS thumb_bytes
    FROM (
      SELECT doc_id, hx, thumb_bytes,
             unnest([{'fi': i} for i in generate_series(0, n_frames - 1, 4)]) AS s
      FROM b
    )
    """,
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling + thumbnail resize over multimodal structs: the
    1->N fan-out and 1->1 transform shapes of mapInPandas (decode is the
    documented deterministic stand-in — operators/multimodal.py). The
    stand-in samples every 4th 64-byte 'frame' and emits its first-4-
    bytes hex, so the exact twin is hex-string slicing over a generated
    frame-index series — upgraded from the former rows-only check."""
    packed = pack_multimodal(load(spark, sf_dir, "documents"))
    frames = frame_sample(packed, every_n=4)
    thumbs = image_resize(packed, 8, 8).select(
        "doc_id", F.length("thumb").cast("long").alias("thumb_bytes")
    )
    return frames.join(thumbs, "doc_id").select(
        "doc_id", "frame_idx", "frame_feat", "thumb_bytes"
    )


@query(
    "dedup_ngram_coverage",
    oracle="""
    WITH toks AS (SELECT doc_id, str_split(lower(text), ' ') AS t FROM documents),
    idx AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i FROM toks),
    sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle FROM idx),
    dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle)
    SELECT sh.doc_id,
           count(*) AS n_sh,
           COUNT(CASE WHEN d.df >= 2 THEN 1 END) AS n_common,
           CAST(COUNT(CASE WHEN d.df >= 2 THEN 1 END) AS DOUBLE)
             / count(*) AS coverage
    FROM sh JOIN dfreq d ON sh.shingle = d.shingle
    GROUP BY sh.doc_id
    """,
)
def dedup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicate-text coverage: the fraction of a doc's
    distinct 3-grams that appear in at least one OTHER document — the
    RefinedWeb/Dolma-style 'fuzzy duplication' metric used to gate docs
    that are mostly boilerplate even when no single pair crosses a
    Jaccard threshold.

    Plan shape: inverted index WITHOUT pair expansion — document
    frequency per shingle (one shuffle), then a shingle-keyed join back
    and a doc-keyed aggregate (second/third shuffle). Cost is linear in
    total shingle mass (Σ df, not Σ df²) — strictly cheaper than any
    pair-emitting dedup, so it scales wherever the index itself does.
    df >= 2 means 'this exact shingle exists elsewhere'; per-doc
    distinctness (from shingles()) makes df a true document frequency."""
    from tstables_spark.operators.dedup import shingles

    sh = shingles(load(spark, sf_dir, "documents"), 3)
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    common = F.count(F.when(F.col("df") >= 2, F.lit(1)))
    return (
        sh.join(dfreq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_sh"),
            common.alias("n_common"),
            (common.cast("double") / F.count("*")).alias("coverage"),
        )
    )


@query(
    "sim_range_search",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    n AS (SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS n2 FROM e),
    q AS (SELECT vec_id AS qid, v AS qv, n2 AS qn2 FROM n WHERE vec_id < 5)
    SELECT qid, c.vec_id AS nid,
           round(list_sum(list_transform(generate_series(1, len(qv)),
                                         i -> qv[i] * c.v[i]))
                 / sqrt(qn2 * c.n2), 4) AS cosine
    FROM q, n c
    WHERE qid != c.vec_id
      AND round(list_sum(list_transform(generate_series(1, len(qv)),
                                        i -> qv[i] * c.v[i]))
                / sqrt(qn2 * c.n2), 4) >= 0.15
    """,
)
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius similarity search: every corpus vector within cosine >=
    0.15 of the query vectors (vec_id < 5) — the 'find everything this
    close' complement to top-k (dedup candidate mining, semantic recall
    sweeps). Scan-side threshold kernel, zero shuffles:
    operators/similarity.py::cosine_range."""
    from tstables_spark.operators.similarity import cosine_range

    emb = load(spark, sf_dir, "embeddings")
    return cosine_range(emb, F.col("vec_id") < 5, tau=0.15)


@query(
    "dedup_paragraphs",
    oracle="""
    WITH toks AS (SELECT doc_id, str_split(lower(text), ' ') AS t FROM documents),
    chunks AS (
      SELECT doc_id, t,
             unnest(generate_series(1, CAST(ceil(len(t) / 10.0) AS BIGINT))) AS i
      FROM toks
    ),
    paras AS (
      SELECT doc_id, CAST(i AS INT) AS pos,
             md5(array_to_string(t[(i-1)*10+1 : i*10], ' ')) AS h
      FROM chunks
    ),
    ranked AS (
      SELECT doc_id, pos,
             row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
      FROM paras
    )
    SELECT doc_id,
           COUNT(*) AS n_paras,
           COUNT(CASE WHEN rn = 1 THEN 1 END) AS n_kept,
           CAST(COUNT(CASE WHEN rn = 1 THEN 1 END) AS DOUBLE) / COUNT(*)
             AS kept_frac
    FROM ranked GROUP BY doc_id
    """,
)
def dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style PARAGRAPH-level dedup accounting: documents are
    chunked into fixed 10-token paragraphs (the fixture text has no
    natural newlines; real corpora split on them — same plan), each
    paragraph is hashed corpus-wide, and only the FIRST occurrence
    (lowest doc_id, then position) of each hash is kept. Output is the
    per-doc kept fraction — the gate CCNet/Dolma use to drop documents
    that are mostly boilerplate shared with other pages, even when no
    document pair is a near-dup as a whole.

    Plan: one explode (linear in token mass), one hash-keyed window for
    first-occurrence (rn=1 — no self-join, no pair expansion ever), one
    doc-keyed aggregate. Strictly cheaper than any pairwise dedup; the
    hash shuffle is the only wide edge and it carries (doc, pos, hash)
    triples, not text."""
    docs = load(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    toks = F.split(F.lower("text"), " ")
    chunks = docs.select(
        "doc_id", toks.alias("t"),
        F.explode(F.sequence(F.lit(1), F.ceil(F.size(toks) / F.lit(10.0)).cast("long"))).alias("i"),
    )
    paras = chunks.select(
        "doc_id",
        F.col("i").cast("int").alias("pos"),
        F.md5(F.concat_ws(" ", F.slice("t", (F.col("i") - 1) * 10 + 1, 10))).alias("h"),
    )
    w = W.partitionBy("h").orderBy("doc_id", "pos")
    ranked = paras.select("doc_id", "pos", F.row_number().over(w).alias("rn"))
    kept = F.count(F.when(F.col("rn") == 1, F.lit(1)))
    return ranked.groupBy("doc_id").agg(
        F.count("*").alias("n_paras"),
        kept.alias("n_kept"),
        (kept.cast("double") / F.count("*")).alias("kept_frac"),
    )


@query(
    "doc_tfidf",
    oracle="""
    WITH tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(str_split(lower(text), ' ')) AS term
            FROM documents)
      GROUP BY doc_id, term
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6)
               AS tfidf
      FROM tf, df, n WHERE tf.term = df.term
    ),
    ranked AS (
      SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
             tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rn
      FROM scored
    )
    SELECT doc_id, term, tf, df, tfidf, CAST(rn AS INT) AS rank
    FROM ranked WHERE rn <= 3
    """,
)
def doc_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document — doc_top_terms' corpus-aware
    upgrade (IDF discounts terms common across documents). Plan: one
    explode + (doc, term) aggregate; term document-frequency aggregates
    FROM that relation (never re-scanning text); one term-keyed join
    carries df back; the corpus size joins as a broadcast 1-row
    aggregate; top-3 runs as a WindowGroupLimit. Ranking uses the
    6dp-ROUNDED score with a term tiebreak — ln() is libm territory,
    and last-ulp differences must not reorder ranks cross-engine."""
    docs = load(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    tf = (
        docs.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id", "term", "tf", "df",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(1.0)),
                6,
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf", "rank")
    )


@query(
    "token_pmi",
    oracle="""
    WITH toks AS (SELECT doc_id, str_split(lower(text), ' ') AS t FROM documents),
    bi AS (
      SELECT t[i] AS w1, t[i+1] AS w2
      FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i FROM toks)
    ),
    pair_c AS (SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY w1, w2),
    uni AS (
      SELECT token, COUNT(*) AS c
      FROM (SELECT unnest(t) AS token FROM toks) GROUP BY token
    ),
    tot AS (SELECT CAST(SUM(len(t)) AS BIGINT) AS n_tok,
                   CAST(SUM(len(t) - 1) AS BIGINT) AS n_bi
            FROM toks),
    scored AS (
      SELECT p.w1, p.w2, CAST(p.c12 AS BIGINT) AS c12,
             round(ln((CAST(p.c12 AS DOUBLE) / t.n_bi)
                      / ((CAST(u1.c AS DOUBLE) / t.n_tok)
                         * (CAST(u2.c AS DOUBLE) / t.n_tok))), 6) AS pmi
      FROM pair_c p, uni u1, uni u2, tot t
      WHERE p.w1 = u1.token AND p.w2 = u2.token AND p.c12 >= 20
    )
    SELECT w1, w2, c12, pmi
    FROM scored
    ORDER BY pmi DESC, w1, w2
    LIMIT 50
    """,
)
def token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 bigram collocations by pointwise mutual information —
    the phrase-mining statistic (word2vec-era PMI over adjacent
    pairs): which token pairs co-occur far above chance. Plan: one
    positional explode feeds the bigram counts; unigram counts and the
    two corpus totals aggregate from the same tokenization; the two
    unigram joins are token-keyed (the small side after counting);
    support floor c12 >= 20 keeps the statistic out of noise. PMI
    composes counts with one shared IEEE expression rounded 6dp (ln is
    libm) and ranks on the ROUNDED value with a lexicographic
    tiebreak, so the global top-50 cut is deterministic cross-engine
    (TakeOrderedAndProject — no global sort)."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split(F.lower("text"), " ").alias("t"))
    bi = toks.select(
        F.explode(
            F.expr("transform(sequence(1, size(t) - 1), i -> struct(t[i-1] AS w1, t[i] AS w2))")
        ).alias("p")
    ).select("p.w1", "p.w2")
    pair_c = bi.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    uni = toks.select(F.explode("t").alias("token")).groupBy("token").agg(
        F.count("*").alias("c")
    )
    tot = toks.agg(
        F.sum(F.size("t")).cast("long").alias("n_tok"),
        F.sum(F.size("t") - 1).cast("long").alias("n_bi"),
    )
    u1 = uni.select(F.col("token").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("token").alias("w2"), F.col("c").alias("c2"))
    scored = (
        pair_c.where(F.col("c12") >= 20)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1", "w2", "c12",
            F.round(
                F.log(
                    (F.col("c12").cast("double") / F.col("n_bi"))
                    / (
                        (F.col("c1").cast("double") / F.col("n_tok"))
                        * (F.col("c2").cast("double") / F.col("n_tok"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.col("pmi").desc(), "w1", "w2").limit(50)


@query(
    "sim_matryoshka",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    pfx AS (SELECT vec_id, v[1:16] AS p,
                   list_sum(list_transform(v[1:16], x -> x * x)) AS pn2
            FROM e),
    full_n AS (SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS n2
               FROM e),
    q AS (SELECT vec_id AS qid, p AS qp, pn2 AS qn2 FROM pfx WHERE vec_id < 10),
    ps AS (SELECT qid, c.vec_id AS nid,
                  round(list_sum(list_transform(generate_series(1, 16),
                                                i -> qp[i] * c.p[i]))
                        / sqrt(qn2 * c.pn2), 4) AS cosine
           FROM q, pfx c WHERE qid != c.vec_id),
    pr AS (SELECT qid, nid,
                  row_number() OVER (PARTITION BY qid
                                     ORDER BY cosine DESC, nid) AS rn
           FROM ps),
    qf AS (SELECT vec_id AS qid, v AS qv, n2 AS qn2 FROM full_n WHERE vec_id < 10),
    fs AS (SELECT qid, c.vec_id AS nid,
                  round(list_sum(list_transform(generate_series(1, len(qv)),
                                                i -> qv[i] * c.v[i]))
                        / sqrt(qn2 * c.n2), 4) AS cosine
           FROM qf, full_n c WHERE qid != c.vec_id),
    fr AS (SELECT qid, nid,
                  row_number() OVER (PARTITION BY qid
                                     ORDER BY cosine DESC, nid) AS rn
           FROM fs)
    SELECT p.qid,
           CAST(COUNT(f.nid) AS BIGINT) AS hits,
           CAST(COUNT(f.nid) AS DOUBLE) / 5.0 AS recall5
    FROM (SELECT qid, nid FROM pr WHERE rn <= 5) p
    LEFT JOIN (SELECT qid, nid FROM fr WHERE rn <= 5) f
      ON p.qid = f.qid AND p.nid = f.nid
    GROUP BY p.qid
    """,
)
def sim_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension truncation quality: top-5 neighbors
    computed on the FIRST 16 of 64 dims, scored by overlap with the
    full-dimension top-5 (recall@5 per query) — the measurement behind
    'can we search at a quarter of the bandwidth?'. Both retrievals
    run the zero-shuffle scan-side kernel (operators/similarity.py);
    the overlap is one tiny per-query join of two 5-row sets. Every
    cosine is 4dp-rounded before ranking, so both engines cut
    identical top-5 sets and the recall itself is hash-exact — an
    EXACT metric about an approximation, same contract as
    agg_hll_sketch_union."""
    from tstables_spark.operators.similarity import cosine_topk

    emb = load(spark, sf_dir, "embeddings")
    pfx = emb.select("vec_id", F.slice(F.col("embedding"), 1, 16).alias("embedding"))
    top_p = cosine_topk(pfx, F.col("vec_id") < 10, k=5).select("qid", "nid")
    top_f = cosine_topk(emb, F.col("vec_id") < 10, k=5).select(
        F.col("qid").alias("f_qid"), F.col("nid").alias("f_nid")
    )
    hits = F.count(F.col("f_nid"))
    return (
        top_p.join(
            top_f,
            (top_p["qid"] == top_f["f_qid"]) & (top_p["nid"] == top_f["f_nid"]),
            "left",
        )
        .groupBy("qid")
        .agg(hits.alias("hits"), (hits.cast("double") / F.lit(5.0)).alias("recall5"))
    )


@query(
    "multimodal_dedup",
    oracle="""
    SELECT md5(lower(hex(encode(text)))) AS blob_hash,
           CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(count(*) AS BIGINT) AS dup_count,
           CAST(min(octet_length(encode(text))) AS BIGINT) AS byte_len
    FROM documents GROUP BY blob_hash
    """,
)
def multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over the BINARY modality: multimodal blobs (packed
    struct{binary, mime, meta}, written to and reread from parquet so
    the bytes genuinely cross storage) grouped by content fingerprint,
    keeping the lowest doc id — dedup_exact's twin for image/audio
    payloads, where byte-identical files are the dominant duplicate
    class. The fingerprint is md5 OVER THE HEX STRING of the bytes,
    not md5(blob): DuckDB 1.0 has no blob md5, and the hex-string form
    is exactly as collision-resistant while staying engine-portable —
    the same portability contract as the text dedup hash family. One
    hash aggregate; linear at any corpus size."""
    packed = pack_multimodal(load(spark, sf_dir, "documents"))
    out = scratch_dir(spark, "mmdedup_") + "/blobs"
    packed.write.mode("overwrite").parquet(out)
    rb = spark.read.parquet(out)
    h = F.md5(F.lower(F.hex(F.col("blob.data"))))
    return rb.groupBy(h.alias("blob_hash")).agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count("*").alias("dup_count"),
        F.min(F.length(F.col("blob.data"))).cast("long").alias("byte_len"),
    )


@query(
    "dedup_prefix",
    oracle="""
    WITH n AS (
      SELECT doc_id, {norm} AS t
      FROM documents),
    s AS (
      SELECT doc_id, t,
             lead(t) OVER (ORDER BY t, doc_id) AS nxt
      FROM n)
    SELECT doc_id,
           CASE WHEN t = nxt THEN 'exact' ELSE 'prefix' END AS dup_kind,
           CAST(length(t) AS BIGINT) AS n_norm
    FROM s
    WHERE nxt IS NOT NULL AND starts_with(nxt, t)
    """.format(norm=_norm_sql("text")),
)
def dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-duplicate audit over normalized text (the canonical
    normalization, plans/_textnorm.py — shared with text_normalize and
    pipeline_corpus_funnel): documents that are a strict PREFIX of
    another document — the truncated-crawl / partial re-scrape class
    exact-hash dedup misses — plus exact duplicates, one flag row per
    affected doc. Uses the lexicographic-successor identity (one
    comparison per doc); the oracle states the semantics with a bare
    global lead(), while the engine runs the distributed form — range
    partition + per-partition lead + O(P) boundary stitch, never a
    single-task window (operators/dedup.py::prefix_dup_flags)."""
    from tstables_spark.operators.dedup import prefix_dup_flags

    d = load(spark, sf_dir, "documents")
    return prefix_dup_flags(
        d.select("doc_id", _norm_text("text").alias("norm_text")),
        text_col="norm_text",
    )


@query("agg_cms_sketch", oracle=_cms_oracle())
def agg_cms_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch of the corpus token frequencies (depth 4 x
    width 256, seeded md5 row hashes — the portable-hash discipline,
    so both engines build the identical sketch): the MERGEABLE
    frequency summary for streaming top-k / heavy-hitter queries when
    the exact vocabulary no longer fits anywhere. point_est(token) =
    min over rows of cnt[r][h_r(token)], always an overestimate (the
    read side is agg_cms_point, which shares _cms_bucket/_cms_cells —
    build and probe hash identically by construction).

    Scale shape: one explode + a depth-x fanout of (row, bucket) keys
    into ONE partial+final hash aggregate bounded at depth*width
    output rows — sketches from different corpus shards merge by
    cell-wise addition, which IS this aggregate: the same query
    incrementally maintains the sketch at any corpus size."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split(F.lower("text"), " ")).alias("token"))
    return _cms_cells(tok)


@query(
    "agg_cms_point",
    oracle="""
    WITH tok AS (SELECT unnest(str_split(lower(text), ' ')) AS token
                 FROM documents),
    c AS (SELECT token, CAST(count(*) AS BIGINT) AS freq
          FROM tok GROUP BY token),
    top AS (SELECT token, freq FROM c ORDER BY freq DESC, token LIMIT 20),
    cells AS (
      SELECT sketch_row, bucket, CAST(count(*) AS BIGINT) AS cnt FROM (
        SELECT 0 AS sketch_row,
               ('0x' || substr(md5('0:' || token), 1, 15))::BIGINT % 256 AS bucket
        FROM tok
        UNION ALL SELECT 1,
               ('0x' || substr(md5('1:' || token), 1, 15))::BIGINT % 256 FROM tok
        UNION ALL SELECT 2,
               ('0x' || substr(md5('2:' || token), 1, 15))::BIGINT % 256 FROM tok
        UNION ALL SELECT 3,
               ('0x' || substr(md5('3:' || token), 1, 15))::BIGINT % 256 FROM tok
      ) GROUP BY sketch_row, bucket),
    probes AS (
      SELECT t.token, t.freq, r.r AS sketch_row,
             ('0x' || substr(md5(r.r || ':' || t.token), 1, 15))::BIGINT % 256
               AS bucket
      FROM top t, (SELECT unnest([0, 1, 2, 3]) AS r) r)
    SELECT p.token, p.freq, CAST(min(c.cnt) AS BIGINT) AS est,
           min(c.cnt) >= p.freq AS overestimate_ok
    FROM probes p JOIN cells c
      ON p.sketch_row = c.sketch_row AND p.bucket = c.bucket
    GROUP BY p.token, p.freq
    """,
)
def agg_cms_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min POINT estimates for the top-20 true tokens, with the
    sketch's defining guarantee surfaced as a checked boolean:
    est(token) = min over rows of cell[r][h_r(token)] is ALWAYS >= the
    true frequency (collisions only inflate). This is the read side of
    agg_cms_sketch — same _cms_bucket/_cms_cells construction, so the
    build/probe hash agreement the query depends on has exactly one
    definition — and the pair demonstrates the full sketch lifecycle
    (build mergeable summary; answer heavy-hitter point queries from
    it) with exact-integer determinism on both engines.

    Scale shape: the sketch is depth*width rows (broadcast side), the
    top-k true counts come from the same one-shuffle token aggregate as
    vocab_topk (TakeOrdered, no full sort), and the probe join is 20*4
    rows against the broadcast cells."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split(F.lower("text"), " ")).alias("token"))
    counts = tok.groupBy("token").agg(F.count("*").alias("freq"))
    top = counts.orderBy(F.col("freq").desc(), "token").limit(20)
    cells = _cms_cells(tok)
    probes = top.select(
        "token",
        "freq",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("sketch_row"),
                        _cms_bucket(F.col("token"), r).alias("bucket"),
                    )
                    for r in range(_CMS_DEPTH)
                ]
            )
        ).alias("p"),
    ).select("token", "freq", "p.*")
    return (
        probes.join(F.broadcast(cells), ["sketch_row", "bucket"])
        .groupBy("token", "freq")
        .agg(F.min("cnt").alias("est"))
        .select(
            "token", "freq", "est", (F.col("est") >= F.col("freq")).alias("overestimate_ok")
        )
    )


# -- Bloom-filter membership lifecycle --------------------------------------
# The set-membership companion to the CMS frequency sketch: 5-gram
# shingles of the held-in corpus (doc_id % 10 != 0) populate a 2^20-bit
# Bloom filter; held-out docs probe it — the decontamination /
# have-we-seen-this-before shape at corpus scale. Shares the seeded-md5
# hash family (_cms_bucket) with the CMS, width _BLOOM_M, and the bit
# packing has exactly ONE definition (_bloom_words / _bloom_words_sql)
# across build, probe, and the streaming maintainer.
_GRAM5_CTES = """
    toks AS (SELECT doc_id, str_split(lower(text), ' ') AS t FROM documents),
    idx AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS i
            FROM toks),
    g AS (SELECT DISTINCT doc_id,
                 t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                      || ' ' || t[i+4] AS gram
          FROM idx)"""


@query(
    "agg_bloom_sketch",
    oracle=f"""
    WITH {_GRAM5_CTES},
    refg AS (SELECT gram AS key FROM g WHERE doc_id % 10 <> 0)
    SELECT word_idx, word FROM {_bloom_words_sql("refg", "key")} w
    """,
)
def agg_bloom_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the reference Bloom filter: every 5-gram shingle of the
    held-in docs sets _BLOOM_K seeded-md5 bits in a 2^20-bit space,
    packed as (word_idx, bit_or-of-32-bit-words) — ONE explode feeding
    a single partial+final bit_or aggregate, output bounded at
    M/32 = 32768 rows regardless of corpus size. bit_or is the merge:
    shard filters union by this same aggregate, which is what makes
    the filter maintainable incrementally (stream_bloom) and
    distributable (build per-shard, merge bounded summaries). The
    oracle rebuilds the identical words in DuckDB — the hash match
    proves both engines hold the filter BIT FOR BIT, which is what the
    probe query's no-false-negative contract rides on."""
    from tstables_spark.operators.dedup import shingles

    d = load(spark, sf_dir, "documents")
    ref = shingles(d.where(F.col("doc_id") % 10 != 0), n=5)
    return _bloom_words(ref, "shingle").select(
        F.col("word_idx").cast("int").alias("word_idx"),
        F.col("word").cast("long").alias("word"),
    )


@query(
    "dedup_bloom_probe",
    oracle=f"""
    WITH {_GRAM5_CTES},
    refg AS (SELECT gram AS key FROM g WHERE doc_id % 10 <> 0),
    w AS (SELECT * FROM {_bloom_words_sql("refg", "key")} t),
    probe AS (SELECT doc_id, gram FROM g WHERE doc_id % 10 = 0),
    refk AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 <> 0),
    pm AS (SELECT p.doc_id, p.gram, r.gram IS NOT NULL AS member
           FROM probe p LEFT JOIN refk r ON p.gram = r.gram),
    fan AS (
      SELECT doc_id, gram, member,
             ('0x' || substr(md5(r.r || ':' || gram), 1, 15))::BIGINT
               % {_BLOOM_M} AS bit
      FROM pm, (SELECT unnest(range({_BLOOM_K})) AS r) r),
    per_gram AS (
      SELECT f.doc_id, f.gram, f.member,
             bool_and(coalesce(
               (w.word >> CAST(f.bit % 32 AS INT)) & 1 = 1, false)) AS hit
      FROM fan f LEFT JOIN w ON w.word_idx = CAST(f.bit // 32 AS INT)
      GROUP BY f.doc_id, f.gram, f.member)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(count(CASE WHEN hit THEN 1 END) AS BIGINT) AS n_hits,
           CAST(count(CASE WHEN member THEN 1 END) AS BIGINT) AS n_members,
           CAST(count(CASE WHEN hit AND NOT member THEN 1 END) AS BIGINT)
             AS n_false_pos,
           bool_and(hit OR NOT member) AS no_false_negative
    FROM per_gram GROUP BY doc_id
    """,
)
def dedup_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe the reference Bloom filter with the held-out docs' 5-grams
    — the decontamination membership check. Per doc: how many of its
    shingles the filter claims to have seen (n_hits), the exact truth
    (n_members, from a real anti-joinable membership join — the audit
    this query exists to demonstrate), the false positives the filter's
    load factor implies, and the filter's DEFINING guarantee surfaced
    as a checked boolean: no_false_negative (a Bloom filter may
    overclaim, it must never underclaim). Because both engines hold
    bit-identical filters (agg_bloom_sketch), even the false-positive
    SET is deterministic — the driver hash checks it exactly, not just
    within tolerance.

    Scale shape: the filter is a bounded broadcast (≤32768 rows — at
    100 TB the filter side stays exactly this size; only its load
    factor, set by _BLOOM_M, changes), the probe fanout is K rows per
    shingle into that broadcast join, and the per-gram bool_and +
    per-doc counts are two partial-agg reductions. The exact-membership
    join (shingle-keyed shuffle of the distinct reference grams) is the
    audit half; a production decontamination pass at 100 TB drops it
    and keeps only the broadcast probe — which is the point of the
    sketch."""
    from tstables_spark.operators.dedup import shingles

    d = load(spark, sf_dir, "documents")
    ref = shingles(d.where(F.col("doc_id") % 10 != 0), n=5)
    words = _bloom_words(ref, "shingle")
    probe = shingles(d.where(F.col("doc_id") % 10 == 0), n=5)
    refk = ref.select("shingle").distinct()
    pm = (
        probe.join(refk.withColumn("__m", F.lit(True)), "shingle", "left")
        .select(
            "doc_id", "shingle", F.coalesce("__m", F.lit(False)).alias("member")
        )
    )
    fan = pm.select(
        "doc_id",
        "shingle",
        "member",
        F.explode(
            F.array(
                *[
                    _cms_bucket(F.col("shingle"), r, _BLOOM_M).cast("int")
                    for r in range(_BLOOM_K)
                ]
            )
        ).alias("bit"),
    )
    per_gram = (
        fan.withColumn("word_idx", F.shiftright("bit", 5))
        .join(F.broadcast(words), "word_idx", "left")
        .groupBy("doc_id", "shingle", "member")
        .agg(
            F.bool_and(
                F.coalesce(
                    F.expr("(shiftright(word, CAST(bit % 32 AS INT)) & 1) = 1"),
                    F.lit(False),
                )
            ).alias("hit")
        )
    )
    return per_gram.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.count_if("hit").alias("n_hits"),
        F.count_if("member").alias("n_members"),
        F.count_if(F.col("hit") & ~F.col("member")).alias("n_false_pos"),
        F.bool_and(F.col("hit") | ~F.col("member")).alias("no_false_negative"),
    )


@query(
    "stream_bloom",
    oracle=f"""
    WITH {_GRAM5_CTES},
    allg AS (SELECT gram AS key FROM g)
    SELECT word_idx, word FROM {_bloom_words_sql("allg", "key")} w
    """,
)
def stream_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Bloom filter maintained INCREMENTALLY by a streaming
    aggregation over the document stream: each micro-batch's word
    masks fold into the running state by bit_or — the same merge
    operation agg_bloom_sketch's docstring promises — and the oracle
    is the BATCH filter over the same corpus (all docs), so the hash
    match proves stream-merged == batch-built bit for bit. State is
    bounded at M/32 cells regardless of stream length — the entire
    point of sketching membership for an unbounded dedup frontier
    (dedup_incremental's exact bipartite check, with the old side
    compressed to 32 KB of bits)."""
    from tstables_spark.operators.dedup import shingles

    src = _read_stream_docs(spark, sf_dir)
    grams = shingles(src, n=5)
    out = _run_stream_to_memory(_bloom_words(grams, "shingle"), "complete")
    return out.select(
        F.col("word_idx").cast("int").alias("word_idx"),
        F.col("word").cast("long").alias("word"),
    )


def _read_stream_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents as a file-source stream (the streaming_q._read_stream
    shape, for this module's streaming maintainer)."""
    from tstables_spark.plans.streaming_q import _read_stream

    return _read_stream(spark, sf_dir, "documents")


def _run_stream_to_memory(df: DataFrame, mode: str) -> DataFrame:
    from tstables_spark.plans.streaming_q import _run_to_memory

    return _run_to_memory(df, mode)


@query(
    "doc_bm25",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(str_split(lower(text), ' ')) AS term
                 FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
    dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
    stats AS (SELECT count(*) AS n_docs,
                     CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
              FROM dl),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    q AS (SELECT term, df FROM df ORDER BY df DESC, term LIMIT 5 OFFSET 20),
    contrib AS (
      SELECT tf.doc_id,
             ln(1.0 + (s.n_docs - q.df + 0.5) / (q.df + 0.5))
               * (tf.tf * 2.2
                  / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))) AS c
      FROM tf JOIN q USING (term) JOIN dl USING (doc_id), stats s),
    score AS (SELECT doc_id,
                     round(CAST(SUM(CAST(c AS DECIMAL(30,6))) AS DOUBLE), 6)
                       AS bm25
              FROM contrib GROUP BY doc_id)
    SELECT doc_id, bm25,
           CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS rank
    FROM score ORDER BY bm25 DESC, doc_id LIMIT 10
    """,
)
def doc_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring (k1=1.2, b=0.75): the top-10 documents
    for a 5-term query drawn deterministically from the corpus's own
    mid-frequency band (df ranks 21-25, ties term-broken) — the
    search-relevance primitive, and in a pipeline the
    targeted-retrieval step behind decontamination audits and
    curriculum mining. Same tokenizer as doc_tfidf; idf is the classic
    ln(1 + (N - df + 0.5)/(df + 0.5)) with the tf saturation and
    doc-length normalization terms written as ONE identical expression
    on both engines. Per-doc scores sum in DECIMAL (exact_sum — the
    order-insensitive float discipline), then round to 6dp BEFORE
    ranking so tie order is engine-independent; ln() itself is libm
    territory, handled exactly as doc_tfidf/token_pmi do (6dp-rounded
    published score).

    Scale shape: tf/dl/df are the explode-and-aggregate passes every
    text query here shares; the query side is a 5-row broadcast
    (TakeOrdered band selection, never a vocab-wide sort spill); the
    per-doc sum touches only docs containing a query term (the
    inverted-index contract — join prunes to the posting lists); final
    top-10 via TakeOrdered. At 100 TB the df relation is the only
    vocabulary-sized intermediate, one hash agg."""
    from pyspark.sql import Window as W

    from tstables_spark._exact import exact_sum

    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    )
    # tf feeds THREE consumers (df_rel, the contrib join, and dl via
    # re-aggregation) — pin it once so the corpus explode+shuffle runs
    # once, and derive doc lengths from it (sum tf == count tok)
    # instead of a second explode pass over the corpus.
    tf = pin(tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf")))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    df_rel = tf.groupBy("term").agg(F.count("*").alias("df"))
    q = (
        df_rel.orderBy(F.desc("df"), "term")
        .limit(25)
        .withColumn("rn", F.row_number().over(W.orderBy(F.desc("df"), "term")))
        .filter(F.col("rn") > 20)
        .drop("rn")
    )
    contrib = (
        tf.join(F.broadcast(q), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.expr(
                "ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))"
                " * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))"
            ).alias("c"),
        )
    )
    score = contrib.groupBy("doc_id").agg(F.round(exact_sum("c"), 6).alias("bm25"))
    ranked = score.orderBy(F.desc("bm25"), "doc_id").limit(10)
    return ranked.withColumn(
        "rank", F.row_number().over(W.orderBy(F.desc("bm25"), "doc_id"))
    )


@query(
    "multimodal_audio_energy",
    oracle="""
    WITH b AS (
      SELECT doc_id, lower(hex(encode(text))) AS hx,
             octet_length(encode(text)) AS nb
      FROM documents
    ),
    fr AS (
      SELECT doc_id, hx, nb,
             unnest(generate_series(0, least((nb + 31) // 32, 16) - 1)) AS fi
      FROM b
    ),
    by AS (
      SELECT doc_id, fi,
             ('0x' || hx[bi*2 + 1 : bi*2 + 2])::BIGINT AS bv
      FROM (SELECT doc_id, fi, hx,
                   unnest(generate_series(fi * 32,
                            least((fi + 1) * 32, nb) - 1)) AS bi
            FROM fr) t
    )
    SELECT doc_id, CAST(fi AS BIGINT) AS frame_idx,
           CAST(count(*) AS BIGINT) AS n_bytes,
           CAST(sum(bv * bv) AS BIGINT) AS energy
    FROM by GROUP BY doc_id, fi
    """,
)
def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio FRAME-ENERGY extraction over the multimodal struct — the
    windowed per-frame feature shape every audio pipeline runs
    (librosa frame -> energy/MFCC): each payload windows into 32-byte
    frames (first 16 per doc) and emits one exact-integer energy
    scalar per frame. Real decode is the documented
    operators/multimodal.py gate; the stand-in squares raw payload
    bytes — the IDENTICAL windowed-aggregate over the identical Arrow
    batching, so the 1-row->N-frames plumbing, frame boundaries, and
    integer sums are all hash-checked against the byte-level oracle.

    Scale shape: one mapInPandas pass, output bounded at max_frames
    rows per doc; at 100 TB the payload column streams through Arrow
    batches and metadata-only readers never touch it (parquet column
    pruning — see multimodal_schema)."""
    from tstables_spark.operators.multimodal import audio_frame_energy, pack_multimodal

    docs = load(spark, sf_dir, "documents")
    packed = pack_multimodal(docs)
    return audio_frame_energy(packed, frame_bytes=32, max_frames=16)


@query(
    "token_ngram_novelty",
    oracle="""
    WITH toks AS (SELECT doc_id, str_split(lower(text), ' ') AS t
                  FROM documents WHERE len(str_split(lower(text), ' ')) >= 3),
    tri AS (
      SELECT DISTINCT doc_id,
             substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 16) AS g
      FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
            FROM toks)
    ),
    fs AS (SELECT g, min(doc_id) AS first_doc FROM tri GROUP BY g)
    SELECT tri.doc_id,
           COUNT(*) AS total_grams,
           CAST(SUM(CASE WHEN fs.first_doc = tri.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS novel_grams,
           CAST(SUM(CASE WHEN fs.first_doc = tri.doc_id THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS novelty_ppm
    FROM tri JOIN fs ON tri.g = fs.g
    GROUP BY tri.doc_id
    """,
)
def token_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty — the training-data curation signal
    behind "how much of this document has the corpus already seen?":
    for each doc, the fraction (ppm) of its DISTINCT word trigrams
    whose corpus-wide first appearance (min doc_id = ingestion order)
    is this doc. Near-1.0 = fresh content; near-0 = boilerplate or a
    late near-duplicate. Docs under 3 tokens have no trigram and are
    excluded (both engines).

    Scale shape: trigrams are fingerprinted to 16 hex chars of md5 AT
    THE SCAN (both engines — md5 is bit-identical), so every shuffle
    key is 16 bytes instead of an unbounded 3-word string; at 100 TB
    that is the difference between shuffling the corpus text 3x over
    and shuffling fixed-width digests. Three shuffles, all inherent:
    the per-doc distinct (partial-agg), the first-seen min per gram
    (partial-agg), and the gram-keyed equi-join back — sort-merge with
    both sides already gram-partitioned, and stop-word-gram skew (one
    hot gram = millions of docs) is AQE skew-join territory, which a
    min-over-Window formulation (the join-free alternative) could not
    split. novelty_ppm is integer division of exact BIGINTs."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split(F.lower("text"), " ").alias("t")).where(
        F.size("t") >= 3
    )
    tri = (
        toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 2),"
                    " i -> substr(md5(concat_ws(' ', t[i-1], t[i], t[i+1])), 1, 16))"
                )
            ).alias("g"),
        )
        .distinct()
    )
    fs = tri.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0))
    return (
        tri.join(fs, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("total_grams"),
            novel.cast("long").alias("novel_grams"),
            (novel * 1000000).cast("long").alias("_n"),
        )
        .select(
            "doc_id",
            "total_grams",
            "novel_grams",
            F.expr("_n DIV total_grams").alias("novelty_ppm"),
        )
    )



# Shared byte-level aHash derivation (multimodal_phash + dedup_phash_band
# oracles): 16x16 stand-in image from the first 256 payload bytes, 2x2
# block sums, exact-integer mean threshold -> 64-char bit string.
_PHASH_CTES = """b AS (SELECT doc_id, lower(hex(encode(text))) AS hx,
                      octet_length(encode(text)) AS nb FROM documents),
    bytes AS (
      SELECT doc_id,
             ((i // 16) // 2) * 8 + ((i % 16) // 2) AS blk,
             CASE WHEN i < nb THEN ('0x' || hx[i*2+1 : i*2+2])::BIGINT
                  ELSE 0 END AS bv
      FROM (SELECT doc_id, hx, nb, unnest(generate_series(0, 255)) AS i
            FROM b)),
    blocks AS (SELECT doc_id, blk, SUM(bv) AS bsum FROM bytes GROUP BY 1, 2),
    tot AS (SELECT doc_id, SUM(bsum) AS tsum FROM blocks GROUP BY 1),
    ph AS (SELECT blocks.doc_id,
                  string_agg(CASE WHEN bsum * 64 > tsum THEN '1' ELSE '0' END,
                             '' ORDER BY blk) AS phash
           FROM blocks JOIN tot ON blocks.doc_id = tot.doc_id
           GROUP BY blocks.doc_id)"""


@query(
    "multimodal_phash",
    oracle=f"""
    WITH {_PHASH_CTES},
    cl AS (SELECT phash, COUNT(*) AS n_same, MIN(doc_id) AS canonical_doc
           FROM ph GROUP BY phash)
    SELECT ph.doc_id, ph.phash, cl.n_same, cl.canonical_doc
    FROM ph JOIN cl ON ph.phash = cl.phash
    """,
)
def multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash (aHash) image near-dup pass over the multimodal
    struct — the image twin of dedup_exact's content hash: downsample
    to an 8x8 cell grid, threshold each cell against the image mean in
    EXACT integer arithmetic (cell_sum * 64 > total_sum), group equal
    hashes into near-dup clusters. Real path: PIL decode feeds the
    same grid; the stand-in's 16x16 grayscale comes from the first 256
    payload bytes, so every bit is hash-checked against a byte-level
    SQL oracle (multimodal_audio_energy's hex-slice discipline).

    Scale shape: one 1-row->1-row mapInPandas pass (numpy block sums,
    payloads never leave the executor), then a phash-keyed count/min
    aggregate (partial-agg) joined back — groupBy+join rather than a
    per-hash Window so a degenerate hot hash (all-black thumbnails) is
    AQE skew-join splittable. Cluster relation carries 64-bit
    fingerprints (as bit-strings here for the cross-engine check; 8
    bytes packed in production)."""
    from tstables_spark.operators.multimodal import image_ahash, pack_multimodal

    docs = load(spark, sf_dir, "documents")
    ph = image_ahash(pack_multimodal(docs), side=8, cell=2)
    cl = ph.groupBy("phash").agg(
        F.count("*").alias("n_same"), F.min("doc_id").alias("canonical_doc")
    )
    return ph.join(cl, "phash").select("doc_id", "phash", "n_same", "canonical_doc")


@query(
    "dedup_phash_band",
    oracle=f"""
    WITH {_PHASH_CTES},
    bands AS (SELECT doc_id, phash, bi, substr(phash, bi * 16 + 1, 16) AS bv
              FROM ph, (SELECT unnest(generate_series(0, 3)) AS bi)),
    capped AS (SELECT doc_id, phash, bi, bv FROM (
        SELECT doc_id, phash, bi, bv,
               row_number() OVER (PARTITION BY bi, bv ORDER BY doc_id) AS rn
        FROM bands) t WHERE rn <= 256),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
                    a.phash AS pa, b2.phash AS pb
             FROM capped a JOIN capped b2
               ON a.bi = b2.bi AND a.bv = b2.bv AND a.doc_id < b2.doc_id)
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(pa::BIT, pb::BIT)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(pa::BIT, pb::BIT)) BETWEEN 1 AND 3
    """,
)
def dedup_phash_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-miss image pairs by banded perceptual-hash LSH — the
    Hamming extension of multimodal_phash's exact-equality clusters:
    split each 64-bit aHash into 4 16-bit bands, candidate = any pair
    sharing a band value, verify exact Hamming distance, keep 1..3
    (0 = identical, already clustered by multimodal_phash). By
    pigeonhole, ANY pair within Hamming 3 shares at least one clean
    band, so recall at the verify threshold is 1.0 by construction
    among uncapped bucket members — the banded-MinHash argument in
    Hamming space.

    Scale shape: the pair expansion is capped BEFORE the join (256
    docs per (band, value) bucket, lowest doc_id first — the
    graph-family cap discipline, mirrored in the oracle), so the
    candidate set is bounded at 4 * buckets * C(256,2) no matter how
    hot a bucket (all-dark thumbnails) gets; the verify is two
    codegen'd 32-bit XOR+bit_count terms per candidate (the hash rides
    the join as two BIGINTs, never re-derived), and duplicate
    candidates from multi-band agreement collapse with one distinct.
    At 100 TB the recall cap is the documented trade: a bucket beyond
    256 members is a degenerate hash region better served by the exact
    cluster pass."""
    from pyspark.sql import Window as W

    from tstables_spark.operators.multimodal import image_ahash, pack_multimodal

    docs = load(spark, sf_dir, "documents")
    ph = image_ahash(pack_multimodal(docs), side=8, cell=2).select(
        "doc_id",
        "phash",
        F.conv(F.substring("phash", 1, 32), 2, 10).cast("long").alias("h1"),
        F.conv(F.substring("phash", 33, 32), 2, 10).cast("long").alias("h2"),
    )
    bands = ph.select(
        "doc_id",
        "h1",
        "h2",
        F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("bi"),
        F.expr("substring(phash, bi * 16 + 1, 16)").alias("bv"),
    )
    wb = W.partitionBy("bi", "bv").orderBy("doc_id")
    capped = (
        bands.withColumn("rn", F.row_number().over(wb))
        .where(F.col("rn") <= 256)
        .drop("rn")
    )
    a = capped.select(
        F.col("doc_id").alias("doc_a"), F.col("h1").alias("ah1"),
        F.col("h2").alias("ah2"), "bi", "bv",
    )
    b = capped.select(
        F.col("doc_id").alias("doc_b"), F.col("h1").alias("bh1"),
        F.col("h2").alias("bh2"), "bi", "bv",
    )
    cand = (
        a.join(b, ["bi", "bv"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ah1", "ah2", "bh1", "bh2")
        .distinct()
    )
    ham = (
        F.bit_count(F.col("ah1").bitwiseXOR(F.col("bh1")))
        + F.bit_count(F.col("ah2").bitwiseXOR(F.col("bh2")))
    ).cast("long")
    return (
        cand.select("doc_a", "doc_b", ham.alias("hamming"))
        .where(F.col("hamming").between(1, 3))
    )


@query(
    "agg_heavy_hitters",
    oracle="""
    WITH toks AS (SELECT unnest(str_split(lower(text), ' ')) AS tok
                  FROM documents),
    nn AS (SELECT count(*) AS n FROM toks),
    c AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok)
    SELECT c.tok AS token, CAST(c.c AS BIGINT) AS exact_cnt,
           TRUE AS in_summary, TRUE AS err_ok
    FROM c, nn WHERE c.c > nn.n // 65
    """,
)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fifth mergeable summary: a Misra-Gries heavy-hitters sketch
    (k=64 counters) over corpus tokens, audited against exact counts —
    every token with true frequency above n/(k+1) must be IN the merged
    summary (in_summary) with its counter undercounting by at most
    n/(k+1) (err_ok); both hold deterministically by the MG guarantee
    under any merge schedule (Agarwal et al. mergeable summaries), so
    the driver hash-checks the exact heavy-hitter list, counts, and
    TRUE flags. Complements agg_cms_*: MG stores the items themselves
    (no hash collisions), bounds error by TOTAL count, and its
    estimates never overcount.

    Scale shape: one Arrow-batched mapInPandas pass with O(k) task
    state, a bounded partitions x k summary collect (the per-executor
    partial aggregate), a driver fold of the subtract-merge, and ONE
    exact groupBy count pass whose output is filtered to the ~n/(k+1)
    threshold before the tiny collect — no sort, no global window."""
    from tstables_spark.operators.heavyhitters import mg_merge, mg_partitions

    k = 64
    toks = load(spark, sf_dir, "documents").select(
        F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )
    summary = [
        (r["item"], r["cnt"]) for r in mg_partitions(toks, "tok", k).collect()
    ]
    merged = mg_merge(summary, k)
    exact = toks.groupBy("tok").agg(F.count("*").alias("c"))
    n = exact.agg(F.sum("c").alias("n")).collect()[0]["n"]
    bound = n // (k + 1)
    hh = exact.where(F.col("c") > bound).collect()  # bounded: <= k+1 rows
    out = []
    for r in hh:
        est = merged.get(r["tok"], 0)
        out.append(
            (
                r["tok"],
                r["c"],
                r["tok"] in merged,
                bool(est <= r["c"] and r["c"] - est <= bound),
            )
        )
    from tstables_spark._local import local_df

    return local_df(
        spark, out, "token string, exact_cnt long, in_summary boolean, err_ok boolean"
    )
