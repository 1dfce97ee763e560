"""Round-3 ANN/clustering plans: Lloyd-refined IVF, k-means cell
assignment, and a driver-visible recall metric for the whole
approximate-similarity family.

These close two r2 VERDICT gaps: ``kmeans_lloyd`` had no exercised
path, and the ANN recall floors lived only in pytest — ``sim_recall``
turns recall-vs-exact into CORRECTNESS rows the harness records every
round. All three are deterministic (id-seeded codebooks, decimal-exact
centroid means, 4dp-rounded cosines) but approximate/engine-specific by
design, so they are declared rows-only; the exact twin is ``sim_topk``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tstables_spark.operators.clustering import kmeans_fit
from tstables_spark.operators.similarity import (
    cosine_topk,
    ivf_topk,
    ivf_topk_kmeans,
    knn_graph,
    lsh_topk,
)
from tstables_spark._exact import exact_sum as _exact_sum
from tstables_spark._exact import sql_sum as _sql_sum
from tstables_spark._staging import pin
from tstables_spark.plans.registry import query
from tstables_spark.plans.tables import load


@query("sim_ivf_kmeans")
def sim_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via IVF with a Lloyd-refined codebook
    (operators/similarity.py::ivf_topk_kmeans): 2 k-means rounds move
    the 16 centroids to the corpus density before bucketing — the
    codebook-training step FAISS IVF runs, expressed as narrow
    scan-side assignment + decimal-mean update. Rows-only: approximate
    by design; exact twin is sim_topk, recall floor pinned in
    tests/test_operators.py and surfaced by sim_recall."""
    emb = load(spark, sf_dir, "embeddings")
    return ivf_topk_kmeans(
        emb, F.col("vec_id") < 10, k=5, n_cells=16, n_probe=4, iters=2
    )


@query("sim_nsw")
def sim_nsw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via GRAPH-based ANN: beam search over the
    exact kNN graph expressed as bounded broadcast-join rounds — the
    navigable-small-world / HNSW-layer-0 retrieval shape
    (operators/similarity.py::nsw_topk). Rows-only: approximate by
    design; exact twin is sim_topk, quality hash-gated by sim_recall's
    recall@5 >= 0.8 floor (measured 1.00/1.00/0.90 at
    sf0.001/0.01/0.1)."""
    from tstables_spark.operators.similarity import nsw_topk

    emb = load(spark, sf_dir, "embeddings")
    return nsw_topk(emb, F.col("vec_id") < 10, k=5)


def _nsw_staged_index(spark: SparkSession, sf_dir: str) -> str:
    """Stage the NSW index once per (app, sf) — the repeated-retrieval
    layout ``nsw_topk``'s scale note promises, a ``_staging.staged``
    entry like every stage-once fixture."""
    from tstables_spark.operators.similarity import stage_nsw_layout
    from tstables_spark._staging import register_staged_table, staged

    def build(tag: str, base: str) -> str:
        stage_nsw_layout(load(spark, sf_dir, "embeddings"), tag, base)
        for part in ("edges", "base", "entries"):
            register_staged_table(spark, f"{tag}_{part}")
        return tag

    return staged(spark, "nsw_index", (sf_dir,), build)


@query("sim_nsw_staged")
def sim_nsw_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``sim_nsw`` against a pre-staged index
    (operators/similarity.py::stage_nsw_layout): the kNN-graph build —
    the dominant cost of every fresh ``nsw_topk`` — is paid once at
    staging and every retrieval is ONLY the bounded beam walk over the
    bucketed edge table. Results are identical to sim_nsw by
    construction (same graph, entries, walk, tie-breaks; asserted in
    tests). Rows-only like its twin; quality hash-gated by sim_recall's
    recall@5 >= 0.8 floor."""
    from tstables_spark.operators.similarity import nsw_topk_staged

    tag = _nsw_staged_index(spark, sf_dir)
    return nsw_topk_staged(spark, tag, F.col("vec_id") < 10, k=5)


@query("sim_ivfpq")
def sim_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via IVF-PQ with exact re-rank — the production
    FAISS shape (operators/similarity.py::ivfpq_topk): Lloyd coarse
    quantizer (sim_ivf_kmeans's trainer) routes queries to 6 of 16
    cells, candidates rank by asymmetric distance over 8-block
    product-quantized residuals (embed_pq's per-block argmin, on the
    residual variance, seeded from the lowest-pq_k ids and Lloyd-refined
    per block), and only the ADC top-128 survivors per query are scored
    exactly. Rows-only: approximate by design; exact twin is sim_topk,
    quality hash-gated by sim_recall's recall@5 >= 0.8 floor (measured
    0.96/0.96/0.98 at sf0.001/0.01/0.1)."""
    from tstables_spark.operators.similarity import ivfpq_topk

    emb = load(spark, sf_dir, "embeddings")
    # cache_key: train-once-query-many — repeat invocations reuse the
    # deterministic codebooks instead of re-running Lloyd + the PQ
    # refinement scan (the steady-state the staged-NSW walk measures)
    return ivfpq_topk(emb, F.col("vec_id") < 10, k=5, cache_key=(sf_dir,))


@query(
    "cluster_kmeans",
    oracle="SELECT vec_id, TRUE AS nearest_ok, TRUE AS nondegenerate_ok FROM embeddings",
)
def cluster_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means (Lloyd) cell assignment over the embeddings corpus —
    the mixture-balancing / stratified-sampling / codebook-training
    primitive (operators/clustering.py). 8 cells, 2 rounds,
    deterministic id-ordered seeding.

    The float fixpoint itself is engine-specific, so the hash-checked
    surface is the tolerance-boolean pattern (same as
    agg_approx_distinct): per vector, ``nearest_ok`` re-verifies the
    Lloyd assignment invariant — squared-L2 to the ASSIGNED final
    centroid equals the minimum over all k final centroids — through an
    INDEPENDENT code path (JVM ``aggregate``/``zip_with`` expression
    fold vs the numpy Arrow kernel that produced the assignment), and
    ``nondegenerate_ok`` asserts all k cells are populated (seeded from
    k distinct vectors; an empty cell would mean the update step
    collapsed). The oracle expects TRUE for every embeddings row, which
    also pins the one-assignment-per-vector row contract."""
    k = 8
    emb = load(spark, sf_dir, "embeddings")
    assigned, cents = kmeans_fit(emb, k=k, iters=2)
    v = F.transform("embedding", lambda x: x.cast("double"))

    def dist_to(c: list[float]):
        arr = F.array(*[F.lit(x) for x in c])
        return F.aggregate(
            F.zip_with(v, arr, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    dists = F.array(*[dist_to(c) for c in cents])
    nearest_ok = (
        F.element_at(dists, F.col("cell") + 1) <= F.array_min(dists) + F.lit(1e-9)
    )
    used = assigned.agg(F.countDistinct("cell").alias("cells_used"))
    return (
        assigned.select("vec_id", nearest_ok.alias("nearest_ok"))
        .crossJoin(F.broadcast(used))
        .select(
            "vec_id",
            "nearest_ok",
            (F.col("cells_used") == k).alias("nondegenerate_ok"),
        )
    )


@query(
    "sim_recall",
    oracle="""
    WITH nq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries
                FROM embeddings WHERE vec_id < 10)
    SELECT v.variant, nq.n_queries, 0.8 AS recall_floor,
           TRUE AS recall_ok
    FROM (VALUES ('sim_ivf'), ('sim_ivf_centroid'), ('sim_ivf_kmeans'),
                 ('sim_nsw'), ('sim_nsw_staged'), ('sim_ivfpq'))
         AS v(variant), nq
    """,
)
def sim_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of every approximate-similarity variant against the
    exact brute-force ``cosine_topk`` on the same 10 queries — the
    ANN quality metric, emitted as rows so the harness records it
    every round instead of it living only in pytest. Deterministic:
    every variant is RNG-free and ties are id-broken, so these numbers
    are stable across runs, partitionings, and cluster layouts.

    Hash-checked via the tolerance-boolean pattern: the exact recall is
    engine-specific (it grades this engine's approximations), but the
    quality CONTRACT — recall@5 >= 0.8 for every variant — is a
    portable boolean the oracle expects TRUE. Measured recalls are
    0.90–1.00 for the IVF/LSH variants and 0.90–1.00 for the graph
    variants (sim_nsw / sim_nsw_staged) across sf0.001/0.01/0.1, so the 0.8 floor has
    real margin; a bucketing/probing/navigation regression in any
    variant flips the boolean and fails the driver hash."""
    emb = load(spark, sf_dir, "embeddings")
    pred = F.col("vec_id") < 10
    k = 5

    def _nsw(emb, pred, k):
        from tstables_spark.operators.similarity import nsw_topk

        return nsw_topk(emb, pred, k=k)

    def _ivfpq(emb, pred, k):
        from tstables_spark.operators.similarity import ivfpq_topk

        return ivfpq_topk(emb, pred, k=k)

    def _nsw_staged(spark, sf_dir, pred, k):
        from tstables_spark.operators.similarity import nsw_topk_staged

        return nsw_topk_staged(spark, _nsw_staged_index(spark, sf_dir), pred, k=k)

    # Each variant runs SEQUENTIALLY as its own distributed job and only
    # k·|Q| id pairs cross the driver (contract-small, like the query
    # side every ANN op here broadcasts). A single union-of-variants
    # plan instead launches every subplan's broadcast build concurrently
    # on the driver — measured to exhaust the default 1g heap of the
    # harness's vanilla local session; the sequential form has the same
    # answer, one pipeline's peak memory, and no plan-estimation
    # dependence.
    def pairs(df: DataFrame) -> set:
        return {(r["qid"], r["nid"]) for r in df.select("qid", "nid").collect()}

    exact = pairs(cosine_topk(emb, pred, k=k))
    n_queries = len({q for q, _ in exact})
    variants = [
        ("sim_ivf", lambda: lsh_topk(emb, pred, k=k, planes=6, n_tables=8, probe_bits=1)),
        ("sim_ivf_centroid", lambda: ivf_topk(emb, pred, k=k, n_cells=16, n_probe=4)),
        (
            "sim_ivf_kmeans",
            lambda: ivf_topk_kmeans(emb, pred, k=k, n_cells=16, n_probe=4, iters=2),
        ),
        ("sim_nsw", lambda: _nsw(emb, pred, k)),
        ("sim_nsw_staged", lambda: _nsw_staged(spark, sf_dir, pred, k)),
        ("sim_ivfpq", lambda: _ivfpq(emb, pred, k)),
    ]
    rows = []
    for name, make in variants:
        approx = pairs(make())
        recall = len(exact & approx) / len(exact)
        rows.append((name, n_queries, 0.8, recall >= 0.8))
    from tstables_spark._local import local_df

    return local_df(
        spark, rows,
        "variant string, n_queries long, recall_floor double, recall_ok boolean",
    )


@query(
    "embed_normalize",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE vec_id < 500),
    n AS (SELECT vec_id, v,
                 list_sum(list_transform(v, x -> x * x)) AS n2 FROM e)
    SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim, v[i] / sqrt(n2) AS x
    FROM n CROSS JOIN unnest(generate_series(1, len(v))) AS u(i)
    WHERE n2 > 0
    """,
)
def embed_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization to the unit sphere — the prep step before any
    cosine-metric index (after it, cosine IS the dot product). The norm
    accumulates left-to-right (``F.aggregate``), the same float order
    as the oracle's list_sum, so every output coordinate is
    bit-identical. Output exploded to (vec_id, dim, x) scalars for the
    hash check (vec_id < 500 bounds the compare); the production form
    keeps the array column (one map-only pass, no shuffle either
    way)."""
    emb = load(spark, sf_dir, "embeddings").where(F.col("vec_id") < 500)
    v = F.transform("embedding", lambda x: x.cast("double"))
    n2 = F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
    e = emb.select("vec_id", v.alias("v"), n2.alias("n2")).where(F.col("n2") > 0)
    return e.select(
        "vec_id", F.posexplode("v").alias("dim", "xv"), F.col("n2")
    ).select(
        "vec_id", F.col("dim").cast("long").alias("dim"),
        (F.col("xv") / F.sqrt("n2")).alias("x"),
    )


@query(
    "embed_quantize",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE vec_id < 500),
    s AS (SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
          FROM e)
    SELECT vec_id, scale, CAST(i - 1 AS BIGINT) AS dim,
           CAST(round(v[i] / scale) AS TINYINT) AS q
    FROM s CROSS JOIN unnest(generate_series(1, len(v))) AS u(i)
    WHERE scale > 0
    """,
)
def embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization (absmax / 127 scale per vector) —
    the 4x storage/bandwidth cut vector stores apply before indexing;
    dequantized dot products then run against the int8 codes. Per-row
    scale from a HOF max over |x|; q = round(x/scale) — both engines
    round ties away from zero and divide the same doubles, so the codes
    are bit-identical. Map-only, no shuffle; exploded to scalars for
    the hash check as in embed_normalize."""
    emb = load(spark, sf_dir, "embeddings").where(F.col("vec_id") < 500)
    v = F.transform("embedding", lambda x: x.cast("double"))
    scale = F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0)
    s = emb.select("vec_id", v.alias("v"), scale.alias("scale")).where(F.col("scale") > 0)
    return s.select(
        "vec_id", "scale", F.posexplode("v").alias("dim", "xv")
    ).select(
        "vec_id", "scale", F.col("dim").cast("long").alias("dim"),
        F.round(F.col("xv") / F.col("scale")).cast("tinyint").alias("q"),
    )


@query(
    "embed_dim_stats",
    oracle=f"""
    WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    x AS (SELECT CAST(i - 1 AS BIGINT) AS dim, v[i] AS x
          FROM e CROSS JOIN unnest(generate_series(1, len(v))) AS u(i)),
    s AS (SELECT dim, CAST(count(*) AS BIGINT) AS n,
                 {_sql_sum('x')} AS sum_x, {_sql_sum('x * x')} AS sum_x2
          FROM x GROUP BY dim)
    SELECT dim, n,
           sum_x / CAST(n AS DOUBLE) AS mean,
           sum_x2 / CAST(n AS DOUBLE)
             - (sum_x / CAST(n AS DOUBLE)) * (sum_x / CAST(n AS DOUBLE)) AS var
    FROM s
    """,
)
def embed_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/variance over the embedding corpus — the
    feature-scaling statistics a whitening / standardization pass (or a
    drift monitor between snapshots) needs. posexplode -> ONE
    dim-keyed aggregate: 64 partial rows per map task cross the
    shuffle, not the exploded scalars. Sums ride the decimal-exact
    helpers (tstables_spark/_exact.py) so the cross-engine hash holds; mean and
    variance are then composed with the SAME IEEE expression tree in
    both engines (identical operands -> identical doubles)."""
    emb = load(spark, sf_dir, "embeddings")
    e = emb.select(
        F.posexplode(F.transform("embedding", lambda c: c.cast("double"))).alias(
            "dim", "x"
        )
    )
    s = e.groupBy(F.col("dim").cast("long").alias("dim")).agg(
        F.count(F.lit(1)).alias("n"),
        _exact_sum("x").alias("sum_x"),
        _exact_sum(F.col("x") * F.col("x")).alias("sum_x2"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("sum_x") / nd
    return s.select(
        "dim",
        "n",
        mean.alias("mean"),
        (F.col("sum_x2") / nd - mean * mean).alias("var"),
    )


@query(
    "embed_pq",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cb AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
    b AS (SELECT unnest(generate_series(0, 7)) AS blk),
    s AS (SELECT e.vec_id, b.blk, cb.cid,
                 round(list_sum(list_transform(generate_series(1, 8),
                        i -> (e.v[b.blk*8+i] - cb.cv[b.blk*8+i])
                           * (e.v[b.blk*8+i] - cb.cv[b.blk*8+i]))), 6) AS dist
          FROM e, b, cb),
    r AS (SELECT vec_id, blk, cid, dist,
                 row_number() OVER (PARTITION BY vec_id, blk
                                    ORDER BY dist, cid) AS rn
          FROM s)
    SELECT vec_id, CAST(blk AS INT) AS blk, CAST(cid AS INT) AS code, dist
    FROM r WHERE rn = 1
    """,
)
def embed_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (the PQ in IVF-PQ): split each 64-dim
    vector into 8 sub-blocks of 8 dims; encode each block as the id of
    its nearest codebook entry. 8 bytes per vector instead of 256 —
    the 32x memory cut that makes billion-vector ANN fit RAM (Jégou et
    al., TPAMI'11).

    Codebook: the sub-slices of the first 16 vectors (deterministic,
    collected — contract-small like every codebook in this engine; a
    production run would Lloyd-refine it with operators/clustering.py,
    exactly as sim_ivf_kmeans does for the coarse quantizer).
    Assignment is pure scan-side codegen'd expression work: per block,
    an array of (dist, cid) structs over 16 literal centroids reduced
    by array_min (lexicographic struct order = min dist, tie -> lowest
    cid) — no join, no shuffle, no Python; linear at any scale.
    Distances are 6dp-rounded left-to-right folds, so DuckDB's
    list_sum reproduces them bit-for-bit and the argmin is stable
    cross-engine."""
    m, w, k = 8, 8, 16
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda c: c.cast("double")).alias("v")
    )
    cents = {
        int(r["vec_id"]): [float(x) for x in r["v"]]
        for r in emb.where(F.col("vec_id") < k).collect()
    }

    def block_best(b: int):
        sub = F.slice("v", b * w + 1, w)
        cands = []
        for cid in sorted(cents):
            c = F.array(*[F.lit(x) for x in cents[cid][b * w : b * w + w]])
            dist = F.round(
                F.aggregate(
                    F.zip_with(sub, c, lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            )
            cands.append(F.struct(dist.alias("dist"), F.lit(cid).alias("cid")))
        return F.array_min(F.array(*cands))

    entries = F.array(
        *[
            F.struct(F.lit(b).cast("int").alias("blk"), block_best(b).alias("best"))
            for b in range(m)
        ]
    )
    return (
        emb.select("vec_id", F.explode(entries).alias("e"))
        .select(
            "vec_id",
            F.col("e.blk").alias("blk"),
            F.col("e.best.cid").cast("int").alias("code"),
            F.col("e.best.dist").alias("dist"),
        )
    )


@query(
    "embed_whiten",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    x AS (SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim, v[i] AS x
          FROM e CROSS JOIN unnest(generate_series(1, len(v))) AS u(i)),
    s AS (SELECT dim, CAST(count(*) AS BIGINT) AS n,
                 {{sum_x}} AS sum_x, {{sum_x2}} AS sum_x2
          FROM x GROUP BY dim),
    st AS (SELECT dim,
                  sum_x / CAST(n AS DOUBLE) AS mean,
                  sum_x2 / CAST(n AS DOUBLE)
                    - (sum_x / CAST(n AS DOUBLE)) * (sum_x / CAST(n AS DOUBLE)) AS var
           FROM s)
    SELECT x.vec_id, x.dim,
           (x.x - st.mean) / sqrt(st.var + 1e-9) AS xw
    FROM x JOIN st ON x.dim = st.dim
    WHERE x.vec_id < 200
    """.format(sum_x=_sql_sum('x'), sum_x2=_sql_sum('x * x')),
)
def embed_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension standardization (whitening without rotation):
    x' = (x - mean_d) / sqrt(var_d + 1e-9) using CORPUS-WIDE moments —
    the feature-scaling step before PCA/PQ codebook training or any
    distance metric that assumes isotropy (embed_dim_stats is the
    read-only view of the same moments; this op applies them).

    Scale shape: one dim-keyed aggregate (64 partial rows per map task
    cross the shuffle — the embed_dim_stats plan) broadcast back onto
    the scan; the apply side is map-only. Determinism: moments ride
    decimal-exact sums, and mean/var/sqrt compose the SAME IEEE
    expression tree in both engines (sqrt is correctly-rounded per
    IEEE 754, unlike ln/exp, so no rounding is needed). Output is
    exploded to (vec_id, dim, xw) scalars bounded to vec_id < 200 for
    the hash check; the production form keeps the array column."""
    emb = load(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id",
        F.posexplode(F.transform("embedding", lambda c: c.cast("double"))).alias(
            "dim", "x"
        ),
    ).select("vec_id", F.col("dim").cast("long").alias("dim"), "x")
    s = x.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        _exact_sum("x").alias("sum_x"),
        _exact_sum(F.col("x") * F.col("x")).alias("sum_x2"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("sum_x") / nd
    st = s.select(
        "dim", mean.alias("mean"), (F.col("sum_x2") / nd - mean * mean).alias("var")
    )
    return (
        x.where(F.col("vec_id") < 200)
        .join(F.broadcast(st), "dim")
        .select(
            "vec_id", "dim",
            ((F.col("x") - F.col("mean")) / F.sqrt(F.col("var") + F.lit(1e-9))).alias("xw"),
        )
    )


@query(
    "sim_knn_graph",
    oracle="""
    WITH e AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    n AS (SELECT label, vec_id, v,
                 list_sum(list_transform(v, x -> x * x)) AS n2 FROM e),
    s AS (SELECT a.vec_id AS vec_id, b.vec_id AS nn_id,
                 round(list_sum(list_transform(generate_series(1, len(a.v)),
                                               i -> a.v[i] * b.v[i]))
                       / sqrt(a.n2 * b.n2), 4) AS cosine
          FROM n a JOIN n b
            ON a.label = b.label AND a.vec_id != b.vec_id),
    r AS (SELECT vec_id, nn_id, cosine,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY cosine DESC, nn_id) AS rank
          FROM s)
    SELECT vec_id, nn_id, cosine, CAST(rank AS BIGINT) AS rank
    FROM r WHERE rank <= 5
    """,
)
def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine k-NN graph (k=5) blocked by label — every vector's
    neighborhood, the input structure for SemDeDup-style semantic
    pruning and graph-based ANN indexes. One Arrow kernel per block,
    O(k) output rows per vector; see operators/similarity.py::
    knn_graph for the scale/exactness argument (the oracle's pair join
    is the semantics spec, not the plan — the kernel never
    materializes pair rows)."""
    emb = load(spark, sf_dir, "embeddings")
    return knn_graph(emb, k=5, block_col="label")


def _pca_oracle(rounds: int = 3) -> str:
    """Unrolled-SQL twin of embed_pca_power: the same fixed-point power
    iteration, every intermediate either exact integer arithmetic or a
    correctly-rounded int->double division both engines share."""
    return (
        "WITH "
        + ",\n    ".join(_pca_ctes(rounds))
        + f"\n    SELECT dim, v AS component FROM v{rounds}"
    )


def _pca_ctes(rounds: int) -> list[str]:
    """The CTE chain of the unrolled fixed-point power iteration,
    shared by the component query (embed_pca_power) and the scorers
    built on its state (embed_spectral_outlier)."""
    ctes = [
        """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings)""",
        """q AS (SELECT vec_id, CAST(i - 1 AS INT) AS dim,
                 CAST(FLOOR(v[i] * 1048576) AS BIGINT) AS q
           FROM e CROSS JOIN unnest(generate_series(1, len(v))) AS u(i))""",
        """mu AS (SELECT dim, CAST(FLOOR(SUM(q) / COUNT(*)) AS BIGINT) AS m
           FROM q GROUP BY dim)""",
        """z AS (SELECT q.vec_id, q.dim, q.q - mu.m AS z
           FROM q JOIN mu USING (dim))""",
        """v0 AS (SELECT dim, CAST(1048576 AS BIGINT) AS v FROM mu)""",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""c{r} AS (
      SELECT z.vec_id,
             CAST(FLOOR(SUM(z.z * v.v) / 1048576) AS BIGINT) AS c
      FROM z JOIN v{r - 1} v USING (dim) GROUP BY z.vec_id)"""
        )
        ctes.append(
            f"""y{r} AS (
      SELECT z.dim, CAST(SUM(c.c * z.z) AS BIGINT) AS y
      FROM z JOIN c{r} c USING (vec_id) GROUP BY z.dim)"""
        )
        ctes.append(
            f"""n{r} AS (SELECT MAX(ABS(y)) AS mx FROM y{r})"""
        )
        ctes.append(
            f"""v{r} AS (
      SELECT dim, CAST(FLOOR(y / mx * 1048576) AS BIGINT) AS v
      FROM y{r}, n{r})"""
        )
    return ctes


@query("embed_pca_power", oracle=_pca_oracle(3))
def embed_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal component of the embedding corpus by POWER
    ITERATION — the one-pass-per-round building block behind PCA
    whitening, spectral outlier detection, and low-rank drift monitors
    at corpus scale. Three rounds of v <- normalize((X-mu)^T (X-mu) v)
    over the centered corpus, entirely in FIXED POINT (the
    graph_pagerank discipline, extended to linear algebra): vectors
    quantize once to 2^20 units (floor of identical IEEE doubles), the
    per-row projection c_r = z_r . v and the matvec y = sum c_r z_r
    are exact BIGINT sums, and the only non-integer step — the
    per-round max-normalization y/max|y| — casts each BIGINT to double
    FIRST and then divides, on all three sides (Spark, DuckDB, and the
    driver loop, which casts explicitly via float() — big-int true
    division would be up to ~2 ulps off past 2^53): the same
    mathematical integers round to the same doubles, so the division
    and its floor are bit-identical. The oracle
    unrolls all three rounds in SQL, hash-checking every round's state
    transitively through the final component.

    Scale shape: each round is ONE narrow scan computing the row
    projections against the 64-long LITERAL v (the ivf/PQ codebook
    pattern — no join, no shuffle for the projection) feeding one
    dim-keyed partial+final aggregate; only O(dims) numbers reach the
    driver per round. Rescale shifts are sized for ~1e4 rows x 2^20
    units (y <= ~5e17); at 1e8+ rows grow the c-shift by log2(N) —
    the documented knob, same as pagerank's scale choice. Driver-side
    normalization math is IEEE double, bit-identical to the engines'."""
    emb = load(spark, sf_dir, "embeddings")
    return _pca_power_fixed(emb, rounds=3, dims=64)


def _pca_power_fixed(emb: DataFrame, rounds: int, dims: int) -> DataFrame:
    """The fixed-point power iteration over a frame with ``vec_id`` +
    ``embedding`` (array<float|double>); see embed_pca_power for the
    determinism and scale arguments. Factored out so tests can drive
    it with a planted-spectrum corpus (the fixture's random embeddings
    have a near-flat spectrum where 3 rounds cannot converge)."""
    z, v = _pca_power_state(emb, rounds, dims)
    from tstables_spark._local import local_df

    return local_df(
        emb.sparkSession, [(d, int(v[d])) for d in range(dims)],
        "dim int, component long",
    )


def _pca_power_state(emb: DataFrame, rounds: int, dims: int):
    """Run the iteration and return ``(z, v)``: the centered quantized
    corpus (vec_id, z array<bigint>) pinned by an eager checkpoint, and
    the final component as a Python list of 2^20-unit BIGINTs — the
    state downstream scorers (embed_spectral_outlier) project against
    as a literal, exactly like the query's own rounds do."""
    import math

    # q is checkpointed even though it has only two consumers (mu, z):
    # dropping the pin and re-running the quantize map twice measured a
    # WASH at sf0.1 (2.69 s pinned vs 2.78 s lazy, 3-run min — SCALE.md
    # measured non-win), so the simpler always-pinned form stays.
    q = pin(
        emb.select(
            "vec_id",
            F.expr(
                "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576)"
                " AS BIGINT))"
            ).alias("q"),
        )
    )
    mu_rows = (
        q.select(F.posexplode("q").alias("dim", "x"))
        .groupBy("dim")
        .agg(F.floor(F.sum("x") / F.count("*")).cast("long").alias("m"))
        .collect()
    )
    mu = [0] * dims
    for r in mu_rows:
        mu[r["dim"]] = int(r["m"])
    mu_lit = F.array(*[F.lit(m) for m in mu])
    z = pin(
        q.select("vec_id", F.zip_with("q", mu_lit, lambda a, b: a - b).alias("z"))
    )
    v = [1 << 20] * dims
    for _ in range(rounds):
        v_lit = F.array(*[F.lit(int(x)) for x in v])
        c = F.floor(
            F.aggregate(
                F.zip_with("z", v_lit, lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            / F.lit(1048576)
        ).cast("long")
        y_rows = (
            z.select(c.alias("c"), F.posexplode("z").alias("dim", "zd"))
            .groupBy("dim")
            .agg(F.sum(F.col("c") * F.col("zd")).alias("y"))
            .collect()
        )
        y = [0] * dims
        for r in y_rows:
            y[r["dim"]] = int(r["y"])
        mx = max(abs(t) for t in y)
        # Cast each operand to double BEFORE dividing — the engines'
        # 'FLOOR(y / mx * 1048576)' converts the BIGINTs to double
        # first, while Python's big-int true division would compute the
        # correctly-rounded quotient of the EXACT rational (up to ~2
        # ulps apart when |y| > 2^53), which could flip a floor and
        # fork every later round (r8 review).
        v = [math.floor(float(t) / float(mx) * 1048576) for t in y]
    return z, v


def _spectral_outlier_oracle(rounds: int = 3) -> str:
    """The PCA CTE chain plus per-row scoring: projection onto the
    UNIT-normalized final component (z.v / ||v||, floored to quant
    units) and the integer residual norm^2 — identical arithmetic to
    the Spark side: ||v||^2 is an exact BIGINT < 2^53 (so the
    int->double conversion is exact), sqrt is IEEE-correctly-rounded
    on both engines, and dot products stay < 2^53 so their double
    conversions are exact too."""
    ctes = _pca_ctes(rounds)
    ctes.append(
        f"""nv AS (SELECT sqrt(CAST(SUM(v * v) AS DOUBLE)) AS nrm
      FROM v{rounds})"""
    )
    ctes.append(
        f"""score AS (
      SELECT z.vec_id,
             CAST(FLOOR(SUM(z.z * v.v) / nv.nrm) AS BIGINT) AS proj_q,
             CAST(SUM(z.z * z.z) AS BIGINT) AS n2
      FROM z JOIN v{rounds} v USING (dim), nv GROUP BY z.vec_id, nv.nrm)"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT vec_id, proj_q, n2 - proj_q * proj_q AS resid2
    FROM score
    ORDER BY resid2 DESC, vec_id LIMIT 20"""
    )


@query("embed_spectral_outlier", oracle=_spectral_outlier_oracle(3))
def embed_spectral_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral (reconstruction-error) outliers: the 20 embeddings
    worst explained by the corpus's dominant principal component —
    proj_q = floor(z.v / ||v||) (the projection onto the UNIT
    direction, in quant units — the max-normalized component is NOT
    unit length, so dividing by 2^20 alone would inflate proj^2 by up
    to (||v||/2^20)^2 <= 64 and invert the ranking; r8 review fix)
    and resid2 = ||z||^2 - proj_q^2, the classic low-rank residual
    that flags vectors pointing AWAY from the corpus's main axis
    (corrupt embeddings, off-distribution content, modality mixups).
    Built on embed_pca_power's state; every input to the one float
    division is an exact-in-double integer (< 2^53) and sqrt/floor are
    IEEE-identical on both engines, so the oracle hash-checks the full
    top-20 including tie order (resid2 DESC, vec_id).

    Scale shape: after the power rounds (see embed_pca_power), scoring
    is ONE narrow map against the 64-long literal component — no join,
    no shuffle — feeding TakeOrdered(20): per-partition top-20s reduce
    on the driver, never a global sort. Normalizing the projection
    early keeps proj_q^2 and ||z||^2 in comparable units within
    BIGINT range (~6e14 at 2^20 quant x 64 dims)."""
    import math

    emb = load(spark, sf_dir, "embeddings")
    z, v = _pca_power_state(emb, rounds=3, dims=64)
    norm = math.sqrt(float(sum(x * x for x in v)))
    v_lit = F.array(*[F.lit(int(x)) for x in v])
    dot = F.aggregate(
        F.zip_with("z", v_lit, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n2 = F.aggregate(
        F.zip_with("z", F.col("z"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = z.select(
        "vec_id",
        F.floor(dot / F.lit(norm)).cast("long").alias("proj_q"),
        n2.alias("n2"),
    ).select(
        "vec_id",
        "proj_q",
        (F.col("n2") - F.col("proj_q") * F.col("proj_q")).alias("resid2"),
    )
    return scored.orderBy(F.desc("resid2"), "vec_id").limit(20)
