"""Embedding similarity search: brute-force cosine top-k (the exact
baseline) and hyperplane-LSH bucketed ANN (the scale path).

Scale design: brute force is O(|Q| x |C|) dot products — correct
whenever |Q| is small enough to broadcast (the typical "find neighbors
of these suspects" query). For all-pairs at 100 TB, bucket vectors by
an 8-bit random-hyperplane signature (sign(v . p_j) for 8 fixed planes,
a SimHash for cosine space — Charikar 2002): vectors in the same bucket
are cosine-close with high probability, and the join becomes an
equi-join on the bucket id with per-bucket candidate sets ~N/256.
Probing neighboring buckets (Hamming distance 1) trades compute for
recall; multi-table LSH (several independent plane sets) is the
standard recall knob.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from tstables_spark._staging import dynamic_partition_overwrite, pin

DIM = 64  # embeddings fixture dimension; callers pass dim= to override


def _dot(a: str, b: str, dim: int = DIM) -> Column:
    """Dot product as a FLAT codegen'd expression, not a higher-order
    function: Spark evaluates lambda HOFs (aggregate/zip_with/transform)
    interpreted, outside whole-stage codegen — measured 10-30x slower on
    pair-expansion hot loops. A fixed-width sum of element_at products
    codegens, and its left-to-right addition order is exactly DuckDB's
    sequential list_sum, so oracle hashes still match."""
    terms = " + ".join(f"{a}[{i}] * {b}[{i}]" for i in range(dim))
    return F.expr(terms)


def _as_double_array(col: str) -> Column:
    return F.transform(F.col(col), lambda x: x.cast("double"))


def with_norm2(emb: DataFrame, vec_col: str = "embedding", dim: int = DIM) -> DataFrame:
    """Adds double-typed vector ``v`` and its squared L2 norm ``n2``."""
    return emb.withColumn("v", _as_double_array(vec_col)).withColumn(
        "n2", _dot("v", "v", dim)
    )


def cosine_topk(
    emb: DataFrame,
    query_pred: Column,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for rows matching ``query_pred``.

    Plan shape: the (small — that's the operator's contract) query side
    is collected and closed over into a ``mapInPandas`` kernel, so the
    candidate corpus streams through ONE narrow scan-side pass: no
    join, no |Q|x|C| pair rows in the plan, no shuffle until the final
    per-query rank over ~|Q| x k survivors per batch. Each batch emits
    only its local top candidates per query, with a 1.1e-4 raw-cosine
    slack below the batch k-th best: a candidate further below cannot
    reach the rounded top-k (4dp rounding moves a value by <= 5e-5 and
    the nid tie-break only applies at exactly equal rounded values), so
    the global rank over survivors is exact. Measured 3.4x faster than
    the crossJoin+window formulation at sf0.1 (0.78s -> 0.23s),
    bit-identical output.

    Bit-exactness: dots and norms accumulate dimension-by-dimension
    (left-to-right float order), matching the sequential sum the DuckDB
    oracle computes; the authoritative round(.,4) happens Spark-side.
    """
    import numpy as np
    import pandas as pd

    qrows = (
        emb.where(query_pred).select(id_col, vec_col).orderBy(id_col).collect()
    )
    qids = np.array([r[0] for r in qrows])
    QM = np.array([np.asarray(r[1], dtype=np.float64) for r in qrows])
    if len(qids) == 0:
        raise ValueError("query_pred matched no rows")
    d = QM.shape[1]
    qn2 = np.zeros(len(qids))
    for i in range(d):
        qn2 += QM[:, i] * QM[:, i]
    if (qn2 == 0).any():
        raise ValueError(
            f"zero-norm query vector(s): {qids[qn2 == 0][:5].tolist()} — "
            "cosine is undefined; filter or re-embed them first"
        )
    local_keep = max(2 * k, k + 5)

    def score(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            if len(ids) == 0:
                continue
            M = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            n2 = np.zeros(len(ids))
            for i in range(d):
                n2 += M[:, i] * M[:, i]
            outs = []
            for qi in range(len(qids)):
                dot = np.zeros(len(ids))
                for i in range(d):
                    dot += QM[qi, i] * M[:, i]
                with np.errstate(invalid="ignore", divide="ignore"):
                    # zero-norm corpus rows yield NaN, which fails every
                    # comparison below: they drop from all results
                    # DETERMINISTICALLY (cosine with the zero vector is
                    # undefined) instead of warning per batch
                    cos = dot / np.sqrt(qn2[qi] * n2)
                mask = ids != qids[qi]
                c, nid = cos[mask], ids[mask]
                if len(c) > local_keep:
                    kth = np.partition(c, -local_keep)[-local_keep]
                    sel = c >= kth - 1.1e-4
                    c, nid = c[sel], nid[sel]
                outs.append(pd.DataFrame({"qid": qids[qi], "nid": nid, "cosine": c}))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    raw = emb.select(id_col, vec_col).mapInPandas(score, "qid long, nid long, cosine double")
    scored = raw.select("qid", "nid", F.round("cosine", 4).alias("cosine"))
    return _rank_topk(scored, k)


def _rank_topk(scored, k: int):
    """The ONE top-k rank epilogue every ANN variant shares: rank by
    (cosine DESC, nid) — the tie-break order the oracles hash — keep
    rank <= k, emit (qid, nid, cosine, rank). Factored so a tie-break
    change cannot silently diverge between variants."""
    w = W.partitionBy("qid").orderBy(F.col("cosine").desc(), "nid")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("qid", "nid", "cosine", "rank")
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    block_col: str = "label",
    threshold: float = 0.3,
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within blocking-key groups.

    Scale shape: the equi-join on ``block_col`` (shard/source/cluster id
    in a real corpus; an LSH bucket from ``hyperplane_buckets`` when no
    natural key exists) bounds the pairwise expansion to Σ_b n_b² — the
    same blocked-verify pattern as MinHash candidate checking. The
    per-block verify runs as ONE Arrow batch per block
    (``applyInPandas``): rows cross the shuffle, never pairs, and the
    n_b² pair expansion lives entirely inside the kernel as chunked
    numpy gathers — so communication is O(rows + matches) while a pair
    self-join would materialize O(Σ n_b²) rows each dragging two
    d·8-byte arrays through the plan (measured 5x slower at d=64). The
    kernel emits pairs above a conservative raw-cosine margin; the
    authoritative ``round(·,4) >= threshold`` cut happens Spark-side so
    the decision uses exact decimal rounding, not numpy's scaled-float
    round.

    Bit-exactness: the kernel accumulates dot products and norms
    dimension-by-dimension (``acc += a_i*b_i`` left to right), the same
    float addition order as a sequential per-element sum — results are
    bit-identical to the flat codegen expression and to DuckDB's
    ``list_sum(list_transform(...))``, so the 4dp rounding cannot
    diverge. (A BLAS GEMM would be faster still but reorders the
    summation.)
    """
    import numpy as np
    import pandas as pd

    # round(raw,4) can pull a value UP into the threshold from at most
    # half an ulp-of-4dp below it; keep a hair more than 5e-5 of slack.
    margin = threshold - 5.1e-5
    chunk = 1 << 18  # pairs per gather: bounds kernel temp memory ~270MB

    def _block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        n = len(ids)
        if n < 2:
            return pd.DataFrame({"vec_a": ids[:0], "vec_b": ids[:0], "cosine": []})
        M = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
        d = M.shape[1]
        n2 = np.zeros(n)
        for i in range(d):
            n2 += M[:, i] * M[:, i]
        # banded pair generation: a full np.triu_indices(n, 1) would
        # materialize ~8n^2 bytes of int64 indices BEFORE any chunking
        # (r8 review) — generate each band's (a, b) indices on the fly
        # so index memory is bounded by the same pair budget as the
        # gathered float temporaries.
        outs = []
        row_chunk = max(1, chunk // max(1, n - 1))
        for a0 in range(0, n - 1, row_chunk):
            arng = np.arange(a0, min(a0 + row_chunk, n - 1))
            ia = np.repeat(arng, n - 1 - arng)
            ib = np.concatenate([np.arange(a + 1, n) for a in arng])
            for s in range(0, len(ia), chunk):
                ca, cb = ia[s : s + chunk], ib[s : s + chunk]
                A, B = M[ca], M[cb]
                dot = np.zeros(len(ca))
                for i in range(d):
                    dot += A[:, i] * B[:, i]
                cos = dot / np.sqrt(n2[ca] * n2[cb])
                keep = cos >= margin
                outs.append(
                    pd.DataFrame(
                        {"vec_a": ids[ca[keep]], "vec_b": ids[cb[keep]], "cosine": cos[keep]}
                    )
                )
        return pd.concat(outs, ignore_index=True)

    raw = (
        emb.select(F.col(block_col).alias("blk"), F.col(id_col), "embedding")
        .groupBy("blk")
        .applyInPandas(_block_pairs, f"vec_a long, vec_b long, cosine double")
    )
    return raw.select(
        "vec_a", "vec_b", F.round("cosine", 4).alias("cosine")
    ).where(F.col("cosine") >= threshold)


def _sign_bit(i: int, j: int) -> int:
    """Deterministic +/-1 hyperplane component for (dim index i, GLOBAL
    plane index j): Knuth-style multiplicative mix with an xor-shift for
    full diffusion. (The previous formula, ((i*2654435761 + j*40503)
    mod 4) < 2, reduced to ((i + 3j) mod 4) < 2 — a period-4 square
    wave in i, giving only FOUR distinct hyperplanes for any plane
    count, so bucket Hamming distances came only in multiples of 2 and
    multi-probe was a no-op.)"""
    h = (i * 2654435761 + j * 0x9E3779B9) & 0xFFFFFFFF
    h ^= h >> 16
    h = (h * 2246822519) & 0xFFFFFFFF
    return (h >> 15) & 1


def _bucket_expr(planes: int, dim: int, table: int) -> Column:
    """Bucket id from the sign pattern of plane set ``table`` (global
    plane indices table*planes .. table*planes+planes-1). The signs are
    compile-time constants, so each signed dot flattens to a codegen'd
    +/- chain (see _dot for why no HOF). Fine for ONE table; for many
    tables use ``_lsh_scan`` — the stacked expression tree blows past
    the JVM's generated-method limits and falls back to interpreted
    per-row tree walking (measured: 5.7 s for 8 tables x 6 planes over
    a mere 2k vectors, vs 0.5 s for the kernel)."""
    bits = []
    for j in range(planes):
        signs = ["+" if _sign_bit(i, table * planes + j) else "-" for i in range(dim)]
        dot_j = F.expr(" ".join(f"{s} v[{i}]" for i, s in enumerate(signs)))
        bits.append(F.when(dot_j >= 0, F.lit(1 << j)).otherwise(F.lit(0)))
    return reduce(lambda a, b: a + b, bits).cast("int")


def _lsh_scan(
    emb: DataFrame,
    planes: int,
    n_tables: int,
    dim: int,
    id_col: str,
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, v, n2, buckets[L]) for every row — ALL tables' buckets in
    one Arrow-batched scan kernel.

    Why a kernel and not column expressions: L tables x planes signed
    64-term dots is a ~3000-node expression tree; Spark's generated
    code for it exceeds the JVM method limits, so evaluation silently
    falls back to interpreted tree-walking per row (and Catalyst pays
    seconds of analysis on the tree besides). The kernel computes the
    same signed dots as vectorized numpy column ops, accumulated
    dimension-by-dimension (``acc += v_i * p_i`` left to right) — the
    SAME float addition order as the codegen'd chain, so bucket
    assignments are bit-identical to the expression form and
    deterministic on any partitioning. mapInPandas is narrow: no
    shuffle, plan stays scan → kernel."""
    import numpy as np
    import pandas as pd

    P = np.array(
        [
            [1.0 if _sign_bit(i, t * planes + j) else -1.0 for i in range(dim)]
            for t in range(n_tables)
            for j in range(planes)
        ]
    ).T  # (dim, L*planes)
    n_planes = n_tables * planes
    shifts = np.array([1 << j for j in range(planes)], dtype=np.int64)

    def gen(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            if len(ids) == 0:
                continue
            M = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            n2 = np.zeros(len(ids))
            dots = np.zeros((len(ids), n_planes))
            for i in range(dim):
                col = M[:, i]
                n2 += col * col
                dots += col[:, None] * P[i][None, :]
            bits = (dots >= 0).astype(np.int64).reshape(len(ids), n_tables, planes)
            buckets = (bits * shifts[None, None, :]).sum(axis=2).astype(np.int32)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "v": list(M),
                    "n2": n2,
                    "buckets": list(buckets),
                }
            )

    return emb.select(id_col, vec_col).mapInPandas(
        gen, f"{id_col} long, v array<double>, n2 double, buckets array<int>"
    )


def hyperplane_buckets(
    emb: DataFrame, planes: int = 8, dim: int = 64, table: int = 0
) -> DataFrame:
    """Adds an LSH ``bucket`` (int) from the signs of ``planes`` fixed
    pseudo-random hyperplanes (plane set ``table`` — pass distinct
    table indices for independent hash tables). Plane components are
    deterministic +/-1 from an integer mix — no runtime randomness, so
    buckets are reproducible across runs/engines."""
    base = with_norm2(emb, dim=dim)
    return base.withColumn("bucket", _bucket_expr(planes, dim, table))


def _cells_from_codebook(
    emb: DataFrame,
    cvs: list[list[float]],
    cn2s: list[float],
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Assign every vector to its nearest-by-cosine codebook entry —
    entirely scan-side, via an Arrow-batched kernel.

    The codebook is driver-held (n_cells·d doubles — KB, not data); the
    kernel computes all n_cells cosines as vectorized numpy column ops
    accumulated dimension-by-dimension (the same left-to-right float
    order as a flat codegen'd expression, so assignments are
    bit-reproducible on any partitioning) and takes the argmax with
    ties to the LOWEST cell id (numpy argmax returns the first
    maximum), matching ORDER BY cosine DESC, cell. No join, no shuffle
    at ANY corpus size — the r2 formulation crossJoined a broadcast
    centroid table and picked the max with row_number over
    Window.partitionBy(id), a full hash shuffle of the expanded corpus
    (ADVICE r2); the interim expression-tree form avoided the shuffle
    but fell out of whole-stage codegen at n_cells·dim terms and ran
    interpreted (see _lsh_scan). Returns (cells, cents): cells =
    (id_col, v, n2, cell 1-based), cents = (cell, cv, cn2) local
    relation for downstream broadcast use.
    """
    import numpy as np
    import pandas as pd

    n = len(cvs)
    C = np.array(cvs, dtype=np.float64).T  # (dim, n_cells)
    CN2 = np.array(cn2s, dtype=np.float64)

    def gen(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            if len(ids) == 0:
                continue
            M = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            n2 = np.zeros(len(ids))
            dots = np.zeros((len(ids), n))
            for i in range(dim):
                col = M[:, i]
                n2 += col * col
                dots += col[:, None] * C[i][None, :]
            with np.errstate(invalid="ignore", divide="ignore"):
                # sqrt(n2 * cn2): the same float op order as the
                # dot/sqrt(n2*cn2) expression used everywhere else
                cos = dots / np.sqrt(n2[:, None] * CN2[None, :])
            cell = (np.argmax(cos, axis=1) + 1).astype(np.int32)
            yield pd.DataFrame({id_col: ids, "v": list(M), "n2": n2, "cell": cell})

    cells = emb.select(id_col, vec_col).mapInPandas(
        gen, f"{id_col} long, v array<double>, n2 double, cell int"
    )
    from tstables_spark._local import local_df

    cents = local_df(
        emb.sparkSession,
        [(ci + 1, cvs[ci], cn2s[ci]) for ci in range(n)],
        "cell int, cv array<double>, cn2 double",
    )
    return cells, cents


def ivf_assign(
    emb: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    dim: int = DIM,
) -> tuple[DataFrame, DataFrame]:
    """Partition vectors into IVF cells: the first ``n_cells`` vectors
    (by id — deterministic, no RNG) act as the coarse codebook, and
    every vector is assigned the cell of its nearest centroid by cosine.

    Returns (cells, centroids): ``cells`` = (id_col, v, n2, cell);
    ``centroids`` = (cell, cv, cn2). The codebook rows are collected
    once (n_cells·d doubles) and assignment happens scan-side with zero
    shuffle — see ``_cells_from_codebook``. Seeding by id keeps this
    deterministic and engine-reproducible; ``ivf_topk_kmeans`` is the
    Lloyd-refined variant.
    """
    seed_rows = (
        with_norm2(emb, dim=dim).orderBy(id_col).limit(n_cells).select("v", "n2").collect()
    )
    cvs = [[float(x) for x in r["v"]] for r in seed_rows]
    cn2s = [float(r["n2"]) for r in seed_rows]
    return _cells_from_codebook(emb, cvs, cn2s, dim, id_col)


def ivf_topk(
    emb: DataFrame,
    query_pred: Column,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    dim: int = DIM,
) -> DataFrame:
    """Approximate top-k via IVF: score each query only against the
    members of its ``n_probe`` nearest cells.

    The classic inverted-file ANN layout (Sivic & Zisserman's Video
    Google; FAISS IVF-Flat): candidate count drops from |corpus| to
    ~|corpus| * n_probe / n_cells. In Spark terms the cell id becomes
    an equi-join key — at 100 TB you'd additionally bucket the cells
    table BY cell so probes hit co-located partitions without a
    shuffle. Exact twin: ``cosine_topk``; recall floor pinned by unit
    test."""
    cells, cents = ivf_assign(emb, n_cells, id_col, dim=dim)
    return _ivf_probe_topk(emb, cells, cents, query_pred, k, n_probe, id_col, dim)


def ivf_topk_kmeans(
    emb: DataFrame,
    query_pred: Column,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    dim: int = DIM,
) -> DataFrame:
    """IVF top-k with a Lloyd-REFINED coarse codebook: ``kmeans_fit``
    (operators/clustering.py) moves the n_cells centroids for ``iters``
    rounds before vectors are bucketed, so cells track the actual
    density of the corpus instead of whatever the first n_cells vectors
    happened to be — the codebook-training step real FAISS IVF runs.

    Scale shape: each Lloyd round is one narrow scan (assignment is
    flat codegen'd expressions over literal centroids — no join, no
    shuffle) plus one k·d-row decimal-mean aggregate; the refined
    centroids then feed the same zero-shuffle assignment and
    probe-equi-join as ``ivf_topk``. Deterministic end to end (id-seeded
    codebook, order-independent decimal means), so recall vs the exact
    ``cosine_topk`` twin is a stable, testable number.
    """
    from tstables_spark.operators.clustering import kmeans_fit

    _, cvs = kmeans_fit(emb, k=n_cells, iters=iters, id_col=id_col, vec_col="embedding")
    # centroid norms, accumulated left-to-right like _dot so the cosine
    # denominators match the scan-side float order exactly
    cn2s = []
    for cv in cvs:
        acc = 0.0
        for x in cv:
            acc += x * x
        cn2s.append(acc)
    cells, cents = _cells_from_codebook(emb, cvs, cn2s, dim, id_col)
    return _ivf_probe_topk(emb, cells, cents, query_pred, k, n_probe, id_col, dim)


# Trained IVF-PQ codebooks (coarse centroids + per-block PQ book),
# cached per (app, caller identity, knobs): training is deterministic
# (id-ordered seeds, order-independent decimal means, argmin ties by
# code id), so cached == retrained bit-for-bit — and the production
# lifecycle is train-once-query-many, not retrain-per-query. The
# entries are O(n_cells*dim + m*pq_k*w) doubles — KB, driver-side.
_PQ_TRAINED: dict = {}


def ivfpq_topk(
    emb: DataFrame,
    query_pred: Column,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 6,
    iters: int = 2,
    m: int = 8,
    pq_k: int = 16,
    rerank: int = 128,
    id_col: str = "vec_id",
    dim: int = DIM,
    cache_key: tuple | None = None,
) -> DataFrame:
    """IVF-PQ with exact re-rank — the production FAISS composition:
    a Lloyd-refined coarse quantizer routes each query to ``n_probe``
    cells, candidates in those cells are ranked by ASYMMETRIC DISTANCE
    (ADC) over ``m``-block product-quantized RESIDUALS (8 one-byte
    codes stand in for 64 doubles — the 32x memory cut of Jégou et
    al., TPAMI'11), and only the per-query ADC top-``rerank``
    survivors are scored exactly before the final (cosine DESC, nid)
    rank.

    Composition of already-green parts: the coarse codebook is
    ``kmeans_fit`` (sim_ivf_kmeans's trainer), cell assignment is
    ``_cells_from_codebook``'s zero-shuffle Arrow kernel, probing is
    ``_ivf_probes``'s broadcast relation, and the per-block code
    argmin mirrors embed_pq — on residuals v - centroid(cell), the
    variance PQ actually quantizes. The PQ codebook seeds from the
    actual lowest-pq_k ids (no id-space precondition) and gets one
    distributed Lloyd refinement per block, the same training step the
    coarse quantizer runs.

    Scale shape: index build is THREE narrow scans (assign; one
    per-block Lloyd refinement of the PQ codebook via map-side partial
    sums — at most m*pq_k rows per partition cross the driver, KB;
    encode — the codes relation is m bytes/vector, the thing that fits
    a billion vectors in RAM). Search: the m x pq_k LUT per (query,
    probed cell) is built driver-side from contract-small pieces
    (|Q| x n_probe x m x pq_k doubles — KB) and broadcast; ADC is a
    codegen'd sum of ``element_at`` lookups over the equi-joined
    candidate codes, so rows cross the plan, never vectors; only
    |Q| x rerank id pairs reach the exact scorer. Rows-only by
    design; quality hash-gated by sim_recall (recall floor 0.8;
    defaults recall-tuned on the fixture: 0.96/0.96/0.98 at
    sf0.001/0.01/0.1 after the r11 per-block Lloyd refinement, up from
    0.96/0.96/0.92 with the unrefined seed — sweep in SCALE.md).

    Determinism note (ADVICE r11): the refined PQ codebook sums float
    partials per-partition (np.add.at) and then accumulates them
    driver-side, so the codebook — like kmeans_fit's centroids — is
    bit-reproducible only for a FIXED partition layout; re-partitioning
    the corpus may drift the last float bit and flip a near-tied code
    assignment. That is why this family is rows-only-by-design and its
    QUALITY (recall), not its bits, is the hash-gated contract
    (sim_recall); the repo's md5/portable-hash bit discipline applies
    to the exact operators, not to float-trained codebooks."""
    import numpy as np
    import pandas as pd

    from tstables_spark.operators.clustering import kmeans_fit

    spark = emb.sparkSession
    w = dim // m
    full_key = None
    if cache_key is not None:
        full_key = (
            spark.sparkContext.applicationId, cache_key,
            n_cells, iters, m, pq_k, id_col, dim,
        )
    if full_key is not None:
        # dead-app eviction: a long-lived process cycling Spark apps
        # must not pin dead apps' codebooks
        app = full_key[0]
        for dead in [ck for ck in _PQ_TRAINED if ck[0] != app]:
            _PQ_TRAINED.pop(dead, None)
    hit = _PQ_TRAINED.get(full_key) if full_key is not None else None
    if hit is not None:
        cvs, book_list = hit
        book = np.asarray(book_list, dtype=np.float64)
        pq_k = book.shape[1]  # effective size (tiny-corpus clamp)
    else:
        _, cvs = kmeans_fit(
            emb, k=n_cells, iters=iters, id_col=id_col, vec_col="embedding"
        )
    cn2s = []
    for cv in cvs:
        acc = 0.0
        for x in cv:
            acc += x * x
        cn2s.append(acc)
    cells, cents = _cells_from_codebook(emb, cvs, cn2s, dim, id_col)
    C = np.asarray(cvs, dtype=np.float64)  # (n_cells, dim), cell is 1-based

    if hit is None:
        # PQ codebook seed: per-block sub-slices of the lowest-pq_k ids'
        # RESIDUALS. A TakeOrdered over the id column — no assumption about
        # the id space (the r10 form required ids 0..pq_k-1 to exist);
        # deterministic and contract-small (pq_k rows cross the driver).
        seed = cells.select(id_col, "v", "cell").orderBy(id_col).limit(pq_k).collect()
        # Tiny-corpus clamp (ADVICE r11): with fewer than pq_k vectors the
        # seed book would be (m, n<pq_k, w) while the refinement partials
        # are sized (m, pq_k, ...) — an opaque numpy broadcast error. The
        # effective codebook size is the seed size; every downstream shape
        # (partials, LUT, ADC offsets) derives from it.
        pq_k = min(pq_k, len(seed))
        if pq_k == 0:
            raise ValueError("ivfpq_topk: empty corpus (no vectors to index)")
        R = np.asarray([np.asarray(r["v"], dtype=np.float64) - C[r["cell"] - 1] for r in seed])
        book = np.asarray([R[:, b * w : (b + 1) * w] for b in range(m)])  # (m, pq_k, w)

        # One distributed Lloyd refinement per block — the per-block k-means
        # update the coarse quantizer already gets (and the docstring
        # promises): assign every residual block to its nearest seed entry,
        # then replace each entry with the mean of its members. Map-side
        # partial sums keep it one narrow scan: each partition emits at most
        # m*pq_k (block, code, sum, count) rows (KB), combined driver-side.
        # Empty codes keep their seed entry (the standard Lloyd fallback).
        def _pq_partials(batches):
            sums = np.zeros((m, pq_k, w))
            cnts = np.zeros((m, pq_k), dtype=np.int64)
            seen = False
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                seen = True
                M = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
                res = M - C[pdf["cell"].to_numpy() - 1]
                for b in range(m):
                    blk = res[:, b * w : (b + 1) * w]
                    d2 = (
                        (blk * blk).sum(axis=1)[:, None]
                        - 2.0 * blk @ book[b].T
                        + (book[b] * book[b]).sum(axis=1)[None, :]
                    )
                    code = np.argmin(d2, axis=1)
                    np.add.at(sums[b], code, blk)
                    cnts[b] += np.bincount(code, minlength=pq_k)
            if seen:
                yield pd.DataFrame(
                    {
                        "b": np.repeat(np.arange(m), pq_k),
                        "code": np.tile(np.arange(pq_k), m),
                        "s": [list(map(float, sums[b, c])) for b in range(m) for c in range(pq_k)],
                        "n": cnts.reshape(-1),
                    }
                )

        partials = (
            cells.select("v", "cell")
            .mapInPandas(_pq_partials, "b int, code int, s array<double>, n long")
            .collect()
        )
        tot = np.zeros((m, pq_k, w))
        tot_n = np.zeros((m, pq_k), dtype=np.int64)
        for r in partials:
            tot[r["b"], r["code"]] += np.asarray(r["s"], dtype=np.float64)
            tot_n[r["b"], r["code"]] += r["n"]
        nz = tot_n > 0
        book = np.where(nz[:, :, None], tot / np.maximum(tot_n, 1)[:, :, None], book)
        if full_key is not None:
            _PQ_TRAINED[full_key] = (
                cvs, [[list(map(float, book[b, c])) for c in range(pq_k)] for b in range(m)]
            )

    def encode(batches):
        # residual -> per-block nearest codebook entry (ties: lowest
        # code id via argmin), all vectorized; emits m small ints/row
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            if len(ids) == 0:
                continue
            M = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            res = M - C[pdf["cell"].to_numpy() - 1]
            codes = np.empty((len(ids), m), dtype=np.int32)
            for b in range(m):
                blk = res[:, b * w : (b + 1) * w]  # (n, w)
                # (n, pq_k) squared distances via the expansion trick
                d2 = (
                    (blk * blk).sum(axis=1)[:, None]
                    - 2.0 * blk @ book[b].T
                    + (book[b] * book[b]).sum(axis=1)[None, :]
                )
                codes[:, b] = np.argmin(d2, axis=1)
            yield pd.DataFrame(
                {
                    "nid": ids,
                    "cell": pdf["cell"].to_numpy(),
                    "codes": list(codes),
                }
            )

    coded = cells.select(id_col, "v", "cell").mapInPandas(
        encode, "nid long, cell int, codes array<int>"
    )

    probes = _ivf_probes(emb, cells, cents, query_pred, n_probe, id_col, dim)
    prows = probes.select("qid", "qv", "cell").collect()  # |Q| x n_probe
    luts = []
    for r in prows:
        rq = np.asarray(r["qv"], dtype=np.float64) - C[r["cell"] - 1]
        lut = np.empty(m * pq_k)
        for b in range(m):
            diff = rq[b * w : (b + 1) * w][None, :] - book[b]
            lut[b * pq_k : (b + 1) * pq_k] = (diff * diff).sum(axis=1)
        luts.append((int(r["qid"]), int(r["cell"]), [float(x) for x in lut]))
    from tstables_spark._local import local_df

    lut_df = local_df(spark, luts, "qid long, cell int, lut array<double>")

    adc = reduce(
        lambda a, b: a + b,
        [
            F.element_at("lut", F.lit(b * pq_k) + F.element_at("codes", b + 1) + 1)
            for b in range(m)
        ],
    ).alias("adc")
    survivors_w = W.partitionBy("qid").orderBy("adc", "nid")
    survivors = (
        coded.join(F.broadcast(lut_df), "cell")
        .where(F.col("qid") != F.col("nid"))
        .select("qid", "nid", adc)
        .withColumn("__r", F.row_number().over(survivors_w))
        .where(F.col("__r") <= rerank)
        .select("qid", "nid")
    )
    # exact re-rank of the |Q| x rerank survivors
    q = cells.join(
        F.broadcast(emb.where(query_pred).select(id_col)), id_col, "semi"
    ).select(F.col(id_col).alias("qid"), F.col("v").alias("qv"), F.col("n2").alias("qn2"))
    cand = cells.select(
        F.col(id_col).alias("nid"), F.col("v").alias("cv"), F.col("n2").alias("cn2")
    )
    cos = F.round(
        _dot("qv", "cv", dim) / F.sqrt(F.col("qn2") * F.col("cn2")), 4
    ).alias("cosine")
    scored = (
        F.broadcast(survivors).join(cand, "nid").join(F.broadcast(q), "qid").select("qid", "nid", cos)
    )
    return _rank_topk(scored, k)


def _ivf_probes(
    emb: DataFrame,
    cells: DataFrame,
    cents: DataFrame,
    query_pred: Column,
    n_probe: int,
    id_col: str,
    dim: int = DIM,
) -> DataFrame:
    """Each query's ``n_probe`` nearest centroids: (qid, qv, qn2, cell)
    — the probe relation both the scorer and the candidate-count
    diagnostic join against. ``query_pred`` resolves against the FULL
    ``emb`` schema (then a broadcast semi-join picks those rows out of
    the kernel's (id, v, n2, cell) projection), so any predicate the
    exact twin cosine_topk accepts works here too — not just id
    predicates (r8 review)."""
    q_ids = emb.where(query_pred).select(id_col)
    q = cells.join(F.broadcast(q_ids), id_col, "semi").select(
        F.col(id_col).alias("qid"), F.col("v").alias("qv"), F.col("n2").alias("qn2")
    )
    qc = q.crossJoin(F.broadcast(cents)).withColumn(
        "__cos", _dot("qv", "cv", dim) / F.sqrt(F.col("qn2") * F.col("cn2"))
    )
    probe_w = W.partitionBy("qid").orderBy(F.col("__cos").desc(), "cell")
    return (
        qc.withColumn("__r", F.row_number().over(probe_w))
        .where(F.col("__r") <= n_probe)
        .select("qid", "qv", "qn2", "cell")
    )


def ivf_candidate_counts(
    emb: DataFrame,
    query_pred: Column,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    dim: int = DIM,
) -> DataFrame:
    """Diagnostic for the IVF gate: per-query CANDIDATE-SET SIZE — the
    number of corpus vectors the query actually scores (members of its
    probed cells, self excluded). Recall@k tolerance alone can absorb a
    silent bucketing regression in either direction (all vectors in
    one cell → recall 1.0 but brute-force cost; near-empty probes →
    recall still passable on an easy corpus); the candidate count is
    the quantity that distinguishes them, expected ≈ |corpus| *
    n_probe / n_cells. Same ivf_assign + _ivf_probes path the real
    query uses."""
    cells, cents = ivf_assign(emb, n_cells, id_col, dim=dim)
    probes = _ivf_probes(emb, cells, cents, query_pred, n_probe, id_col, dim).select(
        "qid", "cell"
    )
    c = cells.select(F.col(id_col).alias("nid"), "cell")
    return (
        c.join(F.broadcast(probes), "cell")
        .where(F.col("qid") != F.col("nid"))
        .groupBy("qid")
        .agg(F.count("*").alias("n_candidates"))
    )


def _ivf_probe_topk(
    emb: DataFrame,
    cells: DataFrame,
    cents: DataFrame,
    query_pred: Column,
    k: int,
    n_probe: int,
    id_col: str,
    dim: int = DIM,
) -> DataFrame:
    """Shared IVF probe + score: each query scores only the members of
    its ``n_probe`` nearest cells (broadcast probes → equi-join on
    cell → per-query rank). ``dim`` reaches every dot product — the
    r8 review found the probe/score path silently hardcoding DIM=64
    while cell assignment honored the caller's dim."""
    probes = _ivf_probes(emb, cells, cents, query_pred, n_probe, id_col, dim)
    c = cells.select(
        F.col(id_col).alias("nid"), F.col("v").alias("cv2"), F.col("n2").alias("cn22"), "cell"
    )
    cos = F.round(_dot("qv", "cv2", dim) / F.sqrt(F.col("qn2") * F.col("cn22")), 4)
    scored = (
        c.join(F.broadcast(probes), "cell")
        .where(F.col("qid") != F.col("nid"))
        .select("qid", "nid", cos.alias("cosine"))
    )
    return _rank_topk(scored, k)


def _lsh_pairs(
    emb: DataFrame,
    query_pred: Column,
    planes: int,
    n_tables: int,
    probe_bits: int,
    id_col: str,
    dim: int = DIM,
) -> DataFrame:
    """The raw LSH collision relation: every (query, corpus) row pair
    sharing a (table, bucket), self excluded, one row per collision
    (NOT deduped — ``lsh_topk`` dedups after projecting the cosine;
    ``lsh_candidate_counts`` dedups on (qid, nid)). Carries qid/qv/qn2
    and nid/cv/cn2 so callers can score or count."""
    b = _lsh_scan(emb, planes, n_tables, dim, id_col)
    c = b.select(
        F.col(id_col).alias("nid"),
        F.col("v").alias("cv"),
        F.col("n2").alias("cn2"),
        F.posexplode("buckets").alias("tbl", "bucket"),
    )
    # all XOR masks with popcount <= probe_bits (Hamming-b probing;
    # probe_bits=1 reproduces the classic single-flip multi-probe
    # exactly). r8 review: values > 1 used to silently act as 1.
    from itertools import combinations

    masks = [
        sum(1 << j for j in bits)
        for b in range(probe_bits + 1)
        for bits in combinations(range(planes), b)
    ]
    # The (tbl, mask) probe set rides in as a broadcast literal
    # RELATION, not one giant array expression: n_tables * sum
    # C(planes, b) struct literals in a single projection recreates
    # the codegen-size blowup distributed_cumsum removed in r8 —
    # growing with the probe config instead of staying O(1). A
    # cross-join against <= a few hundred constant rows is the same
    # row expansion with a constant-size plan.
    from tstables_spark._local import local_df

    probes = local_df(
        emb.sparkSession,
        [(t, m) for t in range(n_tables) for m in masks], "tbl INT, mask INT"
    )
    q = _lsh_scan(emb.where(query_pred), planes, n_tables, dim, id_col).crossJoin(
        F.broadcast(probes)
    ).select(
        F.col(id_col).alias("qid"),
        F.col("v").alias("qv"),
        F.col("n2").alias("qn2"),
        F.col("tbl"),
        F.element_at("buckets", F.col("tbl") + 1)
        .bitwiseXOR(F.col("mask"))
        .alias("bucket"),
    )
    return c.join(F.broadcast(q), ["tbl", "bucket"]).where(
        F.col("qid") != F.col("nid")
    )


def lsh_candidate_counts(
    emb: DataFrame,
    query_pred: Column,
    planes: int = 6,
    n_tables: int = 8,
    probe_bits: int = 1,
    id_col: str = "vec_id",
    dim: int = DIM,
) -> DataFrame:
    """Diagnostic for the LSH gate: per-query DISTINCT candidate count
    (corpus vectors sharing any probed bucket). Same rationale as
    ``ivf_candidate_counts`` — recall tolerance can absorb a bucketing
    regression in either direction; the candidate count is what tells
    selective-and-accurate apart from accidentally-brute-force."""
    return (
        _lsh_pairs(emb, query_pred, planes, n_tables, probe_bits, id_col, dim)
        .select("qid", "nid")
        .distinct()
        .groupBy("qid")
        .agg(F.count("*").alias("n_candidates"))
    )


def lsh_topk(
    emb: DataFrame,
    query_pred: Column,
    k: int = 5,
    planes: int = 6,
    id_col: str = "vec_id",
    probe_bits: int = 1,
    n_tables: int = 8,
    dim: int = DIM,
) -> DataFrame:
    """Approximate top-k via MULTI-TABLE multi-probe hyperplane LSH: a
    vector is a candidate for a query if they share a bucket in ANY of
    the ``n_tables`` independent hash tables (the classic L-table LSH
    construction — one table's collision probability p^planes is tiny
    for moderately-similar pairs, but 1-(1-p^planes)^L climbs fast),
    optionally widened per table by MULTI-PROBE (Lv et al., VLDB'07:
    also probe the ``planes`` buckets at Hamming distance 1 — a
    near-boundary vector whose one borderline hyperplane sign flipped
    lands exactly there).

    Spark shape: the corpus computes all L buckets in ONE narrow scan
    (L·planes codegen'd sign dots) and posexplodes to (table, bucket) —
    the L-times index expansion every LSH pays, here as shuffle rows
    instead of stored tables; the query side (small by contract)
    explodes to L·(planes+1) probe rows and broadcasts; the join is a
    single (table, bucket) equi-join. A pair colliding in several
    tables is deduped on the small (qid, nid, cosine) projection before
    ranking. Defaults (6 planes x 8 tables, 1 probe bit) measure
    recall@5 = 0.96 on the fixture corpus — tuned for its weakly
    -similar neighbors; a real near-dup corpus (cosine >= 0.9 pairs)
    gets the same recall from far fewer/narrower tables. Deterministic
    end to end (fixed plane family, id tie-breaks). Buckets come from
    the ``_lsh_scan`` kernel (one Arrow-batched pass; the equivalent
    column-expression tree falls out of codegen and runs ~10x slower —
    see its docstring)."""
    dot = _dot("qv", "cv", dim)
    cos = F.round(dot / F.sqrt(F.col("qn2") * F.col("cn2")), 4)
    scored = (
        _lsh_pairs(emb, query_pred, planes, n_tables, probe_bits, id_col, dim)
        .select("qid", "nid", cos.alias("cosine"))
        # a pair can collide in several tables; dedup the 3-column
        # projection (cosine is identical across duplicates) so the
        # rank below counts each neighbor once
        .distinct()
    )
    return _rank_topk(scored, k)


def cosine_range(
    emb: DataFrame,
    query_pred: Column,
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Radius search: every (query, candidate) pair with cosine >= tau.

    Same scan-side shape as ``cosine_topk`` (broadcast-small collected
    query side closed over a ``mapInPandas`` kernel; the corpus streams
    through one narrow pass, no join, no |Q|x|C| plan rows) — but with
    a THRESHOLD emit instead of a local top-k: output size is the true
    result size, which for a sane tau is << |Q|x|C|. The kernel
    pre-filters at tau - 1e-4 (4dp rounding moves a value < 5e-5, so
    nothing that rounds above tau is lost); the authoritative
    round(.,4) >= tau happens Spark-side. No shuffle at all — the
    result needs no rank."""
    import numpy as np
    import pandas as pd

    qrows = emb.where(query_pred).select(id_col, vec_col).orderBy(id_col).collect()
    if not qrows:
        raise ValueError("query_pred matched no rows")
    qids = np.array([r[0] for r in qrows])
    QM = np.array([np.asarray(r[1], dtype=np.float64) for r in qrows])
    d = QM.shape[1]
    qn2 = np.zeros(len(qids))
    for i in range(d):
        qn2 += QM[:, i] * QM[:, i]
    if (qn2 == 0).any():
        raise ValueError(
            f"zero-norm query vector(s): {qids[qn2 == 0][:5].tolist()} — "
            "cosine is undefined; filter or re-embed them first"
        )

    def score(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            if len(ids) == 0:
                continue
            M = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            n2 = np.zeros(len(ids))
            for i in range(d):
                n2 += M[:, i] * M[:, i]
            outs = []
            for qi in range(len(qids)):
                dot = np.zeros(len(ids))
                for i in range(d):
                    dot += QM[qi, i] * M[:, i]
                with np.errstate(invalid="ignore", divide="ignore"):
                    cos = dot / np.sqrt(qn2[qi] * n2)
                sel = (cos >= tau - 1e-4) & (ids != qids[qi])
                if sel.any():
                    outs.append(
                        pd.DataFrame({"qid": qids[qi], "nid": ids[sel], "cosine": cos[sel]})
                    )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    raw = emb.select(id_col, vec_col).mapInPandas(score, "qid long, nid long, cosine double")
    return (
        raw.select("qid", "nid", F.round("cosine", 4).alias("cosine"))
        .where(F.col("cosine") >= tau)
    )


def _knn_block_kernel(k: int, id_col: str, vec_col: str, chunk_values: int = 4_000_000):
    """``knn_graph``'s per-block kernel: for every vector, the other ids
    (own id masked out, duplicates included) whose raw cosine is within
    1.1e-4 of its k-th best, or all of them when at most k remain.
    Query rows run in chunks of at most ``chunk_values`` cosines;
    dots and norms still accumulate dimension by dimension, so every
    value is bit-identical to a one-query-at-a-time loop. The kernel is
    a closure so that it pickles by value: workers need not import
    this package."""

    def _block_knn(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        n = len(ids)
        if n < 2:
            return pd.DataFrame({"qid": ids[:0], "nid": ids[:0], "cosine": []})
        M = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        d = M.shape[1]
        n2 = np.zeros(n)
        for i in range(d):
            n2 += M[:, i] * M[:, i]
        step = max(1, chunk_values // n)
        qid, nid, cosine = [], [], []
        with np.errstate(divide="ignore", invalid="ignore"):
            for a in range(0, n, step):
                b = min(a + step, n)
                dot = np.zeros((b - a, n))
                for i in range(d):
                    dot += M[a:b, i, None] * M[None, :, i]
                cos = dot / np.sqrt(n2[a:b, None] * n2[None, :])
                keep = ids[a:b, None] != ids[None, :]
                big = keep.sum(axis=1) > k
                if big.any():
                    c = np.where(keep[big], cos[big], -np.inf)
                    kth = np.partition(c, -k, axis=1)[:, -k]
                    keep[big] &= cos[big] >= (kth - 1.1e-4)[:, None]
                r, j = np.nonzero(keep)
                qid.append(ids[a:b][r])
                nid.append(ids[j])
                cosine.append(cos[r, j])
        return pd.DataFrame(
            {"qid": np.concatenate(qid), "nid": np.concatenate(nid), "cosine": np.concatenate(cosine)}
        )

    return _block_knn


def knn_graph(
    emb: DataFrame,
    k: int = 5,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact k-nearest-neighbor graph by cosine, blocked by
    ``block_col``: every vector's top-k neighbors WITHIN its block —
    the neighborhood structure graph-based dedup (SemDeDup-style
    cluster pruning) and kNN-graph ANN indexes consume.

    Scale shape: same contract as ``embedding_near_dup_pairs`` — the
    block key (shard / cluster / LSH bucket) bounds the pairwise work
    to Σ_b n_b²·d, and each block is ONE Arrow batch through
    ``applyInPandas``: rows cross the shuffle, never pairs. The kernel
    emits only each vector's local top-k with a 1.1e-4 raw-cosine
    slack below the k-th best (4dp rounding moves a value by ≤ 5e-5,
    so nothing below the slack can reach the rounded top-k — the same
    exactness argument as ``cosine_topk``); the authoritative
    round(·,4) + (cosine DESC, nn_id) rank runs Spark-side. Output is
    O(k) rows per vector regardless of block size.

    Bit-exactness: dots/norms accumulate dimension-by-dimension
    (left-to-right float order), matching DuckDB's sequential
    ``list_sum(list_transform(...))`` — see embedding_near_dup_pairs.
    """
    raw = (
        emb.select(F.col(block_col).alias("blk"), F.col(id_col), vec_col)
        .groupBy("blk")
        .applyInPandas(_knn_block_kernel(k, id_col, vec_col), "qid long, nid long, cosine double")
    )
    w = W.partitionBy("qid").orderBy(F.col("cosine").desc(), "nid")
    return (
        raw.select("qid", "nid", F.round("cosine", 4).alias("cosine"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(
            F.col("qid").alias(id_col), F.col("nid").alias("nn_id"), "cosine", "rank"
        )
    )


def nsw_topk(
    emb: DataFrame,
    query_pred: Column,
    k: int = 5,
    graph_k: int = 12,
    ef: int = 32,
    rounds: int = 3,
    entries_per_block: int = 16,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DIM,
    checkpoint: bool = True,
) -> DataFrame:
    """Approximate top-k via GRAPH-based ANN: beam search over the
    exact kNN graph, expressed as a bounded number of broadcast joins —
    the navigable-small-world retrieval shape (HNSW's layer-0 walk)
    with the sequential greedy walk re-expressed as bulk-synchronous
    frontier expansion so it distributes.

    Index = the ``knn_graph`` output made UNDIRECTED (union of both
    edge directions — navigability needs in-edges too). Search: every
    query starts at ``entries_per_block`` deterministic entry points
    per block (the lowest-id vectors of each label — the graph is
    block-partitioned, so per-block entries make every component
    reachable), then ``rounds`` iterations of: expand the frontier
    through the edge relation, score new candidates, keep the
    per-query top-``ef`` beam. The final answer is the top-``k`` of
    everything visited. Defaults are tuned on the fixture corpus —
    weakly-similar neighbors, the hard case for graph navigability:
    measured recall@5 vs exact cosine_topk = 1.00 / 1.00 / 0.90 at
    sf0.001/0.01/0.1 (rounds=3 x entries_per_block=16 x ef=32 beats
    the r9 rounds=4 x 8 x 24 default on BOTH recall and cost — one
    fewer edge scan; sweep in SCALE.md); a real near-dup corpus
    navigates with far smaller ef/rounds.

    Scale shape: the edge relation is O(n * 2 * graph_k) rows and is
    SCANNED once per round as the probe side of a broadcast hash join
    — the frontier (|Q| * ef rows, query side small by the same
    contract as every ANN op here) is the broadcast build side, so the
    graph never shuffles; per-round state (visited ∪ frontier) is
    O(|Q| * ef * rounds). At a repeated-retrieval deployment, stage
    the index ONCE with ``stage_nsw_layout`` and search with
    ``nsw_topk_staged`` — per retrieval the graph build (the dominant
    cost: a corpus-wide kNN pass) disappears entirely.
    Candidate scoring is the codegen'd ``_dot`` against the broadcast
    query vectors — rows cross the plan, never |Q|x|C| pairs.

    Deterministic end to end: exact graph, fixed entries, 4dp-rounded
    cosine with nid tie-breaks in both the beam and the final rank —
    stable across runs and partitionings. Approximate BY DESIGN
    (rows-only driver check); the quality contract is hash-gated by
    sim_recall's recall@5 >= 0.8 floor alongside the IVF/LSH variants.
    """

    # checkpoint=False keeps the full lineage (no eager jobs) so tests
    # can assert the join strategy of every round in ONE static plan;
    # production always pins (the iterative-lineage discipline).
    cp = pin if checkpoint else (lambda df: df)
    base = with_norm2(emb, vec_col=vec_col, dim=dim)
    # undirected edge relation from the exact per-block kNN graph
    g = knn_graph(emb, k=graph_k, block_col=block_col, id_col=id_col, vec_col=vec_col)
    edges = (
        g.select(F.col(id_col).alias("src"), F.col("nn_id").alias("dst"))
        .unionByName(g.select(F.col("nn_id").alias("src"), F.col(id_col).alias("dst")))
        .distinct()
    )
    # O(n * 2k) id pairs, consumed once per round: pin them so the
    # per-round checkpoint jobs re-scan THIS relation instead of
    # re-running the applyInPandas kNN build + distinct every round
    # (the dedup_clusters iterative-lineage discipline).
    edges = cp(edges)
    # the (small) query side: id, vector, norm2 — broadcast everywhere
    queries = base.where(query_pred).select(
        F.col(id_col).alias("qid"), F.col("v").alias("qv"), F.col("n2").alias("qn2")
    )
    # deterministic entry points: the lowest-id vectors of every block
    wb = W.partitionBy(block_col).orderBy(id_col)
    entries = (
        emb.select(block_col, id_col)
        .withColumn("__r", F.row_number().over(wb))
        .where(F.col("__r") <= entries_per_block)
        .select(F.col(id_col).alias("nid"))
    )
    cand = base.select(
        F.col(id_col).alias("nid"), F.col("v").alias("cv"), F.col("n2").alias("cn2")
    )
    return _nsw_walk(edges, cand, queries, entries, k, ef, rounds, dim, cp)


def _nsw_walk(
    edges: DataFrame,
    cand: DataFrame,
    queries: DataFrame,
    entries: DataFrame,
    k: int,
    ef: int,
    rounds: int,
    dim: int,
    cp,
) -> DataFrame:
    """The shared BSP beam search of ``nsw_topk`` / ``nsw_topk_staged``:
    ``rounds`` iterations of expand-through-edges, score, keep the
    per-query top-``ef`` beam; final answer is the top-``k`` of
    everything visited. ``edges`` is (src, dst); ``cand`` is
    (nid, cv, cn2); ``queries`` is (qid, qv, qn2); ``entries`` is
    (nid). ``cp`` pins the per-round iterative lineage (identity for
    plan tests).

    The entry scoring is NOT pinned — it is one broadcast join over the
    candidate scan, and round 1's visited-union pin covers it, so the
    walk runs ``rounds`` eager jobs instead of ``rounds + 1``."""
    cos = F.round(
        _dot("qv", "cv", dim) / F.sqrt(F.col("qn2") * F.col("cn2")), 4
    ).alias("cosine")

    def score(pairs: DataFrame) -> DataFrame:
        # (qid, nid) -> (qid, nid, cosine), self-matches dropped. The
        # pair set is O(|Q| * ef * 2k) rows of two ids — broadcast it so
        # the corpus projection (the vector bytes) is scanned in place
        # every round instead of shuffling on nid rounds+1 times.
        return (
            F.broadcast(pairs).join(cand, "nid")
            .join(F.broadcast(queries), "qid")
            .where(F.col("qid") != F.col("nid"))
            .select("qid", "nid", cos)
        )

    beam_w = W.partitionBy("qid").orderBy(F.col("cosine").desc(), "nid")
    visited = score(queries.select("qid").crossJoin(F.broadcast(entries)))
    frontier = visited
    for _ in range(rounds):
        expanded = (
            edges.join(
                F.broadcast(frontier.select("qid", F.col("nid").alias("src"))), "src"
            )
            .select("qid", "dst")
            .withColumnRenamed("dst", "nid")
            .distinct()
            # visited is O(|Q| * ef * rounds) — broadcast the anti-join
            # side so dedup never shuffles the expansion on (qid, nid)
            .join(F.broadcast(visited.select("qid", "nid")), ["qid", "nid"], "left_anti")
        )
        scored = score(expanded)
        frontier = (
            scored.withColumn("__r", F.row_number().over(beam_w))
            .where(F.col("__r") <= ef)
            .drop("__r")
        )
        # visited ∪ frontier, pinned: three consumers next round (anti-
        # join, final rank) and an iterative lineage to cut
        visited = cp(visited.unionByName(frontier))
    return _rank_topk(visited, k)


# Staged NSW tables are partitioned by a COARSE hash of the block key,
# NOT the block itself: per-block directories fragment the index into
# O(blocks x buckets) tiny files, and the per-round edge scan pays the
# listing every round (measured: the staged walk at 10x blocks went
# 5.7 -> 21 s under blk-partitioning; SCALE.md r12). 64 coarse
# partitions bound the file count at any scale while dynamic partition
# overwrite still replaces only the affected fraction on append.
_NSW_PBLKS = 64


def _nsw_pblk(blk: Column) -> Column:
    """Coarse partition key of a block value (any orderable type)."""
    return F.pmod(F.hash(blk), F.lit(_NSW_PBLKS))


def _nsw_block_edges(
    emb: DataFrame, graph_k: int, block_col: str, id_col: str, vec_col: str
) -> DataFrame:
    """(src, dst, blk): the undirected distinct exact-kNN edge relation
    with each edge's (intra-block by construction) block key — the unit
    of NSW index incrementality. Shared by ``stage_nsw_layout`` (full
    corpus) and ``append_nsw_layout`` (affected blocks only)."""
    g = knn_graph(emb, k=graph_k, block_col=block_col, id_col=id_col, vec_col=vec_col)
    ids = emb.select(F.col(id_col).alias("src"), F.col(block_col).alias("blk"))
    return (
        g.select(F.col(id_col).alias("src"), F.col("nn_id").alias("dst"))
        .unionByName(g.select(F.col("nn_id").alias("src"), F.col(id_col).alias("dst")))
        .distinct()
        .join(ids, "src")
    )


def _nsw_block_entries(
    blk_ids: DataFrame, entries_per_block: int, id_col: str
) -> DataFrame:
    """(nid, blk): deterministic per-block entry points — the lowest
    ``entries_per_block`` ids of every block in ``blk_ids`` (blk,
    id_col)."""
    wb = W.partitionBy("blk").orderBy(id_col)
    return (
        blk_ids.withColumn("__r", F.row_number().over(wb))
        .where(F.col("__r") <= entries_per_block)
        .select(F.col(id_col).alias("nid"), "blk")
    )


def stage_nsw_layout(
    emb: DataFrame,
    table_name: str,
    path: str,
    graph_k: int = 12,
    entries_per_block: int = 16,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DIM,
    num_buckets: int = 8,
) -> None:
    """Stage the NSW index for REPEATED retrieval — the promise in
    ``nsw_topk``'s scale note, same pay-at-write-time trade as
    ``stage_asof_layout``. Three tables, each carrying the block key
    ``blk`` as a data column (the block is the index's unit of
    incrementality: the kNN graph is block-local, so appending vectors
    can only change the blocks they land in — see
    ``append_nsw_layout``) and PARTITIONED BY the coarse ``pblk`` =
    hash(blk) % 64 (see _NSW_PBLKS: bounded file count for the
    per-round walk scans, partition-pruned appends):

    - ``{table_name}_edges`` (src, dst, blk, pblk): the undirected
      exact-kNN edge relation, bucketed + sorted by src within each
      partition. Building it is the dominant cost of every fresh
      ``nsw_topk`` (a corpus-wide blocked kNN pass plus a
      union+distinct shuffle); staged, every later search round just
      scans it. Bucketing by src keeps the book side Exchange-free if
      a giant frontier ever demotes the per-round join from broadcast
      to sort-merge.
    - ``{table_name}_base`` (id, v, n2, blk, pblk): double vectors with
      squared norms precomputed — the scoring scan side.
    - ``{table_name}_entries`` (nid, blk, pblk): the deterministic
      per-block entry points (lowest ``entries_per_block`` ids per
      block).

    Search with ``nsw_topk_staged``; results are identical to a fresh
    ``nsw_topk`` with the same parameters (same graph, same entries,
    same walk). Grow with ``append_nsw_layout``; appended layouts are
    asserted identical to a fresh re-stage in tests."""
    base = with_norm2(emb, vec_col=vec_col, dim=dim)
    edges = _nsw_block_edges(emb, graph_k, block_col, id_col, vec_col)
    (
        edges.select("src", "dst", "blk", _nsw_pblk(F.col("blk")).alias("pblk"))
        .repartition(num_buckets, F.col("src"))
        .write.partitionBy("pblk")
        .bucketBy(num_buckets, "src")
        .sortBy("src", "dst")
        .option("path", f"{path}/edges")
        .mode("overwrite")
        .saveAsTable(f"{table_name}_edges")
    )
    (
        base.select(
            id_col,
            "v",
            "n2",
            F.col(block_col).alias("blk"),
            _nsw_pblk(F.col(block_col)).alias("pblk"),
        )
        .write.partitionBy("pblk")
        .option("path", f"{path}/base")
        .mode("overwrite")
        .saveAsTable(f"{table_name}_base")
    )
    blk_ids = emb.select(F.col(block_col).alias("blk"), F.col(id_col))
    (
        _nsw_block_entries(blk_ids, entries_per_block, id_col)
        .select("nid", "blk", _nsw_pblk(F.col("blk")).alias("pblk"))
        .write.partitionBy("pblk")
        .option("path", f"{path}/entries")
        .mode("overwrite")
        .saveAsTable(f"{table_name}_entries")
    )


def append_nsw_layout(
    spark,
    new_emb: DataFrame,
    table_name: str,
    graph_k: int = 12,
    entries_per_block: int = 16,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DIM,
) -> None:
    """Append ``new_emb`` to a ``stage_nsw_layout`` index WITHOUT a
    full rebuild — the real-series-append path a build-once index is
    missing at 100 TB. Exactness argument: ``knn_graph`` is block-local
    (every edge is intra-block, every entry point per-block), so blocks
    that receive no new vectors are bit-identical between "fresh
    re-stage over old ∪ new" and "leave staged rows untouched"; only
    the AFFECTED blocks (those ``new_emb`` lands in) need their kNN +
    entries recomputed, over old-block rows re-read from the staged
    base (a pblk-pruned scan) plus the new rows — kNN work is
    Σ_affected n_b²·d instead of Σ_all, independent of corpus size
    when appends touch few blocks.

    Physically: the affected COARSE partitions (pblk = hash(blk) % 64)
    of ALL THREE tables are rewritten via dynamic partition overwrite
    with [preserved rows of their other blocks (pinned first — the read
    side of a partition being overwritten must not be lazy) ∪ the
    recomputed affected blocks]; untouched pblk partitions' files are
    never rewritten, so append I/O is bounded by the affected fraction
    of the index.

    Crash recovery (ADVICE r12): the three writes are not one atomic
    commit, but each is an IDEMPOTENT overwrite derived purely from
    eagerly-pinned pre-write reads — old base rows are taken with the
    new ids ANTI-JOINED OUT, so they are the genuinely-old rows even if
    a previous partially-failed append already landed the base
    partitions. A failure between writes therefore leaves tables
    mutually inconsistent only until the SAME append is re-run: re-run
    converges all three tables to the exact post-append state (asserted
    in tests). An id colliding with an existing base row IN THE SAME
    BLOCK is replaced for the same reason (its block is affected, so
    the old row is anti-joined out); re-appending an id into a
    DIFFERENT block is NOT supported — the stale row in the old,
    unaffected block would survive (detecting it needs a full base
    scan, which would void the bounded-append-I/O contract) — re-stage
    to re-block.

    Appended edge partitions keep the catalog bucket spec (Spark
    bucket-hashes ``insertInto`` writes) but may hold >1 file per
    bucket; that voids only the legacy single-file outputOrdering
    claim, which the NSW walk never relies on (its per-round joins
    broadcast the frontier — see ``_nsw_walk``).

    Pass the SAME graph_k/entries_per_block/dim the index was staged
    with: they are physical parameters of the layout, and a mismatched
    append would mix neighborhood sizes across blocks. Results after
    append are asserted identical to a fresh re-stage in
    tests/test_operators.py."""

    # Pinned eagerly FIRST: new_base feeds the two affected-set
    # collects, the kNN input, and the base partition rewrite — an
    # unpinned delta would be re-evaluated per consumer (4x), could
    # bake nondeterminism into base rows that differ from the rows the
    # edges were computed from, and would break if the caller derived
    # new_emb from the very tables the writes below overwrite.
    new_base = pin(
        with_norm2(new_emb, vec_col=vec_col, dim=dim)
        .select(
            F.col(id_col),
            F.col("v"),
            F.col("n2"),
            F.col(block_col).alias("blk"),
            _nsw_pblk(F.col(block_col)).alias("pblk"),
        )
    )
    affected = [r["blk"] for r in new_base.select("blk").distinct().collect()]
    apblks = sorted({r["pblk"] for r in new_base.select("pblk").distinct().collect()})
    in_ap = F.col("pblk").isin(apblks)
    hit = F.col("blk").isin(affected)
    # Genuinely-old rows of the affected blocks: the new ids are
    # anti-joined out so a re-run after a partial failure (base
    # partitions already overwritten) reads the same old set — the
    # idempotence hinge of the crash-recovery contract above. Pinned
    # eagerly WITH (v, n2): it feeds both the kNN input and the base
    # partition rewrite, and the latter reads the very partitions it
    # overwrites.
    old_full = pin(
        spark.table(f"{table_name}_base")
        .where(in_ap & hit)
        .join(F.broadcast(new_base.select(id_col).distinct()), id_col, "left_anti")
        .select(id_col, "v", "n2", "blk", "pblk")
    )
    # old ∪ new rows of the affected blocks: consumed by the kNN kernel,
    # the edge blk join and the entries window — pin once, so the
    # applyInPandas build runs once.
    rows = pin(
        old_full.select(id_col, "v", "blk").unionByName(
            new_base.select(id_col, "v", "blk")
        )
    )
    pblk = _nsw_pblk(F.col("blk")).alias("pblk")
    edges = _nsw_block_edges(rows, graph_k, "blk", id_col, "v").select(
        "src", "dst", "blk", pblk
    )
    entries = _nsw_block_entries(
        rows.select("blk", id_col), entries_per_block, id_col
    ).select("nid", "blk", pblk)
    # Preserved rows of the affected pblk partitions (other blocks that
    # hash-share them): pinned eagerly — they are read from the very
    # partitions the overwrite below replaces. Bounded by the affected
    # fraction (|apblks| / 64) of the index.
    keep_edges = pin(
        spark.table(f"{table_name}_edges")
        .where(in_ap & ~hit)
        .select("src", "dst", "blk", "pblk")
    )
    keep_entries = pin(
        spark.table(f"{table_name}_entries")
        .where(in_ap & ~hit)
        .select("nid", "blk", "pblk")
    )
    keep_base = pin(
        spark.table(f"{table_name}_base")
        .where(in_ap & ~hit)
        .select(id_col, "v", "n2", "blk", "pblk")
    )
    # insertInto is POSITIONAL and partition columns sit last in the
    # table schema — select in table order. All three writes are
    # idempotent overwrites of the affected partitions (see the
    # crash-recovery note above); every read they depend on is pinned
    # eagerly before the first write. The dynamic-overwrite conf toggle
    # is lock-serialized (see _staging.dynamic_partition_overwrite —
    # the per-write option is silently ignored by insertInto, and an
    # unserialized toggle races under concurrent writers).
    with dynamic_partition_overwrite(spark):
        edges.unionByName(keep_edges).write.insertInto(
            f"{table_name}_edges", overwrite=True
        )
        entries.unionByName(keep_entries).write.insertInto(
            f"{table_name}_entries", overwrite=True
        )
        keep_base.unionByName(old_full).unionByName(
            new_base.select(id_col, "v", "n2", "blk", "pblk")
        ).write.insertInto(f"{table_name}_base", overwrite=True)


def nsw_topk_staged(
    spark,
    table_name: str,
    query_pred: Column,
    k: int = 5,
    ef: int = 32,
    rounds: int = 3,
    id_col: str = "vec_id",
    dim: int = DIM,
    checkpoint: bool = False,
) -> DataFrame:
    """Beam search against a ``stage_nsw_layout`` index: identical
    results to ``nsw_topk`` (same graph, entries, walk, tie-breaks) but
    the per-retrieval cost is ONLY the walk — no kNN-graph build, no
    union+distinct, no norm recompute, and no edge-relation pin (the
    staged table IS the pinned lineage; each round re-scans it off
    disk, which is exactly the staged trade). ``query_pred`` selects
    query rows from the staged base table.

    ``checkpoint`` defaults to OFF here — the opposite of ``nsw_topk``
    — because every leaf of the walk's lineage is a staged bucketed
    table: recomputing a visited subtree is a cheap off-disk scan, while
    each eager pin is a full extra Spark job. Measured at sf0.1
    (best-of-3, end-to-end construct+collect): 4.87 s unpinned vs
    7.61 s pinned, identical rows (SCALE.md r11). The fresh ``nsw_topk``
    keeps pinning because its lineage root is the expensive
    applyInPandas kNN build. Pass ``checkpoint=True`` for walks with
    many rounds where plan growth would outpace the re-scan cost."""

    cp = pin if checkpoint else (lambda df: df)
    edges = spark.table(f"{table_name}_edges")
    base = spark.table(f"{table_name}_base")
    entries = spark.table(f"{table_name}_entries")
    queries = base.where(query_pred).select(
        F.col(id_col).alias("qid"), F.col("v").alias("qv"), F.col("n2").alias("qn2")
    )
    cand = base.select(
        F.col(id_col).alias("nid"), F.col("v").alias("cv"), F.col("n2").alias("cn2")
    )
    return _nsw_walk(edges, cand, queries, entries, k, ef, rounds, dim, cp)
