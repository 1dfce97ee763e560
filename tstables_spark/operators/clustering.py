"""K-means (Lloyd) clustering over an embedding column.

The training-data use: bucket a corpus's embeddings into k topical
cells (mixture balancing, stratified sampling, IVF codebook training —
``ivf_assign`` consumes exactly this output shape).

Scale shape per Lloyd round:
- ASSIGN: the k centroids are driver-held literals (k·d doubles — KB,
  not data) compiled into k flat dot-product expressions, so assignment
  is one narrow codegen'd scan: no join, no shuffle, no Python.
- UPDATE: new centroids via posexplode + groupBy(cell, dim) decimal
  mean — one shuffle carrying k·d partial rows per task (map-side
  combine), then a k·d-row collect. DECIMAL means are the determinism
  trick: double summation order varies with partitioning, which would
  make centroids — and therefore next-round assignments — run-to-run
  unstable; decimal sums are order-independent, so the whole iteration
  is reproducible on any cluster layout (same property the exactness
  helpers in tstables_spark/_exact.py exploit).

Iteration count is a fixed small constant (Lloyd converges fast and
training-data bucketing doesn't need the optimum); each round is two
jobs. This is the same decomposition Spark MLlib's KMeans uses
(per-partition partial sums + driver update), expressed in DataFrame
ops instead of RDD aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _assign(emb: DataFrame, cents: list[list[float]], id_col: str, vec_col: str) -> DataFrame:
    """Adds ``cell``: index of the nearest centroid by squared L2 —
    one Arrow-batched scan kernel over the driver-held centroids.

    The kernel accumulates (v_i - c_i)² dimension-by-dimension (left to
    right — reproducible on any partitioning) as vectorized numpy
    column ops; argmin ties break to the lowest index (numpy argmin
    returns the first minimum). A k·d-term column-expression tree does
    the same math but falls out of whole-stage codegen at this size and
    runs interpreted per row — measured ~10x slower (see
    similarity._lsh_scan); no join, no shuffle either way."""
    import numpy as np
    import pandas as pd

    C = np.array(cents, dtype=np.float64)  # (k, dim)
    k, dim = C.shape

    def gen(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            if len(ids) == 0:
                continue
            M = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            dists = np.zeros((len(ids), k))
            for i in range(dim):
                diff = M[:, i][:, None] - C[:, i][None, :]
                dists += diff * diff
            cell = np.argmin(dists, axis=1).astype(np.int32)
            yield pd.DataFrame({id_col: ids, vec_col: list(pdf[vec_col]), "cell": cell})

    spark_vec_type = emb.schema[vec_col].dataType.simpleString()
    return emb.select(id_col, vec_col).mapInPandas(
        gen, f"{id_col} long, {vec_col} {spark_vec_type}, cell int"
    )


def kmeans_fit(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[list[float]]]:
    """Lloyd iterations from a deterministic seed (the first k vectors
    by id). Returns ``(assigned, cents)``: ``assigned`` = (id_col,
    vec_col, cell) under the FINAL centroids, ``cents`` = those
    centroids as a k x d driver-side list (k·d doubles — KB, not data)
    for downstream broadcast use (IVF probing). Fully reproducible:
    seeding is id-ordered and centroid updates use order-independent
    decimal means."""
    seed_rows = emb.orderBy(id_col).limit(k).select(vec_col).collect()
    cents = [[float(x) for x in r[0]] for r in seed_rows]
    assigned = _assign(emb, cents, id_col, vec_col)
    for _ in range(iters):
        ex = assigned.select("cell", F.posexplode(vec_col).alias("pos", "x"))
        dec = F.col("x").cast("double").cast("decimal(30,6)")
        rows = (
            ex.groupBy("cell", "pos")
            .agg((F.sum(dec).cast("double") / F.count("*")).alias("c"))
            .collect()
        )
        new_cents = {}
        for r in rows:
            new_cents.setdefault(r["cell"], {})[r["pos"]] = r["c"]
        cents = [
            [new_cents[ci][p] for p in sorted(new_cents[ci])] if ci in new_cents else cents[ci]
            for ci in range(k)
        ]
        assigned = _assign(emb, cents, id_col, vec_col)
    return assigned, cents


def kmeans_lloyd(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Returns (id_col, cell) after ``iters`` Lloyd rounds — see
    ``kmeans_fit`` for the scale/determinism argument."""
    assigned, _ = kmeans_fit(emb, k, iters, id_col, vec_col)
    return assigned.select(id_col, "cell")
