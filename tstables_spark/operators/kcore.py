"""k-core peeling over a directed edge list — the density backbone
extractor (Seidman 1983; Batagelj-Zaversnik peeling, expressed as the
distributed fixpoint every vertex-centric engine uses): repeatedly
remove every node whose degree among SURVIVING nodes is below ``k``
until nothing changes. What remains is the unique maximal subgraph
with minimum degree >= k — spam-ring backbones, loyal-cohort
extraction, and the crawl-frontier "dense community" gate all reduce
to it.

Upstream tstables (afiedler/tstables, PyTables range reads) has no
graph surface; this extends the engine's graph family (degree dist /
pagerank / triangles / jaccard) with the canonical degeneracy probe,
built Spark-first like the others.

Algorithm notes:

- The peel is MONOTONE: the survivor set only shrinks, and the k-core
  is its unique fixpoint regardless of removal order (Batagelj-
  Zaversnik) — so equal survivor COUNTS in consecutive rounds prove
  set equality, an O(1) convergence probe with no join. Like the
  connected-components kernel, the count rides the round's
  ``_staging.pin`` via ``observe()``: one job per round, the driver
  sees a single long, never data.
- Determinism: degrees are integers and the fixpoint is unique, so
  the result is exactly comparable against an unrolled-SQL oracle
  (unrolling MORE rounds than the fixpoint needs is a no-op — every
  post-fixpoint round reproduces the same set).
- Scale shape: the edge relation is consumed once per round through
  two O(nodes)-side joins; with survivor sets under the broadcast
  bound both joins are broadcast-hash (edges never shuffle, and a
  bucketed-by-src staged edge table feeds the final groupBy(src) with
  zero exchange — the graph_pagerank big-edge layout). Per-round
  state is one O(nodes) pin (on disk above the node bound),
  lineage-cut.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from tstables_spark._staging import pin


def kcore_peel(
    de: DataFrame,
    k: int,
    big_nodes: bool = False,
    max_iter: int = 40,
    deg0: DataFrame | None = None,
) -> DataFrame:
    """Peel the directed edge list ``de(src, dst)`` (both directions
    present) to its k-core. Returns ``(node, c)`` where ``c`` is the
    node's degree WITHIN the core (>= k by construction); empty result
    means the k-core is empty.

    ``de`` must be materialized by the caller (pinned or staged —
    every round re-joins it). ``big_nodes`` flips the survivor-side
    join from broadcast to shuffle-hash and the per-round O(nodes)
    pins to ``pin``'s disk-only checkpoint, the graph_pagerank
    wide-graph discipline: each dead round's blocks are freed by
    Spark's ContextCleaner.

    Raises ``RuntimeError`` if the fixpoint is not reached within
    ``max_iter`` rounds: returning a non-fixpoint survivor set would
    silently break the unique-fixpoint contract the oracle twin
    relies on. Peeling removes >= 1 node per non-final round, so
    ``max_iter`` only binds on adversarial chains (each round peeling
    exactly one node); the co-occurrence fixtures converge in <= 7.
    Callers comparing against an unrolled-SQL oracle should pass
    max_iter == the oracle's round count so a deeper graph raises
    instead of silently diverging.

    ``deg0``: optionally the precomputed full-graph degree relation
    ``(node, c)`` — callers that already aggregated degrees (e.g. for
    a data-derived k) pass it to skip round 0's rebuild of the same
    2|E| scan+shuffle.
    """

    # Round 0 peels on FULL-graph degrees (the first peel needs no
    # survivor restriction: within-all degrees ARE full degrees).
    if deg0 is None:
        deg0 = de.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).alias("c")
        )
    d, prev = deg0, None
    for _ in range(max_iter + 1):
        # the survivor count rides the round's pin job via observe()
        obs = Observation()
        alive = pin(
            d.where(F.col("c") >= k).observe(obs, F.count(F.lit(1)).alias("n")),
            big_nodes,
            "kcore_alive",
        )
        cnt = obs.get["n"]
        if cnt == prev:
            # Equal counts under monotone shrinkage <=> equal sets;
            # alive's degrees were computed within that set, so they
            # are the core degrees.
            return alive
        prev = cnt
        xa = alive.select(F.col("node").alias("xa"))
        ya = alive.select(F.col("node").alias("ya"))
        if big_nodes:
            xa, ya = xa.hint("shuffle_hash"), ya.hint("shuffle_hash")
        else:
            xa, ya = F.broadcast(xa), F.broadcast(ya)
        d = (
            de.join(xa, de["src"] == xa["xa"])
            .join(ya, de["dst"] == ya["ya"])
            .groupBy(F.col("src").alias("node"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
    raise RuntimeError(
        f"kcore_peel did not converge in {max_iter} rounds (survivor "
        f"count still shrinking): raise max_iter"
    )
