"""Connected components over a pair list — the step that turns
near-duplicate PAIRS into duplicate CLUSTERS (pick one survivor per
component), finishing the dedup pipeline.

Contract: every id in the pair list is a node, and its component is
the minimum node id reachable from it. That fixpoint is unique, so any
partitioning and either path below gives the same labels, and the
DuckDB twins compute it with a recursive CTE.

The pair list is pinned once (``_staging.pin``), its row count observed
on the pin's own job. Then ``_staging.one_task`` picks one of two
paths:

- within its row bound, one numpy kernel: ``np.unique`` maps ids to
  dense indices, then hook-and-compress (each pair whose roots differ
  hooks the larger root to the smaller with ``np.minimum.at``; then
  ``lab = lab[lab]`` until stable) repeats until no pair's roots
  differ. It always reaches the exact fixpoint, and construction runs
  no job beyond the pin.
- above it, distributed min-label rounds with pointer doubling: each
  round every node takes the minimum of its own label, its neighbours'
  labels and the label of its label (the path-halving jump of
  large-star/small-star, Kiveris et al., "Connected Components in
  MapReduce"), so rounds grow with log(diameter). The symmetric pair
  list is laid out once into a cache hash-partitioned on the join key
  (InMemoryRelation keeps outputPartitioning; a checkpoint's
  LogicalRDD does not), and each round's neighbour join builds a
  shuffle hash on the O(V) labels side, so no round shuffles or sorts
  the O(E) pairs. A round is one job: its pin also observes the label
  sum, which stops falling exactly at the fixpoint. ``max_iter`` bounds
  these rounds only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from tstables_spark._staging import one_task, pin


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Returns (node, component) where component is the minimum node id
    reachable from ``node``. Nodes are every id appearing in ``edges``
    (a pair with a NULL end names none); isolated nodes (no edges) are
    the caller's concern — a left join with default component = own id
    adds them back.

    Raises ``RuntimeError`` if the distributed rounds do not reach the
    fixpoint within ``max_iter`` (each round about halves the label
    distance, so a chain deeper than about 2^max_iter hops): returning
    non-fixpoint labels silently would break the exact-unique-fixpoint
    contract the oracle twins rely on. The single-task kernel always
    reaches it, whatever ``max_iter``.
    """
    n = Observation()
    pairs = pin(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .dropna()
        .observe(n, F.count(F.lit(1)).alias("n"))
    )

    def kernel(a, b):
        import numpy as np

        nodes, idx = np.unique(np.concatenate([a, b]), return_inverse=True)
        a, b = idx[: len(a)], idx[len(a) :]
        lab = np.arange(len(nodes))
        while True:
            ra, rb = lab[a], lab[b]
            hook = ra != rb
            if not hook.any():
                return {"node": nodes, "component": nodes[lab]}
            np.minimum.at(lab, np.maximum(ra, rb)[hook], np.minimum(ra, rb)[hook])
            while (lab[lab] != lab).any():
                lab = lab[lab]

    t = pairs.schema["a"].dataType.simpleString()
    kerneled = one_task(pairs, n.get["n"], kernel, f"node {t}, component {t}")
    if kerneled is not None:
        return kerneled

    # undirected: propagate both ways, from one layout of both
    # orientations hash-partitioned on the join key
    P = int(pairs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    sym = pairs.union(pairs.select("b", "a")).repartition(P, "a")
    sym = sym.persist(StorageLevel.MEMORY_AND_DISK)
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )

    # Convergence probe without a join or an extra job: min-label
    # propagation is monotone (every candidate is an existing label), so
    # the label sum strictly falls every round until the fixpoint —
    # equal sums ⟺ no label changed. DECIMAL(38,0) keeps the sum exact
    # at any id magnitude (1e9 nodes × 1e18 ids overflows int64). It
    # rides each round's pin via observe().
    label_sum = F.sum(F.col("component").cast("decimal(38,0)")).alias("s")

    # Pin the identity labels too: round 0 references them in two join
    # legs, and the pin doubles as the initial-sum probe.
    obs = Observation()
    labels = pin(labels.observe(obs, label_sum))
    prev_sum = obs.get["s"]
    try:
        for i in range(max_iter):
            # each node's candidate = min(own label, neighbours' labels).
            # The shuffle-hash hint builds on the O(V) labels side;
            # without it a sort-merge join would sort the cached O(E)
            # side every round. sym's HashPartitioning(a) satisfies the
            # join, so the pairs are a plain cache scan.
            lab_side = labels.hint("shuffle_hash")
            nbr = sym.join(lab_side, sym.a == lab_side.node).select(
                F.col("b").alias("node"), "component"
            )
            cand = labels.select("node", "component").union(nbr)
            # pointer doubling: also adopt the label OF my current label,
            # halving the label distance each round. Round 0 skips it:
            # labels are the identity there.
            #
            # Do not deepen this to a second jump (a 3-way self-join):
            # iterating one makes planning time grow about 5x a round
            # past round 11 on a constant-size plan; the 2-way shape
            # plans in flat time through 18+ rounds.
            if i > 0:
                l2 = labels.alias("l2")
                jump = (
                    labels.alias("l1")
                    .join(l2, F.col("l1.component") == F.col("l2.node"))
                    .select(
                        F.col("l1.node").alias("node"),
                        F.col("l2.component").alias("component"),
                    )
                )
                cand = cand.union(jump)
            new_labels = cand.groupBy("node").agg(
                F.min("component").alias("component")
            )
            # cut lineage each round: iterative joins otherwise stack
            # plans exponentially
            obs = Observation()
            labels = pin(new_labels.observe(obs, label_sum))
            s = obs.get["s"]
            if s == prev_sum:
                return labels
            prev_sum = s
    finally:
        sym.unpersist()
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds "
        f"(label sum still decreasing): graph diameter exceeds "
        f"max_iter; raise max_iter"
    )
