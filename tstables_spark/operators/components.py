"""Connected components over a pair list — the step that turns
near-duplicate PAIRS into duplicate CLUSTERS (pick one survivor per
component), finishing the dedup pipeline.

Algorithm: iterative min-label propagation WITH pointer doubling.
Every node starts labeled with itself; each round every node takes the
minimum among its own label, its neighbors' labels, and the label of
its current label (the path-halving jump — the same device as
large-star/small-star, Kiveris et al., "Connected Components in
MapReduce"). The jump makes convergence O(log diameter) instead of
O(diameter): near-dup graphs are usually near-cliques (2-3 rounds),
but sf0.1 produced a chain deeper than 20 hops and diameter-bound
propagation timed out. Each round is ONE job (the joins, the min
aggregate AND the O(1) convergence sum all ride the round's
``_staging.pin`` via observe()); the driver only sees the single
label-sum per round, never data. Since r17 the per-round EDGE cost is
SIZE-ADAPTIVE, decided from the materialized edge count (a free count
on the checkpoint): small graphs keep the r16 shape — plain per-round
joins whose shuffles AQE coalesces to a task or two (a fixed 32-wide
layout here was measured costing dedup_embed_clusters 55x in summed
task time: 18 rounds x dozens of near-empty tasks, SCALE.md r17) —
while big graphs re-layout the symmetric edge list ONCE into a
hash-partitioned columnar cache (InMemoryRelation preserves
outputPartitioning; localCheckpoint's LogicalRDD does not — probed)
and build each round's neighbor join on the O(V) labels side via
SHUFFLE_HASH, so no round shuffles OR sorts the O(E) relation — the
term that dominates per-round cost when the pair list is billions of
rows. (AQE-coalesced repartition(col) was probed as a one-size
alternative and rejected: coalescing breaks strict HashPartitioning,
so the join re-shuffles both sides anyway.)

Determinism: min() over labels is order-independent, so the fixpoint is
unique regardless of partitioning — safe for exact oracle comparison
(the DuckDB twin computes the same fixpoint via recursive CTE).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from tstables_spark._staging import pin

# Edge count above which the per-round O(E) shuffle+sort is worth one
# extra O(E) re-layout into a hash-partitioned cache (see module
# docstring). Below it the r16 plain-join rounds win outright: AQE
# coalesces their tiny shuffles, while a fixed-width cached layout
# charges dozens of near-empty tasks per round (the measured 55x
# dedup_embed_clusters task regression, SCALE.md r17).
_SYM_RELAYOUT_ROWS = 4_000_000

# Edge count under which the small path's per-round label relation is
# explicitly BROADCAST into both join legs (labels rows <= distinct
# endpoints <= sym rows; two longs/row keeps the build side ~16 MB at
# the bound). Between this and _SYM_RELAYOUT_ROWS the r16 plain
# AQE-coalesced rounds remain.
_ROUND_BCAST_ROWS = 1_000_000


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Returns (node, component) where component is the minimum node id
    reachable from ``node``. Nodes are every id appearing in ``edges``;
    isolated nodes (no edges) are the caller's concern — a left join
    with default component = own id adds them back.

    Raises ``RuntimeError`` if the fixpoint is not reached within
    ``max_iter`` rounds (a chain deeper than max_iter hops): returning
    non-fixpoint labels silently would break the exact-unique-fixpoint
    contract the oracle twin relies on (ADVICE r2). Rounds needed =
    graph diameter; near-dup graphs are near-cliques (2-3 rounds), so
    hitting the guard means the graph is not the shape this default is
    tuned for — raise ``max_iter`` or switch to a large-star/small-star
    O(log n) scheme.
    """

    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # undirected: propagate both ways — both orientations explode from
    # ONE scan of the upstream (r17: the former union's two legs each
    # evaluated the possibly-expensive pair derivation inside the
    # materialization job). Pin ONCE, then pick the per-round
    # EDGE layout from the now-free edge count (see module docstring):
    # small graphs iterate straight over the checkpoint (per-round
    # shuffles are tiny and AQE-coalesced); big graphs re-layout once
    # into a hash-partitioned columnar cache so no round shuffles or
    # sorts the O(E) relation again.
    sym = pin(
        e.select(
            F.explode(
                F.array(
                    F.struct(F.col("a"), F.col("b")),
                    F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
                )
            ).alias("p")
        ).select("p.a", "p.b")
    )
    n_sym = sym.count()  # count on the checkpoint: free
    big = n_sym > _SYM_RELAYOUT_ROWS
    # Below the broadcast bound the labels relation (<= distinct
    # endpoints <= n_sym rows of two longs) rides every round's two
    # join legs as an explicit BROADCAST: the small path's per-round
    # job then has ONE exchange (the min aggregate) instead of four
    # (labels, sym, jump x2 — AQE coalesced them to near-empty tasks
    # but each is still a sequential stage barrier, and the round
    # count is the wall cost at bench scale: 18 rounds x ~4 barriers
    # was most of dedup_embed_clusters' 4 s wall, SCALE.md r17). The
    # candidate multiset is unchanged, so the min fixpoint is too.
    bcast_rounds = not big and n_sym <= _ROUND_BCAST_ROWS
    pinned_sym = None
    if big:
        P = int(e.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        pinned_sym = sym.repartition(P, "a").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        sym = pinned_sym
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )

    # O(1)-row convergence probe WITHOUT a join OR an extra job:
    # min-label propagation is monotone (every candidate is an existing
    # label, min can only shrink), so the label sum strictly decreases
    # every round until the fixpoint — equal sums ⟺ zero labels
    # changed. DECIMAL(38,0) keeps the sum exact at any node-id
    # magnitude (1e9 nodes × 1e18 ids overflows int64). The sum rides
    # the round's pin via observe(): the SAME job that pins the round
    # computes it, so no round runs a separate probe job.
    label_sum = F.sum(F.col("component").cast("decimal(38,0)")).alias("s")

    # Pin the identity labels too: round 0 references them in two join
    # legs, and the pin doubles as the free initial-sum probe.
    obs = Observation()
    labels = pin(labels.observe(obs, label_sum))
    prev_sum = obs.get["s"]
    for i in range(max_iter):
        # each node's candidate = min(own label, neighbors' labels).
        # Big path: SHUFFLE_HASH hint on the labels side — labels is
        # the O(V) build side; without the hint SMJ would SORT the
        # cached O(E) stream side every round (the hint keeps the
        # per-round edge cost to a pure cache scan: no Exchange —
        # sym's persisted HashPartitioning(a) satisfies the join — and
        # no Sort). Small path: the plain r16 join, AQE-coalesced.
        if big:
            lab_side = labels.hint("shuffle_hash")
        elif bcast_rounds:
            lab_side = F.broadcast(labels)
        else:
            lab_side = labels
        # Broadcast path (r18): the pointer-doubling jump is the SAME
        # join shape as the neighbor step — "node x adopts the label
        # of p" is the neighbor rule over the pointer edge (p, x) — so
        # instead of a SECOND broadcast join per round (its
        # BroadcastExchange was a separate AQE job: 18 rounds x ~90 ms
        # of build latency was ~a third of dedup_embed_clusters' wall)
        # the pointer edges (component, node) UNION into the round's
        # stream side and ONE join against ONE broadcast build serves
        # both steps. Candidate multiset — and therefore the min
        # fixpoint, the per-round sums, and the round count — is
        # identical by construction. Big path keeps the two-join
        # shape: its stream side is the hash-partitioned edge cache,
        # and a union with the O(V) pointer rows would break the
        # partitioning match that keeps rounds exchange-free.
        stream = sym
        if bcast_rounds and i > 0:
            # the pointer leg reads labels under its own alias, so the
            # join below does not rely on Spark's self-join attribute
            # deduplication to tell it from the labels build side
            stream = sym.union(
                labels.alias("ptr").select(
                    F.col("ptr.component").alias("a"), F.col("ptr.node").alias("b")
                )
            )
        nbr = (
            stream.join(lab_side, stream.a == lab_side.node)
            .select(F.col("b").alias("node"), "component")
        )
        cand = labels.select("node", "component").union(nbr)
        # pointer doubling (path halving): also adopt the label OF my
        # current label. Min-propagation alone needs diameter rounds —
        # a sf0.1 near-dup chain blew past 20 (found by the sf0.1
        # parity sweep); with the jump the label distance halves each
        # round, so convergence is O(log diameter) and the 20-round cap
        # covers diameters up to ~2^20. One extra component-keyed join
        # per round; the fixpoint (min reachable label) is unchanged.
        # Round 0 skips it: labels are identity there, so the jump join
        # can only produce rows labels already contains.
        #
        # DO NOT deepen this to a second jump (label-of-label-of-label,
        # a 3-way self-join): measured r13, iterating a 3-way self-join
        # of the round's checkpoint makes PLANNING time grow
        # exponentially with round count (~5x/round past round 11;
        # 0.04s -> 8s by round 13 on a CONSTANT-size logical plan and
        # constant partitioning — an explicit repartition before the
        # checkpoint does not cure it), dwarfing the halved round
        # count. The 2-way shape is planning-flat through 18+ rounds.
        if i > 0 and not bcast_rounds:
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
        new_labels = cand.groupBy("node").agg(F.min("component").alias("component"))
        # cut lineage each round: iterative joins otherwise stack plans
        # exponentially. O(nodes) rows; the convergence sum rides the
        # same job.
        obs = Observation()
        labels = pin(new_labels.observe(obs, label_sum))
        s = obs.get["s"]
        if s == prev_sum:
            if pinned_sym is not None:
                pinned_sym.unpersist()
            return labels
        prev_sum = s
    if pinned_sym is not None:
        pinned_sym.unpersist()
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds "
        f"(label sum still decreasing): graph diameter exceeds "
        f"max_iter; raise max_iter"
    )
