"""Unit tests for standalone operators (rangejoin, dedup internals,
tstable name validation) not otherwise covered by the oracle registry."""

from __future__ import annotations

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from tstables_spark.operators.dedup import jaccard_pairs
from tstables_spark.operators.rangejoin import banded_range_join, interval_join
from tstables_spark.tstable import TimeSeriesTable, TimeSeriesTableError


def _ts(s):
    return datetime.fromisoformat(s).replace(tzinfo=timezone.utc)


def _events(spark, rows):
    return spark.createDataFrame(rows, "id long, ts timestamp")


def test_banded_range_join_matches_bruteforce(spark):
    rows = [(i, _ts(f"2024-01-01 00:{m:02d}:{s:02d}")) for i, (m, s) in enumerate(
        [(0, 0), (0, 30), (1, 0), (2, 15), (10, 0), (10, 59), (11, 1), (59, 59)]
    )]
    df = _events(spark, rows)
    got = banded_range_join(
        df, df.select(F.col("id").alias("rid"), F.col("ts").alias("rts")),
        "ts", "rts", horizon_seconds=90,
    )
    got_pairs = {(r.id, r.rid) for r in got.collect()}
    brute = {
        (a, ra) for a, ta in rows for ra, tb in rows
        if 0 < (tb - ta).total_seconds() <= 90
    }
    assert got_pairs == brute and len(brute) > 0


def test_banded_range_join_negative_epoch(spark):
    """Pre-1970 timestamps: cast('long') truncation toward zero used to
    mis-band rows around the epoch and drop matching pairs."""
    rows = [
        (0, _ts("1969-12-31 23:59:30")),
        (1, _ts("1969-12-31 23:59:55")),
        (2, _ts("1970-01-01 00:00:20")),
        (3, _ts("1970-01-01 00:01:30")),
    ]
    df = _events(spark, rows)
    got = banded_range_join(
        df, df.select(F.col("id").alias("rid"), F.col("ts").alias("rts")),
        "ts", "rts", horizon_seconds=60,
    )
    got_pairs = {(r.id, r.rid) for r in got.collect()}
    brute = {
        (a, b) for a, ta in rows for b, tb in rows
        if 0 < (tb - ta).total_seconds() <= 60
    }
    # crosses the epoch boundary both ways: (0,1), (0,2), (1,2)
    assert got_pairs == brute == {(0, 1), (0, 2), (1, 2)}


def test_interval_join_basic(spark):
    left = spark.createDataFrame([(1, 10), (2, 20)], "k long, lo long")
    right = spark.createDataFrame([(1, 12), (1, 99), (2, 25)], "k long, x long")
    out = interval_join(
        left.alias("l"), right.alias("r"),
        on=F.col("l.k") == F.col("r.k"),
        lower=F.col("r.x") >= F.col("l.lo"),
        upper=F.col("r.x") <= F.col("l.lo") + 10,
    )
    assert {(r["lo"], r["x"]) for r in out.collect()} == {(10, 12), (20, 25)}


def test_jaccard_max_df_only_lowers_recall(spark):
    """max_df must never ADD pairs: denominators come from unfiltered
    shingle sets, so filtering stop-shingles only removes evidence."""
    docs = spark.createDataFrame(
        [
            # a/b: near-dups sharing most shingles
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy cat today"),
            # c/d share ONLY a high-frequency boilerplate phrase
            (3, "common header phrase one unique tail alpha beta gamma"),
            (4, "common header phrase two other tail delta epsilon zeta"),
        ],
        "doc_id long, text string",
    )
    base = {
        (r.doc_a, r.doc_b)
        for r in jaccard_pairs(docs, n=3, threshold=0.3).collect()
    }
    filtered = {
        (r.doc_a, r.doc_b)
        for r in jaccard_pairs(docs, n=3, threshold=0.3, max_df=3).collect()
    }
    assert filtered <= base  # never creates pairs


@pytest.mark.parametrize("bad", ["../escape", "a/b", "/abs", "..", "x y"])
def test_series_name_validation(spark, tmp_path, bad):
    import pyspark.sql.types as T

    schema = T.StructType([T.StructField("ts", T.TimestampType())])
    with pytest.raises(TimeSeriesTableError):
        TimeSeriesTable.create(spark, str(tmp_path), bad, schema)


def test_create_is_exclusive(spark, tmp_path):
    import pyspark.sql.types as T

    schema = T.StructType([T.StructField("ts", T.TimestampType())])
    TimeSeriesTable.create(spark, str(tmp_path), "s1", schema)
    with pytest.raises(TimeSeriesTableError):
        TimeSeriesTable.create(spark, str(tmp_path), "s1", schema)


def test_grouped_apply_matches_native(spark):
    """grouped_apply_in_pandas == groupBy().applyInPandas() on the same
    fn, including null keys and multi-column keys."""
    import pandas as pd
    from tstables_spark.operators.groupmap import grouped_apply_in_pandas

    rows = [(i, i % 7 if i % 11 else None, i % 3, float(i)) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, k1 long, k2 long, v double")
    schema = "id long, k1 long, k2 long, v double, r double"

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf.assign(r=pdf["v"] - pdf["v"].min())[["id", "k1", "k2", "v", "r"]]

    native = df.groupBy("k1", "k2").applyInPandas(fn, schema)
    ours = grouped_apply_in_pandas(df, ["k1", "k2"], fn, schema)
    assert sorted(map(tuple, ours.collect())) == sorted(map(tuple, native.collect()))


def test_simhash_banding_equals_bruteforce(spark):
    """Pigeonhole banding must find EXACTLY the pairs brute-force
    Hamming comparison finds (recall 1.0 — the guarantee is exact)."""
    from tstables_spark.operators.dedup import simhash_fingerprints, simhash_pairs

    docs = spark.createDataFrame(
        [(i, f"tok{i%4} alpha beta gamma delta common {'x' if i%2 else 'y'} tail{i%3}")
         for i in range(40)],
        "doc_id long, text string",
    )
    fps = {r.doc_id: r.simhash for r in simhash_fingerprints(docs, 32).collect()}
    brute = {
        (a, b)
        for a in fps for b in fps
        if a < b and bin(fps[a] ^ fps[b]).count("1") <= 3
    }
    got = {(r.doc_a, r.doc_b) for r in simhash_pairs(docs, 32, 3).collect()}
    assert got == brute and len(brute) > 0


def test_pack_sequences_matches_global_window(spark):
    """Two-phase distributed prefix sum == the single-task global window."""
    from pyspark.sql import Window as W
    from tstables_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(
        [(i, (i * 37) % 900 + 100) for i in range(1000)], "doc_id long, w long"
    )
    got = {
        r.doc_id: (r.running, r.pack_id)
        for r in pack_sequences(df, "doc_id", "w", budget=2048, num_partitions=7).collect()
    }
    win = W.orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    want = {
        r.doc_id: (r.running, r.pack_id)
        for r in df.withColumn("running", F.sum("w").over(win))
        .withColumn("pack_id", F.floor((F.col("running") - F.col("w")) / 2048).cast("long"))
        .collect()
    }
    assert got == want


def test_hash_sample_stable_under_repartition(spark):
    from tstables_spark.operators.sampling import hash_sample, hash_split

    df = spark.createDataFrame([(i,) for i in range(2000)], "id long")
    s1 = {r.id for r in hash_sample(df, "id", 64).collect()}
    s2 = {r.id for r in hash_sample(df.repartition(13), "id", 64).collect()}
    assert s1 == s2 and 0.18 < len(s1) / 2000 < 0.32
    splits = hash_split(df, "id").groupBy("split").count().collect()
    got = {r.split: r["count"] for r in splits}
    assert set(got) == {"train", "val", "test"} and got["train"] > got["val"]


def test_ivf_topk_recall(spark):
    """IVF with 4/16 probes must recover most of the exact top-5."""
    from tstables_spark.operators.similarity import cosine_topk, ivf_topk
    from tstables_spark.plans.tables import load

    emb = load(spark, "/root/testdata/sf0.01", "embeddings")
    pred = F.col("vec_id") < 10
    exact = {(r.qid, r.nid) for r in cosine_topk(emb, pred, k=5).collect()}
    approx = {(r.qid, r.nid) for r in ivf_topk(emb, pred, k=5, n_cells=16, n_probe=4).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"recall {recall}"


def test_connected_components_chain_and_clique(spark):
    """Min-label propagation reaches the exact fixpoint on a deep chain
    (worst case for diameter) plus a clique plus an isolated pair."""
    from tstables_spark.operators.components import connected_components

    chain = [(i, i + 1) for i in range(10, 20)]          # 10-..-20
    clique = [(a, b) for a in range(3) for b in range(3) if a < b]
    pair = [(100, 101)]
    edges = spark.createDataFrame(chain + clique + pair, "doc_a long, doc_b long")
    got = {r.node: r.component for r in connected_components(edges).collect()}
    assert got == _union_find(chain + clique + pair)


def test_connected_components_raises_past_max_iter(spark, monkeypatch):
    """A chain deeper than max_iter must RAISE, not silently return
    non-fixpoint labels (ADVICE r2: the exact-fixpoint contract). Only
    the distributed rounds can stop short, so the one-task bound is
    forced to 0."""
    from tstables_spark import _staging
    from tstables_spark.operators.components import connected_components

    monkeypatch.setattr(_staging, "ONE_TASK_ROWS_MAX", 0)
    chain = [(i, i + 1) for i in range(0, 8)]
    edges = spark.createDataFrame(chain, "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=2)
    # ...and a sufficient max_iter still reaches the exact fixpoint
    got = {r.node: r.component for r in connected_components(edges, max_iter=9).collect()}
    assert got == {n: 0 for n in range(9)}


def _union_find(pairs):
    """{node: minimum node id of its component} by union-find."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_connected_components_kernel_matches_union_find(spark):
    """Under the one-task bound connected_components is one numpy
    kernel: it matches union-find on seeded random graphs (ids above
    2^40, repeated and self pairs included), gives no rows and no error
    on an empty pair list, and reaches the exact fixpoint of a
    4,096-deep chain whatever ``max_iter``."""
    import random

    from tstables_spark.operators.components import connected_components

    def run(pairs, **kw):
        df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
        return {r.node: r.component for r in connected_components(df, **kw).collect()}

    assert run([]) == {}
    rng = random.Random(11)
    for _ in range(4):
        ids = [(1 << 40) + rng.randrange(1 << 60) for _ in range(rng.randrange(2, 80))]
        pairs = [(rng.choice(ids), rng.choice(ids)) for _ in range(rng.randrange(1, 90))]
        assert run(pairs) == _union_find(pairs)
    chain = [(i, i + 1) for i in range(4096)]
    assert run(chain, max_iter=2) == dict.fromkeys(range(4097), 0)


def _brute_kcore(pairs, k):
    """Reference peel: remove nodes with degree < k until stable;
    return {node: core_degree}."""
    from collections import defaultdict

    alive = {n for e in pairs for n in e}
    while True:
        deg = defaultdict(int)
        for a, b in pairs:
            if a in alive and b in alive:
                deg[a] += 1
                deg[b] += 1
        nxt = {n for n in alive if deg[n] >= k}
        if nxt == alive:
            return {n: deg[n] for n in alive}
        alive = nxt


def test_kcore_peel_clique_plus_tail(spark):
    """The 3-core of a 5-clique with a pendant chain is exactly the
    clique: the chain peels over several rounds (each round exposes
    the next node), exercising the multi-round fixpoint."""
    from tstables_spark.operators.kcore import kcore_peel

    clique = [(a, b) for a in range(5) for b in range(5) if a < b]
    chain = [(4, 10), (10, 11), (11, 12)]
    pairs = clique + chain
    half = spark.createDataFrame(pairs, "u long, v long")
    de = half.selectExpr("u AS src", "v AS dst").unionAll(
        half.selectExpr("v AS src", "u AS dst")
    ).localCheckpoint(eager=True)
    got = {r.node: r.c for r in kcore_peel(de, 3).collect()}
    assert got == _brute_kcore(pairs, 3)
    assert set(got) == set(range(5))


def test_kcore_peel_random_graphs_match_brute_force(spark):
    """Seeded random sparse graphs: the distributed peel equals the
    sequential reference for several k, including empty cores."""
    import random

    from tstables_spark.operators.kcore import kcore_peel

    rng = random.Random(13)
    for trial in range(3):
        n = 40
        pairs = sorted(
            {
                (a, b)
                for _ in range(120)
                for a, b in [sorted(rng.sample(range(n), 2))]
            }
        )
        half = spark.createDataFrame(pairs, "u long, v long")
        de = half.selectExpr("u AS src", "v AS dst").unionAll(
            half.selectExpr("v AS src", "u AS dst")
        ).localCheckpoint(eager=True)
        for k in (2, 4, 7):
            got = {r.node: r.c for r in kcore_peel(de, k).collect()}
            assert got == _brute_kcore(pairs, k), f"trial={trial} k={k}"


def test_kcore_peel_raises_past_max_iter(spark):
    """An adversarial chain peels one node per round; max_iter below
    the round count must RAISE rather than return a non-fixpoint set
    (the unique-fixpoint contract the oracle twin relies on)."""
    import pytest as _pytest

    from tstables_spark.operators.kcore import kcore_peel

    # Path graph: 2-core is empty, peeled one endpoint pair per round.
    chain = [(i, i + 1) for i in range(8)]
    half = spark.createDataFrame(chain, "u long, v long")
    de = half.selectExpr("u AS src", "v AS dst").unionAll(
        half.selectExpr("v AS src", "u AS dst")
    ).localCheckpoint(eager=True)
    with _pytest.raises(RuntimeError, match="did not converge"):
        kcore_peel(de, 2, max_iter=1)
    assert kcore_peel(de, 2, max_iter=10).count() == 0


def _actions_and_pins(spark, monkeypatch, fn):
    """Run ``fn()`` under a fresh job group; return the number of Spark
    actions it ran and the number of ``_staging.pin`` calls the
    connected-components and k-core operators made.

    An action is one SQL execution: AQE submits each query stage (and
    each broadcast build) of an action as its own job, so the jobs of
    the group are mapped to the executions that own them."""
    import time
    import uuid

    from tstables_spark import _staging
    from tstables_spark.operators import components, kcore

    pins = []
    real_pin = _staging.pin

    def counting_pin(*args, **kwargs):
        pins.append(1)
        return real_pin(*args, **kwargs)

    for mod in (components, kcore):
        monkeypatch.setattr(mod, "pin", counting_pin)
    sc = spark.sparkContext
    group = "actions_" + uuid.uuid4().hex[:8]
    sc.setJobGroup(group, "action count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        for mod in (components, kcore):
            monkeypatch.setattr(mod, "pin", real_pin)
    # the status store is fed by the listener bus in order: once a
    # later job is visible, every job of the group is too
    probe = "actions_probe_" + uuid.uuid4().hex[:8]
    sc.setJobGroup(probe, "listener drain")
    try:
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.monotonic() + 30
    while not sc.statusTracker().getJobIdsForGroup(probe):
        assert time.monotonic() < deadline
        time.sleep(0.05)
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    actions = 0
    for i in range(execs.size()):
        ids = execs.apply(i).jobs().keySet().toSeq()
        if any(int(ids.apply(j)) in jobs for j in range(ids.size())):
            actions += 1
    return actions, len(pins)


def _cc_rounds(pairs):
    """Rounds connected_components runs on ``pairs``, the last
    (unchanged) one included: min-label propagation plus the
    label-of-label jump from the second round on."""
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    lab = {n: n for n in adj}
    rounds = 0
    while True:
        rounds += 1
        new = {
            n: min(
                [lab[n]]
                + [lab[m] for m in adj[n]]
                + ([lab[lab[n]]] if rounds > 1 else [])
            )
            for n in adj
        }
        if new == lab:
            return rounds
        lab = new


def test_fixpoint_kernels_one_action_per_round(spark, monkeypatch):
    """connected_components' distributed rounds and kcore_peel run
    exactly one Spark action per round: the convergence probe (the
    label sum, the survivor count) is observed on the round's pin,
    never a job of its own. connected_components adds two fixed pins
    (the pair list, its row count observed on that pin's job, and the
    identity labels); kcore_peel adds nothing. Under the one-task bound
    connected_components runs one action: the pin of the pairs."""
    from tstables_spark import _staging
    from tstables_spark.operators.components import connected_components
    from tstables_spark.operators.kcore import kcore_peel

    chain = [(i, i + 1) for i in range(33)]
    rounds = _cc_rounds(chain)
    assert rounds >= 5  # deep enough that rounds dominate the count
    edges = spark.createDataFrame(chain, "doc_a long, doc_b long")
    assert _actions_and_pins(
        spark, monkeypatch, lambda: connected_components(edges)
    ) == (1, 1)
    monkeypatch.setattr(_staging, "ONE_TASK_ROWS_MAX", 0)
    got = {}
    actions, pins = _actions_and_pins(
        spark,
        monkeypatch,
        lambda: got.update(
            (r.node, r.component) for r in connected_components(edges).collect()
        ),
    )
    assert got == dict.fromkeys(range(34), 0)
    # + 1 for the collect above
    assert (actions, pins) == (rounds + 2 + 1, rounds + 2)

    # the clique-plus-tail graph of test_kcore_peel_clique_plus_tail:
    # at k=2 the tail peels one node per round (12, 11, 10), then one
    # unchanged round confirms the fixpoint
    clique = [(a, b) for a in range(5) for b in range(5) if a < b]
    half = spark.createDataFrame(
        clique + [(4, 10), (10, 11), (11, 12)], "u long, v long"
    )
    de = half.selectExpr("u AS src", "v AS dst").unionAll(
        half.selectExpr("v AS src", "u AS dst")
    ).localCheckpoint(eager=True)
    for big_nodes in (False, True):
        actions, pins = _actions_and_pins(
            spark, monkeypatch, lambda: kcore_peel(de, 2, big_nodes=big_nodes)
        )
        assert (actions, pins) == (4, 4), big_nodes
    # the wide-graph rounds are disk-only checkpoints, not scratch tables
    assert not [
        t.name for t in spark.catalog.listTables() if t.name.startswith("kcore_alive")
    ]


def test_salted_join_rejects_right_family(spark):
    """Right/full joins would duplicate unmatched dim rows salt times —
    the contract is scoped to the inner/left family (ADVICE r2)."""
    from tstables_spark.operators.skew import salted_join

    fact = spark.createDataFrame([(1, "x")], "k long, a string")
    dim = spark.createDataFrame([(1, "y"), (2, "z")], "k long, b string")
    for bad in ("right", "full", "outer", "right_outer", "full_outer"):
        with pytest.raises(ValueError, match="salted_join"):
            salted_join(fact, dim, "k", salt=4, how=bad)
    # left join over a dim with unmatched rows stays exactly equivalent
    got = sorted(salted_join(fact, dim, "k", salt=4, how="left").collect())
    want = sorted(fact.join(dim, "k", "left").collect())
    assert got == want


def test_kmeans_deterministic_and_partitioning_stable(spark):
    """Lloyd assignment must be identical across partitionings (the
    decimal-mean determinism argument in operators/clustering.py)."""
    from tstables_spark.operators.clustering import kmeans_fit, kmeans_lloyd
    from tstables_spark.plans.tables import load

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    a = {r.vec_id: r.cell for r in kmeans_lloyd(emb, k=8, iters=2).collect()}
    b = {
        r.vec_id: r.cell
        for r in kmeans_lloyd(emb.repartition(13), k=8, iters=2).collect()
    }
    assert a == b and len(a) == emb.count()
    # non-degenerate: uses more than one cell
    assert len(set(a.values())) > 1
    # kmeans_fit exposes the k x d codebook for downstream broadcast
    _, cents = kmeans_fit(emb, k=8, iters=2)
    assert len(cents) == 8 and all(len(c) == 64 for c in cents)


def test_ivf_kmeans_recall(spark):
    """Lloyd-refined IVF must recover most of the exact top-5 (same
    floor as the id-seeded codebook it refines)."""
    from tstables_spark.operators.similarity import cosine_topk, ivf_topk_kmeans
    from tstables_spark.plans.tables import load

    emb = load(spark, "/root/testdata/sf0.01", "embeddings")
    pred = F.col("vec_id") < 10
    exact = {(r.qid, r.nid) for r in cosine_topk(emb, pred, k=5).collect()}
    approx = {
        (r.qid, r.nid)
        for r in ivf_topk_kmeans(emb, pred, k=5, n_cells=16, n_probe=4, iters=2).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"recall {recall}"


def test_ivf_assign_matches_old_broadcast_formulation(spark):
    """The scan-side argmax assignment must reproduce the reference
    semantics: nearest centroid by cosine, ties to the lowest cell."""
    import math

    from tstables_spark.operators.similarity import ivf_assign
    from tstables_spark.plans.tables import load

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    cells, cents = ivf_assign(emb, n_cells=8)
    crows = sorted(cents.collect(), key=lambda r: r.cell)
    got = {r.vec_id: r.cell for r in cells.collect()}
    # python brute force over the same collected codebook
    for r in cells.collect()[:50]:
        v = [float(x) for x in r.v]
        best_cell, best_cos = None, -2.0
        for c in crows:
            dot = sum(a * b for a, b in zip(v, c.cv))
            cos = dot / math.sqrt(r.n2 * c.cn2)
            if cos > best_cos + 1e-12:
                best_cell, best_cos = c.cell, cos
        assert got[r.vec_id] == best_cell


def test_ann_candidate_set_sizes(spark, sf_dir):
    """Pin the ANN variants' SELECTIVITY, not just their recall (r7
    verdict item 7): a bucketing regression that dumps the corpus into
    one cell keeps recall@5 = 1.0 while silently becoming brute force,
    and near-empty probes can still pass recall on an easy corpus. The
    candidate-set size is the quantity that tells them apart — IVF's
    must track |corpus| * n_probe / n_cells, LSH's must stay clearly
    below the corpus while staying non-trivial."""
    from tstables_spark.plans.tables import load
    from tstables_spark.operators.similarity import (
        ivf_candidate_counts, lsh_candidate_counts,
    )

    emb = load(spark, sf_dir, "embeddings")
    n = emb.count()
    pred = F.col("vec_id") < 10
    ivf = {r["qid"]: r["n_candidates"] for r in
           ivf_candidate_counts(emb, pred, n_cells=16, n_probe=4).collect()}
    assert len(ivf) == 10
    expected = n * 4 / 16
    for qid, c in ivf.items():
        assert 0.05 * n <= c <= 0.6 * n, (qid, c, n)
        assert expected / 3 <= c <= expected * 3, (qid, c, expected)
    lsh = {r["qid"]: r["n_candidates"] for r in
           lsh_candidate_counts(emb, pred, planes=6, n_tables=8,
                                probe_bits=1).collect()}
    assert len(lsh) == 10
    for qid, c in lsh.items():
        # multi-table multi-probe on this weakly-similar fixture sits
        # around 0.5-0.7 of the corpus (measured 269-336 of 500);
        # 0.9N would mean the tables stopped discriminating at all.
        assert 0.05 * n <= c <= 0.9 * n, (qid, c, n)


def test_lsh_topk_recall(spark):
    """Multi-table multi-probe LSH must recover most of the exact
    top-5 (the r3 fix: one table of degenerate planes gave 0.36)."""
    from tstables_spark.operators.similarity import cosine_topk, lsh_topk
    from tstables_spark.plans.tables import load

    emb = load(spark, "/root/testdata/sf0.01", "embeddings")
    pred = F.col("vec_id") < 10
    exact = {(r.qid, r.nid) for r in cosine_topk(emb, pred, k=5).collect()}
    approx = {
        (r.qid, r.nid)
        for r in lsh_topk(emb, pred, k=5, planes=6, n_tables=8, probe_bits=1).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"recall {recall}"


def test_nsw_topk_recall_and_selectivity(spark):
    """Graph-ANN beam search: recall@5 >= 0.8 vs exact at the driver
    scale AND sub-corpus candidate work (visited-per-query bounded by
    entries + rounds*ef by construction — a navigation regression that
    degenerates to scoring the whole corpus cannot hide behind an easy
    recall). Deterministic: a second run returns identical rows."""
    from tstables_spark.operators.similarity import cosine_topk, nsw_topk
    from tstables_spark.plans.tables import load

    emb = load(spark, "/root/testdata/sf0.01", "embeddings")
    pred = F.col("vec_id") < 10
    exact = {(r.qid, r.nid) for r in cosine_topk(emb, pred, k=5).collect()}
    got = nsw_topk(emb, pred, k=5).collect()
    approx = {(r.qid, r.nid) for r in got}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"recall {recall}"
    # per-query output is exactly k ranked rows with 4dp cosines
    per_q = {}
    for r in got:
        per_q.setdefault(r.qid, []).append((r.rank, r.nid, r.cosine))
    assert set(per_q) == {r.qid for r in got} and len(per_q) == 10
    for qid, rows in per_q.items():
        assert sorted(x[0] for x in rows) == [1, 2, 3, 4, 5], (qid, rows)
    again = {(r.qid, r.nid, r.rank, r.cosine) for r in nsw_topk(emb, pred, k=5).collect()}
    assert again == {(r.qid, r.nid, r.rank, r.cosine) for r in got}


def test_hyperplane_tables_independent(spark):
    """Distinct table indices must yield genuinely different plane sets
    (the r3 bug: plane j duplicated plane j-4, collapsing every table
    to the same 4 hyperplanes)."""
    from tstables_spark.operators.similarity import hyperplane_buckets
    from tstables_spark.plans.tables import load

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    b0 = {r.vec_id: r.bucket for r in hyperplane_buckets(emb, 6, table=0).collect()}
    b1 = {r.vec_id: r.bucket for r in hyperplane_buckets(emb, 6, table=1).collect()}
    assert b0 != b1
    # good diffusion: a healthy fraction of the 64 bucket values in use
    assert len(set(b0.values())) > 16


def test_asof_forward_with_tolerance(spark):
    """Forward as-of (next right row at-or-after) with a lookahead
    bound: a match further ahead than the tolerance nulls out rather
    than falling forward to an even later row. No oracle covers this
    combination (the oracle twin join_asof_forward is unbounded)."""
    from datetime import datetime

    from tstables_spark.operators.asof import asof_join

    t0 = datetime(2024, 1, 1, 12, 0, 0)

    def at(minutes):
        return t0.replace(minute=minutes)

    left = spark.createDataFrame(
        [(1, at(0)), (1, at(30)), (2, at(0))], "k long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(1, at(5), 10.0), (1, at(50), 20.0)], "k long, rts timestamp, v double"
    )
    out = {
        (r.k, r.ts.minute): r.v
        for r in asof_join(
            left, right, "ts", "rts", "k", "k", ["v"],
            tolerance_seconds=600, direction="forward",
        ).collect()
    }
    assert out[(1, 0)] == 10.0      # 5 min ahead, inside the 10-min bound
    assert out[(1, 30)] is None     # next row is 20 min ahead — too far
    assert out[(2, 0)] is None      # no right rows for key 2


def test_asof_nearest_choice_ties_and_tolerance(spark):
    """Nearest as-of: closer side wins, backward wins exact ties, an
    exact-timestamp right row is a gap-0 backward match, and tolerance
    masks each side independently before the choice."""
    from datetime import datetime

    from tstables_spark.operators.asof import asof_join

    t0 = datetime(2024, 1, 1, 12, 0, 0)

    def at(minutes):
        return t0.replace(minute=minutes)

    left = spark.createDataFrame(
        [(1, at(10)), (1, at(28)), (1, at(20)), (1, at(40)), (2, at(0))],
        "k long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(1, at(0), 1.0), (1, at(20), 2.0), (1, at(30), 3.0)],
        "k long, rts timestamp, v double",
    )
    out = {
        (r.k, r.ts.minute): r.v
        for r in asof_join(
            left, right, "ts", "rts", "k", "k", ["v"], direction="nearest"
        ).collect()
    }
    assert out[(1, 10)] == 1.0   # tie: 10 back vs 10 fwd -> backward wins
    assert out[(1, 28)] == 3.0   # 8 back vs 2 fwd -> forward wins
    assert out[(1, 20)] == 2.0   # exact timestamp: gap-0 backward match
    assert out[(1, 40)] == 3.0   # nothing ahead -> backward only
    assert out[(2, 0)] is None   # no right rows for key 2

    bounded = {
        (r.k, r.ts.minute): r.v
        for r in asof_join(
            left, right, "ts", "rts", "k", "k", ["v"],
            direction="nearest", tolerance_seconds=300,
        ).collect()
    }
    assert bounded[(1, 28)] == 3.0   # 2 min fwd inside the 5-min bound
    assert bounded[(1, 10)] is None  # both sides 10 min away — masked
    assert bounded[(1, 40)] is None  # backward 10 min away — masked


def test_asof_direction_validated(spark):
    import pytest as _pytest

    from tstables_spark.operators.asof import asof_join

    df = spark.range(1).select(
        F.col("id").alias("k"), F.current_timestamp().alias("ts")
    )
    with _pytest.raises(ValueError, match="direction"):
        asof_join(df, df, "ts", "ts", "k", "k", [], direction="sideways")


def test_resample_m4_picks_deterministic_points(spark):
    from tstables_spark.operators.resample import resample_m4

    # One bucket with a duplicate-min tie (ids 2 and 3 share value 1.0 at
    # the same ts) and a second bucket with a single row.
    rows = [
        (1, _ts("2024-01-01 00:00:05"), 5.0),
        (2, _ts("2024-01-01 00:00:10"), 1.0),
        (3, _ts("2024-01-01 00:00:10"), 1.0),
        (4, _ts("2024-01-01 00:00:20"), 9.0),
        (5, _ts("2024-01-01 00:00:50"), 7.0),
        (6, _ts("2024-01-01 00:01:30"), 2.0),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, value double")
    out = {r["bucket"].second or r["bucket"].minute: r
           for r in resample_m4(df, "1 minute").collect()}
    b0 = out[0]
    assert (b0["v_first"], b0["t_first"].second) == (5.0, 5)
    assert (b0["v_last"], b0["t_last"].second) == (7.0, 50)
    # min tie at (1.0, 00:10): smallest (value, ts, event_id) -> id 2's row
    assert (b0["v_min"], b0["t_min"].second) == (1.0, 10)
    assert (b0["v_max"], b0["t_max"].second) == (9.0, 20)
    assert b0["n"] == 5
    b1 = out[1]
    assert b1["n"] == 1 and b1["v_first"] == b1["v_max"] == 2.0


def test_rolling_median_matches_statistics(spark):
    import statistics

    from tstables_spark.plans.timeseries import win_rolling_median  # noqa: F401
    from pyspark.sql import Window as W

    vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0]
    df = spark.createDataFrame(
        [(i, 1, _ts(f"2024-01-01 00:00:{i:02d}"), v) for i, v in enumerate(vals)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-6, 0)
    a = F.array_sort(F.collect_list("value").over(w))
    n = F.size(a)
    r = df.select("event_id", a.alias("a"))
    med = (
        F.when(F.size("a") % 2 == 1, F.element_at("a", ((F.size("a") + 1) / 2).cast("int")))
        .otherwise(
            (F.element_at("a", (F.size("a") / 2).cast("int"))
             + F.element_at("a", (F.size("a") / 2).cast("int") + 1)) / 2
        )
    )
    got = {r2["event_id"]: r2["m"] for r2 in r.select("event_id", med.alias("m")).collect()}
    for i in range(len(vals)):
        frame = vals[max(0, i - 6): i + 1]
        assert got[i] == pytest.approx(statistics.median(frame))


def test_lttb_properties(spark):
    from tstables_spark.operators.resample import lttb

    rows = [
        (u, i, _ts(f"2024-01-01 00:{i // 60:02d}:{i % 60:02d}"), float((i * 7919 + u) % 101))
        for u in (1, 2) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp, value double")
    out = lttb(df, n_out=10, key_cols=("user_id",)).collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append((r["ts"], r["value"]))
    src = {(u, t.replace(tzinfo=None) if t.tzinfo else t, v) for u, _, t, v in
           ((u, i, _ts(f"2024-01-01 00:{i // 60:02d}:{i % 60:02d}").replace(tzinfo=None),
             float((i * 7919 + u) % 101)) for u in (1, 2) for i in range(200))}
    for u, pts in by_user.items():
        pts.sort()
        assert len(pts) == 10
        # endpoints pinned
        assert pts[0][0].second == 0 and pts[0][0].minute == 0
        assert (pts[-1][0].minute, pts[-1][0].second) == (3, 19)
        # every output point is a real input point
        for t, v in pts:
            assert (u, t.replace(tzinfo=None), v) in src
    # short series pass through untouched
    small = spark.createDataFrame(rows[:5], "user_id long, event_id long, ts timestamp, value double")
    assert lttb(small, n_out=10, key_cols=("user_id",)).count() == 5
    # layout-invariant: different partitioning, same picks
    again = lttb(df.repartition(7), n_out=10, key_cols=("user_id",)).collect()
    assert {(r["user_id"], r["ts"], r["value"]) for r in again} == \
           {(r["user_id"], r["ts"], r["value"]) for r in out}


def test_lttb_exact_picks_vs_reference(spark):
    """Pin LTTB's EXACT picks — bucket edges, area argmax, first-max
    tie-break — against an independent plain-loop re-derivation of
    Steinarsson's algorithm (r7 verdict item 7: the driver gate checks
    count/subset/endpoints; this pins the bucket boundaries too, so a
    silent edge-convention change cannot hide inside the gate's
    tolerance)."""
    import numpy as np
    from tstables_spark.operators.resample import lttb

    def ref_picks(t, v, n_out):
        n = len(t)
        edges = [int(1 + j * (n - 2) / (n_out - 2)) for j in range(n_out - 1)]
        picked, a = [0], 0
        for b in range(n_out - 2):
            lo, hi = edges[b], edges[b + 1]
            nxt_lo, nxt_hi = (edges[b + 1], n) if b == n_out - 3 else (
                edges[b + 1], edges[b + 2]
            )
            avg_t = sum(t[nxt_lo:nxt_hi]) / (nxt_hi - nxt_lo)
            avg_v = sum(v[nxt_lo:nxt_hi]) / (nxt_hi - nxt_lo)
            best, best_area = lo, -1.0
            for i in range(lo, hi):
                area = abs(
                    (t[a] - avg_t) * (v[i] - v[a]) - (t[a] - t[i]) * (avg_v - v[a])
                )
                if area > best_area:  # strict: first maximum wins ties
                    best, best_area = i, area
            a = best
            picked.append(a)
        picked.append(n - 1)
        return picked

    n, n_out = 157, 12
    t = [i * 60 for i in range(n)]
    # deterministic pseudo-noise with deliberate repeats (tie pressure)
    v = [float((i * 6007) % 83) for i in range(n)]
    rows = [
        (1, _ts(f"2024-01-01 {i // 60:02d}:{i % 60:02d}:00"), v[i])
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = sorted(
        ((r["ts"], r["value"]) for r in lttb(df, n_out=n_out).collect())
    )
    tsec = [
        float(np.datetime64(f"2024-01-01T{i // 60:02d}:{i % 60:02d}:00", "ns").astype("int64"))
        for i in range(n)
    ]
    want_idx = ref_picks(tsec, v, n_out)
    assert len(set(want_idx)) == n_out  # scenario really exercises picks
    want = sorted(
        (rows[i][1].replace(tzinfo=None), rows[i][2]) for i in want_idx
    )
    got_naive = sorted(
        (ts.replace(tzinfo=None) if ts.tzinfo else ts, val) for ts, val in got
    )
    assert got_naive == want


def test_zorder_morton_and_locality(spark):
    from tstables_spark.operators.zorder import morton_interleave, zorder_key

    # Known Morton values
    df = spark.createDataFrame([(5, 3), (0, 0), (65535, 65535)], "x long, y long")
    got = [r["z"] for r in df.select(
        morton_interleave(F.col("x"), F.col("y")).alias("z")).collect()]
    assert got == [27, 0, (1 << 32) - 1]

    # Locality: each file_bucket (top 3 bits per dim at shift 26) bounds
    # BOTH dimensions to 1/8 of their global range.
    rows = [(i, _ts("2024-01-01 00:00:00").replace(day=1 + (i * 13) % 28,
                                                   hour=(i * 7) % 24),
             (i * 31) % 1000) for i in range(2000)]
    ev = spark.createDataFrame(
        [(i, t, u) for i, t, u in rows], "event_id long, ts timestamp, user_id long")
    z = zorder_key(ev)
    import pyspark.sql.functions as Fn
    env = z.groupBy("file_bucket").agg(
        (Fn.max("user_id") - Fn.min("user_id")).alias("xspan"),
        (Fn.max(Fn.unix_timestamp("ts")) - Fn.min(Fn.unix_timestamp("ts"))).alias("tspan"),
    ).collect()
    tot = 28 * 24 * 3600
    assert len(env) > 1
    # Dims are min-max normalized to the full 16-bit range, so each
    # bucket (top 3 bits per dim) bounds each dim to ~1/8 of its span.
    for r in env:
        assert r["xspan"] <= 1000 / 8 + 16, "bucket must bound the user dimension"
        assert r["tspan"] <= tot / 8 + 3600, "bucket must bound the time dimension"


def test_spread_small_scan_raises_floor_only_when_needed(spark):
    from tstables_spark.operators.dedup import spread_small_scan

    one = spark.createDataFrame([(i, f"t{i}") for i in range(100)], "doc_id long, text string").coalesce(1)
    assert one.rdd.getNumPartitions() == 1
    spread = spread_small_scan(one)
    assert spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert spread.count() == 100
    # already at/above the floor -> untouched (no gratuitous shuffle)
    wide = spark.createDataFrame([(i, "x") for i in range(100)], "doc_id long, text string").repartition(
        spark.sparkContext.defaultParallelism + 3
    )
    assert (
        spread_small_scan(wide).rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism + 3
    )


def test_interval_overlap_join_matches_bruteforce(spark):
    """Randomized intervals: the banded exactly-once join must emit the
    same pair set as the naive non-equi join, each pair exactly once —
    including pairs whose overlap spans several bands (long intervals)
    and same-start ties."""
    import random

    from pyspark.sql import functions as F

    from tstables_spark.operators.rangejoin import interval_overlap_join

    rnd = random.Random(7)
    base = 1_700_000_000
    rows_l, rows_r = [], []
    for i in range(300):
        k = rnd.randint(0, 5)
        s = base + rnd.randint(0, 50_000)
        rows_l.append((i, k, s, s + rnd.randint(0, 5_000)))
        s2 = base + rnd.randint(0, 50_000)
        rows_r.append((i, k, s2, s2 + rnd.randint(0, 5_000)))
    L = spark.createDataFrame(rows_l, "lid long, k long, s long, e long").select(
        "lid", "k",
        F.timestamp_seconds("s").alias("ls"), F.timestamp_seconds("e").alias("le"),
    )
    R = spark.createDataFrame(rows_r, "rid long, k long, s long, e long").select(
        "rid", "k",
        F.timestamp_seconds("s").alias("rs"), F.timestamp_seconds("e").alias("re"),
    )
    got = interval_overlap_join(
        L, R, left_start="ls", left_end="le", right_start="rs", right_end="re",
        by="k", band_seconds=1000,
    ).select("lid", "rid")
    brute = (
        L.alias("l").join(
            R.alias("r"),
            (F.col("l.k") == F.col("r.k"))
            & (F.col("l.ls") <= F.col("r.re"))
            & (F.col("r.rs") <= F.col("l.le")),
        ).select(F.col("l.lid").alias("lid"), F.col("r.rid").alias("rid"))
    )
    g = {(r.lid, r.rid) for r in got.collect()}
    b = {(r.lid, r.rid) for r in brute.collect()}
    assert g == b
    assert got.count() == len(g)  # exactly once, no duplicate emissions


def test_knn_graph_contract(spark):
    """knn_graph: per-vector ≤k rows, neighbors stay inside the label
    block, ranks are 1..k dense by descending (cosine, nn_id), and the
    top-1 neighbor matches a brute-force recomputation."""
    import math

    from tstables_spark.operators.similarity import knn_graph

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = knn_graph(emb, k=5, block_col="label").collect()
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in emb.collect()}

    by_q: dict = {}
    for r in out:
        by_q.setdefault(r["vec_id"], []).append(r)
    assert set(by_q) == set(labels)  # every vector got a neighborhood
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= 5
        for r in rows:
            assert labels[r["nn_id"]] == labels[q]
            assert r["nn_id"] != q
        # ordering: cosine desc, nn_id asc on ties
        key = [(-r["cosine"], r["nn_id"]) for r in rows]
        assert key == sorted(key)

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(dot / (na * nb), 4)

    # brute-force the top-1 for the three smallest ids
    for q in sorted(by_q)[:3]:
        best = max(
            ((cos(vecs[q], vecs[o]), -o) for o in vecs
             if o != q and labels[o] == labels[q]),
        )
        got = by_q[q][0]
        assert abs(got["cosine"] - best[0]) <= 1e-9
        assert got["nn_id"] == -best[1]


def _knn_block_reference(pdf, k, id_col="vec_id", vec_col="embedding"):
    """knn_graph's one-query-at-a-time block loop, kept as the oracle
    of the chunked kernel."""
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
    outs = []
    with np.errstate(divide="ignore", invalid="ignore"):
        for qi in range(n):
            dot = np.zeros(n)
            for i in range(d):
                dot += M[qi, i] * M[:, i]
            cos = dot / np.sqrt(n2[qi] * n2)
            mask = ids != ids[qi]
            c, nid = cos[mask], ids[mask]
            if len(c) > k:
                kth = np.partition(c, -k)[-k]
                sel = c >= kth - 1.1e-4
                c, nid = c[sel], nid[sel]
            outs.append(pd.DataFrame({"qid": ids[qi], "nid": nid, "cosine": c}))
    return pd.concat(outs, ignore_index=True)


def test_knn_block_kernel_matches_per_query_loop():
    """The chunked kNN block kernel returns the per-query loop's frame
    exactly (cosine compared bitwise) on random blocks, with duplicate
    ids, n <= k, an all-zero vector and chunks smaller than the block."""
    import numpy as np
    import pandas as pd

    from tstables_spark.operators.similarity import _knn_block_kernel

    rng = np.random.default_rng(7)
    cases = []
    for n in (1, 2, 3, 5, 6, 17, 40):
        ids = rng.permutation(1000)[:n].astype(np.int64)
        cases.append((ids, rng.standard_normal((n, 8))))
    ids = rng.integers(0, 6, 30).astype(np.int64)  # duplicate ids
    cases.append((ids, rng.standard_normal((30, 8))))
    vecs = np.round(rng.standard_normal((25, 4)), 1)  # ties after rounding
    vecs[3] = 0.0  # all-zero vector: NaN cosines
    cases.append((np.arange(25, dtype=np.int64)[::-1].copy(), vecs))
    for ids, vecs in cases:
        pdf = pd.DataFrame({"vec_id": ids, "embedding": list(vecs)})
        for k in (1, 5):
            want = _knn_block_reference(pdf, k)
            for chunk in (4_000_000, 7, 1):
                got = _knn_block_kernel(k, "vec_id", "embedding", chunk)(pdf)
                pd.testing.assert_frame_equal(got, want, check_exact=True)
                assert np.array_equal(
                    got["cosine"].to_numpy().view(np.int64),
                    want["cosine"].to_numpy().view(np.int64),
                )


def test_tick_bars_sizes_and_ohlc(spark):
    """ts_tick_bars: every bar but the last per series holds exactly 200
    ticks; open/close equal the first/last tick by (ts, event_id); high
    >= max(open, close) >= min(open, close) >= low."""
    from tstables_spark.plans.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    bars = QUERIES["ts_tick_bars"](spark, sf).collect()
    per_type: dict = {}
    for b in bars:
        per_type.setdefault(b["event_type"], []).append(b)
    ev = spark.read.parquet(f"{sf}/events.parquet").collect()
    ticks: dict = {}
    for r in ev:
        ticks.setdefault(r["event_type"], []).append(r)
    for t, bs in per_type.items():
        bs.sort(key=lambda b: b["bar"])
        n_ticks = len(ticks[t])
        assert [b["bar"] for b in bs] == list(range(len(bs)))
        assert sum(b["n_ticks"] for b in bs) == n_ticks
        for b in bs[:-1]:
            assert b["n_ticks"] == 200
        srt = sorted(ticks[t], key=lambda r: (r["ts"], r["event_id"]))
        for b in bs:
            chunk = srt[b["bar"] * 200 : b["bar"] * 200 + b["n_ticks"]]
            assert b["open"] == chunk[0]["value"]
            assert b["open_ts"] == chunk[0]["ts"]
            assert b["close"] == chunk[-1]["value"]
            vals = [c["value"] for c in chunk]
            assert b["high"] == max(vals) and b["low"] == min(vals)


def test_prefix_dup_flags_matches_bruteforce_successor(spark):
    """prefix_dup_flags must equal the single-node successor rule
    (sort by (text, id); flag a row iff the next row's text starts
    with its text) — including pairs that straddle range-partition
    boundaries, exact-duplicate runs, and the empty string."""
    from tstables_spark.operators.dedup import prefix_dup_flags

    docs, i = [], 0
    for c in range(40):  # 40 prefix chains of 3
        base = f"chain{c:03d} common body"
        for k in range(3):
            docs.append((i, base + " more" * k))
            i += 1
    for j in range(80):  # unique fillers
        docs.append((i, f"unique text number {j:04d}"))
        i += 1
    docs += [(i, "dup run"), (i + 1, "dup run"), (i + 2, "dup run"), (i + 3, "")]
    df = spark.createDataFrame(docs, "doc_id long, norm_text string").repartition(7)
    got = {r["doc_id"]: r["dup_kind"] for r in prefix_dup_flags(df).collect()}

    srt = sorted(docs, key=lambda d: (d[1], d[0]))
    want = {}
    for (a, ta), (_, tb) in zip(srt, srt[1:]):
        if tb.startswith(ta):
            want[a] = "exact" if ta == tb else "prefix"
    assert got == want
    assert any(k == "exact" for k in want.values())  # scenario sanity
    assert any(k == "prefix" for k in want.values())


def test_distributed_cumsum_matches_global_window(spark):
    """Multi-column two-phase prefix sum == the single-task global
    window, independent of partition count (including P > distinct
    keys, which leaves some range partitions empty), with negative
    values in the mix, and a no-op on empty input."""
    from pyspark.sql import Window as W
    from tstables_spark.operators.packing import distributed_cumsum

    df = spark.createDataFrame(
        [(i * 3 % 509, (i * 7) % 50 - 20, (i * 11) % 30) for i in range(509)],
        "k long, a long, b long",
    )
    empty = distributed_cumsum(df.where(F.lit(False)), ["k"], ["a"])
    assert empty.count() == 0 and "cum_a" in empty.columns
    win = W.orderBy("k").rowsBetween(W.unboundedPreceding, 0)
    want = {
        r.k: (r.ca, r.cb)
        for r in df.withColumn("ca", F.sum("a").over(win))
        .withColumn("cb", F.sum("b").over(win))
        .collect()
    }
    for P in (1, 5, 1024):
        got = {
            r.k: (r.cum_a, r.cum_b)
            for r in distributed_cumsum(df, ["k"], ["a", "b"], num_partitions=P).collect()
        }
        assert got == want, P


def test_bloom_words_merge_and_membership(spark):
    """The Bloom relation's two contracts: (a) MERGE — the filter over
    A ∪ B equals the bit_or merge of the per-shard filters (the
    property stream_bloom and shard-parallel builds ride on); (b) NO
    FALSE NEGATIVES — every inserted key probes positive."""
    from tstables_spark.plans._portable_sql import (
        _BLOOM_K, _BLOOM_M, _bloom_words, _cms_bucket,
    )

    a = spark.createDataFrame([(f"key{i}",) for i in range(300)], "key string")
    b = spark.createDataFrame([(f"other{i}",) for i in range(200)], "key string")
    whole = {(r["word_idx"], r["word"])
             for r in _bloom_words(a.unionAll(b)).collect()}
    fa = _bloom_words(a).withColumnRenamed("word", "wa")
    fb = _bloom_words(b).withColumnRenamed("word", "wb")
    merged = {
        (r["word_idx"], (r["wa"] or 0) | (r["wb"] or 0))
        for r in fa.join(fb, "word_idx", "full").collect()
    }
    assert merged == whole
    # every inserted key's K bits are set
    words = {r["word_idx"]: r["word"] for r in _bloom_words(a).collect()}
    probes = a.select(
        "key",
        *[
            _cms_bucket(F.col("key"), r, _BLOOM_M).cast("int").alias(f"b{r}")
            for r in range(_BLOOM_K)
        ],
    ).collect()
    for row in probes:
        for r in range(_BLOOM_K):
            bit = row[f"b{r}"]
            assert words.get(bit >> 5, 0) & (1 << (bit & 31)), (row["key"], bit)


def test_asof_multi_presorted_matches_chained(spark, tmp_path):
    """The one-table N-source layout must reproduce the chained
    asof_join composition exactly, and its read plan must be scan ->
    ONE Window -> filter: zero Exchange, zero Sort, and a single
    physical Window computing ALL carries (same partitioning+ordering
    collapses the N last(ignorenulls) into one operator)."""
    import re
    from tstables_spark.operators.asof import (
        asof_join, asof_join_multi_presorted, stage_asof_multi_layout,
    )

    left = spark.createDataFrame(
        [(i, i % 13, i * 37 % 900) for i in range(1500)],
        "event_id long, k long, t long",
    ).select("event_id", "k", F.timestamp_seconds("t").alias("ts"))
    s1 = spark.createDataFrame(
        [(i % 13, i * 89 % 900, i) for i in range(250)],
        "k long, t long, a long",
    ).groupBy("k", F.timestamp_seconds("t").alias("r1ts")).agg(F.max("a").alias("a"))
    s2 = spark.createDataFrame(
        [(i % 13, i * 53 % 900, i * 2) for i in range(180)],
        "k long, t long, b long",
    ).groupBy("k", F.timestamp_seconds("t").alias("r2ts")).agg(F.max("b").alias("b"))
    step1 = asof_join(left, s1, "ts", "r1ts", "k", "k", ["a"])
    chained = asof_join(step1, s2, "ts", "r2ts", "k", "k", ["b"])
    want = {tuple(r) for r in chained.collect()}
    stage_asof_multi_layout(
        left,
        [(s1, "r1ts", "k", ["a"]), (s2, "r2ts", "k", ["b"])],
        "ts", "k",
        "asof_multi_presorted_test", str(tmp_path / "m"), num_buckets=4,
    )
    pre = asof_join_multi_presorted(
        spark, "asof_multi_presorted_test", ["event_id", "k", "ts"], [["a"], ["b"]]
    )
    got = {tuple(r) for r in pre.collect()}
    assert got == want and len(got) == 1500
    plan = pre._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert not re.search(r"\(\d+\) Sort ", plan), plan
    final = plan.split("== Initial Plan ==")[0]
    assert len(re.findall(r"\bWindow \[", final)) == 1, plan


def test_cumsum_offsets_array_literal_not_case_chain_not_python(spark):
    """The per-partition offsets must reach rows through a constant
    pid-indexed ARRAY LITERAL (element_at — O(1) per row, one JVM
    constant), NOT a P-branch coalesce(when(__pid==k)) CASE chain
    (ADVICE r7: O(P) predicates per row + the 64 KB codegen limit) and
    NOT the pre-r17 O(P)-row createDataFrame relation (a Python-RDD-
    backed scan whose broadcast build paid defaultParallelism
    Python-worker roundtrips — SCALE.md r17). Guards both
    distributed_cumsum and pack_sequences at a P large enough that
    either regression would be visible."""
    from tstables_spark.operators.packing import distributed_cumsum, pack_sequences

    df = spark.createDataFrame(
        [(i, i % 7 + 1) for i in range(500)], "k long, w long"
    )
    for out in (
        distributed_cumsum(df, ["k"], ["w"], num_partitions=64),
        pack_sequences(df, "k", "w", budget=16, num_partitions=64),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "element_at" in plan, plan
        assert "CASE WHEN" not in plan, plan
        # no join and no Python-backed local relation in the offsets path
        assert "BroadcastHashJoin" not in plan, plan
        # int offsets fold into the projection — exactly one scan (the
        # materialized range partitioning), nothing else
        assert plan.count("Scan ExistingRDD") == 1, plan


def test_editdist_candidate_budget_guard(spark):
    """A length-concentrated corpus (every doc same lang, same band)
    must trip the candidate-pair budget loudly; the same corpus passes
    with the guard disabled or the budget raised."""
    import pytest
    from tstables_spark.operators.dedup import editdist_pairs

    docs = spark.createDataFrame(
        [(i, "en", 100, "x" * 100) for i in range(200)],
        "doc_id long, lang string, n_chars long, text string",
    )
    # 200 docs in one block -> ~200*600/2 = 60k estimated pairs
    with pytest.raises(ValueError, match="max_candidate_pairs"):
        editdist_pairs(docs, max_candidate_pairs=1000)
    assert editdist_pairs(docs, max_candidate_pairs=None).count() > 0
    assert editdist_pairs(docs, max_candidate_pairs=10**8).count() > 0


def test_asof_presorted_matches_union_window(spark, tmp_path):
    """The pre-sorted bucket layout must reproduce asof_join exactly,
    and its read plan must have neither an Exchange nor a Sort — the
    whole point of paying the shuffle+sort at staging time."""
    import re
    from tstables_spark.operators.asof import (
        asof_join, asof_join_presorted, stage_asof_layout,
    )

    left = spark.createDataFrame(
        [(i, i % 17, i * 31 % 1000) for i in range(2000)],
        "event_id long, k long, t long",
    ).select("event_id", "k", F.timestamp_seconds("t").alias("ts"))
    right = spark.createDataFrame(
        [(i % 17, i * 97 % 1000, i) for i in range(300)],
        "k long, t long, val long",
    ).groupBy("k", F.timestamp_seconds("t").alias("rts")).agg(F.max("val").alias("val"))
    want = {
        tuple(r)
        for r in asof_join(
            left, right, "ts", "rts", "k", "k", ["val"]
        ).collect()
    }
    stage_asof_layout(
        left, right, "ts", "rts", "k", "k", ["val"],
        "asof_presorted_test", str(tmp_path / "t"), num_buckets=4,
    )
    pre = asof_join_presorted(
        spark, "asof_presorted_test", ["event_id", "k", "ts"], ["val"]
    )
    got = {tuple(r) for r in pre.collect()}
    assert got == want and len(got) == 2000
    # The sort elision is the measured 4.6-5.7x win; this assertion is
    # the loud upgrade guard — if a future Spark drops the legacy
    # bucketedTableScan.outputOrdering conf, the Sort silently returns
    # and THIS fails, instead of a silent 5x regression (VERDICT r7).
    plan = pre._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert not re.search(r"\(\d+\) Sort ", plan), plan
    # And without the conf, the layout must still read CORRECTLY —
    # merely with the Sort back. (newSession inherits builder confs, so
    # disable it explicitly in the fresh SQLConf.)
    bare = spark.newSession()
    bare.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "false")
    pre_bare = asof_join_presorted(
        bare, "asof_presorted_test", ["event_id", "k", "ts"], ["val"]
    )
    assert {tuple(r) for r in pre_bare.collect()} == want
    assert re.search(
        r"\(\d+\) Sort ", pre_bare._jdf.queryExecution().executedPlan().toString()
    )


def test_asof_append_layout_matches_full_restage(spark, tmp_path):
    """append_asof_layout on a staged table == staging over the full
    inputs: the presorted read returns exactly asof_join over the
    unioned frames, and the zero-Exchange / zero-Sort plan survives the
    append (the rewrite goes through the same single-file-per-bucket
    writer). Exercises a two-sided append then a right-only one."""
    import re
    from tstables_spark.operators.asof import (
        append_asof_layout, asof_join, asof_join_presorted, stage_asof_layout,
    )

    left = spark.createDataFrame(
        [(i, i % 17, i * 31 % 1000) for i in range(2000)],
        "event_id long, k long, t long",
    ).select("event_id", "k", F.timestamp_seconds("t").alias("ts"))
    right = spark.createDataFrame(
        [(i % 17, i * 97 % 1000, i) for i in range(300)],
        "k long, t long, val long",
    ).groupBy("k", F.timestamp_seconds("t").alias("rts")).agg(F.max("val").alias("val"))
    name, path = "asof_append_test", str(tmp_path / "t")
    stage_asof_layout(
        left.where("event_id < 1200"), right.where("val < 200"),
        "ts", "rts", "k", "k", ["val"], name, path, num_buckets=4,
    )
    append_asof_layout(
        spark, name, path,
        left=left.where("event_id >= 1200"), right=right.where("val >= 250"),
        left_on="ts", right_on="rts", left_by="k", right_by="k",
        right_values=["val"], num_buckets=4,
    )
    append_asof_layout(
        spark, name, path,
        right=right.where("val >= 200 and val < 250"),
        right_on="rts", right_by="k", right_values=["val"], num_buckets=4,
    )
    want = {
        tuple(r)
        for r in asof_join(left, right, "ts", "rts", "k", "k", ["val"]).collect()
    }
    pre = asof_join_presorted(spark, name, ["event_id", "k", "ts"], ["val"])
    assert {tuple(r) for r in pre.collect()} == want
    plan = pre._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert not re.search(r"\(\d+\) Sort ", plan), plan
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_bpe_train_matches_reference(spark):
    """Pin the BPE trainer's greedy semantics against an independent
    plain-Python reference: left-to-right NON-OVERLAPPING merge
    ('aaa' + merge(a,a) -> ('aa','a'), never ('a','aa')), frequency
    weighting, and the (cnt DESC, pair ASC) tie-break."""
    from tstables_spark.operators.bpe import bpe_train

    corpus = [("aaa", 10), ("aab", 5), ("bab", 3), ("abab", 2), ("z", 7)]

    def ref(n):
        state = [(list(w), f) for w, f in corpus]
        out = []
        for r in range(1, n + 1):
            counts = {}
            for syms, f in state:
                for i in range(len(syms) - 1):
                    p = (syms[i], syms[i + 1])
                    counts[p] = counts.get(p, 0) + f
            if not counts:
                break
            (a, b), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
            out.append((r, f"{a} {b}", c))
            nxt = []
            for syms, f in state:
                res, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        res.append(a + b)
                        i += 2
                    else:
                        res.append(syms[i])
                        i += 1
                nxt.append((res, f))
            state = nxt
        return out

    words = spark.createDataFrame(corpus, "w string, freq long")
    got = [
        (r["merge_rank"], r["pair"], r["cnt"])
        for r in bpe_train(words, n_merges=6).orderBy("merge_rank").collect()
    ]
    assert got == ref(6), (got, ref(6))
    # the overlap case is genuinely exercised: first merge must be (a,a)
    # from 'aaa' (2 overlapping pairs -> weight 2*10) and 'aab'
    assert got[0][1] == "a a" and got[0][2] == 25


def test_pca_power_aligns_with_numpy(spark):
    """The fixed-point power iteration must actually compute PCA: on a
    corpus with a PLANTED dominant direction (the fixture's random
    embeddings are near-flat-spectrum, where no small round count can
    converge), 3 rounds must align with numpy's exact top covariance
    eigenvector to |cosine| > 0.99 — the SQL-twin hash proves
    determinism, this proves it is the right linear algebra."""
    import numpy as np
    from tstables_spark.plans.ann import _pca_power_fixed

    rng = np.random.RandomState(7)
    dims, n = 16, 400
    u = rng.randn(dims)
    u /= np.linalg.norm(u)
    X = np.outer(rng.randn(n) * 3.0, u) + rng.randn(n, dims) * 0.3
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    got = {r["dim"]: r["component"]
           for r in _pca_power_fixed(emb, rounds=3, dims=dims).collect()}
    v = np.array([got[d] for d in range(dims)], dtype=np.float64)
    v /= np.linalg.norm(v)
    Xc = X - X.mean(axis=0)
    _, vecs = np.linalg.eigh(Xc.T @ Xc)
    top = vecs[:, -1]
    assert abs(float(v @ top)) > 0.99, abs(float(v @ top))


def test_qsketch_bucket_algebra(spark):
    """Every value must land in a bucket that contains it (lo <= v < hi)
    whose relative width is <= 1/16 (for v >= 16; exact below), and the
    bucket id must be monotone in v — the three invariants the
    quantile-read guarantee (agg_qsketch_quantiles.in_bucket) rests on.
    Exercised on the power-of-two boundaries where shift arithmetic
    breaks first."""
    from tstables_spark.plans._portable_sql import _qsketch_cells

    vals = sorted(
        {1, 2, 7, 8, 15, 16, 17, 31, 32, 33, 255, 256, 257}
        | {(1 << k) - 1 for k in range(5, 50, 7)}
        | {(1 << k) for k in range(5, 50, 7)}
        | {(1 << k) + 12345 for k in range(15, 50, 7)}
        # top octave incl. the clamped final bucket (hi would be 2^63)
        | {(31 << 58) + 5, (1 << 62) + 123, (1 << 63) - 2}
    )
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    rows = (
        _qsketch_cells(df)
        .join(df, (df["v"] >= F.col("lo")) & (df["v"] < F.col("hi")))
        .select("v", "bucket", "lo", "hi")
        .collect()
    )
    # every value found its own bucket (the containment join kept all)
    assert sorted(r["v"] for r in rows) == vals
    by_v = {r["v"]: r for r in rows}
    prev_bucket = -1
    for v in vals:
        r = by_v[v]
        assert r["lo"] <= v < r["hi"]
        if v >= 16:
            assert (r["hi"] - r["lo"]) * 16 <= r["lo"], (v, r)
        else:
            assert r["hi"] - r["lo"] == 1
        assert r["bucket"] >= prev_bucket
        prev_bucket = r["bucket"]


def test_asof_presorted_directional_matches_and_elides(spark, tmp_path):
    """Forward and nearest reads over the SAME staged layout must match
    the union+window asof_join for their directions — including the
    equal-time right row the forward frame can't see (recovered from
    the backward carry) — and must plan with zero Exchange and zero
    Sort, same as the backward read."""
    import re
    from tstables_spark.operators.asof import (
        asof_join, asof_join_presorted, stage_asof_layout,
    )

    left = spark.createDataFrame(
        [(i, i % 17, i * 31 % 1000) for i in range(2000)],
        "event_id long, k long, t long",
    ).select("event_id", "k", F.timestamp_seconds("t").alias("ts"))
    # i*97 % 1000 collides with left's i*31 % 1000 grid often, so
    # equal-timestamp matches (the forward-frame blind spot) are
    # genuinely exercised.
    right = spark.createDataFrame(
        [(i % 17, i * 97 % 1000, i) for i in range(300)],
        "k long, t long, val long",
    ).groupBy("k", F.timestamp_seconds("t").alias("rts")).agg(F.max("val").alias("val"))
    stage_asof_layout(
        left, right, "ts", "rts", "k", "k", ["val"],
        "asof_presorted_dir_test", str(tmp_path / "t"), num_buckets=4,
    )
    for direction in ("forward", "nearest"):
        want = {
            tuple(r)
            for r in asof_join(
                left, right, "ts", "rts", "k", "k", ["val"],
                direction=direction,
            ).collect()
        }
        pre = asof_join_presorted(
            spark, "asof_presorted_dir_test", ["event_id", "k", "ts"],
            ["val"], direction=direction,
        )
        got = {tuple(r) for r in pre.collect()}
        assert got == want and len(got) == 2000, direction
        plan = pre._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, (direction, plan)
        assert not re.search(r"\(\d+\) Sort ", plan), (direction, plan)
    # the equal-time blind spot actually occurred in this fixture
    eq = left.join(
        right, (left["k"] == right["k"]) & (left["ts"] == right["rts"])
    ).count()
    assert eq > 0


def test_asof_directions_match_pandas_merge_asof(spark, tmp_path):
    """Independent reference for the whole as-of direction family:
    pandas merge_asof on the same data must agree with asof_join AND
    with the staged read (stage_asof_layout + asof_join_presorted) for
    backward / forward / nearest, with and without tolerance — a THIRD
    implementation (the DuckDB oracles are the second), on a fixture
    with deliberate exact-timestamp ties and equal-distance nearest
    ties (pandas resolves those backward, as we do)."""
    import pandas as pd

    rng = __import__("random").Random(23)
    # small time domain -> many exact ties and equal-distance pairs
    left_rows = [(i, i % 5, rng.randrange(0, 120) * 10) for i in range(400)]
    right_keyed = {}
    for i in range(150):
        k, t = i % 5, rng.randrange(0, 120) * 10 + rng.choice([0, 5])
        right_keyed[(k, t)] = i  # unique per (key, time): last writer wins
    lpdf = pd.DataFrame(left_rows, columns=["event_id", "k", "t"])
    lpdf["ts"] = pd.to_datetime(lpdf["t"], unit="s")
    rpdf = pd.DataFrame(
        [(k, t, v) for (k, t), v in right_keyed.items()], columns=["k", "t", "val"]
    )
    rpdf["rts"] = pd.to_datetime(rpdf["t"], unit="s")
    left = spark.createDataFrame(lpdf[["event_id", "k", "ts"]])
    right = spark.createDataFrame(rpdf[["k", "rts", "val"]])

    from tstables_spark.operators.asof import (
        asof_join, asof_join_presorted, stage_asof_layout,
    )

    stage_asof_layout(
        left, right, "ts", "rts", "k", "k", ["val"],
        "asof_pandas_ref_test", str(tmp_path / "t"), num_buckets=3,
    )
    for direction in ("backward", "forward", "nearest"):
        for tol in (None, 30):
            got = {
                (r["event_id"], r["val"])
                for r in asof_join(
                    left, right, "ts", "rts", "k", "k", ["val"],
                    tolerance_seconds=tol, direction=direction,
                ).collect()
            }
            staged = {
                (r["event_id"], r["val"])
                for r in asof_join_presorted(
                    spark, "asof_pandas_ref_test", ["event_id"], ["val"],
                    tolerance_seconds=tol, direction=direction,
                ).collect()
            }
            want_pdf = pd.merge_asof(
                lpdf.sort_values("ts"),
                rpdf.sort_values("rts")[["k", "rts", "val"]],
                left_on="ts",
                right_on="rts",
                by="k",
                direction=direction,
                allow_exact_matches=True,
                tolerance=None if tol is None else pd.Timedelta(seconds=tol),
            )
            want = {
                (int(r.event_id), None if pd.isna(r.val) else int(r.val))
                for r in want_pdf.itertuples()
            }
            assert got == want, (direction, tol,
                                 sorted(got - want)[:5], sorted(want - got)[:5])
            assert staged == want, (direction, tol, "staged",
                                    sorted(staged - want)[:5],
                                    sorted(want - staged)[:5])
    spark.sql("DROP TABLE IF EXISTS asof_pandas_ref_test")


def test_asof_null_times_never_match(spark, tmp_path):
    """A NULL time never matches, in any direction, for asof_join and the
    staged read. Right rows with a NULL time (keys 1 and 2) sort first in
    their key and were once carried backward to the key's later left
    rows. The reference is DuckDB's inequality join (``l.ts >= r.rts``,
    latest right row; ``<=``, earliest), which DuckDB's ``ASOF JOIN``
    matches on every timed left row. For a NULL-time left row DuckDB
    1.0's ``ASOF JOIN`` does return a right row, so only the inequality
    join is the reference there."""
    import duckdb
    import pandas as pd

    from tstables_spark.operators.asof import (
        asof_join, asof_join_presorted, stage_asof_layout,
    )

    noon = pd.Timestamp("2024-01-01 12:00")
    lpdf = pd.DataFrame(
        {"lid": [1, 2, 3], "k": [1, 1, 2], "ts": [noon, pd.NaT, noon]}
    )
    rpdf = pd.DataFrame(
        {
            "k": [1, 1, 2],
            "rts": [pd.NaT, noon + pd.Timedelta(hours=1), pd.NaT],
            "v": [10.0, 20.0, 30.0],
        }
    )
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.register("l", lpdf)
    con.register("r", rpdf)

    def duck(sql):
        return {lid: (None if v is None else float(v)) for lid, v in con.execute(sql).fetchall()}

    def ineq(op, agg):
        return f"""
            SELECT l.lid, {agg}(r.v, r.rts) AS v, {agg[4:]}(r.rts) AS rts
            FROM l LEFT JOIN r ON l.k = r.k AND l.ts {op} r.rts GROUP BY l.lid"""

    back, fwd = ineq(">=", "arg_max"), ineq("<=", "arg_min")
    want = {
        "backward": duck(f"SELECT lid, v FROM ({back})"),
        "forward": duck(f"SELECT lid, v FROM ({fwd})"),
        "nearest": duck(
            f"""SELECT l.lid, CASE WHEN b.rts IS NOT NULL AND (f.rts IS NULL
                   OR l.ts - b.rts <= f.rts - l.ts) THEN b.v ELSE f.v END
                FROM l JOIN ({back}) b USING (lid) JOIN ({fwd}) f USING (lid)"""
        ),
    }
    for direction, op in (("backward", ">="), ("forward", "<=")):
        asof = duck(
            f"SELECT l.lid, r.v FROM l ASOF LEFT JOIN r ON l.k = r.k AND l.ts {op} r.rts"
        )
        assert {lid: asof[lid] for lid in (1, 3)} == {lid: want[direction][lid] for lid in (1, 3)}
    con.close()
    assert want["backward"] == {1: None, 2: None, 3: None}
    assert want["forward"] == want["nearest"] == {1: 20.0, 2: None, 3: None}

    left = spark.createDataFrame(lpdf, "lid long, k long, ts timestamp")
    right = spark.createDataFrame(rpdf, "k long, rts timestamp, v double")
    stage_asof_layout(
        left, right, "ts", "rts", "k", "k", ["v"],
        "asof_null_times_test", str(tmp_path / "t"), num_buckets=2,
    )
    try:
        for direction, expected in want.items():
            got = {
                r.lid: r.v
                for r in asof_join(
                    left, right, "ts", "rts", "k", "k", ["v"], direction=direction
                ).collect()
            }
            staged = {
                r.lid: r.v
                for r in asof_join_presorted(
                    spark, "asof_null_times_test", ["lid"], ["v"], direction=direction
                ).collect()
            }
            assert got == expected, (direction, got)
            assert staged == expected, (direction, "staged", staged)
    finally:
        spark.sql("DROP TABLE IF EXISTS asof_null_times_test")


def test_one_asof_encoder_and_carry_step():
    """Inside operators/asof.py only ``_carry`` calls ``rowsBetween``
    (runs an as-of window) and only ``_encode_asof_sides`` builds the
    side literal (``.alias(_SIDE)``): every as-of read, fresh or staged,
    goes through one encoder and one carry step. Calls are found in the
    syntax tree, so comments and docstrings may name them."""
    import ast
    import pathlib

    import tstables_spark.operators.asof as asof

    tree = ast.parse(pathlib.Path(asof.__file__).read_text())
    owners = {"rowsBetween": "_carry", "_SIDE": "_encode_asof_sides"}
    seen, bad = set(), []
    for top in tree.body:
        owner = top.name if isinstance(top, ast.FunctionDef) else None
        for node in ast.walk(top):
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                continue
            attr = node.func.attr
            if attr == "alias" and any(
                isinstance(a, ast.Name) and a.id == "_SIDE" for a in node.args
            ):
                attr = "_SIDE"
            if attr in owners:
                seen.add(attr)
                if owner != owners[attr]:
                    bad.append(f"asof.py:{node.lineno} {attr} in {owner}")
    assert not bad, bad
    assert seen == set(owners)


def test_distributed_cumsum_decimal_column(spark):
    """A DecimalType value column must survive the offsets broadcast
    join (r8 review: the first partition's offset is the Python int 0,
    which used to mis-infer a mixed Long/Decimal column and crash
    createDataFrame)."""
    from tstables_spark.operators.packing import distributed_cumsum

    df = (
        spark.createDataFrame([(i, i + 1) for i in range(200)], "k long, w long")
        .select("k", F.col("w").cast("decimal(20,2)").alias("w"))
    )
    out = {r["k"]: r["cum_w"] for r in
           distributed_cumsum(df, ["k"], ["w"], num_partitions=7).collect()}
    import decimal
    assert out[0] == decimal.Decimal("1.00")
    assert out[199] == decimal.Decimal(sum(i + 1 for i in range(200)))


def test_qsketch_quantile_guarantee_random(spark):
    """The rank-walk guarantee on random data: for several random value
    distributions (uniform, log-uniform, heavy-duplicate), the exact
    rank-k value must land inside the bucket selected by the cumulative
    walk for every q in {.5, .9, .99} — the in_bucket contract
    agg_qsketch_quantiles publishes, checked off-fixture."""
    import math
    import random

    from tstables_spark.plans._portable_sql import _qsketch_cells

    for seed, gen in [
        (1, lambda r: r.randrange(1, 10**6)),
        (2, lambda r: int(math.exp(r.uniform(0, 30))) + 1),
        (3, lambda r: r.choice([5, 17, 123, 45678, 10**9])),
    ]:
        r = random.Random(seed)
        vals = sorted(gen(r) for _ in range(2000))
        df = spark.createDataFrame([(v,) for v in vals], "v long")
        sk = sorted(
            (row["bucket"], row["lo"], row["hi"], row["cnt"])
            for row in _qsketch_cells(df).collect()
        )
        n = len(vals)
        for q_ppm in (500000, 900000, 990000):
            k = (n * q_ppm + 999999) // 1000000
            exact = vals[k - 1]
            cum = 0
            for _, lo, hi, cnt in sk:
                cum += cnt
                if cum >= k:
                    assert lo <= exact < hi, (seed, q_ppm, exact, lo, hi)
                    if exact >= 16:
                        assert (hi - lo) * 16 <= lo
                    break
            else:
                raise AssertionError("rank walk exhausted the sketch")


def test_audio_frame_energy_edges(spark):
    """Frame boundaries of the audio-energy kernel: empty payload emits
    NO frames (matching the oracle's empty generate_series), an exact
    frame multiple emits full frames only, a short tail emits a partial
    frame with the correct byte count, and max_frames truncates."""
    import pandas as pd
    from tstables_spark.operators.multimodal import audio_frame_energy

    rows = [
        (1, b""),                # no frames
        (2, bytes(range(32))),   # exactly one full frame
        (3, bytes(range(40))),   # one full + one 8-byte tail
        (4, bytes(200)),         # 7 frames, truncated to max_frames=3
    ]
    pdf = pd.DataFrame({"doc_id": [r[0] for r in rows]})
    packed = spark.createDataFrame(
        [(d, (b, "audio/pcm", {})) for d, b in rows],
        "doc_id long, blob struct<data: binary, mime: string, meta: map<string,string>>",
    )
    got = {
        (r["doc_id"], r["frame_idx"]): (r["n_bytes"], r["energy"])
        for r in audio_frame_energy(packed, frame_bytes=32, max_frames=3).collect()
    }
    assert not any(d == 1 for d, _ in got)
    assert got[(2, 0)] == (32, sum(b * b for b in range(32)))
    assert got[(3, 0)] == (32, sum(b * b for b in range(32)))
    assert got[(3, 1)] == (8, sum(b * b for b in range(32, 40)))
    assert {f for d, f in got if d == 4} == {0, 1, 2}
    assert got[(4, 0)] == (32, 0)


def test_audio_frame_energy_real_wav(spark):
    """The real-decoder gate is OPEN in-container for WAV (r12): a
    16-bit PCM WAV built with the stdlib wave module round-trips
    through the multimodal struct and audio_frame_energy(use_real=True)
    end-to-end in Spark, and the per-frame energies equal the
    numpy-computed expectation on the decoded samples. Also pins
    _decode_real's audio/wav feature string (decode_features no longer
    raises for WAV)."""
    import io
    import wave

    import numpy as np

    from tstables_spark.operators.multimodal import (
        audio_frame_energy,
        decode_features,
    )

    # deterministic 16-bit mono PCM: a 100-sample integer ramp
    samples = np.arange(-50, 50, dtype=np.int16) * 331
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(samples.tobytes())
    wav_bytes = buf.getvalue()

    packed = spark.createDataFrame(
        [(7, (wav_bytes, "audio/wav", {}))],
        "doc_id long, blob struct<data: binary, mime: string, meta: map<string,string>>",
    )
    got = {
        r["frame_idx"]: (r["n_bytes"], r["energy"])
        for r in audio_frame_energy(
            packed, frame_bytes=32, max_frames=16, use_real=True
        ).collect()
    }
    s64 = samples.astype(np.int64)
    want = {
        fi: (
            min(32, 100 - fi * 32),
            int((s64[fi * 32 : (fi + 1) * 32] ** 2).sum()),
        )
        for fi in range(4)  # 100 samples -> 3 full frames + 4-sample tail
    }
    assert got == want

    feats = decode_features(packed, use_real=True).collect()
    assert feats[0]["feat"] == "pcm:8000:1:16:100"


def test_kll_deterministic_and_weight_preserving():
    """The pure-Python MRL kernel: compaction preserves total weight
    exactly, is deterministic, and the eps-approximate rank contract
    holds on adversarial orders (sorted input is the worst case for a
    deterministic even-index survivor) and shapes (uniform, lognormal,
    90%-tied)."""
    import numpy as np

    from tstables_spark.operators.kll import _carry, merge_pairs, quantile

    rng = np.random.default_rng(7)
    datasets = {
        "sorted": np.arange(50000, dtype=float),
        "reversed": np.arange(50000, dtype=float)[::-1],
        "lognormal": rng.lognormal(0.0, 2.0, 50000),
        "ties": np.repeat(rng.integers(0, 100, 5000), 10).astype(float),
    }
    k = 512
    for name, data in datasets.items():
        levels = [[]]
        for start in range(0, len(data), 1000):  # arrow-batch shaped feed
            levels[0].extend(data[start : start + 1000].tolist())
            _carry(levels, k)
        pairs = [(v, 1 << l) for l, buf in enumerate(levels) for v in buf]
        n = sum(w for _, w in pairs)
        assert n == len(data), name  # weight == count, exactly
        srt = np.sort(data)
        for q in [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]:
            est = quantile(pairs, q, n)
            lt = int(np.searchsorted(srt, est, side="left"))
            le = int(np.searchsorted(srt, est, side="right"))
            assert lt <= (q + 0.05) * n and le >= (q - 0.05) * n, (name, q)
        # rerun => identical sketch (determinism)
        levels2 = [[]]
        for start in range(0, len(data), 1000):
            levels2[0].extend(data[start : start + 1000].tolist())
            _carry(levels2, k)
        assert levels2 == levels, name


def test_kll_merge_of_shards_matches_contract():
    """Shard sketches (the per-partition partial aggregates) merged via
    merge_pairs satisfy the same eps contract as a single-pass sketch,
    and the merge preserves total weight exactly."""
    import numpy as np

    from tstables_spark.operators.kll import _carry, merge_pairs, quantile

    rng = np.random.default_rng(11)
    data = rng.normal(0.0, 1.0, 60000)
    k = 512
    shard_pairs = []
    for shard in np.array_split(data, 7):
        levels = [[]]
        levels[0].extend(shard.tolist())
        _carry(levels, k)
        shard_pairs.extend((v, 1 << l) for l, buf in enumerate(levels) for v in buf)
    merged = merge_pairs(shard_pairs, k)
    n = sum(w for _, w in merged)
    assert n == len(data)
    srt = np.sort(data)
    for q in [0.05, 0.5, 0.95]:
        est = quantile(merged, q, n)
        lt = int(np.searchsorted(srt, est, side="left"))
        le = int(np.searchsorted(srt, est, side="right"))
        assert lt <= (q + 0.05) * n and le >= (q - 0.05) * n, q


def test_mg_guarantees_any_partitioning():
    """Misra-Gries invariants under arbitrary shard splits: estimates
    never overcount, undercount by at most n/(k+1), and every item
    above the n/(k+1) threshold survives the subtract-merge — on a
    Zipf-ish synthetic with adversarial (sorted / interleaved) shard
    orders."""
    import collections

    import numpy as np

    from tstables_spark.operators.heavyhitters import mg_merge

    rng = np.random.default_rng(5)
    data = [f"t{int(x)}" for x in rng.zipf(1.3, 40000) if x < 5000]
    exact = collections.Counter(data)
    n = len(data)
    k = 64
    for order in ["asis", "sorted", "interleave"]:
        items = {"asis": data, "sorted": sorted(data),
                 "interleave": data[::2] + data[1::2]}[order]
        shard_summaries = []
        for shard in np.array_split(np.array(items, dtype=object), 9):
            counters: dict[str, int] = {}
            for it in shard:
                if it in counters:
                    counters[it] += 1
                elif len(counters) < k:
                    counters[it] = 1
                else:
                    dead = []
                    for t in counters:
                        counters[t] -= 1
                        if counters[t] == 0:
                            dead.append(t)
                    for t in dead:
                        del counters[t]
            shard_summaries.extend(counters.items())
        merged = mg_merge(shard_summaries, k)
        bound = n // (k + 1)
        assert len(merged) <= k
        for item, est in merged.items():
            assert est <= exact[item], (order, item)
        for item, c in exact.items():
            if c > bound:
                assert item in merged, (order, item)
                assert c - merged[item] <= bound, (order, item)


def test_mg_batch_fold_guarantees():
    """The vectorized per-batch fold (value_counts -> mg_merge, the
    mapInPandas hot path) preserves the MG invariants at every Arrow
    batch size — exact batch counts are a zero-error MG summary, so
    folding them through the subtract-merge is guarantee-preserving
    under any batch schedule."""
    import collections
    from itertools import chain

    import numpy as np
    import pandas as pd

    from tstables_spark.operators.heavyhitters import mg_merge

    rng = np.random.default_rng(11)
    data = [f"t{int(x)}" for x in rng.zipf(1.3, 30000) if x < 4000]
    exact = collections.Counter(data)
    n = len(data)
    k = 64
    bound = n // (k + 1)
    for batch in [100, 1024, 10**6]:
        counters: dict[str, int] = {}
        for i in range(0, len(data), batch):
            vc = pd.Series(data[i : i + batch]).value_counts()
            counters = mg_merge(
                chain(counters.items(), zip(vc.index, vc.to_numpy())), k
            )
        assert len(counters) <= k
        for item, est in counters.items():
            assert est <= exact[item], (batch, item)
        for item, c in exact.items():
            if c > bound:
                assert item in counters, (batch, item)
                assert c - counters[item] <= bound, (batch, item)


def test_mg_stream_snapshot_fold_replay_safe():
    """stream_heavy_hitters' per-batch-id snapshot fold: the MG fold is
    NOT idempotent (re-folding a replayed micro-batch double-counts —
    unlike the KMV fold, which dedups), so the maintainer folds every
    batch from its PREDECESSOR's snapshot. Replaying any batch must
    land on the bit-identical snapshot (deterministic pure arithmetic),
    the naive fold-into-current-state alternative must be shown to
    actually diverge (the failure mode the snapshots exist for), and
    the final snapshot must satisfy the MG guarantees."""
    import collections
    from itertools import chain

    import numpy as np
    import pandas as pd

    from tstables_spark.operators.heavyhitters import mg_merge

    rng = np.random.default_rng(23)
    data = [f"t{int(x)}" for x in rng.zipf(1.3, 30000) if x < 4000]
    k = 64
    batches = [data[i : i + 1000] for i in range(0, len(data), 1000)]

    def batch_summary(b):
        vc = pd.Series(b).value_counts()
        return list(zip(vc.index, vc.to_numpy()))

    snaps: dict[int, dict] = {}
    for bid, b in enumerate(batches):
        snaps[bid] = mg_merge(
            chain(snaps.get(bid - 1, {}).items(), batch_summary(b)), k
        )
    # replay-safety: re-running any batch from its predecessor snapshot
    # reproduces the exact same successor snapshot
    for bid in (0, len(batches) // 2, len(batches) - 1):
        replay = mg_merge(
            chain(snaps.get(bid - 1, {}).items(), batch_summary(batches[bid])),
            k,
        )
        assert replay == snaps[bid], bid
    # the naive alternative (fold the replayed batch into the CURRENT
    # counters) double-counts: total counter mass strictly grows
    last = len(batches) - 1
    naive = mg_merge(
        chain(snaps[last].items(), batch_summary(batches[last])), k
    )
    assert sum(naive.values()) > sum(snaps[last].values())
    # final guarantees over the whole stream
    exact = collections.Counter(data)
    n = len(data)
    bound = n // (k + 1)
    final = snaps[last]
    assert len(final) <= k
    for item, est in final.items():
        assert est <= exact[item], item
    for item, c in exact.items():
        if c > bound:
            assert item in final and c - final[item] <= bound, item


def test_nsw_staged_identity_and_plan(spark):
    """stage_nsw_layout + nsw_topk_staged returns EXACTLY nsw_topk's
    rows (same graph, entries, walk, tie-breaks) while paying zero
    index-build work per retrieval; the checkpoint-off walk plan
    broadcast-joins everywhere (no corpus shuffle) and probes the
    staged edge/base tables as plain file scans."""
    import re
    import tempfile
    import uuid

    from tstables_spark.operators.similarity import (
        nsw_topk,
        nsw_topk_staged,
        stage_nsw_layout,
    )
    from tstables_spark.plans.tables import load

    emb = load(spark, "/root/testdata/sf0.01", "embeddings")
    pred = F.col("vec_id") < 10
    tag = "nswtest_" + uuid.uuid4().hex[:8]
    stage_nsw_layout(emb, tag, tempfile.mkdtemp(prefix="nsw_t_"))
    try:
        fresh = {tuple(r) for r in nsw_topk(emb, pred, k=5).collect()}
        staged = {
            tuple(r) for r in nsw_topk_staged(spark, tag, pred, k=5).collect()
        }
        assert staged == fresh and len(staged) == 50
        walk = nsw_topk_staged(spark, tag, pred, k=5, checkpoint=False)
        p = walk._jdf.queryExecution().executedPlan().toString()
        assert p.count("BroadcastHashJoin") >= 5
        assert not re.search(r"SortMergeJoin|CartesianProduct", p)
        assert re.search(rf"{tag}_edges", p)  # off-disk index, no rebuild
        assert "MapInPandas" not in p  # zero kNN-build work at search
    finally:
        for part in ("edges", "base", "entries"):
            spark.sql(f"DROP TABLE IF EXISTS {tag}_{part}")


def test_nsw_append_equals_fresh_restage(spark):
    """append_nsw_layout == a fresh stage_nsw_layout over old ∪ new:
    identical edge/base/entries row sets (block-locality exactness),
    identical staged-walk results, UNAFFECTED coarse partitions' files
    physically untouched (the bounded-append-I/O claim), and the edges
    table's bucket claim still sound after the insertInto append (an
    exchange-free bucketed groupBy agrees with a forced-shuffle
    recount). Covers both merge-into-existing-block (labels 3, 7) and
    create-new-block (label 99) appends."""
    import os
    import tempfile
    import uuid

    from tstables_spark.operators.similarity import (
        _nsw_pblk,
        append_nsw_layout,
        nsw_topk,
        nsw_topk_staged,
        stage_nsw_layout,
    )
    from tstables_spark.plans.tables import load

    emb = load(spark, "/root/testdata/sf0.01", "embeddings").withColumn(
        "label", F.when(F.col("vec_id") >= 480, F.lit(99)).otherwise(F.col("label"))
    )
    cond = F.col("label").isin(3, 7, 99) & (F.col("vec_id") >= 250)
    old, new = emb.where(~cond), emb.where(cond)
    assert 0 < new.count() < 120
    tag_a = "nswapp_" + uuid.uuid4().hex[:8]
    tag_b = "nswfrs_" + uuid.uuid4().hex[:8]
    dir_a = tempfile.mkdtemp(prefix="nsw_app_")

    def rows_of(tag, part):
        return {
            tuple(tuple(c) if isinstance(c, list) else c for c in r)
            for r in spark.table(f"{tag}_{part}").collect()
        }

    # a coarse partition the append must not rewrite: the pblk of an
    # unaffected label that shares no pblk with the affected set
    pblk_of = {
        r["l"]: r["p"]
        for r in spark.range(1)
        .select(
            F.explode(F.array(*[F.lit(x) for x in (0, 1, 2, 4, 3, 7, 99)])).alias("l")
        )
        .select("l", _nsw_pblk(F.col("l").cast("int")).alias("p"))
        .collect()
    }
    hot = {pblk_of[x] for x in (3, 7, 99)}
    cold_pblk = next(pblk_of[x] for x in (0, 1, 2, 4) if pblk_of[x] not in hot)

    try:
        stage_nsw_layout(old, tag_a, dir_a)
        untouched = sorted(os.listdir(f"{dir_a}/edges/pblk={cold_pblk}"))
        append_nsw_layout(spark, new, tag_a)
        stage_nsw_layout(emb, tag_b, tempfile.mkdtemp(prefix="nsw_frs_"))
        for part in ("edges", "base", "entries"):
            assert rows_of(tag_a, part) == rows_of(tag_b, part), part
        assert sorted(os.listdir(f"{dir_a}/edges/pblk={cold_pblk}")) == untouched
        pred = F.col("vec_id") < 10
        appended = {tuple(r) for r in nsw_topk_staged(spark, tag_a, pred, k=5).collect()}
        assert appended == {
            tuple(r) for r in nsw_topk_staged(spark, tag_b, pred, k=5).collect()
        }
        assert appended == {tuple(r) for r in nsw_topk(emb, pred, k=5).collect()}
        edges = spark.table(f"{tag_a}_edges")
        bucketed = edges.groupBy("src").count()
        plan = bucketed._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # the claim the append must not break
        forced = dict(
            (r["src"], r["cnt"])
            for r in edges.repartition(13)
            .groupBy("src")
            .agg(F.count("*").alias("cnt"))
            .collect()
        )
        assert {r["src"]: r["count"] for r in bucketed.collect()} == forced
    finally:
        for tag in (tag_a, tag_b):
            for part in ("edges", "base", "entries"):
                spark.sql(f"DROP TABLE IF EXISTS {tag}_{part}")


def test_ivfpq_recall_candidates_determinism(spark):
    """IVF-PQ: recall@5 >= 0.8 vs exact at the driver scale; the ADC
    stage really is sub-corpus (per-query candidate work bounded by the
    probed cells, expected ~ n_probe/n_cells of the corpus — a LUT or
    probing regression that degenerates to scoring everything cannot
    hide behind recall); exactly k ranked rows per query; second run
    identical."""
    from tstables_spark.operators.similarity import (
        cosine_topk,
        ivf_candidate_counts,
        ivfpq_topk,
    )
    from tstables_spark.plans.tables import load

    emb = load(spark, "/root/testdata/sf0.01", "embeddings")
    pred = F.col("vec_id") < 10
    exact = {(r.qid, r.nid) for r in cosine_topk(emb, pred, k=5).collect()}
    got = ivfpq_topk(emb, pred, k=5).collect()
    approx = {(r.qid, r.nid) for r in got}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"recall {recall}"
    n = emb.count()
    # candidate sets: same coarse-probing path (cells x members); with
    # the kmeans codebook cells are uneven, so assert the mean is well
    # under the corpus and every query is strictly sub-corpus
    cc = ivf_candidate_counts(emb, pred, n_cells=16, n_probe=6).collect()
    assert len(cc) == 10
    for r in cc:
        assert r.n_candidates < n, (r.qid, r.n_candidates, n)
    mean_c = sum(r.n_candidates for r in cc) / len(cc)
    assert mean_c < 0.7 * n, (mean_c, n)
    per_q = {}
    for r in got:
        per_q.setdefault(r.qid, []).append(r.rank)
    assert len(per_q) == 10
    for qid, ranks in per_q.items():
        assert sorted(ranks) == [1, 2, 3, 4, 5], (qid, ranks)
    again = {(r.qid, r.nid, r.rank, r.cosine) for r in ivfpq_topk(emb, pred, k=5).collect()}
    assert again == {(r.qid, r.nid, r.rank, r.cosine) for r in got}


def _substring_bruteforce(docs, w, max_df):
    """Single-node window-overlap twin of substring_dup_pairs: per-doc
    DISTINCT w-token windows (same tokenizer: lowercase, split on a
    single space), windows with df > max_df dropped, pairs counted on
    distinct shared windows."""
    from collections import defaultdict
    from itertools import combinations

    wins = {}
    for doc_id, text in docs:
        toks = text.lower().split(" ")
        wins[doc_id] = {
            " ".join(toks[i : i + w]) for i in range(len(toks) - w + 1)
        }
    df_count = defaultdict(int)
    for s in wins.values():
        for win in s:
            df_count[win] += 1
    keep = {win for win, c in df_count.items() if c <= max_df}
    pairs = defaultdict(int)
    for a, b in combinations(sorted(wins), 2):
        shared = len((wins[a] & wins[b]) & keep)
        if shared:
            pairs[(a, b)] = shared
    return dict(pairs)


@pytest.mark.parametrize("w,max_df", [(30, 32), (50, 32), (30, 4)])
def test_substring_dup_pairs_matches_bruteforce(spark, w, max_df):
    """substring_dup_pairs == the brute-force window-overlap rule on a
    planted corpus, at the fixture default (w=30), the Lee et al.
    production granularity (w=50), and with a cap tight enough that the
    boilerplate block is actually suppressed (max_df=4 < the 8-doc
    boilerplate cluster). The corpus plants: a 71-token verbatim run
    (many overlapping windows), a 35-token run (visible at w=30 only),
    a pair sharing two DISJOINT 55-token runs, an 8-doc shared
    boilerplate tail, docs shorter than w, and unique fillers."""
    from tstables_spark.operators.dedup import substring_dup_pairs

    t = [f"tok{i:03d}" for i in range(200)]

    def words(prefix, n):
        return [f"{prefix}{j:03d}" for j in range(n)]

    docs = []
    # 71-token verbatim run embedded in different surroundings
    docs.append((0, " ".join(words("pre_a", 15) + t[20:91] + words("post_a", 12))))
    docs.append((1, " ".join(words("pre_b", 9) + t[20:91] + words("post_b", 20))))
    # 35-token run: >= one window at w=30, none at w=50
    docs.append((2, " ".join(words("c_fill", 25) + t[100:135] + words("c_tail", 10))))
    docs.append((3, " ".join(t[100:135] + words("d_tail", 30))))
    # two disjoint 55-token runs shared by the same pair
    docs.append((4, " ".join(t[0:55] + words("mid_e", 20) + t[140:195])))
    docs.append((5, " ".join(t[0:55] + words("mid_f", 31) + t[140:195])))
    # 8-doc boilerplate cluster: a common 60-token tail
    boiler = words("boiler", 60)
    for i in range(8):
        docs.append((10 + i, " ".join(words(f"own{i}_", 40) + boiler)))
    # short docs (< w tokens) and unique fillers
    docs.append((30, " ".join(words("short_a", 8))))
    docs.append((31, " ".join(words("short_b", 25))))
    for j in range(20):
        docs.append((40 + j, " ".join(words(f"uniq{j}_", 70))))

    sdf = spark.createDataFrame(docs, "doc_id long, text string").repartition(7)
    got = {
        (r.doc_a, r.doc_b): r.shared_windows
        for r in substring_dup_pairs(sdf, w=w, max_df=max_df).collect()
    }
    want = _substring_bruteforce(docs, w, max_df)
    assert got == want
    # scenario sanity: the planted structure is actually exercised
    assert want[(0, 1)] == 71 - w + 1  # the long run's window count
    assert ((2, 3) in want) == (w == 30)  # 35-token run visible at w=30 only
    assert want[(4, 5)] == 2 * (55 - w + 1)  # two disjoint runs add up
    if max_df == 4:  # cap drops the 8-doc boilerplate entirely: no
        # boilerplate doc (10..17) pairs with ANY doc via those windows
        assert all(not (10 <= a <= 17 or 10 <= b <= 17) for (a, b) in want)
    else:  # cap admits it: all 28 boilerplate pairs present
        n_boiler = sum(1 for (a, b) in want if 10 <= a <= 17 and 10 <= b <= 17)
        assert n_boiler == 28


def test_nsw_append_rerun_idempotent(spark):
    """Crash-recovery contract of append_nsw_layout (ADVICE r12): the
    three partition overwrites are each an idempotent function of
    pinned pre-write reads, with new ids anti-joined out of the old
    rows — so re-running the SAME append from any partial-failure
    state converges all three tables. The strongest aliasing case is
    re-running after FULL success (base already holds the new ids);
    the row sets must be unchanged and still equal a fresh re-stage."""
    import tempfile
    import uuid

    from tstables_spark.operators.similarity import (
        append_nsw_layout,
        stage_nsw_layout,
    )
    from tstables_spark.plans.tables import load

    emb = load(spark, "/root/testdata/sf0.01", "embeddings")
    cond = F.col("label").isin(2, 5) & (F.col("vec_id") >= 300)
    old, new = emb.where(~cond), emb.where(cond)
    tag = "nswrr_" + uuid.uuid4().hex[:8]

    def rows_of(part):
        return {
            tuple(tuple(c) if isinstance(c, list) else c for c in r)
            for r in spark.table(f"{tag}_{part}").collect()
        }

    try:
        stage_nsw_layout(old, tag, tempfile.mkdtemp(prefix="nsw_rr_"))
        append_nsw_layout(spark, new, tag)
        once = {p: rows_of(p) for p in ("edges", "base", "entries")}
        append_nsw_layout(spark, new, tag)  # recovery re-run
        assert {p: rows_of(p) for p in ("edges", "base", "entries")} == once
        # base must hold each id exactly once (replacement, never dup)
        base = spark.table(f"{tag}_base")
        assert base.count() == base.select("vec_id").distinct().count()
    finally:
        for part in ("edges", "base", "entries"):
            spark.sql(f"DROP TABLE IF EXISTS {tag}_{part}")


def test_image_ahash_real_bmp_ppm(spark):
    """The image half of the real-decoder gate is OPEN in-container
    (r13, the r12 WAV move replayed for images): deterministic 24-bpp
    BMPs (bottom-up, 4-byte row padding exercised by a width whose
    3-byte rows are unaligned) and binary P6/P5 netpbm payloads decode
    through stdlib byte parsing end-to-end in Spark, the aHash over the
    decoded integer-luma matrix equals an independently-computed
    expectation, and the SAME logical image carried as BMP and as PPM
    yields the SAME hash (decode normalizes across container formats).
    Also pins _decode_real's img feature string."""
    import numpy as np

    from tstables_spark.operators.multimodal import (
        decode_features,
        image_ahash,
    )

    w, h = 10, 6  # stride 30 -> padded to 32
    rng = np.arange(w * h * 3, dtype=np.uint8).reshape(h, w, 3)
    rgb = (rng * 7 + 13) % 251  # deterministic non-trivial pixels

    def bmp_of(rgb_arr):
        hh, ww, _ = rgb_arr.shape
        stride = (ww * 3 + 3) & ~3
        raster = np.zeros((hh, stride), dtype=np.uint8)
        bgr = rgb_arr[:, :, ::-1]  # BMP stores BGR
        raster[:, : ww * 3] = bgr.reshape(hh, ww * 3)
        raster = raster[::-1]  # bottom-up storage
        px = raster.tobytes()
        header = (
            b"BM"
            + (54 + len(px)).to_bytes(4, "little")
            + b"\x00\x00\x00\x00"
            + (54).to_bytes(4, "little")
            + (40).to_bytes(4, "little")
            + ww.to_bytes(4, "little", signed=True)
            + hh.to_bytes(4, "little", signed=True)
            + (1).to_bytes(2, "little")
            + (24).to_bytes(2, "little")
            + (0).to_bytes(4, "little")
            + len(px).to_bytes(4, "little")
            + b"\x00" * 16
        )
        return header + px

    def ppm_of(rgb_arr):
        hh, ww, _ = rgb_arr.shape
        return f"P6\n# test\n{ww} {hh}\n255\n".encode() + rgb_arr.tobytes()

    gray = (
        299 * rgb[:, :, 0].astype(np.int64)
        + 587 * rgb[:, :, 1].astype(np.int64)
        + 114 * rgb[:, :, 2].astype(np.int64)
    ) // 1000
    pgm = f"P5\n{w} {h}\n255\n".encode() + gray.astype(np.uint8).tobytes()

    packed = spark.createDataFrame(
        [
            (1, (bmp_of(rgb), "image/bmp", {})),
            (2, (ppm_of(rgb), "image/x-portable-pixmap", {})),
            (3, (pgm, "image/x-portable-graymap", {})),
        ],
        "doc_id long, blob struct<data: binary, mime: string, meta: map<string,string>>",
    )
    got = {
        r["doc_id"]: r["phash"]
        for r in image_ahash(packed, side=4, use_real=True).collect()
    }
    # independent expectation: integer-grid cells, cross-multiplied means
    ts, tp = int(gray.sum()), w * h
    want = "".join(
        "1"
        if int(gray[i * h // 4 : (i + 1) * h // 4, j * w // 4 : (j + 1) * w // 4].sum())
        * tp
        > ts
        * gray[i * h // 4 : (i + 1) * h // 4, j * w // 4 : (j + 1) * w // 4].size
        else "0"
        for i in range(4)
        for j in range(4)
    )
    assert got[1] == want
    assert got[2] == got[1]  # BMP == PPM of the same image
    assert got[3] == got[1]  # PGM of the precomputed luma too

    feats = {r["doc_id"]: r["feat"] for r in decode_features(packed, use_real=True).collect()}
    assert feats[1] == f"img:{w}:{h}:{ts}"
    assert feats[1] == feats[2] == feats[3]


def test_image_ahash_real_png(spark):
    """The COMPRESSED half of the image real-decoder gate (late r13):
    the same logical image carried as PNG (RGB, mixed scanline
    filters via the property-test encoder) and as BMP must produce
    the SAME aHash through image_ahash(use_real=True) end-to-end in
    Spark, and decode_features must pin the identical img feature
    string — PNG normalizes to the same exact integer-luma matrix as
    the uncompressed containers."""
    import numpy as np

    from tests.test_properties import _png_encode
    from tstables_spark.operators.multimodal import (
        decode_features,
        image_ahash,
    )

    w, h = 10, 6
    rng = np.arange(w * h * 3, dtype=np.uint8).reshape(h, w, 3)
    rgb = ((rng * 7 + 13) % 251).astype(np.uint8)

    stride = (w * 3 + 3) & ~3
    raster = np.zeros((h, stride), dtype=np.uint8)
    raster[:, : w * 3] = rgb[:, :, ::-1].reshape(h, w * 3)
    px = raster[::-1].tobytes()
    bmp = (
        b"BM" + (54 + len(px)).to_bytes(4, "little") + b"\x00\x00\x00\x00"
        + (54).to_bytes(4, "little") + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little") + len(px).to_bytes(4, "little")
        + b"\x00" * 16 + px
    )
    png = _png_encode(rgb, [y % 5 for y in range(h)])  # all 5 filters

    packed = spark.createDataFrame(
        [(1, (bmp, "image/bmp", {})), (2, (png, "image/png", {}))],
        "doc_id long, blob struct<data: binary, mime: string, meta: map<string,string>>",
    )
    got = {
        r["doc_id"]: r["phash"]
        for r in image_ahash(packed, side=4, use_real=True).collect()
    }
    assert got[2] == got[1]
    feats = {
        r["doc_id"]: r["feat"]
        for r in decode_features(packed, use_real=True).collect()
    }
    assert feats[2] == feats[1]


def test_asof_epoch_layout_bounded_appends(spark, tmp_path):
    """The epoch-partitioned as-of layout (r13): appends rewrite ONLY
    the touched epochs' partitions — untouched epoch files are
    byte-untouched on disk (the bounded-append-I/O claim
    append_asof_layout cannot make) — while the UNCHANGED presorted
    readers return exactly the batch asof_join over the cumulative
    frames with zero Exchange (the bucketed scan clusters every epoch
    of a key into one task, so the carry crosses epoch boundaries).
    Also: repeated appends into one epoch keep one file per (epoch,
    bucket), and a single-epoch-pruned read stays zero-Sort."""
    import os

    from tstables_spark.operators.asof import (
        _EPOCH,
        append_asof_epoch_layout,
        asof_join,
        asof_join_presorted,
        stage_asof_epoch_layout,
    )

    left = spark.createDataFrame(
        [(i, i % 13, (i * 37) % 900) for i in range(3000)],
        "event_id long, k long, t long",
    ).select("event_id", "k", F.timestamp_seconds(F.col("t") * 100).alias("ts"))
    right = (
        spark.createDataFrame(
            [(i % 13, (i * 89) % 900, i) for i in range(400)],
            "k long, t long, val long",
        )
        .groupBy("k", F.timestamp_seconds(F.col("t") * 100).alias("rts"))
        .agg(F.max("val").alias("val"))
    )
    # epoch = day index of the time column (900*100s spans ~2 days)
    epoch_of = lambda t: F.floor(F.unix_micros(t) / (86400 * 1_000_000))  # noqa: E731
    name, path = "asof_epoch_test", str(tmp_path / "t")
    day0 = F.unix_micros(F.col("ts")) < 86400 * 1_000_000
    rday0 = F.unix_micros(F.col("rts")) < 86400 * 1_000_000
    stage_asof_epoch_layout(
        left.where(day0), right.where(rday0),
        "ts", "rts", "k", "k", ["val"], name, path, epoch_of, num_buckets=4,
    )
    files_day0 = sorted(os.listdir(f"{path}/{_EPOCH}=0"))
    # two sequential appends into epoch 1 (left+right, then left-only)
    l1 = left.where(~day0)
    half = F.col("event_id") % 2 == 0

    def day1_file_count():
        return len(
            [
                f
                for f in os.listdir(f"{path}/{_EPOCH}=1")
                if not f.startswith(("_", "."))
            ]
        )

    append_asof_epoch_layout(
        spark, name, left=l1.where(half), right=right.where(~rday0),
        left_on="ts", right_on="rts", left_by="k", right_by="k",
        right_values=["val"], epoch_of=epoch_of, num_buckets=4,
    )
    after_first = day1_file_count()
    assert after_first <= 4  # at most one file per non-empty bucket
    append_asof_epoch_layout(
        spark, name, left=l1.where(~half),
        left_on="ts", left_by="k", epoch_of=epoch_of, num_buckets=4,
    )
    # bounded I/O: epoch-0 files never touched; repeated appends into
    # epoch 1 do NOT accumulate files (the overwrite resets to one per
    # non-empty bucket)
    assert sorted(os.listdir(f"{path}/{_EPOCH}=0")) == files_day0
    assert day1_file_count() == after_first
    want = {
        tuple(r)
        for r in asof_join(left, right, "ts", "rts", "k", "k", ["val"]).collect()
    }
    pre = asof_join_presorted(spark, name, ["event_id", "k", "ts"], ["val"])
    assert {tuple(r) for r in pre.collect()} == want
    plan = pre._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan  # zero Exchange at any epoch count
    # nearest direction rides the same layout unchanged
    near = asof_join_presorted(
        spark, name, ["event_id", "k", "ts"], ["val"], direction="nearest"
    )
    plan_n = near._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan_n
    assert near.count() == left.count()
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_asof_epoch_layout_expire(spark, tmp_path):
    """Retention purge for the epoch layout: expiring epochs below the
    horizon drops their partitions from BOTH catalog and disk, leaves
    retained partitions byte-untouched, never touches the NULL-epoch
    partition, and the unchanged presorted reader afterwards equals
    the batch as-of over the boundary-filtered inputs with the
    zero-Exchange plan intact. A second call is an idempotent no-op."""
    import os

    from tstables_spark.operators.asof import (
        _EPOCH,
        asof_join,
        asof_join_presorted,
        expire_asof_epoch_layout,
        stage_asof_epoch_layout,
    )

    left = spark.createDataFrame(
        [(i, i % 13, (i * 37) % 900) for i in range(3000)]
        + [(9991, 3, None)],  # one NULL-time row -> hive default part
        "event_id long, k long, t long",
    ).select("event_id", "k", F.timestamp_seconds(F.col("t") * 100).alias("ts"))
    right = (
        spark.createDataFrame(
            [(i % 13, (i * 89) % 900, i) for i in range(400)],
            "k long, t long, val long",
        )
        .groupBy("k", F.timestamp_seconds(F.col("t") * 100).alias("rts"))
        .agg(F.max("val").alias("val"))
    )
    epoch_of = lambda t: F.floor(F.unix_micros(t) / (86400 * 1_000_000))  # noqa: E731
    name, path = "asof_epoch_expire_test", str(tmp_path / "t")
    try:
        stage_asof_epoch_layout(
            left, right, "ts", "rts", "k", "k", ["val"],
            name, path, epoch_of, num_buckets=4,
        )
        assert os.path.isdir(f"{path}/{_EPOCH}=0")
        files_day1 = sorted(os.listdir(f"{path}/{_EPOCH}=1"))
        null_part = f"{path}/{_EPOCH}=__HIVE_DEFAULT_PARTITION__"
        assert os.path.isdir(null_part)

        assert expire_asof_epoch_layout(spark, name, min_epoch=0) == []
        dropped = expire_asof_epoch_layout(spark, name, min_epoch=1)
        assert dropped == [0]
        # catalog + disk agree; retained and null partitions untouched
        parts = {
            r[0] for r in spark.sql(f"SHOW PARTITIONS {name}").collect()
        }
        assert f"{_EPOCH}=0" not in parts
        assert not os.path.exists(f"{path}/{_EPOCH}=0")
        assert sorted(os.listdir(f"{path}/{_EPOCH}=1")) == files_day1
        assert os.path.isdir(null_part)
        # reader == batch as-of over the boundary-filtered inputs
        cut = F.unix_micros(F.col("ts")) >= 86400 * 1_000_000
        rcut = F.unix_micros(F.col("rts")) >= 86400 * 1_000_000
        want = {
            tuple(r)
            for r in asof_join(
                left.where(cut | F.col("ts").isNull()), right.where(rcut),
                "ts", "rts", "k", "k", ["val"],
            ).collect()
        }
        pre = asof_join_presorted(spark, name, ["event_id", "k", "ts"], ["val"])
        assert {tuple(r) for r in pre.collect()} == want
        plan = pre._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        # idempotent
        assert expire_asof_epoch_layout(spark, name, min_epoch=1) == []
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_asof_epoch_append_crash_detected_and_recovered(spark, tmp_path, monkeypatch):
    """Crash-injection for append_asof_epoch_layout's commit marker
    (r13 verdict #2): a multi-epoch append killed inside its
    destructive window leaves the marker behind, so (1) the failure is
    DETECTED — the next append refuses with the touched-epoch set
    instead of silently duplicating rows; (2) the documented recovery
    (recover_asof_epoch_append) rebuilds exactly the marked epochs
    from source — including dropping a marked epoch whose rebuild is
    empty — after which the unchanged presorted reader equals the
    batch as-of over the cumulative source with no duplicate rows;
    (3) a clean append leaves no marker and the marker clear restores
    normal appends."""
    import os
    from contextlib import contextmanager

    import tstables_spark._staging as _staging
    from tstables_spark.operators.asof import (
        _EPOCH,
        append_asof_epoch_layout,
        asof_join,
        asof_join_presorted,
        pending_asof_epoch_append,
        recover_asof_epoch_append,
        stage_asof_epoch_layout,
    )

    # t*100 seconds in [0, 180000) spans epochs 0..2 at 86400 s/epoch
    left = spark.createDataFrame(
        [(i, i % 13, (i * 37) % 1800) for i in range(3000)],
        "event_id long, k long, t long",
    ).select("event_id", "k", F.timestamp_seconds(F.col("t") * 100).alias("ts"))
    extra = spark.createDataFrame(
        [(10000 + i, i % 13, 900 + (i * 41) % 900) for i in range(600)],
        "event_id long, k long, t long",
    ).select("event_id", "k", F.timestamp_seconds(F.col("t") * 100).alias("ts"))
    right = (
        spark.createDataFrame(
            [(i % 13, (i * 89) % 1800, i) for i in range(400)],
            "k long, t long, val long",
        )
        .groupBy("k", F.timestamp_seconds(F.col("t") * 100).alias("rts"))
        .agg(F.max("val").alias("val"))
    )
    epoch_of = lambda t: F.floor(F.unix_micros(t) / (86400 * 1_000_000))  # noqa: E731
    day = lambda c: F.floor(F.unix_micros(F.col(c)) / (86400 * 1_000_000))  # noqa: E731
    name, path = "asof_epoch_crash_test", str(tmp_path / "t")
    try:
        stage_asof_epoch_layout(
            left.where(day("ts") == 0), right.where(day("rts") == 0),
            "ts", "rts", "k", "k", ["val"], name, path, epoch_of, num_buckets=4,
        )
        assert pending_asof_epoch_append(spark, name) is None
        append_asof_epoch_layout(
            spark, name,
            left=left.where(day("ts") == 1), right=right.where(day("rts") == 1),
            left_on="ts", right_on="rts", left_by="k", right_by="k",
            right_values=["val"], epoch_of=epoch_of, num_buckets=4,
        )
        # clean appends leave no marker behind
        assert pending_asof_epoch_append(spark, name) is None

        class Boom(RuntimeError):
            pass

        real_dpo = _staging.dynamic_partition_overwrite

        @contextmanager
        def crashing_dpo(s):
            with real_dpo(s):
                yield
            raise Boom("injected crash inside the destructive window")

        # the crashing append touches epochs {1, 2}: `extra` spans both
        monkeypatch.setattr(_staging, "dynamic_partition_overwrite", crashing_dpo)
        with pytest.raises(Boom):
            append_asof_epoch_layout(
                spark, name, left=extra, left_on="ts", left_by="k",
                epoch_of=epoch_of, num_buckets=4,
            )
        monkeypatch.undo()
        marker = pending_asof_epoch_append(spark, name)
        assert marker is not None and marker["epochs"] == [1, 2]
        assert not marker["null_partition"]
        # turn the full commit into the true mid-write kill state:
        # epoch 1 committed (old + extra), epoch 2 gone entirely
        import shutil

        spark.sql(f"ALTER TABLE {name} DROP IF EXISTS PARTITION ({_EPOCH}='2')")
        shutil.rmtree(f"{path}/{_EPOCH}=2")
        # DETECTION: re-running the append refuses instead of duplicating
        with pytest.raises(RuntimeError, match="commit marker"):
            append_asof_epoch_layout(
                spark, name, left=extra, left_on="ts", left_by="k",
                epoch_of=epoch_of, num_buckets=4,
            )
        # RECOVERY from source-of-truth: everything intended for the
        # touched epochs (epoch-0 rows pass through and are ignored —
        # recovery never touches an unmarked partition)
        files_day0 = sorted(os.listdir(f"{path}/{_EPOCH}=0"))
        assert recover_asof_epoch_append(
            spark, name,
            left=left.unionByName(extra), right=right,
            left_on="ts", right_on="rts", left_by="k", right_by="k",
            right_values=["val"], epoch_of=epoch_of, num_buckets=4,
        ) == [1, 2]
        assert pending_asof_epoch_append(spark, name) is None
        assert sorted(os.listdir(f"{path}/{_EPOCH}=0")) == files_day0
        # reader equals the batch as-of over the cumulative source,
        # with NO duplicates (count check — sets would mask them)
        all_left = left.unionByName(extra)
        want = {
            tuple(r)
            for r in asof_join(
                all_left, right, "ts", "rts", "k", "k", ["val"]
            ).collect()
        }
        rows = asof_join_presorted(
            spark, name, ["event_id", "k", "ts"], ["val"]
        ).collect()
        assert len(rows) == all_left.count()
        assert {tuple(r) for r in rows} == want
        # normal appends work again after recovery
        tail = spark.createDataFrame(
            [(20000, 5, 1790)], "event_id long, k long, t long"
        ).select("event_id", "k", F.timestamp_seconds(F.col("t") * 100).alias("ts"))
        append_asof_epoch_layout(
            spark, name, left=tail, left_on="ts", left_by="k",
            epoch_of=epoch_of, num_buckets=4,
        )
        assert pending_asof_epoch_append(spark, name) is None

        # EMPTY-REBUILD path: crash an append whose rows the source of
        # truth then disavows — recovery must DROP the marked epoch
        # (catalog + bytes), not leave the half-committed partition
        bad = spark.createDataFrame(
            [(30000 + i, i % 13, 2600 + i) for i in range(50)],  # epoch 3
            "event_id long, k long, t long",
        ).select("event_id", "k", F.timestamp_seconds(F.col("t") * 100).alias("ts"))
        monkeypatch.setattr(_staging, "dynamic_partition_overwrite", crashing_dpo)
        with pytest.raises(Boom):
            append_asof_epoch_layout(
                spark, name, left=bad, left_on="ts", left_by="k",
                epoch_of=epoch_of, num_buckets=4,
            )
        monkeypatch.undo()
        assert pending_asof_epoch_append(spark, name)["epochs"] == [3]
        # a second writer must not clobber existing crash evidence
        from tstables_spark.operators.asof import (
            _table_fs_root,
            _write_pending_marker,
        )

        jvm, fs, _root, loc = _table_fs_root(spark, name)
        with pytest.raises(RuntimeError, match="concurrent"):
            _write_pending_marker(jvm, fs, loc, {"epochs": [9]})
        # byte-rewriting/deleting lifecycle verbs refuse while the
        # append state is unproven: compact would bake the partial
        # state into the classic table, expire could delete evidence
        from tstables_spark.operators.asof import (
            compact_asof_epoch_layout,
            expire_asof_epoch_layout,
        )

        with pytest.raises(RuntimeError, match="UNPROVEN"):
            compact_asof_epoch_layout(spark, path, "asof_crash_c", path + "_c")
        with pytest.raises(RuntimeError, match="UNPROVEN"):
            expire_asof_epoch_layout(spark, name, min_epoch=1)
        # an all-drop recovery must be spelled out, never defaulted into
        with pytest.raises(ValueError, match="spelled out"):
            recover_asof_epoch_append(spark, name, epoch_of=epoch_of)
        assert recover_asof_epoch_append(
            spark, name, left=bad.limit(0), left_on="ts", left_by="k",
            epoch_of=epoch_of, num_buckets=4,
        ) == [3]
        assert pending_asof_epoch_append(spark, name) is None
        parts = {r[0] for r in spark.sql(f"SHOW PARTITIONS {name}").collect()}
        assert f"{_EPOCH}=3" not in parts
        assert not os.path.exists(f"{path}/{_EPOCH}=3")
        # a CORRUPTED marker stays loud (labeled error, never guessed
        # away): detection must not silently degrade to "no marker"
        with open(f"{path}/_asof_append_pending.json", "w") as fh:
            fh.write("{not json")
        with pytest.raises(RuntimeError, match="UNREADABLE"):
            pending_asof_epoch_append(spark, name)
        os.remove(f"{path}/_asof_append_pending.json")
        assert pending_asof_epoch_append(spark, name) is None
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_asof_epoch_append_idempotent_replay(spark, tmp_path):
    """``idempotent=True`` makes a REPLAYED epoch append a no-op — the
    streaming foreachBatch contract (at-least-once delivery: a crash
    after the append completes but before the streaming commit re-runs
    the same batch): the doubled run must equal the single run exactly,
    and the DEFAULT append must still preserve legitimate duplicates
    (it appends the batch again)."""
    from tstables_spark.operators.asof import (
        append_asof_epoch_layout,
        asof_join,
        asof_join_presorted,
        stage_asof_epoch_layout,
    )

    left = spark.createDataFrame(
        [(i, i % 7, (i * 37) % 1200) for i in range(2000)],
        "event_id long, k long, t long",
    ).select("event_id", "k", F.timestamp_seconds(F.col("t") * 100).alias("ts"))
    right = (
        spark.createDataFrame(
            [(i % 7, (i * 89) % 1200, i) for i in range(300)],
            "k long, t long, val long",
        )
        .groupBy("k", F.timestamp_seconds(F.col("t") * 100).alias("rts"))
        .agg(F.max("val").alias("val"))
    )
    epoch_of = lambda t: F.floor(F.unix_micros(t) / (86400 * 1_000_000))  # noqa: E731
    day = lambda c: F.floor(F.unix_micros(F.col(c)) / (86400 * 1_000_000))  # noqa: E731
    name, path = "asof_epoch_replay_test", str(tmp_path / "t")
    try:
        stage_asof_epoch_layout(
            left.where(day("ts") == 0), right,
            "ts", "rts", "k", "k", ["val"], name, path, epoch_of, num_buckets=4,
        )
        batch = left.where(day("ts") == 1)
        for _ in range(2):  # second run == the replay
            append_asof_epoch_layout(
                spark, name, left=batch, left_on="ts", left_by="k",
                epoch_of=epoch_of, num_buckets=4, idempotent=True,
            )
        want = {
            tuple(r)
            for r in asof_join(
                left.where(day("ts") <= 1), right, "ts", "rts", "k", "k", ["val"]
            ).collect()
        }
        rows = asof_join_presorted(
            spark, name, ["event_id", "k", "ts"], ["val"]
        ).collect()
        assert len(rows) == left.where(day("ts") <= 1).count()  # no dupes
        assert {tuple(r) for r in rows} == want
        # the default append preserves duplicates (they are data there)
        n_batch = batch.count()
        append_asof_epoch_layout(
            spark, name, left=batch, left_on="ts", left_by="k",
            epoch_of=epoch_of, num_buckets=4,
        )
        assert (
            asof_join_presorted(spark, name, ["event_id", "k", "ts"], ["val"]).count()
            == len(rows) + n_batch
        )
        # MIX-MODE safety (review r14): a later idempotent append into
        # the same epoch must pass the table's pre-existing duplicate
        # rows through untouched (multiset-delta scope, not a
        # whole-union distinct) while still adding only its fresh row
        fresh = spark.createDataFrame(
            [(99999, 3, 1100)], "event_id long, k long, t long"
        ).select("event_id", "k", F.timestamp_seconds(F.col("t") * 100).alias("ts"))
        append_asof_epoch_layout(
            spark, name, left=fresh, left_on="ts", left_by="k",
            epoch_of=epoch_of, num_buckets=4, idempotent=True,
        )
        assert (
            asof_join_presorted(spark, name, ["event_id", "k", "ts"], ["val"]).count()
            == len(rows) + n_batch + 1
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_asof_epoch_layout_null_epoch_preserved(spark, tmp_path):
    """NULL-time rows land in the hive default partition (NULL epoch);
    an append whose batch also carries a NULL-time row must PRESERVE
    the previously staged null-partition rows — isin() never matches
    NULL, so the preserved-rows predicate needs the explicit isNull
    branch (review r13: without it the overwrite silently dropped
    them). Also: an append with NO null rows must not touch the null
    partition at all."""
    from tstables_spark.operators.asof import (
        append_asof_epoch_layout,
        asof_join,
        asof_join_presorted,
        stage_asof_epoch_layout,
    )

    def lf(rows):
        return spark.createDataFrame(
            rows, "event_id long, k long, t long"
        ).select(
            "event_id", "k",
            F.when(F.col("t") >= 0, F.timestamp_seconds(F.col("t") * 1000)).alias("ts"),
        )

    right = (
        spark.createDataFrame([(k, 50, k * 10) for k in range(3)], "k long, t long, val long")
        .groupBy("k", F.timestamp_seconds(F.col("t") * 1000).alias("rts"))
        .agg(F.max("val").alias("val"))
    )
    epoch_of = lambda t: F.year(t)  # noqa: E731
    name, path = "asof_epoch_null_test", str(tmp_path / "t")
    # stage: two normal rows + ONE NULL-ts row (t = -1)
    staged_left = lf([(1, 0, 100), (2, 1, 200), (3, 2, -1)])
    stage_asof_epoch_layout(
        staged_left, right, "ts", "rts", "k", "k", ["val"],
        name, path, epoch_of, num_buckets=2,
    )
    # append 1: carries another NULL-ts row + a normal one
    append_asof_epoch_layout(
        spark, name, left=lf([(4, 0, 300), (5, 1, -1)]),
        left_on="ts", left_by="k", epoch_of=epoch_of, num_buckets=2,
    )
    # append 2: no null rows at all
    append_asof_epoch_layout(
        spark, name, left=lf([(6, 2, 400)]),
        left_on="ts", left_by="k", epoch_of=epoch_of, num_buckets=2,
    )
    try:
        all_left = lf([(1, 0, 100), (2, 1, 200), (3, 2, -1),
                       (4, 0, 300), (5, 1, -1), (6, 2, 400)])
        want = {
            tuple(r)
            for r in asof_join(all_left, right, "ts", "rts", "k", "k", ["val"]).collect()
        }
        got = {
            tuple(r)
            for r in asof_join_presorted(spark, name, ["event_id", "k", "ts"], ["val"]).collect()
        }
        assert got == want  # both NULL-ts rows survive, with NULL carries
        assert sum(1 for r in got if r[2] is None) == 2
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_asof_epoch_compaction_restores_zero_sort(spark, tmp_path):
    """compact_asof_epoch_layout: a multi-epoch table (whose reads pay
    an in-partition Sort on the multi-file buckets) compacts into the
    classic single-file-per-bucket layout — identical read results,
    zero Exchange AND zero Sort afterwards (the cold-series OPTIMIZE
    step of the epoch lifecycle)."""
    import re

    from tstables_spark.operators.asof import (
        append_asof_epoch_layout,
        asof_join_presorted,
        compact_asof_epoch_layout,
        stage_asof_epoch_layout,
    )

    left = spark.createDataFrame(
        [(i, i % 7, (i * 41) % 1000) for i in range(2000)],
        "event_id long, k long, t long",
    ).select("event_id", "k", F.timestamp_seconds(F.col("t") * 200).alias("ts"))
    right = (
        spark.createDataFrame(
            [(i % 7, (i * 67) % 1000, i) for i in range(300)], "k long, t long, val long"
        )
        .groupBy("k", F.timestamp_seconds(F.col("t") * 200).alias("rts"))
        .agg(F.max("val").alias("val"))
    )
    epoch_of = lambda t: F.floor(F.unix_micros(t) / (86400 * 1_000_000))  # noqa: E731
    hot, cold = "asof_ep_hot", "asof_ep_cold"
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try:
        stage_asof_epoch_layout(
            left.where("event_id < 1500"), right, "ts", "rts", "k", "k",
            ["val"], hot, str(tmp_path / "hot"), epoch_of, num_buckets=4,
        )
        append_asof_epoch_layout(
            spark, hot, left=left.where("event_id >= 1500"),
            left_on="ts", left_by="k", epoch_of=epoch_of, num_buckets=4,
        )
        before = asof_join_presorted(spark, hot, ["event_id", "k", "ts"], ["val"])
        want = {tuple(r) for r in before.collect()}
        compact_asof_epoch_layout(spark, str(tmp_path / "hot"), cold, str(tmp_path / "cold"), num_buckets=4)
        after = asof_join_presorted(spark, cold, ["event_id", "k", "ts"], ["val"])
        assert {tuple(r) for r in after.collect()} == want
        plan = after._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert not re.search(r"\(\d+\) Sort ", plan), plan  # zero-Sort restored
    finally:
        for t in (hot, cold):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_epoch_granularity_auto_pick_and_persist(spark, tmp_path):
    """stage_asof_epoch_layout with epoch_of=None auto-picks the
    granularity from append_span_seconds (batch ~ one epoch; r14
    verdict #4), persists it as a table property, and appends called
    with epoch_of=None resolve the IDENTICAL function — while a
    custom-callable layout refuses a knob-free append loudly."""
    import datetime

    from tstables_spark.operators.asof import (
        _EPOCH,
        append_asof_epoch_layout,
        asof_join,
        asof_join_presorted,
        auto_epoch_granularity,
        epoch_floor,
        stage_asof_epoch_layout,
    )

    assert auto_epoch_granularity(None) == "month"
    assert auto_epoch_granularity(3600) == "day"
    assert auto_epoch_granularity(7 * 86400) == "month"
    assert auto_epoch_granularity(400 * 86400) == "year"
    assert epoch_floor("month", datetime.date(1997, 1, 1)) == 199701
    assert epoch_floor("day", datetime.date(1970, 1, 2)) == 19700102
    with pytest.raises(ValueError, match="unknown epoch granularity"):
        epoch_floor("week", datetime.date(1997, 1, 1))

    left = spark.createDataFrame(
        [(i, i % 5, i * 3600) for i in range(500)],
        "event_id long, k long, t long",
    ).select("event_id", "k", F.timestamp_seconds("t").alias("ts"))
    right = (
        spark.createDataFrame(
            [(i % 5, i * 7200, i) for i in range(100)],
            "k long, t long, val long",
        )
        .groupBy("k", F.timestamp_seconds("t").alias("rts"))
        .agg(F.max("val").alias("val"))
    )
    early = F.col("event_id") < 400
    name, path = "epoch_auto_test", str(tmp_path / "t")
    try:
        gran = stage_asof_epoch_layout(
            left.where(early), right, "ts", "rts", "k", "k", ["val"],
            name, path, num_buckets=4, append_span_seconds=3600,
        )
        assert gran == "day"
        props = {
            r["key"]: r["value"]
            for r in spark.sql(f"SHOW TBLPROPERTIES {name}").collect()
        }
        assert props.get("tstables.epoch_granularity") == "day"
        # knob-free append resolves the persisted granularity
        append_asof_epoch_layout(
            spark, name, left=left.where(~early),
            left_on="ts", left_by="k", num_buckets=4,
        )
        got = {
            tuple(r)
            for r in asof_join_presorted(
                spark, name, ["event_id", "k", "ts"], ["val"]
            ).collect()
        }
        want = {
            tuple(r)
            for r in asof_join(
                left, right, left_on="ts", right_on="rts",
                left_by="k", right_by="k", right_values=["val"],
            ).select("event_id", "k", "ts", "val").collect()
        }
        assert got == want
        # partitions really are day epochs (18 hours of rows -> 1-2 days)
        eps = [
            r[0]
            for r in spark.table(name).select(_EPOCH).distinct().collect()
        ]
        # day epochs are yyyymmdd (session-calendar, matching
        # epoch_floor): 500h from 1970-01-01 spans Jan 1-21, 1970
        assert all(19700101 <= e <= 19700121 for e in eps)
        import datetime as _dt

        assert min(eps) == epoch_floor("day", _dt.date(1970, 1, 1))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")

    # custom callable: persisted as 'custom'; knob-free append refuses
    name2, path2 = "epoch_custom_test", str(tmp_path / "t2")
    try:
        gran2 = stage_asof_epoch_layout(
            left.where(early), right, "ts", "rts", "k", "k", ["val"],
            name2, path2,
            epoch_of=lambda t: F.floor(F.unix_micros(t) / 3_600_000_000),
            num_buckets=4,
        )
        assert gran2 == "custom"
        with pytest.raises(ValueError, match="custom"):
            append_asof_epoch_layout(
                spark, name2, left=left.where(~early),
                left_on="ts", left_by="k", num_buckets=4,
            )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name2}")


def test_ivfpq_codebook_cache_identical_to_retrained(spark):
    """The per-corpus IVF-PQ codebook cache (r15): a cached invocation
    must return BIT-IDENTICAL rows to the uncached path — training is
    deterministic, so the cache may only skip work, never change it.
    Three invocations: uncached baseline, cache-miss (trains + stores),
    cache-hit (reuses; also exercises the dead-app eviction loop over
    a NON-EMPTY dict — the k-shadowing regression fired exactly
    there). The sim_recall gate grades the UNCACHED path, so this pin
    is what extends its verdict to the cached one the registered
    query runs."""
    from tstables_spark.operators.similarity import _PQ_TRAINED, ivfpq_topk
    from tstables_spark.plans.tables import load

    emb = load(spark, "/root/testdata/sf0.01", "embeddings")
    pred = F.col("vec_id") < 10
    base = {
        (r.qid, r.nid, r.rank, r.cosine)
        for r in ivfpq_topk(emb, pred, k=5).collect()
    }
    ck = ("cache_pin_test",)
    miss = {
        (r.qid, r.nid, r.rank, r.cosine)
        for r in ivfpq_topk(emb, pred, k=5, cache_key=ck).collect()
    }
    app = spark.sparkContext.applicationId
    assert any(k[0] == app and k[1] == ck for k in _PQ_TRAINED)
    hit = {
        (r.qid, r.nid, r.rank, r.cosine)
        for r in ivfpq_topk(emb, pred, k=5, cache_key=ck).collect()
    }
    assert miss == base and hit == base


def test_epoch_granularity_name_mismatch_raises(spark, tmp_path):
    """r15 advice: a granularity NAME passed at append/recover time
    must agree with the table's persisted granularity — appending
    epoch_of='year' to a month-staged table silently mixes epoch
    integer spaces (2024 vs 202401), and a later month-space expire
    would drop live year-space partitions. None resolves the persisted
    name; the matching name passes; a mismatched name raises."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from tstables_spark.operators.asof import (
        _EPOCH_FNS,
        _resolve_epoch_of,
        stage_asof_epoch_layout,
    )

    left = spark.createDataFrame(
        [(i, i % 3, i * 1000) for i in range(50)], "event_id long, k long, t long"
    ).select("event_id", "k", F.timestamp_seconds("t").alias("ts"))
    right = spark.createDataFrame(
        [(i % 3, i * 900, i) for i in range(20)], "k long, t long, val long"
    ).select("k", F.timestamp_seconds("t").alias("rts"), "val")
    name, path = "epoch_gran_guard_test", str(tmp_path / "t")
    try:
        gran = stage_asof_epoch_layout(
            left, right, "ts", "rts", "k", "k", ["val"],
            name, path, epoch_of="month", num_buckets=2,
        )
        assert gran == "month"
        # None resolves the persisted granularity; matching name passes
        assert _resolve_epoch_of(spark, name, None) is _EPOCH_FNS["month"]
        assert _resolve_epoch_of(spark, name, "month") is _EPOCH_FNS["month"]
        # a mismatched name is the mis-placement the persistence exists
        # to prevent — loud, with the remedy in the message
        with _pytest.raises(ValueError, match="staged with epoch granularity"):
            _resolve_epoch_of(spark, name, "year")
        # a custom callable still wins unconditionally (the documented
        # override), and unknown names fail the vocabulary check first
        fn = lambda t: F.year(t)  # noqa: E731
        assert _resolve_epoch_of(spark, name, fn) is fn
        with _pytest.raises(ValueError, match="unknown epoch granularity"):
            _resolve_epoch_of(spark, name, "week")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_epoch_granularity_custom_table_rejects_names(spark, tmp_path):
    """A table staged with a custom epoch_of callable persists
    'custom': appends must re-supply the callable — a NAME would mix
    integer spaces just as silently as a wrong name on a named table."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from tstables_spark.operators.asof import (
        _resolve_epoch_of,
        stage_asof_epoch_layout,
    )

    left = spark.createDataFrame(
        [(i, i % 3, i * 1000) for i in range(50)], "event_id long, k long, t long"
    ).select("event_id", "k", F.timestamp_seconds("t").alias("ts"))
    right = spark.createDataFrame(
        [(i % 3, i * 900, i) for i in range(20)], "k long, t long, val long"
    ).select("k", F.timestamp_seconds("t").alias("rts"), "val")
    name, path = "epoch_gran_custom_test", str(tmp_path / "t")
    custom = lambda t: F.floor(F.unix_micros(t) / (7 * 86400 * 1_000_000))  # noqa: E731
    try:
        assert stage_asof_epoch_layout(
            left, right, "ts", "rts", "k", "k", ["val"],
            name, path, epoch_of=custom, num_buckets=2,
        ) == "custom"
        with _pytest.raises(ValueError, match="re-supply"):
            _resolve_epoch_of(spark, name, "month")
        with _pytest.raises(ValueError, match="custom"):
            _resolve_epoch_of(spark, name, None)
        assert _resolve_epoch_of(spark, name, custom) is custom
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_pair_overlap_packing_guard_raises(spark):
    """The packed posting-list encoding (r16: (doc_id, n_sh) in one
    long — the measured 1.7x pair-expansion win) must FAIL LOUDLY on
    ids outside [0, 2^43): a silent wrap would corrupt pair identities
    at exactly the scale the packing exists for."""
    import pytest as _pytest

    from tstables_spark.operators.dedup import jaccard_pairs

    docs = spark.createDataFrame(
        [(1 << 50, "a b c d e f g"), (7, "a b c d e f g")],
        "doc_id long, text string",
    )
    with _pytest.raises(Exception, match="packing out of range"):
        jaccard_pairs(docs, n=3, threshold=0.1).collect()
    # in-range ids still pair normally
    ok = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e f g")],
        "doc_id long, text string",
    )
    got = jaccard_pairs(ok, n=3, threshold=0.9).collect()
    assert [(r.doc_a, r.doc_b, r.jaccard) for r in got] == [(1, 2, 1.0)]


def test_pair_overlap_packing_boundary_exact(spark):
    """Packing boundary values survive the round trip exactly: the
    largest in-range doc_id (2^43-1) decodes bit-exactly through the
    shift/mask path (a double-division decode would corrupt it — the
    mantissa holds 53 bits, the packed value needs 63)."""
    from tstables_spark.operators.dedup import jaccard_pairs

    big = (1 << 43) - 1
    docs = spark.createDataFrame(
        [(big, "a b c d e f g"), (big - 1, "a b c d e f g")],
        "doc_id long, text string",
    )
    got = jaccard_pairs(docs, n=3, threshold=0.9).collect()
    assert [(r.doc_a, r.doc_b, r.jaccard) for r in got] == [(big - 1, big, 1.0)]
