"""Physical plan-shape assertions: the scale contracts SCALE.md claims
(broadcast where expected, partial aggregation, window-group-limit
pushdown, partition pruning, zero-exchange bucketed joins) must be
visible in the executed plan, not just hoped for."""

from __future__ import annotations

import os
import re

import pytest

import tstables_spark.plans  # noqa: F401 — registers all queries
from tstables_spark.plans.registry import QUERIES


def _plan(spark, sf_dir, name: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_loaded_tables_never_ntz(spark, sf_dir):
    """Timestamp policy guard (README): whatever physical type the
    fixtures use (r1-r3: INT64 nanos; r4+: tz-less timestamp[us], which
    Spark 4 would infer as TIMESTAMP_NTZ), every column that load()
    returns must be an instant (TimestampType) — NTZ breaks watermarks,
    epoch arithmetic and the storage contract. Catches the next fixture
    format change at the choke point instead of as 15 query errors."""
    from pyspark.sql.types import TimestampNTZType

    from tstables_spark.plans.tables import TABLE_NAMES, load

    for name in TABLE_NAMES:
        df = load(spark, sf_dir, name)
        ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)]
        assert not ntz, f"{name}: NTZ columns leaked through load(): {ntz}"


@pytest.mark.parametrize(
    "name,pattern",
    [
        ("join_broadcast", r"BroadcastHashJoin"),
        ("join_semi", r"LeftSemi"),
        ("join_anti", r"LeftAnti"),
        ("agg_pricing_summary", r"partial_"),  # map-side combine
        ("topk_per_group", r"WindowGroupLimit"),  # rank pushdown
        ("sort_limit", r"TakeOrderedAndProject"),  # top-k, no global sort
        ("scan_parquet", r"FileScan parquet"),
        # theta sketch: the O(groups) theta/exact relations join the
        # pair stream by broadcast, never a shuffled exchange
        ("agg_theta_sketch", r"BroadcastHashJoin"),
    ],
)
def test_plan_contains(spark, sf_dir, name, pattern):
    assert re.search(pattern, _plan(spark, sf_dir, name))


@pytest.mark.parametrize(
    "name,pattern",
    [
        # no cartesian/nested-loop anywhere in the core join family
        ("join_shuffle", r"CartesianProduct|BroadcastNestedLoop"),
        ("join_range", r"CartesianProduct"),
        ("join_asof", r"CartesianProduct|BroadcastNestedLoop"),
        ("dedup_near", r"CartesianProduct|BroadcastNestedLoop"),
    ],
)
def test_plan_not_contains(spark, sf_dir, name, pattern):
    assert not re.search(pattern, _plan(spark, sf_dir, name))


def test_project_filter_pushdown(spark, sf_dir):
    plan = _plan(spark, sf_dir, "project_filter")
    assert re.search(r"PushedFilters: \[\w", plan)  # non-empty pushdown
    # column pruning reached the reader: only the referenced columns
    m = re.search(r"FileScan parquet \[([^\]]*)\]", plan)
    assert m and len(m.group(1).split(",")) <= 7


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Bucketing pays the shuffle at write time; the join + same-key
    groupBy must then plan with zero Exchange operators."""
    plan = _plan(spark, sf_dir, "join_bucketed")
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    assert "SelectedBucketsCount: 8 out of 8" in plan


def test_range_scan_prunes_partitions(spark, sf_dir, tmp_path):
    """ts_range_scan on a TimeSeriesTable only lists the date partitions
    overlapping the range (the reference's day-group walk)."""
    from datetime import datetime, timedelta, timezone

    from pyspark.sql import types as T

    from tstables_spark.tstable import TimeSeriesTable

    schema = T.StructType(
        [T.StructField("ts", T.TimestampType()), T.StructField("v", T.DoubleType())]
    )
    t = TimeSeriesTable.create(spark, str(tmp_path), "s", schema)
    base = datetime(2024, 1, 1, tzinfo=timezone.utc)
    rows = [(base + timedelta(hours=h), float(h)) for h in range(10 * 24)]
    t.append(spark.createDataFrame(rows, schema))
    one_day = t.read_range(base + timedelta(days=4), base + timedelta(days=4, hours=23))
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"partition count: (\d+)", plan)
    if m:  # partition count reported by the file index
        assert int(m.group(1)) == 1
    assert one_day.count() == 24


def test_sample_hash_filter_reaches_scan(spark, sf_dir):
    """The md5 gate must be a scan-level filter (no shuffle, no join)."""
    plan = _plan(spark, sf_dir, "sample_hash")
    assert "Exchange" not in plan
    assert re.search(r"Filter .*md5", plan)


def test_join_salted_shape(spark, sf_dir):
    """Salted join must key the join on (key, salt) — both columns in
    the join condition — and never degrade to a nested loop."""
    plan = _plan(spark, sf_dir, "join_salted")
    assert not re.search(r"CartesianProduct|BroadcastNestedLoop", plan)
    assert re.search(r"Join \[o_custkey#?\d*L?, __salt", plan) or "__salt" in plan


def test_pack_sequences_no_global_window(spark, sf_dir):
    """The distributed prefix sum must never plan a global (single
    partition) window: every Window operator keeps a partition key."""
    plan = _plan(spark, sf_dir, "pack_sequences")
    for m in re.finditer(r"Window \[[^\]]*\], \[([^\]]*)\]", plan):
        assert "__pid" in m.group(1) or m.group(1).strip()


def test_pack_sequences_single_materialized_partitioning(spark, sf_dir):
    """Both jobs (totals collect, final projection) must read ONE
    materialized range partitioning — an un-materialized
    repartitionByRange is re-sampled per job with a per-job seed, so
    __pid assignments could differ between them (ADVICE r2, high). The
    final plan therefore scans the checkpointed RDD and contains no
    live range-repartition."""
    plan = _plan(spark, sf_dir, "pack_sequences")
    assert "Scan ExistingRDD" in plan
    assert "rangepartitioning" not in plan.lower().replace(" ", "")


def test_dedup_embed_rows_not_pairs_cross_shuffle(spark, sf_dir):
    """dedup_embed's only wide op is the groupBy(blk) shuffle of ROWS;
    the pair expansion happens inside the Python kernel."""
    plan = _plan(spark, sf_dir, "dedup_embed")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "FlatMapGroupsInPandas" in plan or "MapInPandas" in plan


def test_ivf_centroid_broadcasts_codebook(spark, sf_dir):
    """IVF assignment must broadcast the small centroid side, never
    shuffle the corpus against it."""
    plan = _plan(spark, sf_dir, "sim_ivf_centroid")
    assert "BroadcastExchange" in plan or "BroadcastQueryStage" in plan


def test_ivf_assign_zero_shuffle(spark, sf_dir):
    """Cell assignment is a narrow codegen'd scan: NO Exchange of any
    kind in the cells plan (ADVICE r2: the old crossJoin+window pick
    hash-shuffled the n_cells-times-expanded corpus)."""
    from tstables_spark.operators.similarity import ivf_assign
    from tstables_spark.plans.tables import load

    emb = load(spark, sf_dir, "embeddings")
    cells, _ = ivf_assign(emb, n_cells=16)
    plan = cells._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "hashpartitioning" not in plan


def test_keep_latest_partial_agg_no_window(spark, sf_dir):
    """CDC compaction must be an ordinary aggregate (map-side combine on
    every input partition) — NOT the window+row_number phrasing, which
    shuffles every raw row and sorts each key group."""
    plan = _plan(spark, sf_dir, "dedup_keep_latest")
    assert re.search(r"partial_max", plan)
    assert "Window" not in plan


def test_stratified_sample_is_scan_side(spark, sf_dir):
    """The per-stratum hash gate is a pure scan filter: no shuffle of
    any kind in the whole plan."""
    plan = _plan(spark, sf_dir, "sample_stratified")
    assert "Exchange" not in plan


def test_profile_table_single_scan(spark, sf_dir):
    """All per-column aggregates (incl. multi-distinct via Expand) ride
    one pass over the table: exactly one FileScan in the plan."""
    plan = _plan(spark, sf_dir, "profile_table")
    assert plan.count("FileScan parquet") == 1
    assert "Expand" in plan


def test_funnel_no_window_no_cartesian(spark, sf_dir):
    """Funnel composes per-step frontier aggregates + user_id equi-joins:
    no per-user event arrays, no window sort, no cross join."""
    plan = _plan(spark, sf_dir, "funnel_steps")
    assert not re.search(r"CartesianProduct|BroadcastNestedLoop", plan)
    assert "Window" not in plan
    assert "collect_list" not in plan


def test_retention_partial_aggs(spark, sf_dir):
    plan = _plan(spark, sf_dir, "retention_cohorts")
    assert re.search(r"partial_", plan)
    assert not re.search(r"CartesianProduct|BroadcastNestedLoop", plan)


def test_editdist_banded_equi_join(spark, sf_dir):
    """Edit-distance dedup must candidate-generate via a hash equi-join
    on (lang, band) — never a cartesian/nested-loop pair expansion."""
    plan = _plan(spark, sf_dir, "dedup_editdist")
    assert not re.search(r"CartesianProduct|BroadcastNestedLoop", plan)
    assert re.search(r"HashJoin", plan)


def test_interval_merge_single_shuffle(spark, sf_dir):
    """Both windows and the final aggregate share one user_id hash
    partitioning: exactly one exchange in the whole plan."""
    plan = _plan(spark, sf_dir, "ts_interval_merge")
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_win_corr_single_window_node(spark, sf_dir):
    """All five moment sums ride ONE Window node over one shuffle —
    Catalyst must not split the shared frame into per-sum windows."""
    plan = _plan(spark, sf_dir, "win_corr")
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert plan.count("Window") == 1


def test_tpch_q6_predicates_push_to_scan(spark, sf_dir):
    """Q6 is the pushdown canary (relational.py): all its filters are
    scan-expressible, so the lineitem scan must report a non-empty
    PushedFilters including the shipdate range — if this regresses,
    every selective scan in the engine got slower."""
    plan = _plan(spark, sf_dir, "sql_tpch_q6")
    m = re.search(r"PushedFilters: \[([^\]]*)", plan)
    assert m, plan
    assert "l_shipdate" in m.group(1), m.group(1)
    assert "l_quantity" in m.group(1), m.group(1)


def test_tpch_q19_part_filter_below_join(spark, sf_dir):
    """Q19's OR-of-ANDs: CNF extraction must leave a part-side brand
    disjunction BELOW the join (pushed into part's scan filters), not
    evaluate the whole predicate post-join."""
    plan = _plan(spark, sf_dir, "sql_tpch_q19")
    m = re.search(r"PushedFilters: \[[^\]]*p_brand", plan)
    assert m, plan


def test_tpch_q4_exists_becomes_semi_join(spark, sf_dir):
    """Q4's correlated EXISTS must decorrelate to one LeftSemi join on
    orderkey — no per-row subquery node in the physical plan."""
    plan = _plan(spark, sf_dir, "sql_tpch_q4")
    assert "LeftSemi" in plan, plan


def test_interval_overlap_no_cartesian(spark, sf_dir):
    """join_interval_overlap must plan as an equi-join on (key, band) —
    never a cartesian/BNLJ with the overlap predicate as a filter."""
    plan = _plan(spark, sf_dir, "join_interval_overlap")
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan, plan


def test_existence_prefilter_reaches_scan(spark, sf_dir):
    """The collected min/max runtime filter must appear as literal
    range predicates in the lineitem scan's PushedFilters."""
    plan = _plan(spark, sf_dir, "join_existence_prefilter")
    m = re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(l_orderkey", plan)
    assert m, plan


def test_tpch_q21_semi_and_anti_join(spark, sf_dir):
    """Q21's EXISTS + NOT EXISTS pair must decorrelate to one LeftSemi
    and one LeftAnti join on l_orderkey — never a nested-loop or
    per-row subquery plan."""
    plan = _plan(spark, sf_dir, "sql_tpch_q21")
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan, plan


def test_tpch_q2_min_subquery_decorrelates(spark, sf_dir):
    """Q2's correlated scalar MIN subquery must decorrelate to an
    aggregate + join (no nested-loop re-execution per outer row)."""
    plan = _plan(spark, sf_dir, "sql_tpch_q2")
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan, plan


def test_doc_chunk_overlap_shuffle_free(spark, sf_dir):
    """The chunker is pure scan-side array work: no exchange, no join,
    no aggregate anywhere in the plan."""
    plan = _plan(spark, sf_dir, "doc_chunk_overlap")
    assert "Exchange" not in plan and "Join" not in plan, plan


def test_embed_whiten_broadcasts_stats(spark, sf_dir):
    """The 64-row dim-stats relation must broadcast back onto the
    exploded scan — a shuffle join here would shuffle the whole
    corpus on dim (64 hot keys) at scale."""
    plan = _plan(spark, sf_dir, "embed_whiten")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_r6_late_additions_plan_shapes(spark, sf_dir):
    """Pin the exchange budget of the five late-r6 queries to their
    documented shapes (SCALE.md 'Round 6 additions'): a regression that
    adds a shuffle here is a plan bug even if results stay correct."""
    def exchanges(name):
        p = _plan(spark, sf_dir, name)
        return p.count("Exchange hashpartitioning") + p.count(
            "Exchange rangepartitioning"
        )

    assert exchanges("ts_calendar_sessions") == 0  # pure scan-side gate
    # window sort's event_type partitioning satisfies the bar agg's
    # (event_type, bar) clustering — no second exchange
    assert exchanges("ts_tick_bars") == 1
    assert exchanges("agg_entropy") == 2  # grouped-form entropy, no join-back
    # user window + tiny transition agg + window over <= |types|^2 rows
    assert exchanges("agg_markov_transitions") == 3
    # knn graph: one block shuffle for applyInPandas + final rank window
    p = _plan(spark, sf_dir, "sim_knn_graph")
    assert "FlatMapGroupsInPandas" in p or "MapInPandas" in p
    assert not re.search(r"CartesianProduct|BroadcastNestedLoop", p)


def test_global_windows_are_distributed(spark, sf_dir):
    """r6 verdict item 2: the two formerly-global-order windows must not
    plan a single-partition WindowExec. ts_xcorr_lags replaced its grid
    window with a self-join on the shifted minute key (no Window node at
    all); drift_ks_test's CDF cumsum runs under distributed_cumsum, so
    every remaining window spec is keyed by the range-partition id."""
    xc = _plan(spark, sf_dir, "ts_xcorr_lags")
    assert "Window" not in xc, xc
    ks = _plan(spark, sf_dir, "drift_ks_test")
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", ks)
    assert specs, ks
    for s in specs:
        assert s.startswith("__pid"), s


def test_r7_new_queries_plan_shapes(spark, sf_dir):
    """Pin the round-7 additions to their documented shapes:
    ts_rollup_hier computes all 4 hierarchy levels through ONE Expand +
    one aggregate exchange; vocab_coverage_curve and ts_robust_zscore
    get their cumulative sums from distributed_cumsum, so no window
    spec anywhere is global (empty partition spec); dedup_containment
    inherits dedup_near's two-shuffle inverted index (no join nodes)."""
    p = _plan(spark, sf_dir, "ts_rollup_hier")
    assert p.count("Expand") == 1, p
    assert p.count("Exchange hashpartitioning") == 1, p
    for name in ("vocab_coverage_curve", "ts_robust_zscore"):
        plan = _plan(spark, sf_dir, name)
        for s in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
            assert s.startswith("__pid"), (name, s)
    cont = _plan(spark, sf_dir, "dedup_containment")
    assert "Join" not in cont, cont


def test_r9_new_queries_plan_shapes(spark, sf_dir):
    """Round-9 scale contracts, pinned: the skyline never self-joins
    (bounded-domain broadcast thresholds, partial-agg min), the NSW
    walk's corpus joins are all broadcast-built (the r9 review caught a
    sort-merge join shuffling the vector column every round), novelty
    grams shuffle as fixed-width digests, and winsorize clips against
    BROADCAST bounds with no data-sized sort."""
    p = _plan(spark, sf_dir, "pareto_frontier")
    assert re.search(r"BroadcastHashJoin", p)
    assert re.search(r"partial_min", p)
    assert not re.search(r"CartesianProduct|SortMergeJoin", p)

    # sim_nsw's registered plan is lineage-truncated at the final
    # localCheckpoint (an ExistingRDD scan — asserting on it is
    # vacuous, r9 review finding); rebuild the walk with checkpoint
    # off so ONE static plan holds every round's joins, then pin the
    # broadcast discipline across all of them.
    from pyspark.sql import functions as F

    from tstables_spark.operators.similarity import nsw_topk
    from tstables_spark.plans.tables import load as _load

    emb = _load(spark, sf_dir, "embeddings")
    walk = nsw_topk(emb, F.col("vec_id") < 10, k=5, checkpoint=False)
    p = walk._jdf.queryExecution().executedPlan().toString()
    assert p.count("BroadcastHashJoin") >= 5  # score joins, all rounds
    # the one intentional cross join (query x entry points) must be the
    # broadcast variant; nothing may sort-merge (= shuffle the corpus)
    assert not re.search(r"SortMergeJoin|CartesianProduct", p)

    p = _plan(spark, sf_dir, "token_ngram_novelty")
    assert re.search(r"md5", p)  # fingerprint computed scan-side
    assert re.search(r"partial_min", p)  # first-seen is a partial agg

    p = _plan(spark, sf_dir, "agg_winsorize")
    assert re.search(r"BroadcastHashJoin", p)  # bounds join
    # the only Sort nodes may order the bounded histogram/offset
    # relations — never a data-sized global Sort for percentiles: the
    # raw-scan side of the final clip agg must be sort-free, which the
    # distributed_cumsum + broadcast-bounds shape guarantees by
    # construction (no SMJ on the clip pass).
    assert re.search(r"partial_", p)


def test_r12_pagerank_and_doulion(spark, sf_dir, monkeypatch):
    """Round-12 scale contracts: (a) the DOULION triangle estimator's
    tolerance gate holds at fixture scale and is non-vacuous; (b) the
    distributed pagerank iteration (forced: sf0.01 is under the
    single-task kernel bound) broadcasts the O(nodes) rank relation
    into the edge scan — the edge side must never hash-Exchange (the
    r11 100x OOM was exactly that per-iteration edge shuffle)."""
    import tstables_spark.plans.analytics as A
    from tstables_spark import _staging

    monkeypatch.setattr(_staging, "ONE_TASK_ROWS_MAX", 0)
    row = QUERIES["graph_triangles_gate"](spark, sf_dir).collect()[0]
    assert row["n_triangles"] > 0  # non-vacuous at sf0.01
    assert row["within_tol"], row
    approx = QUERIES["graph_triangles_approx"](spark, sf_dir).collect()[0]
    assert approx["est_triangles"] == row["est_triangles"]

    p = _plan(spark, sf_dir, "graph_pagerank")
    # final-iteration plan (earlier rounds are checkpoint-truncated):
    # the rank relation joins the edge scan as a broadcast build side,
    # and no src-keyed Exchange of the edge relation exists anywhere.
    assert "BroadcastHashJoin" in p
    assert not re.search(r"Exchange hashpartitioning\(src", p)


def test_r12_big_graph_paths_identical(spark, sf_dir, monkeypatch):
    """The big-graph physical strategies (dense and wide axes both
    forced by dropping the two knobs to 1) must compute EXACTLY the
    small-path answers, and pagerank's pin+broadcast path exactly the
    single-task kernel's: pagerank's streamed bucketed-edges +
    shuffled-rank iteration, and the DOULION estimator's streamed
    scratch-table pins. Also pins the big plan shape — iterations
    shuffle-hash with zero edge-side Exchange (ranks exchange INTO
    the bucket layout), no broadcast of the rank relation anywhere.
    The wide-graph O(nodes) pins (degrees, per-round ranks) are
    checkpoints Spark frees, never catalog tables that outlive the
    call."""
    import tstables_spark.plans.analytics as A
    from tstables_spark import _staging

    pr_kernel = {tuple(r) for r in A.graph_pagerank(spark, sf_dir).collect()}
    monkeypatch.setattr(_staging, "ONE_TASK_ROWS_MAX", 0)
    pr_small = {tuple(r) for r in A.graph_pagerank(spark, sf_dir).collect()}
    assert pr_small == pr_kernel
    tri_small = {tuple(r) for r in A.graph_triangles_approx(spark, sf_dir).collect()}
    monkeypatch.setattr(A, "_PR_BROADCAST_NODES_MAX", 1)
    monkeypatch.setattr(A, "_EDGE_PIN_PAIRS_MAX", 1)
    pr_big_df = A.graph_pagerank(spark, sf_dir)
    p = pr_big_df._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in p
    assert not re.search(r"Exchange hashpartitioning\(src", p)
    assert {tuple(r) for r in pr_big_df.collect()} == pr_small
    assert {
        tuple(r) for r in A.graph_triangles_approx(spark, sf_dir).collect()
    } == tri_small
    assert not _tables_named(spark, "pr_deg", "pr_ranks")


def _tables_named(spark, *prefixes):
    """Catalog tables of the current database whose name starts with
    one of ``prefixes``."""
    return [
        t.name for t in spark.catalog.listTables() if t.name.startswith(prefixes)
    ]


def test_pagerank_single_task_kernel_is_lazy(spark, sf_dir):
    """Under the kernel bound graph_pagerank builds one lazy plan: the
    call submits at most the parquet-schema job (counted through a job
    group on the status tracker), and the executed plan runs the
    MapInPandas kernel with no checkpoint scan anywhere."""
    import time
    import uuid

    sc = spark.sparkContext
    group = "pagerank_construct_" + uuid.uuid4().hex[:8]
    sc.setJobGroup(group, "graph_pagerank construction")
    try:
        df = QUERIES["graph_pagerank"](spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store is fed by the listener bus in order: once a
    # later job is visible, every job of the construction is too
    probe = "pagerank_probe_" + uuid.uuid4().hex[:8]
    sc.setJobGroup(probe, "listener drain")
    try:
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.monotonic() + 30
    while not sc.statusTracker().getJobIdsForGroup(probe):
        assert time.monotonic() < deadline
        time.sleep(0.05)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 1
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in p
    assert "Scan ExistingRDD" not in p


def _pagerank_reference(edges):
    """Python-int loop twin of the oracle's rounds: {node: pr12}."""
    nodes = sorted({x for e in edges for x in e})
    n = len(nodes)
    deg = dict.fromkeys(nodes, 0)
    for u, v in edges:
        deg[u] += 1
        deg[v] += 1
    pr = dict.fromkeys(nodes, 10**12 // n)
    for _ in range(3):
        c = {x: pr[x] * 10**6 // deg[x] for x in nodes}
        s = dict.fromkeys(nodes, 0)
        for u, v in edges:
            s[v] += c[u]
            s[u] += c[v]
        pr = {x: 150_000_000_000 // n + 85 * (s[x] // 10**6) // 100 for x in nodes}
    return pr


def test_pagerank_one_task_edge_cases(spark):
    """The single-task kernel on synthetic half-edge frames: an empty
    graph yields no rows and no error; a 3-node path graph gives the
    hand-computed ranks; ids beyond 2^40 and a random graph match the
    Python-int reference."""
    import random

    from tstables_spark.plans.analytics import pagerank_one_task

    def run(edges):
        df = spark.createDataFrame(edges, "u long, v long")
        ranks = pagerank_one_task(df, len(edges))
        return {r.node: (r.degree, r.pr12) for r in ranks.collect()}

    assert run([]) == {}
    # round 1 by hand: pr12 = 10^12 div 3 = 333333333333; the ends get
    # 5*10^10 + 85*166666666666 div 100 = 191666666666, the middle
    # 5*10^10 + 85*666666666666 div 100 = 616666666666
    path = {1: (1, 209729166666), 2: (2, 580541666666), 3: (1, 209729166666)}
    assert run([(1, 2), (2, 3)]) == path
    big = 1 << 40
    assert run([(big + 1, big + 2), (big + 2, big + 3)]) == {
        big + k: v for k, v in path.items()
    }
    rng = random.Random(7)
    ids = [rng.randrange(1 << 62) for _ in range(60)]
    edges = sorted({tuple(sorted(rng.sample(ids, 2))) for _ in range(400)})
    want = _pagerank_reference(edges)
    got = run(edges)
    assert {k: pr for k, (_, pr) in got.items()} == want


def test_pagerank_footer_gate_and_measured_fallback(spark, sf_dir, tmp_path, monkeypatch):
    """The kernel gate reads user_id min/max and row counts from the
    events footers (file_stats) and runs no statistics job; a file
    written without statistics falls back to the measured
    _graph_scale_stats and still computes the same ranks."""
    import os

    import pyarrow.parquet as pq

    import tstables_spark.plans.analytics as A
    from tstables_spark._staging import file_stats
    from tstables_spark.plans.tables import load

    src = os.path.join(sf_dir, "events.parquet")
    st = file_stats(load(spark, sf_dir, "events"), "user_id")
    t = pq.read_table(src)
    assert st.bytes == os.path.getsize(src) and st.rows == t.num_rows
    assert (st.lo, st.hi) == (t["user_id"].to_pandas().min(), t["user_id"].to_pandas().max())

    measured = []
    real = A._graph_scale_stats

    def counted(*args, **kwargs):
        measured.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(A, "_graph_scale_stats", counted)
    want = {tuple(r) for r in A.graph_pagerank(spark, sf_dir).collect()}
    assert measured == []

    pq.write_table(t, str(tmp_path / "events.parquet"), write_statistics=False)
    assert file_stats(load(spark, str(tmp_path), "events"), "user_id").lo is None
    df = A.graph_pagerank(spark, str(tmp_path))
    assert measured == [1]
    assert "MapInPandas" in df._jdf.queryExecution().executedPlan().toString()
    assert {tuple(r) for r in df.collect()} == want


def _census_stream_counts(df):
    """Partition counts of the executed plan's explicit ``src``-keyed
    exchanges."""
    p = df._jdf.queryExecution().executedPlan().toString()
    return re.findall(r"hashpartitioning\(src#\d+L?, (\d+)\), REPARTITION_BY_NUM", p)


def test_census_wedge_stream_sized_from_edge_count(spark, sf_dir, monkeypatch):
    """The census's wedge stream takes its width from the measured edge
    count, not from the partition count AQE left the pin with: on the
    default (broadcast) path of graph_triangles_approx the stream side
    is one ``hashpartitioning(src, n), REPARTITION_BY_NUM`` exchange
    with n the shuffle floor, and with ``_CENSUS_EDGES_PER_PARTITION``
    cut so the sampled edges need more partitions than the floor, n
    grows past it. Both runs give the default answer."""
    import math

    import tstables_spark.plans.analytics as A

    floor = int(spark.conf.get("spark.sql.shuffle.partitions"))
    df = A.graph_triangles_approx(spark, sf_dir)
    assert _census_stream_counts(df) == [str(floor)]
    want = {tuple(r) for r in df.collect()}
    (m,) = {r[1] for r in want}  # n_edges_sampled == oriented edges
    per = max(1, m // (floor + 3))
    n = math.ceil(m / per)
    assert n > floor
    monkeypatch.setattr(A, "_CENSUS_EDGES_PER_PARTITION", per)
    df = A.graph_triangles_approx(spark, sf_dir)
    assert _census_stream_counts(df) == [str(n)]
    assert {tuple(r) for r in df.collect()} == want


def test_r17_census_big_path_broadcast_gate(spark, sf_dir, monkeypatch):
    """Under its broadcast bound the census hints a broadcast of both
    join build sides (wedge build and closure build), on the pinned
    and on the streamed (big) path alike, and the streamed path gives
    the pinned path's answer; past the bound (forced to 0) no hint
    appears and the sort-merge joins give the same answer."""
    import tstables_spark.plans.analytics as A

    df = A.graph_triangles_approx(spark, sf_dir)
    lp = df._jdf.queryExecution().optimizedPlan().toString()
    assert lp.count("strategy=broadcast") == 2, lp
    small = {tuple(r) for r in df.collect()}
    monkeypatch.setattr(A, "_EDGE_PIN_PAIRS_MAX", 1)
    df = A.graph_triangles_approx(spark, sf_dir)
    lp = df._jdf.queryExecution().optimizedPlan().toString()
    assert lp.count("strategy=broadcast") == 2, lp
    assert {tuple(r) for r in df.collect()} == small
    monkeypatch.undo()

    _census_sort_merge_leg(spark, sf_dir, monkeypatch, small)


def _census_sort_merge_leg(spark, sf_dir, monkeypatch, small):
    """Force the census past its broadcast bound: no census broadcast
    hint, the default answer, and every census exchange on the
    explicit count sized from the measured edge count."""
    import math

    import tstables_spark.plans.analytics as A

    monkeypatch.setattr(A, "_CENSUS_BROADCAST_EDGES_MAX", 0)
    # size the partitions so the count lands above the shuffle floor
    (m,) = {r[1] for r in small}  # n_edges_sampled == oriented edges
    floor = int(spark.conf.get("spark.sql.shuffle.partitions"))
    per = max(1, m // (floor + 3))
    monkeypatch.setattr(A, "_CENSUS_EDGES_PER_PARTITION", per)
    n = max(floor, math.ceil(m / per))
    assert n > floor
    df0 = A.graph_triangles_approx(spark, sf_dir)
    lp0 = df0._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in lp0, lp0
    assert {tuple(r) for r in df0.collect()} == small
    ep0 = df0._jdf.queryExecution().executedPlan().toString()
    counts = re.findall(r"hashpartitioning\([^)]*, (\d+)\), REPARTITION_BY_NUM", ep0)
    assert len(counts) >= 3 and set(counts) == {str(n)}, ep0


def test_r13_doulion_cut_validation_and_pin_cache(spark, sf_dir, monkeypatch):
    """Round-13 ADVICE fixes: (a) a malformed DOULION cut fails loudly
    instead of silently mis-sampling — only 2-char lowercase hex is a
    sound lexicographic md5-prefix cut; (b) the big-path streamed
    scratch pins are staged ONCE per (app, sf_dir, cut) and reused on
    repeat invocations (``_staging.staged`` entries) — repeated
    bench runs at 100x must not re-write edge-sized tables per run."""
    import pytest as _pytest

    import tstables_spark.plans.analytics as A

    for bad in ("C0", "4", "c", "0x", "zz", "00", "c0 "):
        with _pytest.raises(ValueError):
            A.graph_triangles_approx(spark, sf_dir, cut=bad)

    from tstables_spark._staging import _STREAM_PINNED

    monkeypatch.setattr(A, "_EDGE_PIN_PAIRS_MAX", 1)
    first = {tuple(r) for r in A.graph_triangles_approx(spark, sf_dir).collect()}
    staged_after_first = {
        k: v for k, v in _STREAM_PINNED.items() if k[2][0] == (sf_dir, "c0")
    }
    assert len(staged_after_first) == 2  # doulion_se + census_oe
    second = {tuple(r) for r in A.graph_triangles_approx(spark, sf_dir).collect()}
    assert second == first
    assert {
        k: v for k, v in _STREAM_PINNED.items() if k[2][0] == (sf_dir, "c0")
    } == staged_after_first  # reused, not re-staged


def test_r13_minhash_big_path_identical(spark, sf_dir, monkeypatch):
    """The minhash big-corpus strategy (streamed scratch-table pins for
    the fingerprint and signature relations, forced by dropping the
    row-bound knob to 1) must compute EXACTLY the checkpoint-pinned
    answer, and repeat invocations must reuse the staged tables instead
    of re-writing corpus-sized files per run (the 100x bench
    repetition guarantee)."""
    import tstables_spark.operators.dedup as D
    from tstables_spark._staging import _STREAM_PINNED

    small = {tuple(r) for r in QUERIES["dedup_minhash"](spark, sf_dir).collect()}
    monkeypatch.setattr(D, "_MINHASH_PIN_ROWS_MAX", 1)
    big1 = {tuple(r) for r in QUERIES["dedup_minhash"](spark, sf_dir).collect()}
    assert big1 == small
    staged = {k: v for k, v in _STREAM_PINNED.items() if k[1].startswith("mh_")}
    assert len(staged) == 2  # mh_sh + mh_sig
    big2 = {tuple(r) for r in QUERIES["dedup_minhash"](spark, sf_dir).collect()}
    assert big2 == small
    assert {
        k: v for k, v in _STREAM_PINNED.items() if k[1].startswith("mh_")
    } == staged  # reused, not re-staged


def test_r13_kn_score_matches_python_reference(spark):
    """lm_kn_score's scale-12 fixed point pinned against a plain-Python
    Kneser-Ney reference computed from the same parquet with exact
    integer arithmetic (the unit-pin discipline of bpe_train/vocab)."""
    from collections import Counter, defaultdict

    import pandas as pd

    sf = "/root/testdata/sf0.001"
    docs = pd.read_parquet(f"{sf}/documents.parquet")[["doc_id", "text"]]
    big_occ = []
    for _, r in docs.iterrows():
        t = r.text.lower().split(" ")
        big_occ += [(int(r.doc_id), (t[i], t[i + 1])) for i in range(len(t) - 1)]
    c12 = Counter(g for _, g in big_occ)
    c1, n1f, n1b = Counter(), Counter(), Counter()
    for (w1, w2), c in c12.items():
        c1[w1] += c
        n1f[w1] += 1
        n1b[w2] += 1
    B = len(c12)
    p12 = {
        (w1, w2): (max(4 * c - 3, 0) * B + 3 * n1f[w1] * n1b[w2])
        * 10**12
        // (4 * c1[w1] * B)
        for (w1, w2), c in c12.items()
    }
    want = defaultdict(lambda: [0, 0])
    for d, g in big_occ:
        want[d][0] += 1
        want[d][1] += p12[g]
    got = {
        r.doc_id: (r.n_bigrams, r.score12)
        for r in QUERIES["lm_kn_score"](spark, sf).collect()
    }
    assert got == {d: (n, s) for d, (n, s) in want.items()}


def test_r18_kn_score_stream_pin_path_identical(spark, monkeypatch):
    """lm_kn_score's compressed-bytes scale knob: the big path
    stream-pins the bigram-type relation; forcing it must produce
    bit-identical rows to the small (in-plan) path."""
    import tstables_spark.plans.filtering as FL

    sf = "/root/testdata/sf0.001"
    small = sorted(tuple(r) for r in QUERIES["lm_kn_score"](spark, sf).collect())
    monkeypatch.setattr(FL, "_KN_PIN_BYTES_MIN", 0)
    big = sorted(tuple(r) for r in QUERIES["lm_kn_score"](spark, sf).collect())
    assert big == small


def test_r13_theta_sketch_exact_when_sets_small(spark):
    """KMV contract: when both day-audiences hold fewer than k hashes
    the sketch IS the set, so the intersection estimate must equal the
    exact count (the sentinel-theta path) — true for every pair at
    sf0.001 (~15 users/day/type << k=256)."""
    rows = QUERIES["agg_theta_sketch"](spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r.est_inter == float(r.exact_inter), r
        assert r.inter_ok


def test_r13_dedup_url_collapses_noise_groups(spark):
    """Every synthesized 3-variant group (mixed case + trailing slash +
    utm + fragment + :443 + param order + ref) collapses to ONE
    canonical URL with the min doc_id surviving (the trailing group is
    partial when the doc count doesn't divide by 3)."""
    rows = QUERIES["dedup_url"](spark, "/root/testdata/sf0.001").collect()
    n = len(rows)
    assert n > 0
    by_canon = {}
    for r in rows:
        by_canon.setdefault(r.canonical, []).append(r)
    partial = sum(1 for grp in by_canon.values() if len(grp) != 3)
    assert partial == (1 if n % 3 else 0)
    for canon, grp in by_canon.items():
        ids = sorted(x.doc_id for x in grp)
        assert all(x.n_dups == len(grp) for x in grp)
        assert all(x.survivor == ids[0] for x in grp)
        assert [x.is_dup for x in sorted(grp, key=lambda x: x.doc_id)] == [
            False] + [True] * (len(grp) - 1)
        assert "#" not in canon and ":443" not in canon
        assert "utm_" not in canon and "ref=" not in canon


def test_r13_kcore_big_paths_identical(spark, sf_dir, monkeypatch):
    """graph_kcore's big-graph strategies (streamed scratch-table edge
    pin above the STAGE-ECONOMICS pair-mass bound — the r14 knob-free
    auto-selection, _EDGE_STAGE_PAIRS_MIN; shuffle-hash survivor joins
    + disk-only round pins above the node bound), forced by dropping
    both bounds to 1, must compute EXACTLY the broadcast/checkpoint
    answer — and repeat invocations must reuse the staged edge table
    instead of re-writing it per run (the DOULION/minhash repetition
    guarantee). The O(nodes) pins (deg0 and every peel round) leave no
    catalog table behind."""
    import tstables_spark.plans.analytics as A
    from tstables_spark._staging import _STREAM_PINNED

    small = {tuple(r) for r in QUERIES["graph_kcore"](spark, sf_dir).collect()}
    monkeypatch.setattr(A, "_EDGE_STAGE_PAIRS_MIN", 1)
    monkeypatch.setattr(A, "_PR_BROADCAST_NODES_MAX", 1)
    big1 = {tuple(r) for r in QUERIES["graph_kcore"](spark, sf_dir).collect()}
    assert big1 == small
    staged = {k: v for k, v in _STREAM_PINNED.items() if k[1] == "kcore_de"}
    assert len(staged) == 1
    big2 = {tuple(r) for r in QUERIES["graph_kcore"](spark, sf_dir).collect()}
    assert big2 == small
    assert {
        k: v for k, v in _STREAM_PINNED.items() if k[1] == "kcore_de"
    } == staged  # reused, not re-staged
    assert not _tables_named(spark, "kcore_alive", "kcore_deg0")


def test_dedup_near_plain_session_flat_global(spark, sf_dir):
    """r17 inverted the r13 AQE trade: the engine global is FLAT
    (session.py no longer sets initialPartitionNum, so AQE starts at
    the shuffle floor), and dedup_near — like every former flat-twin
    rider — runs on the PLAIN session with no conf clone at all."""
    df = QUERIES["dedup_near"](spark, sf_dir)
    assert df.sparkSession is spark
    # the global default IS the flat setting now: nothing set it
    assert (
        spark.conf.get(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum", None
        )
        is None
    )


def test_one_materialization_primitive():
    """``_staging.pin`` is the package's only eager materialization and
    every query runs on the caller's session: no call to
    ``.localCheckpoint(`` outside ``_staging.py`` and no call to
    ``.newSession(`` anywhere in ``tstables_spark/``. Calls are found
    in the syntax tree, so comments and docstrings may name them."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "tstables_spark"
    bad = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for node in ast.walk(ast.parse(path.read_text(), filename=rel)):
            if not (
                isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            ):
                continue
            attr = node.func.attr
            if attr == "newSession" or (
                attr == "localCheckpoint" and rel != "_staging.py"
            ):
                bad.append(f"{rel}:{node.lineno} .{attr}(")
    assert not bad, bad


def test_stream_pin_bucketed_zero_exchange(spark, sf_dir):
    """stream_pin(bucket_by=...) must produce a staged table whose
    bucket-key aggregate plans with ZERO Exchange — the layout claim
    graph_kcore's big-edge path (and its docstring) rides on."""
    from pyspark.sql import functions as F

    from tstables_spark._staging import stream_pin
    from tstables_spark.plans.tables import load

    ev = load(spark, sf_dir, "events").select("user_id", "event_type")
    t = stream_pin(ev, "bktest", bucket_by="user_id", num_buckets=8)
    plan = (
        t.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "SelectedBucketsCount: 8 out of 8" in plan


def test_pin_level_follows_size_estimate(spark):
    """``pin`` keeps Spark's default deserialized level for a relation
    computed without an earlier pin whose optimizer estimate is within
    the broadcast threshold, and serialized MEMORY_AND_DISK above it or
    over a pin; ``big`` without a cache key or bucket column is a
    DISK_ONLY checkpoint, not a catalog table."""
    from tstables_spark._staging import pin

    def level(df):
        lv = df._jdf.queryExecution().analyzed().rdd().getStorageLevel()
        return lv.useMemory(), lv.useDisk(), lv.deserialized()

    df = spark.range(1000)  # estimated at 8000 bytes
    small = pin(df)
    assert level(small) == (True, True, True)
    assert level(pin(small.select("id"))) == (True, True, False)
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "4000")
    try:
        assert level(pin(df)) == (True, True, False)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    big = pin(df, True, "pin_level_big")
    assert level(big) == (False, True, False)
    assert big.count() == 1000
    assert not _tables_named(spark, "pin_level_big")


def test_pin_without_py4j_handles(spark):
    """A frame without py4j handles (as on Spark Connect, where ``_jdf``
    raises AttributeError) pins at the serialized MEMORY_AND_DISK level
    instead of raising, with all its rows."""
    from tstables_spark._staging import pin

    class NoJvm:
        def __init__(self, df):
            self.df = df

        def __getattr__(self, name):
            if name == "_jdf":
                raise AttributeError(name)
            return getattr(self.df, name)

    pinned = pin(NoJvm(spark.range(1000)))
    lv = pinned._jdf.queryExecution().analyzed().rdd().getStorageLevel()
    assert (lv.useMemory(), lv.useDisk(), lv.deserialized()) == (True, True, False)
    assert sorted(r.id for r in pinned.collect()) == list(range(1000))


def test_stream_pin_lru_eviction_restages(spark, sf_dir, monkeypatch):
    """The staged-pin registry is LRU-bounded (r14 verdict #5: a
    long-lived session accumulated one catalog table + one JVM
    relation-cache entry per pin and OOM'd a 1 GB driver): beyond the
    cap the oldest pin's table is DROPPED and its scratch dir
    reclaimed, and a later request for the evicted key RESTAGES it —
    same rows, no error."""
    import os

    from pyspark.sql import functions as F

    from tstables_spark import _staging
    from tstables_spark.plans.tables import load

    monkeypatch.setattr(_staging, "_STREAM_PINNED_CAP", 2)
    ev = load(spark, sf_dir, "events").select("user_id").limit(5)
    t1 = _staging.stream_pin(ev, "lru_a", cache_key=("k1",))
    key1 = next(k for k in _staging._STREAM_PINNED if k[1] == "lru_a")
    tag1, dir1, _ = _staging._STREAM_PINNED[key1]
    want = t1.count()
    _staging.stream_pin(ev, "lru_b", cache_key=("k2",))
    _staging.stream_pin(ev, "lru_c", cache_key=("k3",))
    # cap=2: the oldest (lru_a) must be gone — catalog and bytes
    assert key1 not in _staging._STREAM_PINNED
    assert not spark.catalog.tableExists(tag1)
    assert not os.path.exists(dir1)
    # an evicted key restages transparently (pure function of inputs)
    t1b = _staging.stream_pin(ev, "lru_a", cache_key=("k1",))
    assert t1b.count() == want
    # a HIT refreshes recency: touch lru_b, then add one more — the
    # eviction must take lru_a's restage or lru_c, never the fresh hit
    _staging.stream_pin(ev, "lru_b", cache_key=("k2",))
    _staging.stream_pin(ev, "lru_d", cache_key=("k4",))
    assert any(k[1] == "lru_b" for k in _staging._STREAM_PINNED)


def test_stream_pin_lru_skips_in_use_pins(spark, sf_dir, monkeypatch):
    """r15 verdict #7: eviction must skip pins held by an open
    hold_stream_pins scope — staging cap+1 pins inside one query's
    plan construction can never evict a table that plan still scans.
    Held pins transiently exceed the cap and are reclaimed on the
    first insert after the scope closes."""
    from tstables_spark import _staging
    from tstables_spark.plans.tables import load

    monkeypatch.setattr(_staging, "_STREAM_PINNED_CAP", 1)
    ev = load(spark, sf_dir, "events").select("user_id").limit(5)
    with _staging.hold_stream_pins():
        ta = _staging.stream_pin(ev, "inuse_a", cache_key=("ka",))
        tb = _staging.stream_pin(ev, "inuse_b", cache_key=("kb",))
        keys = [k for k in _staging._STREAM_PINNED if k[1].startswith("inuse_")]
        # both pins survive despite cap=1: in-use refcounts block eviction
        assert len(keys) == 2
        assert ta.count() == 5 and tb.count() == 5
    # scope closed: the next insert reclaims down to cap (oldest first)
    _staging.stream_pin(ev, "inuse_c", cache_key=("kc",))
    left = {k[1] for k in _staging._STREAM_PINNED if k[1].startswith("inuse_")}
    assert left == {"inuse_c"}


def test_stream_pin_refs_survive_to_execution(spark, sf_dir, monkeypatch):
    """r16 advice (medium): refcounts released at scope exit left a
    construction-to-execution window where a concurrent thread staging
    >cap pins could evict a table the constructed plan still scans.
    ``scope.transfer_to(df)`` moves the refs onto the frame's lifetime
    (weakref finalizer), so the pin stays eviction-immune until the
    caller drops the frame — which is after execution by definition."""
    import gc

    from tstables_spark import _staging
    from tstables_spark.plans.tables import load

    monkeypatch.setattr(_staging, "_STREAM_PINNED_CAP", 1)
    ev = load(spark, sf_dir, "events").select("user_id").limit(5)
    with _staging.hold_stream_pins() as scope:
        df = _staging.stream_pin(ev, "xfer_a", cache_key=("xa",))
        scope.transfer_to(df)
    key = next(k for k in _staging._STREAM_PINNED if k[1] == "xfer_a")
    # scope exited but the frame is alive: refs still held, so a
    # concurrent over-cap insert must NOT evict xfer_a
    assert _staging._STREAM_PINNED_REFS.get(key, 0) > 0
    # the concurrent thread stages over-cap inside its OWN scope (as
    # every registry query does) — xfer_a must survive the insert
    with _staging.hold_stream_pins():
        _staging.stream_pin(ev, "xfer_b", cache_key=("xb",))
        assert key in _staging._STREAM_PINNED
    assert df.count() == 5  # executes over the still-pinned table
    del df
    gc.collect()
    # frame dropped: the finalizer released the refs; the next insert
    # may now reclaim the pin
    assert _staging._STREAM_PINNED_REFS.get(key, 0) == 0
    with _staging.hold_stream_pins():
        _staging.stream_pin(ev, "xfer_c", cache_key=("xc",))
    left = {k[1] for k in _staging._STREAM_PINNED if k[1].startswith("xfer_")}
    assert "xfer_a" not in left


def test_stream_pin_concurrent_stage_keeps_winner(spark, sf_dir, monkeypatch):
    """r15 advice: the miss path is check-then-stage with the lock
    released during the corpus-sized write — when another thread lands
    the same key mid-write, the second stager must DROP its fresh
    table/dir and return the winner's (a blind overwrite would orphan
    the winner's catalog table from the LRU forever). Simulated by
    injecting the winner between this thread's write and its re-check
    (register_staged_table runs exactly there)."""
    import os

    from pyspark.sql import functions as F  # noqa: F401

    from tstables_spark import _staging
    from tstables_spark.plans.tables import load

    ev = load(spark, sf_dir, "events").select("user_id").limit(5)
    # stage the eventual WINNER normally, then pop its entry so the
    # next call takes the miss path
    _staging.stream_pin(ev, "race_pin", cache_key=("rk",))
    key = next(k for k in _staging._STREAM_PINNED if k[1] == "race_pin")
    winner = _staging._STREAM_PINNED.pop(key)
    assert spark.catalog.tableExists(winner[0])

    real_register = _staging.register_staged_table
    captured = {}

    def inject(sp, tag):
        real_register(sp, tag)
        if tag != winner[0] and "loser_tag" not in captured:
            captured["loser_tag"] = tag
            with _staging._STREAM_PINNED_LOCK:
                _staging._STREAM_PINNED[key] = winner  # the racing thread lands

    monkeypatch.setattr(_staging, "register_staged_table", inject)
    got = _staging.stream_pin(ev, "race_pin", cache_key=("rk",))
    # winner's entry is the tracked one; loser's table and dir are gone
    assert _staging._STREAM_PINNED[key] == winner
    assert got.count() == 5
    loser = captured["loser_tag"]
    assert loser != winner[0]
    assert not spark.catalog.tableExists(loser)
    assert spark.catalog.tableExists(winner[0])
    # loser's scratch dir was reclaimed (winner's still on disk)
    assert os.path.exists(winner[1])


def test_staged_fixture_lru_eviction(spark, sf_dir, monkeypatch):
    """Staged fixtures share the stream pins' bounded registry. With the
    cap at 1, staging scan_json's source evicts scan_csv's (its dir is
    removed); the next scan_csv stages again and gives the same value
    hash. A fixture touched inside an open hold_stream_pins scope keeps
    its entry and catalog tables through a forced eviction, and loses
    both to the first insert after the scope closes."""
    import gc
    import os

    import pandas as pd

    from tests.parity import canonicalize
    from tstables_spark import _staging
    from tstables_spark.plans import relational as R

    def value_hash(name):
        pdf = QUERIES[name](spark, sf_dir).toPandas()
        gc.collect()  # the frame is gone: its registry refs are released
        return int(pd.util.hash_pandas_object(canonicalize(pdf), index=False).sum())

    def entry(prefix):
        key = (spark.sparkContext.applicationId, prefix, (sf_dir,))
        return _staging._STREAM_PINNED.get(key)

    monkeypatch.setattr(_staging, "_STREAM_PINNED_CAP", 1)
    want = value_hash("scan_csv")
    csv = entry("src_csv")
    assert csv is not None and os.path.isdir(csv.dir)
    value_hash("scan_json")
    assert entry("src_csv") is None and not os.path.exists(csv.dir)
    assert entry("src_json") is not None
    assert value_hash("scan_csv") == want
    assert entry("src_csv").dir != csv.dir  # staged again, fresh dir

    with _staging.hold_stream_pins():
        tag = R._bucketed_tables(spark, sf_dir)
        bucketed = entry("bucketed")
        assert bucketed.tables == (f"orders_{tag}", f"lineitem_{tag}")
        value_hash("scan_json")  # an insert over the cap
        assert entry("bucketed") == bucketed
        assert all(spark.catalog.tableExists(t) for t in bucketed.tables)
        assert spark.table(f"orders_{tag}").count() > 0
    value_hash("scan_csv")
    assert entry("bucketed") is None and not os.path.exists(bucketed.dir)
    assert not any(spark.catalog.tableExists(t) for t in bucketed.tables)


def test_aqe_trade_inverted(spark, sf_dir):
    """Every query runs on the caller's session, the wedge-census
    family included, and nothing sets AQE's initialPartitionNum: a
    runtime conf the caller sets between two ``graph_triangles``
    calls reaches the second call's frame."""
    key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    for name in (
        "dedup_near", "dedup_near_maxdf", "dedup_containment",
        "dedup_substring", "dedup_clusters", "dedup_cluster_sizes",
        "graph_degree_dist", "graph_jaccard",
        "graph_triangles", "graph_triangles_approx", "graph_triangles_gate",
    ):
        assert QUERIES[name](spark, sf_dir).sparkSession is spark, name
    assert spark.conf.get(key, None) is None
    wide = str(int(spark.conf.get("spark.sql.shuffle.partitions")) * 2)
    spark.conf.set(key, wide)
    try:
        df = QUERIES["graph_triangles"](spark, sf_dir)
        assert df.sparkSession.conf.get(key, None) == wide
    finally:
        spark.conf.unset(key)


def test_cc_round_join_zero_exchange_zero_sort_on_edges(spark):
    """r17 verdict #3: connected_components' per-round neighbor join
    must stream the O(E) symmetric edge relation straight out of its
    partitioned columnar cache — ONE ENSURE_REQUIREMENTS Exchange (the
    O(V) labels side), ZERO Sorts (SHUFFLE_HASH build on labels), so a
    round never re-shuffles or re-sorts the edge list. Replicates the
    exact sym/labels/join shape components.py builds."""
    import re

    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    e = spark.range(20000).select(
        (F.col("id") % 500).alias("a"), ((F.col("id") + 3) % 499).alias("b")
    ).localCheckpoint(eager=True)
    sym = (
        e.union(e.select("b", "a"))
        .repartition(P, "a")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        sym.count()
        labels = (
            sym.select(F.col("a").alias("node"))
            .distinct()
            .withColumn("component", F.col("node"))
            .localCheckpoint(eager=True)
        )
        j = sym.join(
            labels.hint("shuffle_hash"), sym.a == labels.node
        ).select(F.col("b").alias("node"), "component")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ENSURE_REQUIREMENTS") == 1, plan
        assert not re.findall(r"\bSort\b", plan), plan
        assert "ShuffledHashJoin" in plan, plan
    finally:
        sym.unpersist()


def test_cc_big_path_same_fixpoint(spark, monkeypatch):
    """The two paths of connected_components land on one fixpoint:
    forcing the relayout rounds (one-task bound 0) on a chain+clique
    graph gives the single-task kernel's labels."""
    from pyspark.sql import functions as F

    import tstables_spark.operators.components as C
    from tstables_spark import _staging

    e = spark.range(300).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    ).union(
        spark.range(50).select(
            (F.col("id") % 7 + 1000).alias("doc_a"),
            ((F.col("id") + 3) % 7 + 1000).alias("doc_b"),
        )
    ).where(F.col("doc_a") != F.col("doc_b"))
    small = {tuple(r) for r in C.connected_components(e).collect()}
    monkeypatch.setattr(_staging, "ONE_TASK_ROWS_MAX", 0)
    big = {tuple(r) for r in C.connected_components(e).collect()}
    assert small == big
    assert {r[1] for r in small if r[0] < 301} == {0}


def test_load_infers_fixture_schema_once(spark, sf_dir, tmp_path):
    """tables.load infers a fixture's schema once: a second load runs no
    Spark job and returns the same schema; a rewritten file or a change
    to any conf the inference reads infers again."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.test_tstable import _jobs_run
    from tstables_spark.plans import tables

    shutil.copy(os.path.join(sf_dir, "nation.parquet"), tmp_path / "nation.parquet")
    first = tables.load(spark, str(tmp_path), "nation")
    again, jobs = _jobs_run(spark, lambda: tables.load(spark, str(tmp_path), "nation"))
    assert jobs == 0
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())

    pq.write_table(pa.table({"n_nationkey": [1, 2], "extra": ["a", "b"]}), tmp_path / "nation.parquet")
    rewritten, jobs = _jobs_run(spark, lambda: tables.load(spark, str(tmp_path), "nation"))
    assert jobs >= 1
    assert rewritten.columns == ["n_nationkey", "extra"]
    assert rewritten.count() == 2

    # every conf the inference reads is in the key: flipping any one of
    # them (all are booleans) infers again
    for key in tables._SCHEMA_CONFS:
        was = spark.conf.get(key, None)
        spark.conf.set(key, "false" if spark.conf.get(key).lower() == "true" else "true")
        try:
            _, jobs = _jobs_run(spark, lambda: tables.load(spark, str(tmp_path), "nation"))
        finally:
            if was is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, was)
        assert jobs >= 1, key
