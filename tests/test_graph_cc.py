"""Connected-components (dedup clustering) tests: the lazy exact form and
the distributed iterate-to-convergence form against a python union-find
ground truth, a long-chain diameter stress for pointer jumping, and the
driver query's closure over real LSH-verified pairs."""

from __future__ import annotations

import numpy as np
import pytest

from seisdb_spark.functions.graph import (
    CC_SINGLE_TASK_MAX_EDGES,
    cc_auto,
    cc_auto_held,
    cc_exact_lazy,
    connected_components,
    release_checkpoint,
)
from seisdb_spark.queries.registry import REGISTRY
from tests.conftest import SF_DIR


def _union_find(pairs):
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
    return {v: find(v) for v in parent}


def _truth_min_labels(pairs):
    uf = _union_find(pairs)
    comp_min = {}
    for v, r in uf.items():
        comp_min[r] = min(comp_min.get(r, v), v)
    return {v: comp_min[r] for v, r in uf.items()}


def _pairs_df(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "doc_a long, doc_b long"
    )


def test_cc_random_components_match_union_find(spark):
    rng = np.random.default_rng(3)
    # 12 clusters of random sizes, linked by random spanning edges
    pairs = []
    base = 0
    for _ in range(12):
        size = int(rng.integers(2, 9))
        ids = list(range(base, base + size))
        base += size + 3  # gap: absent ids must not appear in output
        for i in range(1, size):
            pairs.append((ids[rng.integers(0, i)], ids[i]))
    truth = _truth_min_labels(pairs)

    got_lazy = {
        r.v: r.component for r in cc_exact_lazy(_pairs_df(spark, pairs)).collect()
    }
    assert got_lazy == truth

    labels, rounds = connected_components(_pairs_df(spark, pairs), "doc_a", "doc_b")
    got_iter = {r.v: r.component for r in labels.collect()}
    assert got_iter == truth
    assert rounds <= 6


def test_cc_long_chain_pointer_jump_radius(spark):
    """A 40-node chain (diameter 39): the lazy union-find is exact at any
    diameter; the distributed form's pointer jumping must resolve it in
    O(log d) rounds, not 39."""
    pairs = [(i, i + 1) for i in range(39)]
    truth = _truth_min_labels(pairs)

    got_lazy = {
        r.v: r.component for r in cc_exact_lazy(_pairs_df(spark, pairs)).collect()
    }
    assert got_lazy == truth

    labels, rounds = connected_components(_pairs_df(spark, pairs), "doc_a", "doc_b")
    assert {r.v: r.component for r in labels.collect()} == truth
    assert rounds <= 9, f"pointer jumping took {rounds} rounds for diameter 39"


def test_cc_lazy_builds_without_jobs(spark):
    """cc_exact_lazy must be a pure plan builder (driver-query contract)."""
    edges = _pairs_df(spark, [(1, 2), (2, 3)])
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    df = cc_exact_lazy(edges)
    after = set(tracker.getJobIdsForGroup(None) or [])
    assert after == before
    assert {r.v: r.component for r in df.collect()} == {1: 1, 2: 1, 3: 1}


def test_distributed_cc_agrees_with_lazy_on_real_pairs(spark):
    """The distributed pointer-jumping form and the lazy union-find must
    produce identical components on the real sf0.01 near-dup pairs (the
    synthetic tests cover shapes; this covers the production input)."""
    pairs = REGISTRY["dedup_jaccard_pairs"].spark(spark, SF_DIR)
    lazy = {r.v: r.component for r in cc_exact_lazy(pairs).collect()}
    labels, rounds = connected_components(pairs, "doc_a", "doc_b")
    dist = {r.v: r.component for r in labels.collect()}
    assert dist == lazy
    assert rounds <= 6  # real dup clusters are shallow


def test_distributed_cc_handles_asymmetric_input(spark):
    """connected_components symmetrizes internally: a dst-only vertex (1
    below never appears as src) must still be labeled, and min labels must
    flow against the edge direction.  Before the fix this returned a
    partial labeling silently."""
    pairs = [(2, 1), (3, 2), (5, 4)]  # directed high->low; 1 and 4 dst-only
    truth = _truth_min_labels(pairs)
    labels, _ = connected_components(_pairs_df(spark, pairs), "doc_a", "doc_b")
    assert {r.v: r.component for r in labels.collect()} == truth


def test_cc_auto_dispatches_by_edge_count(spark):
    """cc_auto: single-task form under the threshold, distributed above it,
    identical components either way on the real sf0.01 near-dup pairs."""
    pairs = REGISTRY["dedup_jaccard_pairs"].spark(spark, SF_DIR)
    lazy = {r.v: r.component for r in cc_exact_lazy(pairs).collect()}

    small_path = cc_auto(pairs)  # real threshold: tiny edge list stays lazy
    assert {r.v: r.component for r in small_path.collect()} == lazy

    # force the distributed branch: every edge list is "too big" for 1 task
    dist_path = cc_auto(pairs, max_single_task_edges=0)
    assert {r.v: r.component for r in dist_path.collect()} == lazy
    assert len(lazy) > 0


@pytest.mark.parametrize("max_edges", [CC_SINGLE_TASK_MAX_EDGES, 0])
def test_cc_auto_held_hands_back_every_checkpoint(spark, max_edges):
    """cc_auto_held returns the checkpoints its members read — the pair
    checkpoint, and on the distributed branch the final labeling too —
    and releasing them leaves the persistent-RDD count where it was."""
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    pairs = _pairs_df(spark, [(1, 2), (2, 3), (5, 4)])
    members, held = cc_auto_held(pairs, max_single_task_edges=max_edges)
    assert {r.v: r.component for r in members.collect()} == {
        1: 1, 2: 1, 3: 1, 4: 4, 5: 4
    }
    assert len(held) == (1 if max_edges else 2)
    for df in held:
        release_checkpoint(df)
    after = jsc.getPersistentRDDs().size()
    assert after - before <= 0, f"{after - before} checkpoints retained"


def test_dedup_cluster_query_is_closure_of_pairs(spark):
    """The driver query's components must equal the union-find closure of
    the verified near-dup pairs on the real sf0.01 corpus."""
    pairs_df = REGISTRY["dedup_jaccard_pairs"].spark(spark, SF_DIR).toPandas()
    pairs = list(zip(pairs_df.doc_a, pairs_df.doc_b, strict=True))
    truth = _truth_min_labels(pairs)

    got = {
        r.doc_id: r.canonical_id
        for r in REGISTRY["dedup_cluster_components"].spark(spark, SF_DIR).collect()
    }
    assert got == truth
    assert len(got) > 0

def test_wcc_query_matches_union_find_and_is_multi_component(spark):
    """graph_wcc_membership (the distributed pointer-jumping driver row)
    must equal the pure-python union-find closure of the ship-date-
    windowed co-purchase edges on the real sf0.01 corpus, and the window
    must put the graph in the percolation-interesting regime (multiple
    components — the full graph's single-component answer would make the
    row structureless; see WCC_CUTOFF)."""
    from seisdb_spark.queries.graph_queries import wcc_edges
    from seisdb_spark.sources.tables import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    pairs = [(int(r.u), int(r.v)) for r in wcc_edges(li).collect()]
    truth = _truth_min_labels(pairs)

    got = {
        int(r.part_id): int(r.component_id)
        for r in REGISTRY["graph_wcc_membership"].spark(spark, SF_DIR).collect()
    }
    assert got == truth
    n_components = len(set(truth.values()))
    assert n_components > 1, "window regressed to a single component"
    assert len(truth) > 100


def test_wcc_replica_invariant(spark):
    """Value certification of the graphscale tier construction for WCC:
    the membership table over N disjoint id-offset copies of the
    sf0.001 graph must equal the factor-1 table with every replica's
    rows mapped through the offset (ship dates are untouched by the
    offsets, so each copy carries the exact windowed subgraph; min
    labels shift by the offset because every replica's ids do)."""
    from pyspark.sql import functions as F

    from seisdb_spark.queries.graph_queries import wcc_edges
    from seisdb_spark.sources.tables import load_table
    from tests.conftest import SMOKE_SF_DIR

    off = 10**7  # ID_OFFSET in tools/scale_stress.py
    li = load_table(spark, SMOKE_SF_DIR, "lineitem").select(
        "l_orderkey", "l_partkey", "l_shipdate"
    )
    reps = [
        li.select(
            (F.col("l_orderkey") + r * off).alias("l_orderkey"),
            (F.col("l_partkey") + r * off).alias("l_partkey"),
            "l_shipdate",
        )
        for r in range(3)
    ]
    li3 = reps[0].unionByName(reps[1]).unionByName(reps[2])

    def membership(frame):
        labels, _ = connected_components(wcc_edges(frame), "u", "v")
        return {int(r.v): int(r.component) for r in labels.collect()}

    base = membership(li)
    assert len(base) > 0  # the sf0.001 window must not be empty
    want = {v + r * off: c + r * off for r in range(3) for v, c in base.items()}
    assert membership(li3) == want


def test_release_checkpoint_drops_superseded_round_blocks(spark):
    """The r14 memory fix must actually work: a multi-round pointer-jump
    cascade localCheckpoints ~2 tables per round, and release_checkpoint
    must unpersist every superseded one — a py4j surface drift would
    silently turn it into a no-op (r15 advice), so this pins that the
    persistent-RDD map does NOT grow with the round count."""
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()

    # a 60-node chain: diameter 59 forces >= 5 pointer-jump rounds
    pairs = _pairs_df(spark, [(i, i + 1) for i in range(59)])
    labels, rounds = connected_components(pairs, "doc_a", "doc_b")
    labels.collect()

    after = jsc.getPersistentRDDs().size()
    assert rounds >= 5
    # held blocks must be O(1) — the final labeling only — never
    # O(rounds) (each round creates a labeling checkpoint; edges and all
    # superseded labelings are released inside the loop)
    assert after - before <= 1, (
        f"{after - before} checkpoints retained after a {rounds}-round "
        "cascade — release_checkpoint is leaking (py4j drift?)"
    )


def test_wcc_window_predicate_reaches_the_parquet_scan(spark):
    """The WCC ship-date window must land in the FileScan (DataFilters +
    pruned ReadSchema), not evaluate post-scan: at 100 TB the window
    prunes row groups before any shuffle, and a regression here would
    silently read the full lineitem into the pair expansion.  Asserted on
    the pre-checkpoint subtree (wcc_edges returns a localCheckpoint whose
    own plan is just a Scan ExistingRDD)."""
    from pyspark.sql import functions as F

    from seisdb_spark.queries.graph_queries import WCC_CUTOFF
    from seisdb_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    li = load_table(spark, SF_DIR, "lineitem")
    flt = li.where(
        F.col("l_shipdate") < F.lit(WCC_CUTOFF).cast("timestamp")
    ).select("l_orderkey", "l_partkey")
    plan = flt._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.split("\n") if "FileScan" in ln]
    assert scan, "no FileScan in the windowed-edge subtree"
    assert "l_shipdate" in scan[0] and "DataFilters: [" in scan[0] and (
        "1996-01-01" in scan[0]
    ), f"date predicate did not reach the scan: {scan[0][:200]}"
    # column pruning: the scan must read only the 3 needed columns
    assert "l_extendedprice" not in scan[0] and "l_comment" not in scan[0]


@pytest.mark.parametrize("loop", ["cc", "kcore"])
def test_nonconvergence_releases_edges_and_labeling(spark, loop):
    """A round-cap RuntimeError must release every checkpoint the loop
    built (edges, the initial and the last state) before raising —
    nothing the loop built escapes a raise.  Before the r16 fix CC's
    error path leaked both edges and labeling; k-core's leaked its last
    survivor set until the loops shared superstep_loop."""
    from seisdb_spark.queries.graph_queries import kcore_core

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()

    with pytest.raises(RuntimeError, match="did not converge"):
        if loop == "cc":
            # a 60-node chain needs >= 5 pointer-jump rounds; cap at 2
            pairs = _pairs_df(spark, [(i, i + 1) for i in range(59)])
            connected_components(pairs, "doc_a", "doc_b", max_rounds=2)
        else:
            # a 30-edge path off a triangle peels one leaf per k=2 round
            path = [(3, 100)] + [(100 + i, 101 + i) for i in range(29)]
            edges = spark.createDataFrame(
                [(1, 2), (1, 3), (2, 3)] + path, "u long, v long"
            )
            kcore_core(edges, k=2, max_peels=1)

    after = jsc.getPersistentRDDs().size()
    # <= 0, not == 0: the async ContextCleaner may reclaim a PRIOR test's
    # RDD between the two samples, making the delta negative — the pin is
    # that this cascade adds nothing
    assert after - before <= 0, (
        f"{after - before} checkpoints retained after a failed {loop} "
        "cascade — the error path is leaking"
    )


def test_cc_certificate_overflow_precondition_guard(spark):
    """The (count, label-sum) convergence certificate is wrap-sound only
    while |V| * max vertex id < 2^63; past that a wrapped BIGINT sum could
    silently fake convergence (r17 advice).  The guard must refuse loudly
    BEFORE running any propagation round, and must not leak the edge/seed
    checkpoints it built (the non-convergence release discipline)."""
    import pytest

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()

    big = 2**62  # 4 vertices * ~4.6e18 max id >= 2^63: precondition fails
    pairs = _pairs_df(spark, [(big, big + 1), (big + 2, big + 3)])
    with pytest.raises(ValueError, match="re-map vertex ids"):
        connected_components(pairs, "doc_a", "doc_b")

    after = jsc.getPersistentRDDs().size()
    assert after - before <= 0, (
        f"{after - before} checkpoints retained after the precondition "
        "refusal — the guard path is leaking"
    )

    # just UNDER the bound still runs: 2 vertices, max id < 2^62 each —
    # 2 * (2^61 + 1) < 2^63, so the certificate is certified sound
    ok = _pairs_df(spark, [(2**61, 2**61 + 1)])
    labels, rounds = connected_components(ok, "doc_a", "doc_b")
    got = {r.v: r.component for r in labels.collect()}
    assert got == {2**61: 2**61, 2**61 + 1: 2**61}


def test_auto_broadcast_bytes_parses_spark_size_spellings(spark):
    """The gated-broadcast helper sizes against the session's own
    autoBroadcastJoinThreshold, which Spark accepts as plain bytes or with
    k/m/g(b) suffixes — and as -1 to disable broadcasting entirely."""
    from seisdb_spark.functions.graph import _auto_broadcast_bytes

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        for raw, expect in (
            ("10485760", 10 * 2**20),
            ("64MB", 64 * 2**20),
            ("1g", 2**30),
            ("512k", 512 * 2**10),
            ("-1", 0),  # disabled: the gate must never hint
        ):
            spark.conf.set(key, raw)
            assert _auto_broadcast_bytes(spark) == expect, raw
    finally:
        spark.conf.set(key, old)


def test_hint_broadcast_if_small_gates_on_known_row_count(spark):
    """r18 optimization pin: loop round state scans as LogicalRDD with
    unknown stats, so the loops hint broadcast from their EXACT known row
    counts — below the session threshold the side is hinted, above it (the
    100 TB regime) the input must come back unchanged so the round keeps
    the shuffle join AQE skew-handles."""
    from seisdb_spark.functions.graph import (
        LOOP_STATE_ROW_BYTES,
        _auto_broadcast_bytes,
        hint_broadcast_if_small,
    )

    df = _pairs_df(spark, [(1, 2)])
    limit_rows = _auto_broadcast_bytes(spark) // LOOP_STATE_ROW_BYTES

    hinted = hint_broadcast_if_small(df, limit_rows)
    assert "UnresolvedHint" in hinted._jdf.queryExecution().logical().toString() or (
        "broadcast" in hinted._jdf.queryExecution().analyzed().toString().lower()
    ), "small side was not hinted"

    too_big = hint_broadcast_if_small(df, limit_rows + 1)
    assert too_big is df, "oversized side must pass through unchanged"
    assert hint_broadcast_if_small(df, None) is df, "unknown count: no hint"


#: max shuffle exchanges per broadcast-regime round: CC and k-core
#: aggregate by the edge checkpoint's preserved src partitioning; BFS's
#: dst distinct and SSSP's node min-combiner each shuffle once
ROUND_EXCHANGE_BUDGET = {"cc": 0, "kcore": 0, "bfs": 1, "sssp": 1}


@pytest.mark.parametrize("loop", sorted(ROUND_EXCHANGE_BUDGET))
def test_broadcast_round_shuffle_exchanges(spark, monkeypatch, loop):
    """Optimization pin (guide §3.1/§2.4) over every superstep_loop
    caller: with the loop state under the session broadcast threshold,
    each recorded round stays within its shuffle-exchange budget.  At
    least 2 edge partitions are forced — with one, every partitioning
    requirement holds trivially and the pin passes vacuously.  k-core is
    the regression this catches: its survivor checkpoints lost their src
    partitioning (one keep-aggregate exchange in every round after the
    first) until the primitive renamed the round output before
    checkpointing.  CC rounds must also broadcast (no sort-merge join)
    and reuse the neighbour-min broadcast across both jump references."""
    import seisdb_spark.functions.graph as G
    from seisdb_spark.plancheck import count_exchanges, has_node
    from seisdb_spark.queries.graph_queries import bfs_hops, kcore_core, sssp_cost

    monkeypatch.setattr(G, "EDGE_ROWS_PER_TASK", 16)
    rng = np.random.default_rng(12)
    pairs = [
        (a, b) for a in range(60) for b in range(a + 1, 60) if rng.random() < 0.3
    ]
    pairs += [(59 + i, 60 + i) for i in range(20)]  # a 20-edge tail
    edges = spark.createDataFrame(pairs, "u long, v long")
    if loop == "cc":
        labels, _ = connected_components(edges, "u", "v")
        assert {r.v: r.component for r in labels.collect()} == _truth_min_labels(
            pairs
        )
    elif loop == "kcore":
        assert kcore_core(edges, k=13).count() > 0
    elif loop == "bfs":
        assert bfs_hops(edges, seed_mod=50).count() > 0
    else:
        assert sssp_cost(edges, seed_mod=50).count() > 0

    rounds = G.LAST_SUPERSTEPS[loop]
    assert len(rounds) >= 2
    assert [s.round for s in rounds] == list(range(1, len(rounds) + 1))
    exchanges = [count_exchanges(s.plan) for s in rounds]
    assert max(exchanges) <= ROUND_EXCHANGE_BUDGET[loop], (
        f"{loop} per-round shuffle exchanges {exchanges} — the "
        f"broadcast-regime round regressed:\n{rounds[-1].plan[:1200]}"
    )
    if loop == "cc":
        for s in rounds:
            assert has_node(s.plan, "BroadcastHashJoin")
            assert not has_node(s.plan, "SortMergeJoin")
            assert has_node(s.plan, "ReusedExchange"), "nb broadcast not reused"


def test_cc_scale_regime_round_keys_the_join_on_the_partition_key(spark):
    """The scale-regime round (labeling above the broadcast threshold)
    must key its neighbour-min join on ``src`` — the edge checkpoint's
    preserved clustering+ordering — so the per-round sort-merge join
    never re-shuffles or re-sorts the EDGE side; only the labeling moves.
    Pinned by plan shape: the captured round has no exchange whose
    partitioning leads with the edge table's join column (src exchanges
    would be edge-side), while labeling-side exchanges are allowed.  Both
    regimes must produce the identical labeling."""
    from seisdb_spark.functions.graph import LAST_SUPERSTEPS

    pairs = [(i, i + 1) for i in range(60)]
    labels_b, rounds_b = connected_components(
        _pairs_df(spark, pairs), "doc_a", "doc_b"
    )
    got_b = {r.v: r.component for r in labels_b.collect()}

    # force the scale regime by shrinking the broadcast threshold to 0,
    # and give the edge checkpoint a REALISTIC partition count (a scale
    # corpus is never 1 partition; with exactly 1, EnsureRequirements
    # declines the co-partitioning and re-shuffles both sides — the
    # degenerate tiny-graph-at-scale-regime combination that only a
    # forced-threshold test produces)
    import seisdb_spark.functions.graph as G

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_rows_per_task = G.EDGE_ROWS_PER_TASK
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "0")
    G.EDGE_ROWS_PER_TASK = 16
    try:
        labels_s, rounds_s = connected_components(
            _pairs_df(spark, pairs), "doc_a", "doc_b"
        )
        got_s = {r.v: r.component for r in labels_s.collect()}
        scale_plans = [s.plan for s in LAST_SUPERSTEPS["cc"]]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        G.EDGE_ROWS_PER_TASK = old_rows_per_task

    assert got_s == got_b == _truth_min_labels(pairs)
    # one-hop scale rounds need more rounds than two-hop broadcast rounds
    assert rounds_s >= rounds_b
    import re

    for p in scale_plans:
        # the edge scan must feed its join directly: no Exchange (or Sort)
        # re-clusters the checkpointed edge side — its preserved
        # hashpartitioning(src) + sort order satisfy the SMJ requirement.
        # The labeling side (Scan ExistingRDD[v,l]) may shuffle freely.
        for mm in re.finditer(
            r"(Exchange hashpartitioning|Sort \[src)[^\n]*\n"
            r"(?:[^\n]*\n)?[^\n]*Scan ExistingRDD\[src#",
            p,
        ):
            raise AssertionError(
                f"edge-side exchange/sort re-appeared:\n...{mm.group(0)}..."
            )
