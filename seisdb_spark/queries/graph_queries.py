"""Graph-analytics surface beyond connected components: fixed-point
PageRank, degree-oriented triangle counting, k-core peeling, and
multi-source BFS.

functions/graph.py gives the engine pointer-jumping connected components
(the dedup-cluster workhorse); this module adds the OTHER canonical
distributed graph primitives — iterative rank propagation (PageRank),
local-structure counting (triangles / clustering coefficient), density
peeling (k-core), and reachability/distance (multi-source BFS hop
counts) — each expressed as plain DataFrame joins+aggregates, which is
exactly how they run on any Spark cluster (GraphX/GraphFrames do the
same join-shuffle per superstep / neighborhood-intersection under the
hood).  The driver-loop operators (k-core, BFS, SSSP, and WCC via
functions/graph.py) run on the shared ``superstep_loop`` primitive,
which records each round's executed plan in ``LAST_SUPERSTEPS`` so the
scale harness can assert superstep plan shape; they register with
``fixpoint=True`` so the bench/tier harnesses time the loop honestly
(it runs at plan build under the registry cache).

Exact-integer discipline: ranks live in BIGINT "nano-rank" units
(initial rank 10^9 per node) and every per-edge contribution is a BIGINT
floor division (``pr div out_degree`` — truncation == floor for the
all-positive ranks here), so three iterations produce bit-identical
BIGINTs on any engine and the result value-hashes.  The float form's
sum-order drift is structurally impossible.  Triangle counts and
clustering-coefficient fractions are exact integers outright.

The batch PageRank is split into stage functions (``pagerank_pairs`` /
``pagerank_edges`` / ``pagerank_topk``) and the streaming edge-
maintenance twin ``streaming_pagerank_topk`` in streaming_queries.py
runs those SAME stages over its compacted edge log — the funnel/gap-fill
observation-log pattern applied to graphs (per-microbatch distinct
(part, supplier) pairs are the persisted state; distinct-of-a-union
equals distinct-of-union-of-distincts, so the merged log is
split-invariant and the twin shares the batch oracle verbatim).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from seisdb_spark.functions.graph import (
    connected_components,
    fits_broadcast,
    partitioned_edge_checkpoint,
    release_checkpoint,
    superstep_loop,
    symmetrize,
)
from seisdb_spark.plancheck import has_node
from seisdb_spark.queries.registry import query, register_session_checkpoint
from seisdb_spark.sources.tables import load_table


def round_plans_ok(plans: list[str]) -> bool:
    """Scale-harness predicate over captured driver-loop round plans: at
    least one round ran, and every round's executed superstep is
    equi-join-only (no cartesian / nested-loop of real extents),
    partition-local (no global range sort), JVM-side (no Python boundary),
    and reads its predecessor through a checkpoint scan (Scan ExistingRDD)
    instead of re-running the whole loop history's lineage.

    An ``EmptyRelation`` round is accepted in place of the checkpoint
    scan: with the gated broadcast of the round state (r18), AQE's
    empty-relation propagation collapses a round whose broadcast frontier
    is empty (BFS's terminating round) into a no-op plan that scans
    nothing — it trivially cannot re-run loop history, which is what the
    ExistingRDD requirement certifies."""
    return bool(plans) and all(
        not has_node(p, "CartesianProduct")
        and not has_node(p, "NestedLoopJoin")
        and not has_node(p, "rangepartitioning")
        and not has_node(p, "BatchEvalPython")
        and (has_node(p, "ExistingRDD") or has_node(p, "EmptyRelation"))
        for p in plans
    )


#: nano-rank scale: initial mass per node.
PR_SCALE = 1_000_000_000
#: damping 0.85 split into the exact-integer base + factor.
PR_BASE = 150_000_000  # (1 - 0.85) * PR_SCALE
PR_ITERS = 3
PR_TOPK = 20

#: triangle report size (top nodes by triangle participation).
TRI_TOPK = 50


def _pagerank_oracle() -> str:
    base = f"""
        WITH pairs AS (
            SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        ), e AS (
            SELECT 2 * l_partkey AS src, 2 * l_suppkey + 1 AS dst FROM pairs
            UNION ALL
            SELECT 2 * l_suppkey + 1, 2 * l_partkey FROM pairs
        ), deg AS (
            SELECT src, count(*) AS d FROM e GROUP BY src
        ), it0 AS (
            SELECT src AS node, CAST({PR_SCALE} AS BIGINT) AS pr FROM deg
        )"""
    for i in range(1, PR_ITERS + 1):
        base += f""", it{i} AS (
            SELECT e.dst AS node,
                   CAST({PR_BASE} + (85 * sum(r.pr // deg.d)) // 100
                        AS BIGINT) AS pr
            FROM e
            JOIN it{i - 1} r ON e.src = r.node
            JOIN deg ON e.src = deg.src
            GROUP BY e.dst
        )"""
    return base + f"""
        SELECT node AS node_id,
               CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END
                   AS node_kind,
               pr AS pr_nano
        FROM it{PR_ITERS}
        ORDER BY pr DESC, node
        LIMIT {PR_TOPK}
    """


def pagerank_pairs(li: DataFrame) -> DataFrame:
    """DISTINCT (part, supplier) pairs — the per-microbatch compaction
    stage shared by the batch query and the streaming edge-log twin
    (``streaming_pagerank_topk``): each arriving lineitem slice compacts
    to its distinct pairs, and because distinct-of-a-union equals
    distinct-of-union-of-distincts, the merged log is split-invariant by
    construction (the re-distinct happens in ``pagerank_edges``)."""
    return li.select("l_partkey", "l_suppkey").distinct()


def pagerank_edges(pairs: DataFrame) -> DataFrame:
    """Symmetrized edge+out-degree table from DISTINCT (part, supplier)
    pairs — the persisted side of every superstep, shared verbatim by the
    batch query and the streaming edge-log twin (node ids 2*part /
    2*supplier+1, so every node has out-degree >= 1 and the edge set is
    closed).  Returned as a lazy localCheckpoint: it materializes the
    first time the plan executes and every superstep joins the persisted
    copy instead of re-running the scan + distinct + degree window — the
    'persist the edges, shuffle only ranks' shape every production
    PageRank uses.  (Under the registry plan cache the checkpoint then
    lives for the session — acceptable for the query-at-a-time harness
    and a few MB at driver scale; a long-lived multi-graph service calls
    registry.clear_plan_cache, which evicts the plans and releases the
    checkpoints registered below — the r16 watch item's hook.)
    """
    pairs = pagerank_pairs(pairs)
    fwd = pairs.select(
        (2 * F.col("l_partkey")).alias("src"),
        (2 * F.col("l_suppkey") + 1).alias("dst"),
    )
    rev = pairs.select(
        (2 * F.col("l_suppkey") + 1).alias("src"),
        (2 * F.col("l_partkey")).alias("dst"),
    )
    edges = fwd.unionByName(rev).select(
        F.col("src").cast("bigint").alias("src"),
        F.col("dst").cast("bigint").alias("dst"),
    )
    # out-degree via a src-partitioned window: the per-iteration rank join
    # then lands on already-co-located keys instead of adding a deg join.
    # The checkpoint is built AQE-off (r18, functions/graph._aqe_off) so
    # the window's hashpartitioning(src) + sort survive into the
    # checkpoint scan: the rank seed's distinct(src) plans with no
    # exchange, and a scale-regime (non-broadcast) rank join sort-merges
    # against the edge side without re-shuffling or re-sorting it — the
    # documented 'persist the edges, shuffle only ranks' shape, now
    # literal in the plan.
    from seisdb_spark.functions.graph import _aqe_off

    win = edges.withColumn(
        "d", F.count(F.lit(1)).over(Window.partitionBy("src"))
    ).sortWithinPartitions("src")
    with _aqe_off(pairs.sparkSession):
        cp = win.localCheckpoint(eager=False)
    register_session_checkpoint(cp)
    return cp


def pagerank_topk(edges_deg: DataFrame) -> DataFrame:
    """PR_ITERS damped BIGINT supersteps over a pagerank_edges() table,
    then the top-PR_TOPK report — shared by the batch query and the
    streaming twin's compaction.

    Overflow headroom (the anomaly-gate discipline: state the bound where
    the arithmetic lives): the per-node update is ``PR_BASE +
    (85 * sum(c)) div 100`` in BIGINT with ANSI off, so the one term that
    can grow is ``85 * sum(c)``.  Every contribution c = pr div d <= pr,
    and the total rank mass is <= |V| * PR_SCALE at every iteration
    (damping only shrinks it: M_{t+1} <= 0.15e9*|V| + 0.85*M_t, M_0 =
    |V|*1e9), so even a hub receiving EVERY edge's contribution has
    sum(c) <= |V| * 1e9 and the update stays below 2^63 while |V| <
    ~1.08e8 nodes.  Beyond ~10^8 nodes (far past any driver SF; reachable
    at 100 TB) Spark would wrap where DuckDB raises — drop PR_SCALE to
    10^6 or pre-assert ``max(sum of in-contributions) < (2^63 - PR_BASE)
    / 85 / 100`` before trusting cross-engine hashes there.
    """
    # seed from the CHECKPOINTED table — seeding from the raw edge lineage
    # would re-run it once more per action just to list the nodes
    ranks = edges_deg.select("src").distinct().select(
        F.col("src").alias("node"), F.lit(PR_SCALE).cast("bigint").alias("pr")
    )
    for _ in range(PR_ITERS):
        # SHUFFLE_HASH on the rank side (r19, guide §3.1): the rank table
        # is |V| rows partitioned by the join key, so the per-partition
        # hash build is |V|/N rows at ANY scale — the textbook build side
        # for this join.  Without the hint AQE converted iterations 2-3 to
        # a broadcast of the EDGE side (its LogicalRDD size is known
        # before the rank exchange materializes, so the eager SMJ->BHJ
        # rewrite fires on the wrong side): two ~30 MB hash-relation
        # builds per execution at sf0.1.  Interleaved A/B, identical
        # top-20: auto 0.761 s -> merge-hint 0.659 -> shuffle_hash 0.611.
        # Join results are strategy-independent (exact integer ranks).
        r = ranks.hint("shuffle_hash")
        contribs = edges_deg.join(
            r, edges_deg.src == r.node
        ).select("dst", F.expr("pr div d").alias("c"))
        ranks = contribs.groupBy("dst").agg(
            (
                F.lit(PR_BASE) + F.expr("(85 * sum(c)) div 100")
            ).cast("bigint").alias("pr")
        ).select(F.col("dst").alias("node"), "pr")
    return (
        ranks.select(
            F.col("node").alias("node_id"),
            F.when(F.col("node") % 2 == 0, F.lit("part"))
            .otherwise(F.lit("supplier"))
            .alias("node_kind"),
            F.col("pr").alias("pr_nano"),
        )
        .orderBy(F.desc("pr_nano"), "node_id")
        .limit(PR_TOPK)
    )


@query(
    "graph_pagerank_topk",
    oracle=_pagerank_oracle(),
    doc="FIXED-POINT PAGERANK, TOP-K (iterative rank propagation — the "
    "graph-analytics class connected components does not cover): the "
    "part-supplier bipartite graph from DISTINCT lineitem pairs, "
    "symmetrized (node ids 2*part / 2*supplier+1, so every node has "
    "out-degree >= 1 and the edge set is closed), run for exactly 3 "
    "damped iterations in BIGINT nano-rank fixed point: contribution = "
    "pr div out_degree (floor), new pr = 0.15e9 + (85 * sum) div 100 — "
    "all-integer, so both engines produce bit-identical ranks and the "
    "top-20 (rank desc, node id) value-hashes exactly (overflow "
    "headroom |V| < ~1.08e8 nodes, derived in pagerank_topk's "
    "docstring).  Spark shape: the oracle's CTE chain IS the Spark plan "
    "— per iteration ONE src-keyed equi-join (ranks are |nodes| rows, "
    "edges the big side) plus ONE dst-keyed combiner aggregate; "
    "out-degrees come from a src-partitioned window so the join reuses "
    "that partitioning.  At 100 TB the edge table is persisted once and "
    "every superstep shuffles only the rank table — implemented: the "
    "edge+degree table is a lazy localCheckpoint, built the first time "
    "the plan executes and joined by every superstep after that.  "
    "TakeOrdered bounds the driver transfer to k rows.",
    bench=True,
)
def graph_pagerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return pagerank_topk(pagerank_edges(li))


# ---------------------------------------------------------------------------
# Triangle counting / clustering coefficient (local structure)
# ---------------------------------------------------------------------------
def copurchase_edges(li: DataFrame) -> DataFrame:
    """Canonical (u < v) part co-purchase edges: two parts are adjacent
    iff some order contains both.  ONE orderkey-keyed exchange collects
    each order's part set (bounded: TPC-H orders have <= 7 lines, so the
    map-side pair expansion is <= 21 rows per order — never a growing
    per-key state), then one (u, v)-keyed distinct.  Returned as a lazy
    localCheckpoint: degrees, orientation, and the closing-edge probe all
    reuse the materialized edge set instead of re-running the scan."""
    by_order = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("ps")
    )
    pairs = (
        by_order.select(F.explode("ps").alias("u"), "ps")
        .select("u", F.explode("ps").alias("v"))
        .where(F.col("u") < F.col("v"))
    )
    cp = (
        pairs.select(
            F.col("u").cast("bigint").alias("u"),
            F.col("v").cast("bigint").alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    # tracked so clear_plan_cache can release it: the triangle census's
    # CACHED plan reads this checkpoint on every execution (loop queries
    # release their copy at build time instead — double-release of an
    # already-unpersisted RDD is a no-op, so both disciplines coexist)
    register_session_checkpoint(cp)
    return cp


def copurchase_obs(li: DataFrame) -> DataFrame:
    """DISTINCT (l_orderkey, l_partkey) observations over the FULL
    lineitem — the per-microbatch compaction stage of the streaming
    triangle twin (``streaming_triangle_counts``), the unwindowed sibling
    of :func:`wcc_obs`: distinct-of-a-union equals distinct-of-union-of-
    distincts, so the merged observation log is split-invariant by
    construction even when one order's lineitems arrive across
    microbatches (``copurchase_edges`` re-dedups via collect_set on the
    read side).  The batch census does NOT route through this stage:
    collect_set subsumes the distinct, and the extra (order, part)-keyed
    exchange would double the batch edge derivation's shuffle count for
    no value change."""
    return li.select("l_orderkey", "l_partkey").distinct()


def _tri_oracle() -> str:
    return f"""
        WITH ps AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), e AS (
            SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM ps a
            JOIN ps b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
        ), deg AS (
            SELECT node, CAST(count(*) AS BIGINT) AS d
            FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
            GROUP BY node
        ), tri AS (
            SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM e e1
            JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
            JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
        ), pn AS (
            SELECT node, CAST(count(*) AS BIGINT) AS tri
            FROM (
                SELECT a AS node FROM tri
                UNION ALL SELECT b FROM tri
                UNION ALL SELECT c FROM tri
            )
            GROUP BY node
        )
        SELECT CAST(deg.node AS BIGINT) AS part_id,
               deg.d AS degree,
               CAST(COALESCE(pn.tri, 0) AS BIGINT) AS tri_count,
               CAST(2 * COALESCE(pn.tri, 0) AS BIGINT) AS cc_num,
               CAST(deg.d * (deg.d - 1) AS BIGINT) AS cc_den
        FROM deg LEFT JOIN pn ON pn.node = deg.node
        ORDER BY tri_count DESC, part_id
        LIMIT {TRI_TOPK}
    """


@query(
    "graph_triangle_counts",
    oracle=_tri_oracle(),
    doc="DEGREE-ORIENTED TRIANGLE COUNTING + CLUSTERING COEFFICIENT (the "
    "graph family's third algorithm class: CC = connectivity, PageRank "
    "= propagation, triangles = LOCAL structure) over the part "
    "co-purchase graph (parts adjacent iff some order contains both; "
    "~116k edges / 2k nodes at sf0.01 — avg degree ~116, constant in "
    "SF, so edges and wedges both scale linearly).  Engine shape: "
    "canonical u<v edges from ONE bounded orderkey collect_set + pair "
    "expansion (orders have <= 7 lines), localCheckpointed once; each "
    "edge is then ORIENTED from its lower-(degree, id) endpoint to the "
    "higher one — the classic wedge-bounding trick: out-degrees are "
    "O(sqrt(m)) regardless of hub skew, so a hub of degree 10^6 at "
    "100 TB contributes ~m wedge candidates, not 10^12.  The census is "
    "the edge-iterator ADJACENCY-INTERSECTION form: per-apex sorted "
    "out-neighbor arrays (each <= O(sqrt(m)) ints) attach to both "
    "endpoints of every edge via two m-row equi-joins and "
    "array_intersect enumerates wedge candidates IN-STAGE — wedge rows "
    "are never serialized to shuffle (the wedge self-join form spills "
    "Theta(wedge-rows) of per-row overhead; it filled the disk at the "
    "x100 tier — see triangle_census), and everything after the "
    "intersection is one row per TRIANGLE.  Every triangle is found "
    "EXACTLY once (its lowest two corners in the orientation order), "
    "so per-node participation = the three corner streams + ONE count "
    "aggregate.  All equi-joins, no cartesian anywhere; TakeOrdered "
    "bounds the report to the top-50 (tri_count desc, part_id) with "
    "the exact clustering-coefficient fraction 2*tri / d*(d-1) as "
    "BIGINT numerator/denominator (no float division to hash).  The "
    "ORACLE is deliberately the textbook unoriented 3-way self-join — "
    "an independent formulation whose exact integer counts must agree.",
    bench=True,
)
def graph_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return triangle_census(copurchase_edges(li))


def triangle_census(edges: DataFrame, topk: int | None = TRI_TOPK) -> DataFrame:
    """Degree-oriented triangle census over a canonical (u < v) edge set —
    the stage behind ``graph_triangle_counts``, split out so a planted
    graph (tests/test_temporal_graph.py) drives the exact same plan the
    query runs on the co-purchase graph.

    Engine shape — ADJACENCY INTERSECTION, not wedge materialization.
    The r14 scale tier caught the textbook wedge self-join form filling
    the disk at x100: the census is Theta(m * sqrt(m)) wedge CANDIDATES
    either way (sf0.1 measures 41M wedges / 1.2M edges / 1.9M
    triangles), but exploding them as shuffle ROWS pays ~30 bytes of
    per-row shuffle overhead on 4.1B rows at x100 — >120 GB of spill for
    ~16 GB of payload.  The edge-iterator form ships the SAME information
    as per-node sorted out-neighbor ARRAYS instead: each oriented edge
    (u, v) picks up nbrs(u) and nbrs(v) via two m-row equi-joins, and
    ``array_intersect`` enumerates the wedge candidates INSIDE the stage
    — they are never serialized, so shuffle volume drops from
    Theta(wedge rows) to the array payload (2x wedges of ints, packed
    and lz4-friendly) and the post-intersect traffic is one row per
    TRIANGLE, not per wedge.  Orientation from the lower-(degree, id)
    endpoint still bounds every array at O(sqrt(m)) regardless of hub
    skew (max oriented out-degree at sf0.1: 97 vs degree max ~1.5k).

    Exactly-once: triangle {a, b, c} in orientation order has its third
    corner c in nbrs(a) INTERSECT nbrs(b) only at edge (a, b) — at edge
    (a, c), b is in nbrs(a) but not nbrs(c) (c->b is not an oriented
    edge).  Per-node participation: u and v each join |I| triangles, each
    w in I joins one — three corner streams, one count aggregate."""
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    # orient each edge from its lower-(degree, id) endpoint: join the two
    # endpoint degrees (keyed equi-joins; AQE broadcasts the |V|-row deg
    # table when it fits), then pick src/dst by the (d, id) total order.
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    ordered = edges.join(du, "u").join(dv, "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oe = ordered.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )
    # Parallelism floor for the compute-bound intersection stage (r18,
    # guide §2.5/§1): the adjacency-intersection work is CPU-heavy per
    # row (a hash-set build + probe per edge over O(sqrt m) arrays), but
    # the stage inherits the edge checkpoint's BYTE-sized partitioning —
    # AQE coalesces the ~20 MB sf0.1 edge set to ~5 partitions, so the
    # intersect ran on 5 of 32 cores (measured: census 3.9 s -> 2.1 s
    # with this exchange).  Repartition the skinny pre-join rows (16
    # B/row — the cheap side to move) by the first join key, to
    # max(default parallelism, the input's own partition count): small
    # inputs get full cores, while an already byte-partitioned x100-scale
    # checkpoint keeps its larger count (reading getNumPartitions off a
    # checkpoint is metadata, not a job).
    try:
        n_in = edges.rdd.getNumPartitions()
    except Exception:
        n_in = 0
    probe_parts = max(
        edges.sparkSession.sparkContext.defaultParallelism, n_in
    )
    oe = oe.repartition(probe_parts, "dst")
    # per-apex sorted out-neighbor arrays (bounded at O(sqrt(m)) by the
    # orientation), attached to each edge's two endpoints by m-row
    # equi-joins; the intersection enumerates wedge candidates in-stage.
    adj = oe.groupBy("src").agg(
        F.array_sort(F.collect_list("dst")).alias("nbrs")
    )
    av = adj.select(F.col("src").alias("v_key"), F.col("nbrs").alias("nbrs_v"))
    au = adj.select(F.col("src").alias("u_key"), F.col("nbrs").alias("nbrs_u"))
    per_edge = (
        oe.join(av, oe.dst == av.v_key)  # skinny m-row shuffle on dst
        .join(au, oe.src == au.u_key)  # array payload shuffles on src
        .select(
            "src",
            "dst",
            F.array_intersect("nbrs_u", "nbrs_v").alias("common"),
        )
        .select("src", "dst", "common", F.size("common").alias("cnt"))
        .where(F.col("cnt") > 0)
    )
    # ONE explode over one concatenated corner array — a two-branch union
    # here would re-execute the whole per_edge lineage (the intersect, the
    # census's dominant cost) once per branch; this keeps it single-pass.
    corners = per_edge.select(
        F.explode(
            F.concat(
                F.array(
                    F.struct(
                        F.col("src").alias("node"),
                        F.col("cnt").cast("bigint").alias("t"),
                    ),
                    F.struct(
                        F.col("dst").alias("node"),
                        F.col("cnt").cast("bigint").alias("t"),
                    ),
                ),
                F.expr(
                    "transform(common, w -> struct(w AS node, 1L AS t))"
                ),
            )
        ).alias("c")
    ).select(F.col("c.node").alias("node"), F.col("c.t").alias("t"))
    per_node = corners.groupBy("node").agg(
        F.sum("t").cast("bigint").alias("tri")
    )
    census = deg.join(per_node, "node", "left").select(
        F.col("node").alias("part_id"),
        F.col("d").alias("degree"),
        F.coalesce(F.col("tri"), F.lit(0)).cast("bigint").alias("tri_count"),
        (2 * F.coalesce(F.col("tri"), F.lit(0))).cast("bigint").alias("cc_num"),
        (F.col("d") * (F.col("d") - 1)).cast("bigint").alias("cc_den"),
    )
    if topk is None:
        # the unbounded census is a per-node table — sorting it globally
        # just to drop no rows is wasted work at scale (r14 advice);
        # consumers that need an order sort the bounded result themselves
        return census
    return census.orderBy(F.desc("tri_count"), "part_id").limit(topk)


# ---------------------------------------------------------------------------
# k-core decomposition (density peeling)
# ---------------------------------------------------------------------------
#: the core threshold: avg co-purchase degree is ~116 at every SF, and the
#: probe sweep showed k=80 is the interesting regime — a real multi-round
#: peeling cascade (5 rounds at sf0.01) that leaves a strict, non-empty
#: core (1857 of 2000 nodes); k >= 90 collapses the whole graph (also a
#: valid exact answer, but a vacuous driver row).
KCORE_K = 80
#: loud convergence bound: the oracle unrolls exactly this many peels, so
#: the engine must reach the fixpoint within it (observed <= 5; 24 is the
#: ~5x margin the PR overflow-headroom discipline calls for).
KCORE_MAX_PEELS = 24


def kcore_core(
    edges: DataFrame, k: int = KCORE_K, max_peels: int = KCORE_MAX_PEELS
) -> DataFrame:
    """Fixpoint k-core peeling over a canonical (u < v) edge set: drop
    every node with degree < k, re-derive degrees, repeat until the edge
    set stops changing; return the core membership (part_id,
    core_degree).

    Representation (r18, guide §2.4): the survivor set is held SYMMETRIC
    ((src, dst) both directions, one explode — so degree(n) = count of
    rows with src = n, no per-round two-scan union) and checkpointed
    hash-partitioned by ``src`` with the partitioning preserved into the
    checkpoint scan (functions/graph.partitioned_edge_checkpoint), so
    the per-round degree aggregate needs NO exchange and the src-keyed
    survivor semi-join needs no edge-side shuffle.

    Each peel is ONE :func:`superstep_loop` statement (degree filter +
    both semi-joins; the keep CTE's two broadcast-hinted references share
    one computation via ReuseExchange) and ONE driver action: the survivor
    count materializes the round's checkpoint and is the convergence
    certificate — peeling only removes edges, so an unchanged (or zero)
    count is the fixpoint.  The broadcast gate uses the initial node
    count — a valid bound every round, since peeling only removes nodes.
    Gated rounds are exchange-free, so their checkpoints are built AQE-off
    to carry the src partitioning into the next round; above the session
    threshold the hints drop, and the round keeps shuffle joins that AQE
    skew-handles (at that scale the dst-keyed semi-join shuffles anyway).

    Raises RuntimeError if the fixpoint is not reached within
    ``max_peels``: the DuckDB oracle unrolls exactly that many peels, so
    an unconverged engine result would be compared against a
    mid-cascade oracle state — fail loudly instead (observed rounds at
    driver SFs: <= 5)."""
    n_canonical = edges.count()  # sizes the symmetric layout
    e = partitioned_edge_checkpoint(
        symmetrize(edges, "u", "v"), "src", 2 * n_canonical, eager=False
    )
    # one aggregate action: materializes the symmetric checkpoint AND
    # yields the node count that gates every round's broadcast hints
    first = e.agg(F.count(F.lit(1)), F.countDistinct("src")).first()
    broadcast_keep = fits_broadcast(edges.sparkSession, int(first[1] or 0))
    hint = "/*+ BROADCAST(ku), BROADCAST(kv) */ " if broadcast_keep else ""
    peel = (
        f"WITH keep AS (SELECT src FROM {{e}} "
        f"GROUP BY src HAVING count(*) >= {int(k)})\n"
        f"SELECT {hint}e.src, e.dst FROM {{e}} e "
        f"JOIN keep ku ON e.src = ku.src JOIN keep kv ON e.dst = kv.src"
    )
    core, _ = superstep_loop(
        "kcore",
        {"e": e},
        "e",
        lambda _: peel,
        [F.count(F.lit(1))],
        lambda prev, cert: cert in (prev, (0,)),
        (first[0],),
        max_peels,
        aqe_off=broadcast_keep,
        cap_error=(
            f"k-core peeling did not converge within {max_peels} rounds — "
            "the unrolled oracle would compare a mid-cascade state; raise "
            "KCORE_MAX_PEELS (and regenerate the oracle) deliberately"
        ),
    )
    # at the fixpoint every endpoint has degree >= k by construction;
    # degrees read straight off the symmetric survivor set, exchange-free
    # when its partitioning survived (broadcast regime)
    return (
        core.groupBy("src")
        .agg(F.count(F.lit(1)).cast("bigint").alias("core_degree"))
        .select(F.col("src").cast("bigint").alias("part_id"), "core_degree")
    )


def _kcore_oracle() -> str:
    # every CTE is MATERIALIZED: DuckDB inlines plain CTEs at each
    # reference, and e{{i}} references e{{i-1}} four times (degree union
    # twice + two IN subqueries) — inlining would duplicate the base
    # scan ~4^N times and die on open file handles before planning
    base = """
        WITH ps AS MATERIALIZED (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), e0 AS MATERIALIZED (
            SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM ps a
            JOIN ps b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
        )"""
    prev = "e0"
    for i in range(1, KCORE_MAX_PEELS + 1):
        base += f""", s{i} AS MATERIALIZED (
            SELECT n FROM (
                SELECT n, count(*) AS d FROM (
                    SELECT u AS n FROM {prev}
                    UNION ALL SELECT v FROM {prev}
                ) GROUP BY n
            ) WHERE d >= {KCORE_K}
        ), e{i} AS MATERIALIZED (
            SELECT u, v FROM {prev}
            WHERE u IN (SELECT n FROM s{i})
              AND v IN (SELECT n FROM s{i})
        )"""
        prev = f"e{i}"
    return base + f"""
        SELECT CAST(n AS BIGINT) AS part_id,
               CAST(count(*) AS BIGINT) AS core_degree
        FROM (
            SELECT u AS n FROM {prev}
            UNION ALL SELECT v FROM {prev}
        )
        GROUP BY n
    """


@query(
    "graph_kcore_membership",
    oracle=_kcore_oracle(),
    doc=f"K-CORE DECOMPOSITION (the graph family's fourth algorithm "
    "class — density peeling, next to CC's connectivity, PageRank's "
    "propagation, and the triangle census's local structure; the "
    "canonical graph-quality / spam-farm filter in web-corpus "
    f"curation): the {KCORE_K}-core of the part co-purchase graph — "
    "iteratively drop nodes with degree < k until every survivor has "
    "core degree >= k, return the membership with exact core degrees.  "
    "Engine shape: a driver-side fixpoint loop whose state is two edge "
    "COUNTS; each peel is one degree aggregate + two node-keyed "
    "semi-filter equi-joins over the symmetric, src-partitioned "
    "localCheckpointed survivor set (r18: the preserved partitioning "
    "makes the degree aggregate exchange-free and the round costs ONE "
    "driver action - the keep set is folded into the survivor plan and "
    "deduplicated by ReuseExchange), "
    "so per-round cost shrinks with the cascade and nothing corpus-"
    "sized ever reaches the driver.  Peeling is anti-monotone — NOT "
    "expressible as one Catalyst plan or a recursive CTE with a "
    "single self-reference — which is exactly why the loop is the "
    "honest form; the ORACLE unrolls the peel exactly KCORE_MAX_PEELS "
    f"(= {KCORE_MAX_PEELS}) times (the PageRank unrolled-CTE pattern) "
    "and the engine raises loudly if the fixpoint needs more rounds "
    "(observed: 5 at sf0.01), so both engines provably describe the "
    "same iterate.  Exact integer degrees; the fixpoint is unique "
    "(k-cores are order-independent), so the membership value-hashes.  "
    "fixpoint=True: the peel runs at plan build, so the bench/tier "
    "harnesses defeat the plan cache and time construction+execution — "
    "the headline number prices the cascade, not the final aggregate.",
    bench=True,
    fixpoint=True,
)
def graph_kcore_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    e = copurchase_edges(li)
    # the returned membership reads only the loop's own (materialized)
    # symmetric survivor checkpoints, so the canonical co-purchase
    # checkpoint is dead once the peel exits — before r18 every fixpoint
    # bench pass leaked one edge-set RDD for the session (the sssp/bfs/wcc
    # wrappers already released theirs); finally so a mid-loop failure
    # cannot skip it.
    try:
        return kcore_core(e)
    finally:
        release_checkpoint(e)


# ---------------------------------------------------------------------------
# Multi-source BFS hop distance (reachability / distance)
# ---------------------------------------------------------------------------
#: seed set: graph nodes whose part id is divisible by this (deterministic,
#: present at every SF, and preserved by the graphscale replica offsets —
#: ID_OFFSET = 10^7 is a multiple, so every disjoint copy carries its own
#: seeds and the hop table replicates exactly; 2 seeds at sf0.01, 20 at
#: sf0.1).
BFS_SEED_MOD = 1000
#: hop cap: the engine expands exactly this many frontiers (early-exiting
#: when one empties — a pure optimization) and the oracle unrolls the same
#: ladder, so "hop distance to the nearest seed, capped at BFS_MAX_HOPS" is
#: a TOTAL semantics — no convergence guard needed, unlike the k-core
#: fixpoint (observed: the co-purchase graph is fully reached by hop 2 at
#: driver SFs; 6 is the same ~3x margin discipline).
BFS_MAX_HOPS = 6


def bfs_hops(
    edges: DataFrame,
    seed_mod: int = BFS_SEED_MOD,
    max_hops: int = BFS_MAX_HOPS,
) -> DataFrame:
    """Multi-source BFS hop distance over a canonical (u < v) edge set:
    seeds are nodes divisible by ``seed_mod``; returns (part_id, hops) =
    distance to the NEAREST seed for every node within ``max_hops``.

    Engine shape — the frontier-expansion superstep: per round ONE
    :func:`superstep_loop` statement (a src-keyed equi-join of the
    symmetrized edges against the checkpointed previous frontier, a dst
    distinct, and an anti-join against the visited set); driver state is
    ONE scalar (frontier size, which is also the certificate: an empty
    frontier can never refill).  Each new frontier is folded into the hop
    table, a union of <= max_hops checkpointed frontiers — all of them
    part of the OUTPUT, so unlike k-core's survivor sets nothing is freed
    early, but the held-checkpoint count is bounded by the hop cap.

    Regimes, per round from exact counts (guide 3.1/2.4): a frontier that
    fits the session broadcast threshold is broadcast against the
    stateless symmetric projection, so the hop never shuffles edge rows
    (materializing a second 2m-row copy up front costs more than it saves
    at driver SFs — measured +0.2 s/pass).  Above it, the hop sort-merges
    against a symmetric copy checkpointed hash-partitioned + sorted by
    src, built on the first such hop; only the frontier moves per hop.

    BFS levels are set-unique (level h = nodes reachable in h hops and
    not fewer — independent of visit order), so the hop table value-hashes
    across engines."""
    spark = edges.sparkSession
    sym = symmetrize(edges, "u", "v")
    seeds = (
        # filter BEFORE the distinct (guide 2.3): the mod filter keeps
        # ~1/seed_mod of the rows, so the distinct aggregates a sliver of
        # the edge endpoints instead of all of them
        sym.select(F.col("src").alias("node"))
        .where(F.col("node") % seed_mod == 0)
        .distinct()
        .localCheckpoint(eager=False)
    )
    tables = {
        "e": sym,
        "ep": lambda: partitioned_edge_checkpoint(
            sym, "src", 2 * edges.count(), eager=False
        ),
        "f": seeds,
        "d": seeds.select("node", F.lit(0).cast("bigint").alias("hops")),
    }
    n_visited = 0

    def hop_sql(prev: tuple) -> str:
        nonlocal n_visited
        n_visited += prev[0]  # the seeds, then each new frontier
        if fits_broadcast(spark, prev[0]):
            e, h_f = "e", "/*+ BROADCAST(f) */ "
        else:
            e, h_f = "ep", ""
        h_d = "/*+ BROADCAST(d) */ " if fits_broadcast(spark, n_visited) else ""
        return (
            f"WITH ex AS (SELECT {h_f}DISTINCT e.dst AS node "
            f"FROM {{{e}}} e JOIN {{f}} f ON e.src = f.node)\n"
            f"SELECT {h_d}ex.node FROM ex "
            f"LEFT ANTI JOIN {{d}} d ON ex.node = d.node"
        )

    def fold(h: int, frontier: DataFrame) -> None:
        tables["d"] = tables["d"].unionByName(
            frontier.select("node", F.lit(h).cast("bigint").alias("hops"))
        )

    superstep_loop(
        "bfs",
        tables,
        "f",
        hop_sql,
        [F.count(F.lit(1))],
        lambda _, cert: cert == (0,),
        (seeds.count(),),
        max_hops,
        fold=fold,
    )
    return tables["d"].select(
        F.col("node").cast("bigint").alias("part_id"), F.col("hops").alias("hops")
    )


def _bfs_oracle() -> str:
    # MATERIALIZED for the same reason as the k-core oracle: f{i}
    # references d{i-1} twice (join + NOT IN) and d{i} references both, so
    # plain-CTE inlining would duplicate the base scan exponentially.
    base = """
        WITH ps AS MATERIALIZED (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), e0 AS MATERIALIZED (
            SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM ps a
            JOIN ps b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
        ), sym AS MATERIALIZED (
            SELECT u AS src, v AS dst FROM e0
            UNION ALL
            SELECT v, u FROM e0
        ), d0 AS MATERIALIZED (
            SELECT DISTINCT src AS node, 0 AS hops FROM sym
            WHERE src % {mod} = 0
        )""".format(mod=BFS_SEED_MOD)
    prev = "d0"
    for i in range(1, BFS_MAX_HOPS + 1):
        base += f""", f{i} AS MATERIALIZED (
            SELECT DISTINCT s.dst AS node
            FROM sym s
            JOIN {prev} d ON s.src = d.node AND d.hops = {i - 1}
            WHERE s.dst NOT IN (SELECT node FROM {prev})
        ), d{i} AS MATERIALIZED (
            SELECT node, hops FROM {prev}
            UNION ALL
            SELECT node, {i} FROM f{i}
        )"""
        prev = f"d{i}"
    return base + f"""
        SELECT CAST(node AS BIGINT) AS part_id,
               CAST(hops AS BIGINT) AS hops
        FROM {prev}
    """


# ---------------------------------------------------------------------------
# Bounded Bellman-Ford weighted shortest-path cost (relaxation)
# ---------------------------------------------------------------------------
#: deterministic positive integer edge weight, derived identically in both
#: engines: w(u, v) = 1 + (u + v) % 8.  The modulus 8 divides the
#: graphscale replica offset (10^7 = 2^7 * 5^7), so every disjoint copy
#: carries the SAME weights and the cost table replicates exactly — the
#: same invariance the seed modulus relies on.
SSSP_WEIGHT_MOD = 8
#: relaxation rounds: the engine runs UP TO this many, early-exiting at
#: the observed fixpoint (min-plus relaxation is monotone non-increasing,
#: so the skipped rounds are no-ops on the values — a pure optimization,
#: observed convergence at round 4 of 8 on the driver corpora); the
#: oracle unrolls the FULL ladder — "minimum path cost from any seed
#: using <= SSSP_MAX_EDGES edges" is a total semantics either way, no
#: convergence guard needed.
SSSP_MAX_EDGES = 8


def sssp_cost(
    edges: DataFrame,
    seed_mod: int = BFS_SEED_MOD,
    max_edges: int = SSSP_MAX_EDGES,
) -> DataFrame:
    """Bounded Bellman-Ford: minimum-cost path from the nearest seed
    (nodes divisible by ``seed_mod``) using at most ``max_edges`` edges,
    over a canonical (u < v) edge set with weights 1 + (u + v) %
    SSSP_WEIGHT_MOD.  Returns (part_id, min_cost) for reachable nodes.

    This is the RELAXATION class, not BFS's frontier class: a node's
    tentative cost can IMPROVE in later rounds (a cheap many-hop path
    beats an expensive direct edge — pinned by a planted pytest), so the
    loop state is the full tentative-cost table, re-derived and
    checkpointed each round by :func:`superstep_loop` (superseded rounds
    released), not an append-only union of frontiers.  Each round is
    ONE src-keyed equi-join of the weighted symmetric edge projection
    against the previous cost table + ONE min-combiner aggregate —
    map-side partials collapse the per-node candidate set before the
    shuffle, the textbook distributed Bellman-Ford superstep.  The edge
    side follows the BFS regimes (broadcast cost table over the stateless
    projection; a src-partitioned edge checkpoint, built on the first
    round over the threshold, above it).

    Certificate: the new table is a node-superset of the old (old rows
    pass through the min-combiner) and min-plus costs only DECREASE, so
    (row count, exact-BIGINT cost sum) is unchanged iff the table is
    unchanged; the loop exits there — a PURE optimization, every skipped
    round is a value no-op, so the result still equals the oracle's full
    unrolled ladder (observed: fixpoint at round ~4 of 8 at driver SFs).
    Exact BIGINT min-plus arithmetic (costs <= max_edges * 8), so the
    table value-hashes across engines."""
    spark = edges.sparkSession
    w = (F.lit(1) + (F.col("u") + F.col("v")) % SSSP_WEIGHT_MOD).cast("bigint")
    sym = symmetrize(edges.select("u", "v", w.alias("w")), "u", "v", "w")
    dist = (
        # filter BEFORE the distinct (guide 2.3): the mod filter keeps
        # ~1/seed_mod of the rows entering the aggregate
        sym.select(F.col("src").alias("node"))
        .where(F.col("node") % seed_mod == 0)
        .distinct()
        .select("node", F.lit(0).cast("bigint").alias("cost"))
        .localCheckpoint(eager=False)
    )
    cert_cols = [F.count(F.lit(1)), F.sum("cost").cast("bigint")]

    def relax_sql(prev: tuple) -> str:
        if fits_broadcast(spark, prev[0]):
            e, h_d = "e", "/*+ BROADCAST(d) */ "
        else:
            e, h_d = "ep", ""
        # the relax join is INLINED as the second union child rather than
        # bound through a CTE: Union's constraint propagation
        # (UnionBase.rewriteConstraints) crashes on a CTE-shaped child
        # whose constraints reference the pre-alias attribute ("key not
        # found: node#NNL" on this Spark) — the inline form plans the same
        return (
            f"SELECT node, min(cost) AS cost FROM (\n"
            f"  SELECT d.node, d.cost FROM {{d}} d\n"
            f"  UNION ALL\n"
            f"  SELECT {h_d}e.dst AS node, d.cost + e.w AS cost "
            f"FROM {{{e}}} e JOIN {{d}} d ON e.src = d.node\n"
            f") GROUP BY node"
        )

    costs, _ = superstep_loop(
        "sssp",
        {
            "e": sym,
            "ep": lambda: partitioned_edge_checkpoint(
                sym, "src", 2 * edges.count(), eager=False
            ),
            "d": dist,
        },
        "d",
        relax_sql,
        cert_cols,
        lambda prev, cert: cert == prev,
        tuple(dist.agg(*cert_cols).first()),
        max_edges,
    )
    return costs.select(
        F.col("node").cast("bigint").alias("part_id"),
        F.col("cost").alias("min_cost"),
    )


def _sssp_oracle() -> str:
    base = """
        WITH ps AS MATERIALIZED (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), e0 AS MATERIALIZED (
            SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM ps a
            JOIN ps b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
        ), symw AS MATERIALIZED (
            SELECT u AS src, v AS dst,
                   CAST(1 + (u + v) % {wmod} AS BIGINT) AS w FROM e0
            UNION ALL
            SELECT v, u, CAST(1 + (u + v) % {wmod} AS BIGINT) FROM e0
        ), d0 AS MATERIALIZED (
            SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS cost
            FROM symw WHERE src % {smod} = 0
        )""".format(wmod=SSSP_WEIGHT_MOD, smod=BFS_SEED_MOD)
    prev = "d0"
    for i in range(1, SSSP_MAX_EDGES + 1):
        base += f""", d{i} AS MATERIALIZED (
            SELECT node, MIN(cost) AS cost FROM (
                SELECT node, cost FROM {prev}
                UNION ALL
                SELECT s.dst, d.cost + s.w
                FROM symw s JOIN {prev} d ON s.src = d.node
            ) GROUP BY node
        )"""
        prev = f"d{i}"
    return base + f"""
        SELECT CAST(node AS BIGINT) AS part_id,
               CAST(cost AS BIGINT) AS min_cost
        FROM {prev}
    """


@query(
    "graph_sssp_cost",
    oracle=_sssp_oracle(),
    doc=f"BOUNDED BELLMAN-FORD SHORTEST-PATH COST (the graph family's "
    "SIXTH algorithm class — weighted relaxation; distinct from BFS's "
    "frontier expansion because a node's tentative cost can IMPROVE "
    "after first visit, so the loop state is the full cost table, not "
    "an append-only frontier union): minimum path cost from the "
    f"nearest seed (part ids divisible by {BFS_SEED_MOD}) using at "
    f"most {SSSP_MAX_EDGES} edges, weights 1 + (u + v) % "
    f"{SSSP_WEIGHT_MOD} (the modulus divides the graphscale replica "
    "offset, so the cost table replicates exactly under the derived "
    "corpus).  Engine shape: up to max_edges relaxation supersteps with "
    "early exit at the observed fixpoint (pure optimization — min-plus "
    "is monotone, skipped rounds are value no-ops; pytest pins that the "
    "exit engages AND that the result still equals the full ladder) — "
    "per round ONE src-keyed equi-join of the weighted symmetric edge "
    "projection against the checkpointed previous cost table + ONE "
    "min-combiner aggregate (map-side partials collapse candidates "
    "before the shuffle); superseded cost tables are released (the "
    "k-core discipline).  The BOUNDED round count keeps the semantics "
    "total: the oracle unrolls the full ladder and the engine stops at "
    "min(fixpoint, max_edges) — identical values either way, no "
    "convergence guard needed.  Exact BIGINT min-plus "
    "(costs <= 64), so the table value-hashes.  fixpoint=True: the "
    "loop runs at plan build — bench/tier harnesses defeat the plan "
    "cache and price it honestly.",
    bench=True,
    fixpoint=True,
)
def graph_sssp_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    e = copurchase_edges(li)
    # the returned cost table is the loop's final-round checkpoint (the
    # seed table and every superseded round are already released inside
    # sssp_cost), so the co-purchase checkpoint is dead once the loop
    # exits — same per-bench-pass leak as the WCC entry (r16 advice);
    # finally so a mid-loop failure cannot skip the release.
    try:
        return sssp_cost(e)
    finally:
        release_checkpoint(e)


@query(
    "graph_bfs_hops",
    oracle=_bfs_oracle(),
    doc=f"MULTI-SOURCE BFS HOP DISTANCE (the graph family's FIFTH "
    "algorithm class — reachability/distance, next to CC's connectivity, "
    "PageRank's propagation, the triangle census's local structure, and "
    "k-core's density peeling; the canonical landmark-distance / "
    "crawl-depth primitive): hop distance to the nearest seed (part ids "
    f"divisible by {BFS_SEED_MOD}) over the part co-purchase graph, "
    f"capped at {BFS_MAX_HOPS} frontier expansions.  Engine shape: a "
    "driver-side frontier loop whose state is ONE scalar (frontier "
    "size); each round is one src-keyed equi-join of the symmetrized "
    "edge projection against the localCheckpointed previous frontier + "
    "a dst distinct + an anti-join against the visited set — the "
    "superstep shape the graphscale tiers certify, with per-round cost "
    "proportional to the frontier's out-edges, never the whole graph.  "
    "The CAP makes the semantics total: the oracle unrolls exactly "
    f"{BFS_MAX_HOPS} rungs (empty rungs are no-ops), so engine and "
    "oracle provably describe the same iterate with no convergence "
    "guard.  BFS levels are set-unique (independent of visit order) and "
    "hop counts exact integers, so the table value-hashes.  "
    "fixpoint=True: the expansion runs at plan build — the bench/tier "
    "harnesses defeat the plan cache so the headline number prices the "
    "loop, not the final union scan.",
    bench=True,
    fixpoint=True,
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    e = copurchase_edges(li)
    # the returned hop table is a union of the loop's OWN checkpoints
    # (seeds + per-hop frontiers, all materialized by the round actions),
    # so the co-purchase checkpoint is dead once the expansion exits —
    # same per-bench-pass leak as the WCC entry (r16 advice); finally so
    # a mid-loop failure cannot skip the release.
    try:
        return bfs_hops(e)
    finally:
        release_checkpoint(e)


# ---------------------------------------------------------------------------
# Weakly-connected components (pointer-jumping label propagation)
# ---------------------------------------------------------------------------
#: edge window: only lineitems shipped BEFORE this date contribute
#: co-purchase edges.  The cutoff picks the percolation-interesting regime
#: the probe sweep found (the KCORE_K discipline): at sf0.01 the windowed
#: graph has 1,713 nodes in 42 components (giant 1,624, eccentricity 13
#: from its min node — a real multi-round pointer-jump cascade, observed
#: 9 rounds); at sf0.1 it is 17,019 nodes / 386 components / ecc 17.  The
#: FULL co-purchase graph is a single diameter-2 component at every SF —
#: a valid exact answer but a vacuous driver row (every node would map to
#: the global min part id) whose loop converges in 2 rounds.  Ship dates
#: are untouched by the graphscale replica offsets (those shift only the
#: id columns), so each disjoint replica carries this exact windowed
#: subgraph and the membership table replicates as offset copies — the
#: same invariance the BFS seed modulus and SSSP weight modulus rely on.
WCC_CUTOFF = "1996-01-01"
#: loud convergence bound for the driver query: pointer jumping needs
#: O(log diameter) rounds (observed: 9 at sf0.01 for ecc 13; 24 is
#: the ~2.5x margin discipline.  connected_components
#: raises past it rather than returning a mid-propagation labeling.
WCC_MAX_ROUNDS = 24


def wcc_obs(li: DataFrame) -> DataFrame:
    """Windowed DISTINCT (l_orderkey, l_partkey) observations — the
    per-microbatch compaction stage of the streaming WCC twin
    (``streaming_wcc_membership``): :func:`copurchase_obs` restricted to
    the WCC ship-date window (the filter is row-local, so the
    split-invariance argument documented there carries over verbatim) —
    the same delegation shape as :func:`wcc_edges` over
    :func:`copurchase_edges`."""
    return copurchase_obs(
        li.where(F.col("l_shipdate") < F.lit(WCC_CUTOFF).cast("timestamp"))
    )


def wcc_edges(li: DataFrame) -> DataFrame:
    """Canonical (u < v) co-purchase edges restricted to the WCC ship-date
    window — the same one-exchange pair derivation as
    :func:`copurchase_edges`, with the date predicate pushed into the
    parquet scan (it lands in the FileScan's DataFilters: at 100 TB the
    window prunes row groups before any shuffle; pytest-pinned)."""
    return copurchase_edges(
        li.where(F.col("l_shipdate") < F.lit(WCC_CUTOFF).cast("timestamp"))
    )


def _wcc_oracle() -> str:
    # the closure as a recursive CTE (the dedup_cluster_components
    # pattern): reach(v, l) enumerates every label reachable from v over
    # the symmetrized edges; min per v is the component id.  Closure size
    # is bounded by the sum of squared component sizes — ~2.6M pairs at
    # the sf0.01 gate under the windowed graph (the full graph's single
    # 2,000-node component would be the same 4M-row closure but a
    # structureless answer; see WCC_CUTOFF).
    return f"""
        WITH RECURSIVE ps AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            WHERE l_shipdate < TIMESTAMP '{WCC_CUTOFF}'
        ), e AS (
            SELECT a.l_partkey AS u, b.l_partkey AS v
            FROM ps a
            JOIN ps b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
        ), und AS (
            SELECT u AS src, v AS dst FROM e
            UNION ALL
            SELECT v, u FROM e
        ), reach (v, l) AS (
            SELECT src, src FROM und
            UNION
            SELECT u.src, r.l FROM und u JOIN reach r ON r.v = u.dst
        )
        SELECT CAST(v AS BIGINT) AS part_id,
               CAST(min(l) AS BIGINT) AS component_id
        FROM reach
        GROUP BY v
    """


@query(
    "graph_wcc_membership",
    oracle=_wcc_oracle(),
    doc="WEAKLY-CONNECTED COMPONENTS via distributed pointer jumping — "
    "the at-scale form of the graph family's FIRST algorithm class "
    "(connectivity), and the documented 100 TB dedup-clustering path: "
    "functions/graph.py's cc_auto dispatches to exactly this "
    "connected_components loop once a verified dup-pair list outgrows "
    "one task (> CC_SINGLE_TASK_MAX_EDGES = 5M edges), while the "
    "single-task union-find twin (cc_exact_lazy) carries the lazy "
    "driver-query form (dedup_cluster_components).  This entry gives "
    "the distributed loop its own hard driver row over the ship-date-"
    f"windowed part co-purchase graph (edges before {WCC_CUTOFF} — the "
    "percolation-interesting regime: 42 components / eccentricity 13 at "
    "sf0.01, so the pointer-jump cascade is real, observed 9 rounds; "
    "the full graph is one diameter-2 component, a structureless row).  "
    "Engine shape: min-label propagation with POINTER JUMPING (label <- "
    "label(label) doubles the propagation radius per round, O(log "
    "diameter) rounds); each round is one to three neighbour-min "
    "equi-join + aggregate hops (three when the labeling is broadcast-"
    "small - r19-measured optimum: extra hops are nearly free there "
    "and cut the round count) and one label-keyed jump equi-join over the "
    "checkpointed previous labeling, recorded per round by superstep_loop "
    "for the scale harness (broadcast-regime rounds plan with ZERO shuffle "
    "exchanges over the src-partitioned symmetric edge checkpoint); superseded labelings are released (the k-core "
    "discipline); driver state is one (count, label-sum) certificate "
    "pair read off the SAME aggregate that materializes the round's "
    "checkpoint — labels are monotone non-increasing over a constant "
    "vertex set, so an unchanged pair IS the fixpoint, with no extra "
    "probe join (functions/graph.py connected_components, r17).  "
    "Component ids are min part ids — set-unique, independent of round "
    "order — so the membership table value-hashes.  The oracle is the "
    "same closure as a DuckDB recursive CTE (the dedup_cluster_"
    "components pattern).  fixpoint=True: the loop runs at plan build — "
    "bench/tier harnesses defeat the plan cache and price it honestly.",
    bench=True,
    fixpoint=True,
)
def graph_wcc_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    e = wcc_edges(li)
    # the returned labeling reads only its own final-round checkpoint
    # (connected_components symmetrizes into — and releases — its own
    # edge copy), so the windowed co-purchase checkpoint this call built
    # is dead once the loop exits; without the release each fixpoint
    # bench pass (plan cache defeated) retained one edge-set RDD for the
    # session (r16 advice).  finally: the non-convergence RuntimeError
    # must not skip it — that would re-create the leak on exactly the
    # error path the loop itself releases its own copies on.
    try:
        labels, _rounds = connected_components(
            e, "u", "v", max_rounds=WCC_MAX_ROUNDS
        )
    finally:
        release_checkpoint(e)
    return labels.select(
        F.col("v").cast("bigint").alias("part_id"),
        F.col("component").cast("bigint").alias("component_id"),
    )
