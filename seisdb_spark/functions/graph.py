"""Connected components over near-duplicate pairs — dedup clustering.

Near-duplicate detection yields PAIRS; corpus curation needs COMPONENTS
(the transitive closure: if A~B and B~C, one canonical doc should represent
{A,B,C} even when A~C was never scored).

Two forms:

* :func:`cc_exact_lazy` — a fully LAZY plan: the edge list (near-dup
  pairs — a tiny fraction of the corpus, LSH-candidate-sized) shuffles to
  one task which runs an exact union-find in a single Arrow-batched pass.
  Correct for ANY component diameter; scalability is bounded by the EDGE
  count, never the corpus.  Driver queries use this form (a ``queries()``
  entry must never run jobs at plan build time, and Spark has no lazy
  fixpoint operator — an unrolled join-per-round plan re-references its
  input 4x per round, exploding the logical tree exponentially, which is
  why that formulation is deliberately absent here).
* :func:`connected_components` — the unbounded-scale iterative form:
  min-label propagation with POINTER JUMPING (``label <- label(label)``
  composes the mapping with itself, doubling the propagation radius per
  round, so O(log diameter) rounds).  The symmetric edge set is
  checkpointed ONCE, hash-partitioned + sorted by ``src`` with the
  partitioning preserved into the checkpoint scan (r18,
  :func:`partitioned_edge_checkpoint`), so per round only the |V|-row
  labeling ever shuffles — broadcast when its exact count fits the
  session threshold (then the round plan carries ZERO shuffle
  exchanges and runs THREE propagation hops, cutting the round count
  ~3x), sort-merge against the pre-clustered edge side otherwise.
  The rounds run under :func:`superstep_loop`, the superstep scaffold
  shared with k-core, BFS and SSSP: ``localCheckpoint`` per round cuts
  lineage; ONE aggregate action per round materializes the checkpoint
  and doubles as the convergence certificate.  This is the same
  alternating-contraction idea as the large-star/small-star CC
  algorithm; use it when the dup-pair edge list itself outgrows one
  task (billions of edges).
* :func:`cc_auto` — the ACTION-path dispatcher: materializes the pair
  list once, counts it, and picks the single-task form below
  :data:`CC_SINGLE_TASK_MAX_EDGES` edges and the distributed form above.
  ``build_training_set`` (the production composition) routes through
  this, so a web-scale dup-pair list never funnels into one task.
"""

from __future__ import annotations

import itertools
import logging
import math
import os
import string
from collections.abc import Callable, Iterator
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from seisdb_spark.plancheck import final_plan

_LOG = logging.getLogger(__name__)
_RELEASE_FAILED_ONCE = False


def release_checkpoint(df: DataFrame) -> None:
    """Unpersist the checkpointed RDD behind a localCheckpoint DataFrame.

    A long propagation/peel cascade otherwise holds every superseded
    round's blocks for the query lifetime (r14 advice).  Safe ONLY for
    checkpoints the caller created and will never read again: a
    localCheckpointed RDD has no lineage to recompute from once its
    blocks are dropped.

    A py4j surface drift (``queryExecution().analyzed().rdd()`` moving)
    would silently turn every release into a no-op and let long cascades
    re-accumulate blocks — so the first failure logs loudly (once per
    process; r15 advice), and ``tests/test_graph_cc.py``
    (``test_release_checkpoint_drops_superseded_round_blocks``) pins that
    the persistent-RDD count does not grow with the round count."""
    global _RELEASE_FAILED_ONCE
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        # non-checkpoint input / py4j drift: leak, don't crash — the
        # blocks die with the session either way.  But say so ONCE.
        if not _RELEASE_FAILED_ONCE:
            _RELEASE_FAILED_ONCE = True
            _LOG.warning(
                "release_checkpoint failed (py4j surface drift?) — "
                "superseded checkpoint blocks will accumulate for the "
                "session lifetime",
                exc_info=True,
            )


#: Conservative per-row footprint (bytes) assumed when gating a loop-state
#: broadcast: an UnsafeRow of two bigint fields is 8 (null bitset) + 16
#: (fields) = 24 bytes; 32 leaves headroom for the broadcast hash
#: relation's bucket array.  Deliberately pessimistic — over-estimating
#: only declines a profitable broadcast, never OOMs one.
LOOP_STATE_ROW_BYTES = 32


def _auto_broadcast_bytes(spark) -> int:
    """The session's own ``spark.sql.autoBroadcastJoinThreshold`` in bytes
    (0 when disabled/unparseable) — the gated-broadcast helpers below size
    against the SAME knob the planner uses, so one production setting
    governs both the optimizer's estimates and our exact-count hints."""
    raw = str(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    ).strip().lower()
    mult = 1
    for suf, m in (
        ("kb", 2**10), ("mb", 2**20), ("gb", 2**30), ("tb", 2**40),
        ("k", 2**10), ("m", 2**20), ("g", 2**30), ("t", 2**40), ("b", 1),
    ):
        if raw.endswith(suf):
            mult, raw = m, raw[: -len(suf)]
            break
    try:
        n = int(float(raw))
    except ValueError:
        return 0
    return max(n * mult, 0)


def hint_broadcast_if_small(df: DataFrame, n_rows: int | None) -> DataFrame:
    """Broadcast-hint a driver-loop's per-round small side when its KNOWN
    row count fits the session's broadcast threshold; otherwise return it
    unchanged.

    Why the hint is needed at all (guide §3.1): every loop's round state
    (labeling / cost table / frontier / survivor set) is a localCheckpoint,
    which scans as a LogicalRDD with UNKNOWN stats — the static planner
    can never pick the broadcast join itself, and AQE only rewrites
    SMJ -> BHJ after BOTH sides' exchanges have materialized, so the big
    (edge) side pays a full shuffle write per round for a join that ends
    up broadcast anyway (measured r18: ~0.4 s/round of the k-core peel at
    sf0.1 was exactly this).  The loops, unlike the planner, know the
    EXACT row count of their round state — the convergence certificate /
    frontier count they already compute — so the decision here is made
    from real numbers, sized against ``spark.sql.autoBroadcastJoinThreshold``
    (the one knob a production deployment already tunes).  Above the
    threshold — the 100 TB regime, e.g. the x1000 tier's 25.7M-vertex
    labeling — the input is returned unchanged and the round keeps the
    shuffle join that AQE skew-handles.  Pure strategy hint: join results
    are identical either way."""
    if n_rows is not None and fits_broadcast(df.sparkSession, n_rows):
        return F.broadcast(df)
    return df


def fits_broadcast(spark, n_rows: int) -> bool:
    """Whether ``n_rows`` rows of loop state fit the session's broadcast
    threshold (at :data:`LOOP_STATE_ROW_BYTES` per row) — the one gate
    every driver loop sizes its round hints with."""
    return n_rows * LOOP_STATE_ROW_BYTES <= _auto_broadcast_bytes(spark)


#: Target bytes per partition of a loop's persisted edge checkpoint —
#: guide §2.2/§6: partitions in the 100 MB - 1 GB band, derived from the
#: ACTUAL row count rather than a constant tuned for one scale.  Env-
#: overridable for deployments with different executor memory budgets.
EDGE_PARTITION_TARGET_BYTES = int(
    os.environ.get("SEISDB_EDGE_PARTITION_BYTES", str(128 * 1024 * 1024))
)
#: Conservative serialized footprint of one symmetric edge row (2-3 bigint
#: fields as an UnsafeRow) used only for partition-count sizing.
EDGE_ROW_BYTES = 24
#: Parallelism floor granularity: one partition per this many edge rows,
#: capped at the session's core count — a 51k-row graph gets ONE task per
#: round (32 would pay 32x the scheduling for microsecond task bodies,
#: measured r18), a 2.4M-row graph ~10, and byte sizing takes over long
#: before the x1000 tier.
EDGE_ROWS_PER_TASK = 250_000


@contextmanager
def _aqe_off(spark):
    """Temporarily disable AQE while BUILDING a localCheckpoint.

    Why (guide §2.4, measured r18): ``Dataset.localCheckpoint`` preserves
    the physical plan's outputPartitioning into the checkpoint's
    LogicalRDD — but only when the plan is NOT wrapped in an
    AdaptiveSparkPlan (whose outputPartitioning is unknown before
    execution, so under AQE every checkpoint scans as
    UnknownPartitioning and every downstream keyed operator re-shuffles
    it).  Probed on this Spark: an AQE-off ``repartition(N, key)`` +
    localCheckpoint scans back as hashpartitioning(key, N) and a
    downstream (AQE-ON) groupBy/distinct/join on the key plans with ZERO
    Exchange.  The toggle covers only the checkpoint-build statement —
    the plans built inside are exchange-light by construction
    (repartition/explode/broadcast-hinted joins), so no AQE feature
    (skew split, SMJ->BHJ rewrite, coalescing) is lost where this is
    used."""
    key = "spark.sql.adaptive.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def edge_partitions(spark, n_rows: int, row_bytes: int = EDGE_ROW_BYTES) -> int:
    """Scale-adaptive partition count for a persisted edge checkpoint
    (guide §2.2) — the AQE-off build below cannot rely on AQE coalescing,
    so the count is derived from the MEASURED row count:

    * bytes ceiling: at least ``n_rows * row_bytes /
      EDGE_PARTITION_TARGET_BYTES`` partitions, so x1000-tier corpora get
      memory-sized sort runs (~450 at 2.4B rows);
    * parallelism floor: ~one partition per :data:`EDGE_ROWS_PER_TASK`
      rows, capped at the session's core count — enough tasks to use the
      machine on CPU-bound rounds without paying per-task scheduling for
      microsecond task bodies on small graphs (a flat shuffle.partitions
      floor made sf0.1 WCC rounds ~3x slower: 32 tasks x 5 stages x 7
      rounds of almost-empty work)."""
    try:
        cores = spark.sparkContext.defaultParallelism
    except Exception:
        cores = 8
    by_bytes = math.ceil(n_rows * row_bytes / EDGE_PARTITION_TARGET_BYTES)
    by_rows = min(cores, math.ceil(n_rows / EDGE_ROWS_PER_TASK))
    return max(by_bytes, by_rows, 1)


def symmetrize(edges: DataFrame, src: str, dst: str, *extra: str) -> DataFrame:
    """(u, v) -> both-direction (src, dst, *extra) rows via ONE explode —
    the union form scans its input twice per consumer; the explode form
    reads each checkpoint block once and generates both directions
    in-stage (guide §2.3: fewer bytes read per pass)."""
    both = F.array(
        F.struct(F.col(src).alias("src"), F.col(dst).alias("dst"), *extra),
        F.struct(F.col(dst).alias("src"), F.col(src).alias("dst"), *extra),
    )
    cols = ["e.src", "e.dst", *[f"e.{c}" for c in extra]]
    return edges.select(F.explode(both).alias("e")).select(*cols)


def partitioned_edge_checkpoint(
    df: DataFrame, key: str, n_rows: int, eager: bool = True
) -> DataFrame:
    """Materialize a loop's edge table hash-partitioned (and sorted) by its
    per-round JOIN key, with the partitioning PRESERVED into the
    checkpoint's LogicalRDD (see :func:`_aqe_off`).

    This is the 'persist the edges, shuffle only the state' superstep
    shape made literal: every round's edge-side join input is already
    clustered+sorted by the join key, so the per-round plan re-shuffles
    (and re-sorts, for sort-merge rounds at scale) only the loop STATE —
    at the x1000 tier that is 25.7M labels instead of 2.4B edge rows per
    round.  ``n_rows`` (the measured edge count) sizes the layout
    scale-adaptively via :func:`edge_partitions`."""
    spark = df.sparkSession
    n_part = edge_partitions(spark, n_rows)
    with _aqe_off(spark):
        return (
            df.repartition(n_part, key)
            .sortWithinPartitions(key)
            .localCheckpoint(eager=eager)
        )


@dataclass(frozen=True)
class Superstep:
    """One executed :func:`superstep_loop` round: its number, its
    certificate, and its executed (AQE-final) plan."""

    round: int
    cert: tuple
    plan: str


#: Per-round record of the LAST run of each named :func:`superstep_loop`
#: (``"cc"``, ``"kcore"``, ``"bfs"``, ``"sssp"``), replaced when the next
#: run of that name starts.  A loop's returned DataFrame only scans its
#: final checkpoint — the rounds ran behind localCheckpoint boundaries —
#: so round-plan checks (tests, the scale harness, plan dumps) read here.
LAST_SUPERSTEPS: dict[str, list[Superstep]] = {}

_VIEW_SEQ = itertools.count(1)
_SQL_FIELDS = string.Formatter()


def superstep_loop(
    name: str,
    tables: dict[str, DataFrame | Callable[[], DataFrame]],
    carry: str,
    round_sql: Callable[[tuple], str],
    certificate: list[Column],
    converged: Callable[[tuple, tuple], bool],
    seed_cert: tuple,
    max_rounds: int,
    *,
    owned: tuple[str, ...] = (),
    aqe_off: bool = False,
    fold: Callable[[int, DataFrame], None] | None = None,
    cap_error: str | None = None,
) -> tuple[DataFrame, int]:
    """Run a checkpointed fixpoint loop — the one driver-side superstep
    scaffold behind CC, k-core, BFS and SSSP.  Returns ``(final carry,
    rounds run)``.

    ``tables`` maps roles to the DataFrames the rounds read and is the
    loop's live state: each round's result replaces ``tables[carry]``, and
    ``fold`` may update other roles.  A role may hold a zero-argument
    builder instead; it is built on the first round whose SQL names it.

    A round: ``round_sql(prev_cert)`` returns ONE statement with
    ``{role}`` placeholders; exactly those roles are bound to temp views
    unique to this run (concurrent loops in one session never read each
    other's bindings).  One statement is analyzed once — composing a round
    op by op ran the analyzer per operation, ~0.55 s of driver time per
    warm CC round at sf0.1 (r19).  The result is localCheckpointed lazily
    (AQE-off when ``aqe_off``, so its outputPartitioning survives into the
    checkpoint, see :func:`_aqe_off`), and ``certificate`` — aggregate
    columns over it — is the round's one action: it materializes the
    checkpoint and yields the scalars ``converged(prev, cert)`` decides on
    (``seed_cert`` plays prev for round 1).  Past ``max_rounds`` the loop
    raises ``RuntimeError(cap_error)``, or returns the last carry when
    ``cap_error`` is None (a cap that is part of the semantics).  Every
    round is recorded in :data:`LAST_SUPERSTEPS`.

    The checkpoint is taken with every column renamed (``c`` -> ``c__``)
    and read back through the inverse rename.  A checkpoint keeps the
    analyzed plan's output attributes but the physical plan's
    partitioning; the SQL's output is qualified (``e.src``) while the
    partitioning attribute is not, and LogicalRDD.newInstance — run on
    every second reference of a view in one statement — rewrites
    partitioning by exact attribute equality, so the copy kept the stale
    attribute and k-core's keep aggregate re-shuffled in every round after
    the first.  The renamed aliases give both sides one unqualified
    attribute (a same-name alias would not: the optimizer drops it).

    Release: the initial carry and every round's checkpoint belong to the
    loop.  A superseded carry is released once its successor has
    materialized, unless ``fold(round, new_carry)`` took it into the
    caller's result (BFS's hop table).  Built tables and the ``owned``
    roles are released on every exit; on a raise (the cap included) so is
    every loop checkpoint, since none of them escapes."""
    spark = tables[carry].sparkSession
    seq = next(_VIEW_SEQ)
    views: dict[str, str] = {}
    built: list[DataFrame] = []
    live = [tables[carry]]
    records = LAST_SUPERSTEPS[name] = []
    cert, ok = seed_cert, False
    try:
        for i in range(1, max_rounds + 1):
            sql = round_sql(cert)
            for role in {f for _, f, _, _ in _SQL_FIELDS.parse(sql) if f}:
                if not isinstance(tables[role], DataFrame):
                    tables[role] = tables[role]()
                    built.append(tables[role])
                views[role] = f"seisdb_{name}_{role}_{seq}"
                tables[role].createOrReplaceTempView(views[role])
            out = spark.sql(sql.format_map(views))
            cols = out.columns
            out = out.toDF(*[f"{c}__" for c in cols])
            with _aqe_off(spark) if aqe_off else nullcontext():
                live.append(out.localCheckpoint(eager=False))
            nxt = live[-1].toDF(*cols)
            prev, cert = cert, tuple(nxt.agg(*certificate).first())
            records.append(Superstep(i, cert, final_plan(out)))
            if fold is None:
                release_checkpoint(live.pop(0))
            else:
                fold(i, nxt)
            tables[carry] = nxt
            if converged(prev, cert):
                ok = True
                return nxt, i
        if cap_error is not None:
            raise RuntimeError(cap_error)
        ok = True
        return tables[carry], max_rounds
    finally:
        for view in views.values():
            spark.catalog.dropTempView(view)
        for df in built + [tables[role] for role in owned]:
            release_checkpoint(df)
        if not ok:
            for df in live:
                release_checkpoint(df)


_CC_SCHEMA = T.StructType(
    [
        T.StructField("v", T.LongType(), False),
        T.StructField("component", T.LongType(), False),
    ]
)


def undirect(pairs: DataFrame, src: str = "doc_a", dst: str = "doc_b") -> DataFrame:
    """(a, b) pairs -> symmetric (src, dst) edge list."""
    a = pairs.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    b = pairs.select(F.col(dst).alias("src"), F.col(src).alias("dst"))
    return a.unionByName(b)


def cc_exact_lazy(
    pairs: DataFrame, src: str = "doc_a", dst: str = "doc_b"
) -> DataFrame:
    """Exact connected components as one lazy plan: single-partition
    union-find with path compression over the edge list.  Returns
    (v, component) where component = min vertex id of v's component."""
    # repartition(1), not coalesce(1): coalesce is a narrow dependency that
    # would collapse the upstream verify-join stage into the same single
    # task; the explicit shuffle keeps candidate generation parallel and
    # single-threads only the union-find itself.
    edges = pairs.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    ).repartition(1)

    def union_find(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for pdf in batches:
            for a, b in zip(pdf["src"], pdf["dst"], strict=True):
                ra, rb = find(int(a)), find(int(b))
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
        comp = {v: find(v) for v in parent}
        yield pd.DataFrame(
            {"v": list(comp.keys()), "component": list(comp.values())}
        ).astype("int64")

    return edges.mapInPandas(union_find, _CC_SCHEMA)


def _cc_round_sql(broadcast_state: bool) -> str:
    """One propagation round as ONE :func:`superstep_loop` statement over
    the symmetric edges ``{e}`` and the labeling ``{m}`` (v, l): neighbour-
    min hops, then one pointer jump.  Labels are always existing vertex
    ids (they start as vertex ids and only ever copy), so the jump join is
    inner.

    ``broadcast_state`` (the labeling's exact count fits the session
    broadcast threshold, see :func:`fits_broadcast`): every state-side
    join is broadcast, and neighbour-min keys on ``dst`` and aggregates by
    ``src`` — the edge checkpoint's preserved partitioning key — so the
    round plan carries ZERO shuffle exchanges.  The round then runs THREE
    neighbour-min hops: with the state broadcast each extra hop is one
    more map pass over the in-memory edge checkpoint, and fewer rounds
    beat cheaper rounds while planning + stage scheduling is the round
    cost floor (sf0.1 interleaved A/B: 2 hops = 7 rounds / 5.65 s, 3 hops
    = 5 rounds / 5.02 s, 4 hops = 4 rounds / 6.14 s — per-round plan
    growth overtakes the saved actions at 4).

    Otherwise (the 100 TB regime) ONE hop keyed on ``src``: the edge side
    of the sort-merge join is already clustered AND sorted by src (see
    :func:`partitioned_edge_checkpoint`), so only the |V|-row labeling
    shuffles per round; the aggregate (by dst) moves map-side partial
    minima, never edge rows.  Extra hops there would multiply the
    per-round shuffle bytes to save a fraction of the rounds, and the
    joins stay unhinted shuffle joins that AQE skew-handles.  Both regimes
    converge to the identical labeling (each hop is a value no-op at the
    fixpoint).

    The jump references the post-min labeling on BOTH sides (probe +
    lookup); Catalyst's ReuseExchange deduplicates the identical subtrees,
    so the neighbour-min executes once per round.  One jump per round:
    r18 tried two, and round counts did not drop at either driver SF —
    the cascade is bounded by the neighbour-min's propagation radius, not
    label-tree height."""
    cte: list[str] = []
    prev = "{m}"
    for h in range(1, (3 if broadcast_state else 1) + 1):
        if broadcast_state:
            nb = (
                f"nb{h} AS (SELECT /*+ BROADCAST({prev}) */ e.src AS v, "
                f"min({prev}.l) AS nb_l FROM {{e}} e "
                f"JOIN {prev} ON e.dst = {prev}.v GROUP BY e.src)"
            )
            m_hint = f"/*+ BROADCAST(nb{h}) */ "
        else:
            nb = (
                f"nb{h} AS (SELECT e.dst AS v, "
                f"min({prev}.l) AS nb_l FROM {{e}} e "
                f"JOIN {prev} ON e.src = {prev}.v GROUP BY e.dst)"
            )
            m_hint = ""
        cte.append(nb)
        cte.append(
            f"m{h} AS (SELECT {m_hint}{prev}.v, "
            f"least({prev}.l, coalesce(nb{h}.nb_l, {prev}.l)) AS l "
            f"FROM {prev} LEFT JOIN nb{h} ON {prev}.v = nb{h}.v)"
        )
        prev = f"m{h}"
    lk_hint = "/*+ BROADCAST(lk) */ " if broadcast_state else ""
    return (
        "WITH "
        + ",\n".join(cte)
        + f",\nlk AS (SELECT v AS lv, l AS ll FROM {prev})\n"
        + f"SELECT {lk_hint}{prev}.v, lk.ll AS l "
        + f"FROM {prev} JOIN lk ON {prev}.l = lk.lv"
    )


def connected_components(
    pairs: DataFrame, src: str = "src", dst: str = "dst", max_rounds: int = 50
) -> tuple[DataFrame, int]:
    """Iterate :func:`_cc_round_sql` over a pair list to the fixpoint (no
    label changed).  Returns ``(labels, rounds_run)``; labels are (v,
    component).

    The input may be directed and asymmetric: edges are symmetrized
    internally (labels propagate dst->src, and the initial labeling is
    built from ``src`` — without symmetrization a dst-only vertex would
    silently never be labeled).  :func:`superstep_loop` checkpoints each
    round's labeling, cutting the lineage that would otherwise grow 4x per
    round, and releases the superseded one.

    Convergence certificate: per-vertex labels are monotone
    NON-INCREASING across rounds (neighbour-min takes ``least``; the
    pointer jump maps l to the label of vertex l, itself <= l) over a
    CONSTANT vertex set (every label is an existing vertex id, so the
    jump's inner join drops nothing), so the (row count, BIGINT label sum)
    pair is unchanged iff NO label changed — and it comes from the SAME
    aggregate that materializes the round's checkpoint, with no compare
    join.  Overflow headroom: under ANSI mode an overflowing BIGINT sum
    raises mid-loop; under non-ANSI it wraps mod 2^64, and a wrap could
    fake convergence only if one round's TOTAL label decrease were an
    exact positive multiple of 2^64 — impossible while |V| * max(vertex
    id) < 2^63.  The precondition is GUARDED at runtime: the seed
    aggregate takes try_sum (NULL, never a raise) plus max(l) — the max
    VERTEX id, since labels only decrease — and the loop refuses to run
    when |V| * max_id >= 2^63, converting both failure modes into one
    early refusal (densely re-map vertex ids first at that scale).  Past
    the guard every round's sum is bounded by the seed sum, so the plain
    sum in the loop can neither raise nor wrap."""
    # count first so the symmetric edge checkpoint is sized from the REAL
    # row count (guide §2.2), laid out hash-partitioned + sorted by src
    # with the partitioning preserved into its scan: scale-regime rounds
    # never re-shuffle or re-sort the edge side, and broadcast-regime
    # rounds get exchange-free neighbour-min aggregates
    n_pairs = pairs.count()
    edges = partitioned_edge_checkpoint(
        symmetrize(pairs, src, dst), "src", 2 * n_pairs
    )
    # lazy: the seed aggregate below is the materializing action
    m = (
        edges.select("src")
        .distinct()
        .select(F.col("src").alias("v"), F.col("src").alias("l"))
        .localCheckpoint(eager=False)
    )
    seed = m.agg(
        F.count(F.lit(1)),
        F.try_sum("l").cast("bigint"),  # NULL (not an ANSI raise) on overflow
        F.max("l").cast("bigint"),
    ).first()
    n_vertices, max_id = int(seed[0] or 0), int(seed[2] or 0)
    if n_vertices * max_id >= 2**63:
        release_checkpoint(edges)
        release_checkpoint(m)
        raise ValueError(
            "connected_components certificate precondition violated: "
            f"|V| ({n_vertices}) * max vertex id ({max_id}) >= 2^63 — "
            "densely re-map vertex ids before clustering at this scale"
        )
    sql = _cc_round_sql(fits_broadcast(pairs.sparkSession, n_vertices))
    labels, rounds = superstep_loop(
        "cc",
        {"e": edges, "m": m},
        "m",
        lambda _: sql,
        [F.count(F.lit(1)), F.sum("l").cast("bigint")],
        lambda prev, cert: cert == prev,
        (seed[0], seed[1]),
        max_rounds,
        owned=("e",),
        cap_error=f"connected_components did not converge in {max_rounds} rounds",
    )
    return labels.select("v", F.col("l").alias("component")), rounds


#: Above this many verified dup pairs, :func:`cc_auto` switches from the
#: single-task union-find to distributed pointer jumping.  At ~16 bytes of
#: Arrow payload per edge plus a Python dict entry (~100 bytes) per touched
#: vertex, 5M edges bounds the single task around a GB — comfortably inside
#: one executor core; a web-scale corpus's billions of pairs are not.
CC_SINGLE_TASK_MAX_EDGES = 5_000_000


def cc_auto(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_single_task_edges: int = CC_SINGLE_TASK_MAX_EDGES,
) -> DataFrame:
    """Connected components for ACTION paths: materialize the pair list
    once (localCheckpoint — it feeds both the count and the chosen CC
    form without recomputing the LSH verify), count it, and dispatch:
    single-task union-find when the edge list fits one task, distributed
    pointer jumping when it doesn't.  Runs jobs — never use in a lazy
    ``queries()`` plan builder (those hard-code :func:`cc_exact_lazy`)."""
    edges = pairs.select(
        F.col(src).cast("long").alias(src), F.col(dst).cast("long").alias(dst)
    ).localCheckpoint(eager=True)
    if edges.count() <= max_single_task_edges:
        return cc_exact_lazy(edges, src, dst)
    labels, _rounds = connected_components(edges, src, dst)
    return labels
