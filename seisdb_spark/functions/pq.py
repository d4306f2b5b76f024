"""Product quantization (PQ) over the embedding column — the production
vector-store codec (round-8 candidate surface; library + tests now,
registry/window entry when a rotation slot opens).

PQ splits each d-dim vector into ``n_sub`` contiguous subvectors and
quantizes each against its own k-entry codebook: storage drops from
d * 4 bytes (float32) to ``n_sub`` code bytes (8 bytes/vector at the
classic 8x256 operating point — 32x smaller), and approximate distances
are computed from codes alone via per-subspace lookup tables (ADC —
asymmetric distance computation), never touching the original vectors.

Scale shape, stage by stage:

* **training** reuses the bounded-state Lloyd module per subspace
  (``cluster.lloyd_refine`` on a ``slice()`` column): k·(d/n_sub) driver
  doubles per subspace, k·d total — constant in the corpus size.
* **encoding is MAP-ONLY**: each subspace's code is an argmin over k
  LITERAL centroids (the same literal-broadcast trick the k-means
  assignment and semantic-dedup use) — n_sub · k small HOF folds inside
  whole-stage codegen, no join, no shuffle.  The per-vector quantization
  error (sum of chosen subspace distances) comes free from the same
  folds.
* **ADC search is MAP-ONLY + TakeOrdered**: the query's n_sub × k
  distance table is computed driver-side in numpy (n_sub·k doubles) and
  enters the plan as literal arrays; each row's approximate distance is
  n_sub ``element_at`` lookups summed left-to-right, then
  ``orderBy().limit(k)`` plans TakeOrderedAndProject.  At 100 TB the
  codes table is the only thing scanned — 32x fewer bytes than the
  vectors, with partition pruning on any IVF/list column layered above.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from seisdb_spark.functions.cluster import _dist2_expr, lloyd_refine
from seisdb_spark.functions.vectors import EMBEDDING_DIM

PQ_SUBSPACES = 8
PQ_K = 16  # per-subspace codebook size (256 in production; 16 keeps the
#            literal expressions and tests small — the shape is identical)


def train_codebooks(
    emb: DataFrame,
    n_sub: int = PQ_SUBSPACES,
    k: int = PQ_K,
    iters: int = 2,
    dim: int = EMBEDDING_DIM,
) -> list[list[list[float]]]:
    """Per-subspace Lloyd codebooks (n_sub x k x d/n_sub), deterministic
    seeds, bounded driver state (see cluster.py)."""
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible into {n_sub} subspaces")
    sublen = dim // n_sub
    books = []
    for s in range(n_sub):
        sub = emb.select(
            "vec_id",
            F.expr(f"slice(embedding, {s * sublen + 1}, {sublen})").alias(
                "sub"
            ),
        )
        _, cents = lloyd_refine(sub, k=k, iters=iters, col="sub")
        books.append(cents)
    return books


def pq_encode(
    emb: DataFrame,
    books: list[list[list[float]]],
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """(vec_id, *keep, codes array<int>, qerr double): map-only argmin per
    subspace against literal codebooks + the summed quantization error.
    ``keep`` carries extra columns (e.g. the IVF list id) through the
    projection so callers don't need a rejoin on vec_id afterwards.

    TWO stacked projections, not one (r18 opt, guide §1.2 "per-task
    work"): each subspace's 16-fold distance array is materialized ONCE
    as a ``_d{s}`` column and the argmin/argval/qerr expressions read the
    column.  The single-projection form repeated the array literal 3x per
    subspace, and higher-order functions are CodegenFallback (evaluated
    interpreted, no codegen subexpression elimination) — so every row
    paid the k folds three times.  CollapseProject cannot undo the
    hoist: a produced attribute referenced more than once is only
    inlined when cheap, and the fold array is not.  Measured
    (tools/ab_pq_encode.py at commit 2e88616, interleaved, identical
    signatures): 1.62 ->
    0.84 s warm on the sf0.1 encode, cold 1.53 -> 0.84 s.  The UNROLLED
    subscript-chain alternative (full codegen, no HOF) measured 3.5 s
    warm + 4.5 s cold — the fold loop beats 1024 inlined terms even
    after JIT, so the HOF stays (same conclusion as functions/vectors.py
    reached for the dot chain)."""
    sublen = len(books[0][0])
    d_cols = []
    for s, cents in enumerate(books):
        sub = f"slice(embedding, {s * sublen + 1}, {sublen})"
        dists = "array(" + ", ".join(_dist2_expr(sub, c) for c in cents) + ")"
        d_cols.append(F.expr(dists).alias(f"_d{s}"))
    mid = emb.select("vec_id", *keep, *d_cols)
    codes = "array(" + ", ".join(
        f"(array_position(_d{s}, array_min(_d{s})) - 1)"
        for s in range(len(books))
    ) + ")"
    err = "(" + ") + (".join(
        f"array_min(_d{s})" for s in range(len(books))
    ) + ")"
    return mid.select(
        "vec_id",
        *keep,
        F.expr(codes).cast("array<int>").alias("codes"),
        F.round(F.expr(err), 6).alias("qerr"),
    )


def adc_table(
    books: list[list[list[float]]], query: np.ndarray
) -> list[list[float]]:
    """Per-subspace squared-L2 distance table (n_sub x k), numpy,
    driver-side — n_sub*k doubles, independent of the corpus."""
    sublen = len(books[0][0])
    q = [float(v) for v in np.asarray(query, dtype=np.float64)]
    table = []
    for s, cents in enumerate(books):
        qs = q[s * sublen : (s + 1) * sublen]
        row = []
        for c in cents:
            # left-to-right accumulation (not np.sum, whose pairwise order
            # is unspecified): bit-identical to a left-associated SQL `+`
            # chain, so an engine-side oracle reproduces each entry exactly
            d = 0.0
            for a, b in zip(qs, c):
                d += (a - float(b)) * (a - float(b))
            row.append(d)
        table.append(row)
    return table


def pq_adc_topk(
    codes_df: DataFrame,
    books: list[list[list[float]]],
    query: np.ndarray,
    topk: int = 10,
    n_use: int | None = None,
) -> DataFrame:
    """Approximate nearest neighbours from CODES alone: literal lookup
    tables + element_at sums, then TakeOrderedAndProject.

    ``n_use`` restricts the distance to the FIRST n_use subspaces — the
    Matryoshka composition: because subspaces are contiguous dim ranges,
    the first m code bytes ARE a prefix-dim (m * d/n_sub) index, so
    adaptive retrieval serves short prefixes from a prefix of the SAME
    codes table (no second index, no extra bytes) and escalates to the
    full code only when needed.  The query's distance table just gets
    fewer rows; the scan/TakeOrdered shape is unchanged."""
    table = adc_table(books, query)
    if n_use is not None:
        if not 1 <= n_use <= len(table):
            # n_use=0 would build a malformed empty-sum expression and
            # n_use > n_sub would silently no-op — both are caller bugs
            raise ValueError(
                f"n_use must be in [1, {len(table)}], got {n_use}"
            )
        table = table[:n_use]
    terms = []
    for s, row in enumerate(table):
        lit = "array(" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in row) + ")"
        terms.append(f"element_at({lit}, codes[{s}] + 1)")
    dist = "(" + ") + (".join(terms) + ")"
    return (
        codes_df.select(
            "vec_id", F.round(F.expr(dist), 6).alias("adc_dist2")
        )
        .orderBy("adc_dist2", "vec_id")
        .limit(topk)
    )


# --- IVF-PQ: the composed production index ---------------------------------
# Coarse quantizer (Lloyd) partitions the corpus into lists; PQ encodes the
# RESIDUAL (x - coarse centroid) per list — residuals are smaller and
# better-conditioned than raw vectors, which is why every production index
# (FAISS IVFPQ) composes the two this way.  At 100 TB the list id is the
# partition column (write.partitionBy("list")), so probing is partition
# PRUNING; the scanned bytes are nprobe/n_coarse of an already-32x-smaller
# codes table.


def ivfpq_build(
    emb: DataFrame,
    n_coarse: int = 4,
    n_sub: int = PQ_SUBSPACES,
    k: int = PQ_K,
    iters: int = 1,
) -> tuple[DataFrame, list[list[float]], list[list[list[float]]]]:
    """Returns (codes_df(vec_id, list, codes, qerr), coarse centroids,
    shared residual codebooks).  Every stage is map-only or
    bounded-driver-state; the corpus is scanned, never collected."""
    assigned, coarse = lloyd_refine(emb, k=n_coarse, iters=iters)
    cents = (
        "array("
        + ", ".join(
            "array(" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in c) + ")"
            for c in coarse
        )
        + ")"
    )
    resid = assigned.select(
        "vec_id",
        F.col("cluster").alias("list"),
        F.expr(
            f"zip_with(embedding, element_at({cents}, cluster + 1), "
            "(x, y) -> CAST(x AS DOUBLE) - y)"
        ).alias("embedding"),
    )
    books = train_codebooks(resid, n_sub=n_sub, k=k, iters=iters)
    # `keep` threads the list id through the map-only encode — no rejoin
    return pq_encode(resid, books, keep=("list",)), coarse, books


def ivfpq_topk(
    codes_df: DataFrame,
    coarse: list[list[float]],
    books: list[list[list[float]]],
    query: np.ndarray,
    nprobe: int = 2,
    topk: int = 10,
) -> DataFrame:
    """Probe the nprobe nearest coarse lists; ADC with a PER-LIST residual
    table (query - list centroid); union the probed lists and TakeOrdered.
    The list filter is the partition-pruning predicate at scale."""
    q = np.asarray(query, dtype=np.float64)
    # left-to-right accumulation (see adc_table) so an engine-side oracle
    # reproduces the probe selection exactly
    d2 = []
    for c in coarse:
        s = 0.0
        for a, b in zip(q.tolist(), c):
            s += (a - float(b)) * (a - float(b))
        d2.append(s)
    probed = sorted(range(len(coarse)), key=lambda i: (d2[i], i))[:nprobe]
    # ONE scan with a per-list CASE distance, not a union of per-list
    # filtered branches (r19, guide §2.4/§1.2): ``codes_df`` is usually a
    # LAZY map-only plan (scan -> coarse assign -> residual -> encode
    # folds), and a union of nprobe filtered references re-plans and
    # RE-EXECUTES that whole chain once per probed list — there is no
    # exchange in it for ReuseExchange to dedup (measured at sf0.1: the
    # ivfpq ADC stage ran as 2x32 tasks, one full encode per branch).
    # The single IN filter keeps partition pruning on ``list`` intact at
    # 100 TB, and each surviving row evaluates exactly its own list's
    # branch of the CASE — the same literal table, the same rounding, so
    # per-row distances are bit-identical to the union form's and the
    # final (adc_dist2, vec_id) TakeOrdered is unchanged.
    branches = []
    for li in probed:
        table = adc_table(books, q - np.asarray(coarse[li]))
        terms = []
        for s, row in enumerate(table):
            lit = (
                "array("
                + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in row)
                + ")"
            )
            terms.append(f"element_at({lit}, codes[{s}] + 1)")
        branches.append((li, "(" + ") + (".join(terms) + ")"))
    dist = (
        "CASE "
        + " ".join(f"WHEN list = {li} THEN ({d})" for li, d in branches)
        + " END"
    )
    return (
        codes_df.filter(F.col("list").isin([li for li, _ in branches]))
        .select("vec_id", F.round(F.expr(dist), 6).alias("adc_dist2"))
        .orderBy("adc_dist2", "vec_id")
        .limit(topk)
    )
