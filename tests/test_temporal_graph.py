"""Planted-case tests for the round-12 temporal/graph additions: CDC
last-writer-wins replay (tombstone + resurrection + same-date tiebreak),
OHLC bars (argmin/argmax tie semantics), the trailing-window anomaly
gate (support gate + same-instant RANGE peers), NTILE's ceil-first rule,
and PageRank against an independent pure-Python integer simulation.

Oracle parity at sf0.01 is covered by test_oracle_parity for all six new
queries; these tests pin the cases the real data may not contain and the
cross-engine invariants a parity pass alone cannot localize.
"""

from __future__ import annotations

import os

import pandas as pd

from seisdb_spark.queries import REGISTRY
from tests.conftest import SMOKE_SF_DIR


def _plant_orders(tmp_path, rows) -> str:
    """Write a planted orders table (exact physical schema) and return the
    sf_dir to point queries at."""
    sf_dir = str(tmp_path / "planted")
    os.makedirs(sf_dir, exist_ok=True)
    pdf = pd.DataFrame(
        rows,
        columns=[
            "o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "o_orderdate", "o_orderpriority",
        ],
    )
    pdf["o_orderkey"] = pdf.o_orderkey.astype("int64")
    pdf["o_custkey"] = pdf.o_custkey.astype("int64")
    pdf["o_totalprice"] = pdf.o_totalprice.astype("float64")
    pdf["o_orderdate"] = pdf.o_orderdate.astype("datetime64[us]")
    pdf.to_parquet(os.path.join(sf_dir, "orders.parquet"), index=False)
    return sf_dir


def _plant_events(tmp_path, rows, name: str = "planted_ev") -> str:
    # distinct dir per planted corpus: the registry memoizes the analyzed
    # plan per (session, sf_dir), so re-planting the SAME path would hand
    # the second query a stale file listing
    sf_dir = str(tmp_path / name)
    os.makedirs(sf_dir, exist_ok=True)
    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    pdf["event_id"] = pdf.event_id.astype("int64")
    pdf["user_id"] = pdf.user_id.astype("int64")
    pdf["value"] = pdf.value.astype("float64")
    pdf["ts"] = pdf.ts.astype("datetime64[us]")
    pdf.to_parquet(os.path.join(sf_dir, "events.parquet"), index=False)
    return sf_dir


def test_cdc_tombstone_resurrection_and_tiebreak(spark, tmp_path):
    """The three CDC semantics a parity pass can't localize: (a) a key
    whose LATEST record is a tombstone is absent even with live earlier
    versions; (b) an upsert AFTER a tombstone resurrects the key; (c) two
    changes on the same date resolve by o_orderkey — the log's total
    order, not the payload."""
    T = pd.Timestamp
    sf_dir = _plant_orders(tmp_path, [
        # key 1: upsert then tombstone -> absent
        (10, 1, "O", 11.00, T("2024-01-01"), "1-URGENT"),
        (11, 1, "F", 99.00, T("2024-02-01"), "1-URGENT"),
        # key 2: tombstone then later upsert -> present (resurrected)
        (20, 2, "F", 5.00, T("2024-01-01"), "1-URGENT"),
        (21, 2, "O", 22.50, T("2024-03-01"), "1-URGENT"),
        # key 3: two upserts SAME date -> higher orderkey wins
        (31, 3, "O", 1.00, T("2024-01-05"), "1-URGENT"),
        (32, 3, "O", 2.00, T("2024-01-05"), "1-URGENT"),
    ])
    got = (
        REGISTRY["cdc_snapshot_apply"].spark(spark, sf_dir)
        .toPandas().set_index("o_custkey").sort_index()
    )
    assert list(got.index) == [2, 3]  # key 1 tombstoned away
    assert got.loc[2, "last_orderkey"] == 21
    assert got.loc[2, "totalprice_cents"] == 2250
    assert got.loc[2, "n_versions"] == 2  # tombstone still counts as a version
    assert got.loc[3, "last_orderkey"] == 32
    assert got.loc[3, "totalprice_cents"] == 200


def test_cdc_stream_split_matches_batch(spark, tmp_path):
    """The streamed CDC apply over orders split into 3 files (3 genuine
    microbatches) must produce the SAME snapshot as the batch replay: a
    key whose winning record and whose tombstone land in DIFFERENT
    microbatches is exactly the case a naive per-batch apply without
    the struct-max merge would get wrong."""
    from seisdb_spark.queries.streaming_queries import streaming_cdc_apply
    from seisdb_spark.sources.tables import load_table

    src = str(tmp_path / "cdc_split")
    os.makedirs(src)
    pdf = load_table(spark, SMOKE_SF_DIR, "orders").toPandas()
    pdf["o_orderdate"] = pdf.o_orderdate.astype("datetime64[us]")
    for i in range(3):
        part = pdf[pdf.o_orderkey % 3 == i]
        os.makedirs(f"{src}/arrival{i}")
        part.to_parquet(f"{src}/arrival{i}/orders.parquet", index=False)
    # the case that matters exists: some customer's versions span batches
    assert (pdf.groupby("o_custkey").o_orderkey.apply(
        lambda k: (k % 3).nunique()) > 1).any()

    def _sorted(d):
        return d.sort_values("o_custkey").reset_index(drop=True)

    out = str(tmp_path / "cdc_stream")
    got = _sorted(
        streaming_cdc_apply(spark, src + "/arrival*", out_dir=out).toPandas()
    )
    want = _sorted(
        REGISTRY["cdc_snapshot_apply"].spark(spark, SMOKE_SF_DIR).toPandas()
    )
    pd.testing.assert_frame_equal(got, want)
    assert len(os.listdir(os.path.join(out, "partials"))) == 3


def test_ohlc_open_close_use_time_order_not_input_order(spark, tmp_path):
    """open/close must follow (ts, event_id), not file order or cents:
    the planted bar arrives out of order, its earliest tick has the
    LARGEST cents, and two ticks tie on ts (event_id breaks the tie)."""
    T = pd.Timestamp
    sf_dir = _plant_events(tmp_path, [
        # one hour bar for type 'view', written in shuffled order
        (5, T("2024-01-01 10:40:00"), 1, "view", 3.00, "{}"),
        (2, T("2024-01-01 10:05:00"), 1, "view", 9.00, "{}"),  # earliest -> open
        # tie on ts at the bar's end: event_id 7 > 6 -> close = 1.00
        (7, T("2024-01-01 10:50:00"), 1, "view", 1.00, "{}"),
        (6, T("2024-01-01 10:50:00"), 1, "view", 4.00, "{}"),
    ])
    got = REGISTRY["ohlc_time_bars"].spark(spark, sf_dir).toPandas()
    assert len(got) == 1
    row = got.iloc[0]
    assert row.open_cents == 900
    assert row.close_cents == 100
    assert row.high_cents == 900
    assert row.low_cents == 100
    assert row.n_events == 4
    assert row.vol_cents == 900 + 300 + 400 + 100


def test_anomaly_gate_support_and_range_peers(spark, tmp_path):
    """(a) A 10x spike after 9 steady observations flags; (b) the SAME
    spike with only 6 prior observations does not (n >= 8 support gate);
    (c) an event more than 7 days old is outside the frame; (d) two
    events at the SAME instant are RANGE peers — both see the spike in
    their shared frame."""
    T = pd.Timestamp
    rows = []
    # user 1: 9 steady hourly values of 1.00, then a 10.00 spike
    for i in range(9):
        rows.append((i, T("2024-01-02 00:00:00") + pd.Timedelta(hours=i),
                     1, "view", 1.00, "{}"))
    rows.append((9, T("2024-01-02 10:00:00"), 1, "view", 10.00, "{}"))
    # user 2: only 6 steady values then the same spike -> n=7 < 8, no flag
    for i in range(6):
        rows.append((100 + i, T("2024-01-02 00:00:00") + pd.Timedelta(hours=i),
                     2, "view", 1.00, "{}"))
    rows.append((106, T("2024-01-02 10:00:00"), 2, "view", 10.00, "{}"))
    # user 3: like user 1 but the 9 steady values are 8 DAYS before the
    # spike -> outside the trailing frame, n=1, no flag
    for i in range(9):
        rows.append((200 + i, T("2024-01-01 00:00:00") + pd.Timedelta(hours=i),
                     3, "view", 1.00, "{}"))
    rows.append((209, T("2024-01-10 00:00:00"), 3, "view", 10.00, "{}"))
    sf_dir = _plant_events(tmp_path, rows)
    got = REGISTRY["anomaly_trailing_zscore"].spark(spark, sf_dir).toPandas()
    assert set(got.event_id) == {9}
    assert got.iloc[0].win_n == 10

    # (d) RANGE peers: duplicate user 1's spike at the SAME instant with a
    # second spike event — peers share one frame (n includes both), and
    # both flag; a ROWS frame would give the two different windows.
    rows.append((10, T("2024-01-02 10:00:00"), 1, "view", 10.00, "{}"))
    sf_dir2 = _plant_events(tmp_path, rows, name="planted_ev_peers")
    got2 = REGISTRY["anomaly_trailing_zscore"].spark(spark, sf_dir2).toPandas()
    flagged = got2[got2.user_id == 1]
    assert set(flagged.event_id) == {9, 10}
    assert set(flagged.win_n) == {11}


def test_ntile_ceil_first_bucket_rule(spark, tmp_path):
    """23 orders in one priority -> NTILE(10) bucket sizes must be
    3,3,3,2,2,2,2,2,2,2 (the ANSI remainder-to-earlier-buckets rule that
    is part of the value hash)."""
    T = pd.Timestamp
    rows = [
        (k, 1, "O", float(k), T("2024-01-01"), "1-URGENT")
        for k in range(1, 24)
    ]
    sf_dir = _plant_orders(tmp_path, rows)
    got = (
        REGISTRY["ntile_price_deciles"].spark(spark, sf_dir)
        .toPandas().sort_values("decile").reset_index(drop=True)
    )
    assert list(got.n_orders) == [3, 3, 3, 2, 2, 2, 2, 2, 2, 2]
    # deciles are price-ordered: first decile holds the 3 cheapest
    assert got.iloc[0].lo_cents == 100 and got.iloc[0].hi_cents == 300
    assert got.iloc[9].hi_cents == 2300


def test_pagerank_matches_pure_python_fixed_point(spark, duck):
    """The Spark ranks must equal an INDEPENDENT pure-Python integer
    simulation of the same fixed-point semantics on the real sf0.001
    graph — not just the DuckDB oracle (which shares the SQL shape).
    Exact equality: BIGINT floor-division arithmetic has one answer."""
    from seisdb_spark.queries.graph_queries import (
        PR_BASE,
        PR_ITERS,
        PR_SCALE,
        PR_TOPK,
    )

    pairs = duck.execute(
        "SELECT DISTINCT l_partkey, l_suppkey FROM "
        f"'{SMOKE_SF_DIR}/lineitem.parquet'"
    ).fetchall()
    edges = []
    for p, s in pairs:
        edges.append((2 * p, 2 * s + 1))
        edges.append((2 * s + 1, 2 * p))
    deg: dict[int, int] = {}
    for src, _ in edges:
        deg[src] = deg.get(src, 0) + 1
    pr = {n: PR_SCALE for n in deg}
    for _ in range(PR_ITERS):
        sums: dict[int, int] = {}
        for src, dst in edges:
            sums[dst] = sums.get(dst, 0) + pr[src] // deg[src]
        pr = {n: PR_BASE + (85 * s) // 100 for n, s in sums.items()}
    want = sorted(pr.items(), key=lambda kv: (-kv[1], kv[0]))[:PR_TOPK]

    got = REGISTRY["graph_pagerank_topk"].spark(spark, SMOKE_SF_DIR).toPandas()
    assert [(int(r.node_id), int(r.pr_nano)) for r in got.itertuples()] == want
    kinds = {int(r.node_id) % 2: r.node_kind for r in got.itertuples()}
    assert all(
        kinds[k] == ("part" if k == 0 else "supplier") for k in kinds
    )


def test_ohlc_stream_split_matches_batch(spark, tmp_path):
    """The streamed OHLC bars over events split into 3 files (3 genuine
    microbatches) must equal the batch bar table: a bar whose first and
    last ticks land in DIFFERENT microbatches (guaranteed by event_id %
    3 splitting) is exactly the case a naive per-batch bar emit without
    the struct-extrema merge would get wrong."""
    from seisdb_spark.queries.streaming_queries import streaming_ohlc_bars
    from seisdb_spark.sources.tables import load_table

    src = str(tmp_path / "ohlc_split")
    os.makedirs(src)
    pdf = load_table(spark, SMOKE_SF_DIR, "events").toPandas()
    pdf["ts"] = pdf.ts.astype("datetime64[us]")
    for i in range(3):
        part = pdf[pdf.event_id % 3 == i]
        os.makedirs(f"{src}/arrival{i}")
        part.to_parquet(f"{src}/arrival{i}/events.parquet", index=False)
    # the case that matters exists: some bar's ticks span >= 2 batches
    bars = pdf.assign(bar=pdf.ts.dt.floor("h")).groupby(
        ["event_type", "bar"]
    ).event_id.apply(lambda k: (k % 3).nunique())
    assert (bars > 1).any()

    def _sorted(d):
        return d.sort_values(["event_type", "bar_ts"]).reset_index(drop=True)

    out = str(tmp_path / "ohlc_stream")
    got = _sorted(
        streaming_ohlc_bars(spark, src + "/arrival*", out_dir=out).toPandas()
    )
    want = _sorted(
        REGISTRY["ohlc_time_bars"].spark(spark, SMOKE_SF_DIR).toPandas()
    )
    pd.testing.assert_frame_equal(got, want)
    assert len(os.listdir(os.path.join(out, "partials"))) == 3


def test_embedding_dim_quantiles_nearest_rank_rule(spark, tmp_path):
    """Planted 5-vector corpus: with n=5 the nearest-rank picks are
    rank 3 (p50) and rank 5 (p90) of the (value, vec_id) total order —
    deterministic corpus ELEMENTS, including a duplicate-value tie
    broken by vec_id."""
    from seisdb_spark.functions.vectors import EMBEDDING_DIM

    sf_dir = str(tmp_path / "planted_emb")
    os.makedirs(sf_dir)
    # dim 0 carries the interesting values; all other dims are 0.0
    d0 = [5.0, 1.0, 3.0, 3.0, 9.0]  # sorted: 1,3,3,5,9 -> p50=3, p90=9
    rows = []
    for vid, v in enumerate(d0):
        emb = [float(v)] + [0.0] * (EMBEDDING_DIM - 1)
        rows.append((vid, emb, 0))
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    pdf["vec_id"] = pdf.vec_id.astype("int64")
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table({
        "vec_id": pa.array(pdf.vec_id, type=pa.int64()),
        "embedding": pa.array(
            [list(map(float, e)) for e in pdf.embedding],
            type=pa.list_(pa.float32()),
        ),
        "label": pa.array(pdf.label, type=pa.int64()),
    })
    pq.write_table(tbl, os.path.join(sf_dir, "embeddings.parquet"))

    got = (
        REGISTRY["embedding_dim_quantiles"].spark(spark, sf_dir)
        .toPandas().set_index("dim").sort_index()
    )
    assert len(got) == EMBEDDING_DIM
    assert got.loc[0, "n_values"] == 5
    assert got.loc[0, "min_val"] == 1.0
    assert got.loc[0, "p50_val"] == 3.0
    assert got.loc[0, "p90_val"] == 9.0
    assert got.loc[0, "max_val"] == 9.0
    assert (got.loc[1:, "p50_val"] == 0.0).all()


def test_twap_dwell_weighting_and_last_event_rule(spark, tmp_path):
    """Planted day: 1.00 held for 1h, 4.00 held for 1h, 2.00 last (zero
    dwell — the open interval is unobservable).  The dwell weighting and
    the last-event rule are both visible in the exact fraction; a
    tick-weighted mean would differ."""
    T = pd.Timestamp
    sf_dir = _plant_events(tmp_path, [
        (1, T("2024-01-01 00:00:00"), 1, "view", 1.00, "{}"),
        (2, T("2024-01-01 01:00:00"), 1, "view", 4.00, "{}"),
        (3, T("2024-01-01 02:00:00"), 1, "view", 2.00, "{}"),
        # a single-event day: zero active time, zero numerator
        (4, T("2024-01-02 05:00:00"), 1, "view", 9.00, "{}"),
    ], name="planted_twap")
    got = (
        REGISTRY["twap_daily_value"].spark(spark, sf_dir)
        .toPandas().sort_values("day").reset_index(drop=True)
    )
    assert len(got) == 2
    hour_us = 3_600_000_000
    assert got.iloc[0].n_events == 3
    assert got.iloc[0].twap_num == 100 * hour_us + 400 * hour_us
    assert got.iloc[0].active_us == 2 * hour_us
    assert got.iloc[1].n_events == 1
    assert got.iloc[1].twap_num == 0
    assert got.iloc[1].active_us == 0


def test_triangle_census_matches_planted_graph(spark):
    """The degree-oriented census must reproduce a hand-computed planted
    graph: a K4 on {1,2,3,4} (4 triangles, every node in exactly 3, so
    each K4 node has cc = 2*3 / (3*2) = 1) plus the path 10-11-12
    (triangle-free: tri_count 0 via the left-join, cc_den = d*(d-1)).
    Each triangle must be found EXACTLY once (unique apex in the
    orientation DAG): sum(tri_count) == 3 * n_triangles == 12."""
    from seisdb_spark.queries.graph_queries import triangle_census

    k4 = [(u, v) for u in (1, 2, 3, 4) for v in (1, 2, 3, 4) if u < v]
    edges = spark.createDataFrame(
        [{"u": u, "v": v} for u, v in k4 + [(10, 11), (11, 12)]],
        "u bigint, v bigint",
    )
    got = {
        int(r.part_id): (int(r.degree), int(r.tri_count),
                         int(r.cc_num), int(r.cc_den))
        for r in triangle_census(edges).collect()
    }
    want = {
        1: (3, 3, 6, 6), 2: (3, 3, 6, 6), 3: (3, 3, 6, 6), 4: (3, 3, 6, 6),
        10: (1, 0, 0, 0), 11: (2, 0, 0, 2), 12: (1, 0, 0, 0),
    }
    assert got == want
    assert sum(t[1] for t in got.values()) == 12


def test_copurchase_edges_canonical_and_deduped(spark):
    """Edge derivation: parts adjacent iff some order contains both —
    canonical u < v, deduped across orders, never a self-loop.  Orders
    {1,2,3} and {2,3} must yield exactly {(1,2),(1,3),(2,3)} with the
    shared (2,3) pair appearing once."""
    from seisdb_spark.queries.graph_queries import copurchase_edges

    li = spark.createDataFrame(
        [
            {"l_orderkey": 1, "l_partkey": 1},
            {"l_orderkey": 1, "l_partkey": 2},
            {"l_orderkey": 1, "l_partkey": 3},
            {"l_orderkey": 2, "l_partkey": 2},
            {"l_orderkey": 2, "l_partkey": 3},
            {"l_orderkey": 2, "l_partkey": 3},  # dup line: same part twice
        ],
        "l_orderkey bigint, l_partkey bigint",
    )
    got = sorted((int(r.u), int(r.v)) for r in copurchase_edges(li).collect())
    assert got == [(1, 2), (1, 3), (2, 3)]


def test_triangle_census_replica_invariant(spark):
    """Value certification of the graphscale tier construction
    (tools/scale_stress.py _gen_lineitem_graph): the census over N
    disjoint id-offset copies of the sf0.001 graph must equal the
    factor-1 census with every replica's per-node rows mapped through
    the same offset — nodes, degrees, triangle counts, and coefficient
    fractions all replicate exactly.  This pins what the x10/x100 tier
    TIMING rows assume: the derived corpus scales the graph without
    changing its local structure."""
    from pyspark.sql import functions as F

    from seisdb_spark.queries.graph_queries import (
        copurchase_edges,
        triangle_census,
    )
    from seisdb_spark.sources.tables import load_table

    off = 10**7  # ID_OFFSET in tools/scale_stress.py
    li = load_table(spark, SMOKE_SF_DIR, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    reps = [
        li.select(
            (F.col("l_orderkey") + r * off).alias("l_orderkey"),
            (F.col("l_partkey") + r * off).alias("l_partkey"),
        )
        for r in range(3)
    ]
    li3 = reps[0].unionByName(reps[1]).unionByName(reps[2])

    # full censuses (topk=None drops the top-50 report limit)
    base = triangle_census(copurchase_edges(li), topk=None).toPandas()
    big = triangle_census(copurchase_edges(li3), topk=None).toPandas()

    base_rows = {
        int(r.part_id): (int(r.degree), int(r.tri_count),
                         int(r.cc_num), int(r.cc_den))
        for r in base.itertuples()
    }
    want = {
        pid + r * off: row
        for r in range(3)
        for pid, row in base_rows.items()
    }
    got = {
        int(r.part_id): (int(r.degree), int(r.tri_count),
                         int(r.cc_num), int(r.cc_den))
        for r in big.itertuples()
    }
    assert got == want


def _census_brute(edge_set):
    """Independent pure-Python triangle census over a canonical u<v edge
    set: O(n^3) corner enumeration — no orientation, no intersection,
    shares nothing with the engine's plan."""
    nodes = sorted({u for u, _ in edge_set} | {v for _, v in edge_set})
    adj = {n: set() for n in nodes}
    for u, v in edge_set:
        adj[u].add(v)
        adj[v].add(u)
    tri = {n: 0 for n in nodes}
    for i, a in enumerate(nodes):
        for b in nodes[i + 1:]:
            if b not in adj[a]:
                continue
            for c in nodes:
                if c > b and c in adj[a] and c in adj[b]:
                    tri[a] += 1
                    tri[b] += 1
                    tri[c] += 1
    return {
        n: (len(adj[n]), tri[n], 2 * tri[n], len(adj[n]) * (len(adj[n]) - 1))
        for n in nodes
    }


def test_triangle_census_matches_brute_force_on_random_graphs(spark):
    """Property test of the adjacency-intersection rewrite: on 12
    deterministic pseudo-random graphs (12-22 nodes, edge probability
    sweeping sparse to near-complete — near-complete graphs maximize
    wedge/intersection traffic and tie-heavy orientations), the census
    must equal an independent O(n^3) pure-Python corner enumeration,
    node for node.  Seeded arithmetically (no RNG state), so failures
    reproduce exactly."""
    from seisdb_spark.queries.graph_queries import triangle_census

    for seed in range(12):
        n = 12 + (seed * 7) % 11  # 12..22
        p_pm = 150 + seed * 70  # edge probability in per-mille: 0.15..0.92
        edge_set = {
            (u, v)
            for u in range(1, n + 1)
            for v in range(u + 1, n + 1)
            # deterministic hash-uniform in [0, 1000)
            if (u * 2654435761 + v * 40503 + seed * 97) % 1000 < p_pm
        }
        if not edge_set:
            continue
        edges = spark.createDataFrame(
            [{"u": u, "v": v} for u, v in sorted(edge_set)],
            "u bigint, v bigint",
        )
        got = {
            int(r.part_id): (int(r.degree), int(r.tri_count),
                             int(r.cc_num), int(r.cc_den))
            for r in triangle_census(edges, topk=None).collect()
        }
        assert got == _census_brute(edge_set), f"seed={seed} n={n} p={p_pm}"


def test_orientation_bounds_out_degree_on_planted_hub(spark):
    """The wedge-bounding claim itself: on a planted hub graph (one node
    adjacent to 60 degree-1 leaves, plus a K5 core) the lower-(degree,
    id) orientation must leave the hub with out-degree <= the number of
    HIGHER-degree-or-tied neighbors — every neighbor points AT the hub,
    so the hub's 60 edges contribute 60 degree-1-or-5 sources, not
    C(60, 2) = 1770 hub wedges.  Asserted: every oriented out-degree
    <= ceil(sqrt(2m)) (the textbook bound the 100 TB story rests on),
    the hub's out-degree is exactly 0 (all edges oriented INTO it), and
    the census is still exact: the hub closes C(5, 2) = 10 triangles
    with the K5 edges among its neighbors (found via the K5 apexes'
    out-neighborhoods, never via hub wedges), each K5 node sits in
    C(4, 2) = 6 core + 4 hub triangles, and the corner total is 60."""
    from pyspark.sql import functions as F

    from seisdb_spark.queries.graph_queries import triangle_census

    hub = 1000
    leaves = [(min(hub, i), max(hub, i)) for i in range(1, 61)]
    k5 = [(u, v) for u in range(1, 6) for v in range(1, 6) if u < v]
    # K5 nodes 1..5 are ALSO hub neighbors (ids 1..60 include them):
    # the hub sees 60 neighbors of degree 1 or 5 — all lower-(d, id)
    # than the hub's 60, so every hub edge orients INTO the hub, and
    # the hub's 10 triangles must be discovered at the K5 edges (their
    # oriented out-neighborhoods contain the hub), not at hub wedges.
    edge_set = sorted(set(leaves + k5))
    m = len(edge_set)
    edges = spark.createDataFrame(
        [{"u": u, "v": v} for u, v in edge_set], "u bigint, v bigint"
    )

    deg = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
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
    out_deg = {
        int(r.src): int(r.od)
        for r in oe.groupBy("src").agg(
            F.count(F.lit(1)).alias("od")
        ).collect()
    }
    bound = int((2 * m) ** 0.5) + 1
    assert all(od <= bound for od in out_deg.values()), out_deg
    assert hub not in out_deg  # every hub edge oriented INTO the hub

    census = {
        int(r.part_id): int(r.tri_count)
        for r in triangle_census(edges, topk=None).collect()
    }
    assert census[hub] == 10  # one per K5 edge among its neighbors
    assert all(census[n] == 10 for n in range(1, 6))  # 6 core + 4 hub
    assert sum(census.values()) == 60  # 3 * (C(5,3) + C(5,2)) triangles


def test_kcore_planted_cascade(spark):
    """Planted multi-round peeling cascade for k=2: a 4-node path
    (10-11-12-13) hanging off a triangle (1-2-3 via node 13... edges
    below) peels EXACTLY one layer per round — the leaf first, then the
    newly-exposed end, until only the triangle (the 2-core, every
    degree exactly 2) survives.  Pins the fixpoint value, the cascade
    actually iterating (max_peels=1 must raise), and the empty-graph
    result for an impossible k."""
    import pytest

    from seisdb_spark.queries.graph_queries import kcore_core

    tri = [(1, 2), (1, 3), (2, 3)]
    path = [(3, 10), (10, 11), (11, 12)]  # hangs off triangle node 3
    edges = spark.createDataFrame(
        [{"u": u, "v": v} for u, v in tri + path], "u bigint, v bigint"
    )
    got = {
        int(r.part_id): int(r.core_degree)
        for r in kcore_core(edges, k=2, max_peels=10).collect()
    }
    assert got == {1: 2, 2: 2, 3: 2}

    # the cascade needs 3 peel rounds (12 -> 11 -> 10); a 1-round budget
    # must fail LOUDLY, never return the mid-cascade state
    with pytest.raises(RuntimeError, match="did not converge"):
        kcore_core(edges, k=2, max_peels=1).collect()

    # k above the max degree: the core is empty, with the right schema
    empty = kcore_core(edges, k=10, max_peels=10)
    assert empty.count() == 0
    assert empty.columns == ["part_id", "core_degree"]


def test_kcore_matches_brute_force_on_random_graphs(spark):
    """The peeling fixpoint vs an independent pure-Python peeler on the
    same deterministic pseudo-random graphs the triangle property test
    uses (k-cores are unique, so any peeling order agrees)."""
    from seisdb_spark.queries.graph_queries import kcore_core

    def brute_kcore(edge_set, k):
        adj = {}
        for u, v in edge_set:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        changed = True
        while changed:
            changed = False
            for n in list(adj):
                if len(adj[n]) < k:
                    for o in adj.pop(n):
                        adj[o].discard(n)
                    changed = True
        return {n: len(ns) for n, ns in adj.items() if ns}

    for seed in (0, 3, 7):
        n = 14 + seed
        edge_set = {
            (u, v)
            for u in range(1, n + 1)
            for v in range(u + 1, n + 1)
            if (u * 2654435761 + v * 40503 + seed * 97) % 1000 < 400
        }
        edges = spark.createDataFrame(
            [{"u": u, "v": v} for u, v in sorted(edge_set)],
            "u bigint, v bigint",
        )
        for k in (2, 4, 6):
            got = {
                int(r.part_id): int(r.core_degree)
                for r in kcore_core(edges, k=k, max_peels=30).collect()
            }
            assert got == brute_kcore(edge_set, k), f"seed={seed} k={k}"


def test_bfs_planted_path_and_unreachable_component(spark):
    """Planted multi-round frontier expansion: a 6-node path seeded at
    node 100 (100 % 100 == 0 picks exactly it) must assign hops = path
    distance; a disjoint component with no seed must be absent; the hop
    CAP must truncate (not error — capped semantics is total, unlike the
    k-core fixpoint)."""
    from seisdb_spark.queries.graph_queries import bfs_hops

    path = [(100, 1), (1, 2), (2, 3), (3, 4), (4, 5)]
    island = [(7, 8), (8, 9)]  # no node divisible by 100 — unreachable
    edges = spark.createDataFrame(
        [{"u": u, "v": v} for u, v in path + island], "u bigint, v bigint"
    )
    got = {
        int(r.part_id): int(r.hops)
        for r in bfs_hops(edges, seed_mod=100, max_hops=10).collect()
    }
    assert got == {100: 0, 1: 1, 2: 2, 3: 3, 4: 4, 5: 5}

    # cap below the path length: nodes beyond the cap are EXCLUDED
    capped = {
        int(r.part_id): int(r.hops)
        for r in bfs_hops(edges, seed_mod=100, max_hops=2).collect()
    }
    assert capped == {100: 0, 1: 1, 2: 2}

    # no seeds at all: empty result with the right schema
    empty = bfs_hops(edges, seed_mod=10**9, max_hops=3)
    assert empty.count() == 0
    assert empty.columns == ["part_id", "hops"]


def test_bfs_nearest_seed_on_multi_seed_graphs(spark):
    """Multi-source semantics vs an independent pure-Python BFS on the
    deterministic pseudo-random graphs the k-core test uses: hops =
    distance to the NEAREST seed, levels set-unique regardless of visit
    order."""
    import collections

    from seisdb_spark.queries.graph_queries import bfs_hops

    def brute_bfs(edge_set, seed_mod, max_hops):
        adj = collections.defaultdict(set)
        nodes = set()
        for u, v in edge_set:
            adj[u].add(v)
            adj[v].add(u)
            nodes |= {u, v}
        dist = {n: 0 for n in nodes if n % seed_mod == 0}
        frontier = set(dist)
        for h in range(1, max_hops + 1):
            frontier = {
                m for n in frontier for m in adj[n] if m not in dist
            }
            for m in frontier:
                dist[m] = h
            if not frontier:
                break
        return dist

    for seed in (0, 3, 7):
        n = 14 + seed
        edge_set = {
            (u, v)
            for u in range(1, n + 1)
            for v in range(u + 1, n + 1)
            if (u * 2654435761 + v * 40503 + seed * 97) % 1000 < 120
        }
        edges = spark.createDataFrame(
            [{"u": u, "v": v} for u, v in sorted(edge_set)],
            "u bigint, v bigint",
        )
        for mod in (5, 7):
            got = {
                int(r.part_id): int(r.hops)
                for r in bfs_hops(edges, seed_mod=mod, max_hops=6).collect()
            }
            assert got == brute_bfs(edge_set, mod, 6), f"seed={seed} mod={mod}"


def test_bfs_replica_invariant(spark):
    """Value certification of the graphscale tier construction for BFS:
    the hop table over N disjoint id-offset copies of the sf0.001 graph
    must equal the factor-1 table with every replica's rows mapped
    through the offset (ID_OFFSET is a multiple of BFS_SEED_MOD, so each
    copy carries its own seeds)."""
    from pyspark.sql import functions as F

    from seisdb_spark.queries.graph_queries import (
        bfs_hops,
        copurchase_edges,
    )
    from seisdb_spark.sources.tables import load_table

    off = 10**7  # ID_OFFSET in tools/scale_stress.py
    li = load_table(spark, SMOKE_SF_DIR, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    reps = [
        li.select(
            (F.col("l_orderkey") + r * off).alias("l_orderkey"),
            (F.col("l_partkey") + r * off).alias("l_partkey"),
        )
        for r in range(3)
    ]
    li3 = reps[0].unionByName(reps[1]).unionByName(reps[2])

    base = {
        int(r.part_id): int(r.hops)
        for r in bfs_hops(copurchase_edges(li)).collect()
    }
    want = {pid + r * off: h for r in range(3) for pid, h in base.items()}
    got = {
        int(r.part_id): int(r.hops)
        for r in bfs_hops(copurchase_edges(li3)).collect()
    }
    assert got == want


def test_sssp_cost_beats_hops_on_planted_triangle(spark):
    """The relaxation-vs-frontier divergence pin: with w = 1 + (u+v) % 8,
    the 2-edge path 3-5-11 (cost 1+1) must beat the direct edge 3-11
    (cost 7) — a hop-minimizing BFS would stop at the 1-edge answer.
    Node 3 is the only seed under seed_mod=3 in this node set."""
    from seisdb_spark.queries.graph_queries import sssp_cost

    edges = spark.createDataFrame(
        [{"u": 3, "v": 5}, {"u": 5, "v": 11}, {"u": 3, "v": 11}],
        "u bigint, v bigint",
    )
    got = {
        int(r.part_id): int(r.min_cost)
        for r in sssp_cost(edges, seed_mod=3, max_edges=4).collect()
    }
    # w(3,5) = 1 + 8%8 = 1; w(5,11) = 1 + 16%8 = 1; w(3,11) = 1 + 14%8 = 7
    assert got == {3: 0, 5: 1, 11: 2}

    # edge budget 1: the relaxation is cut off before the cheap detour,
    # so the direct edge's cost 7 stands — pins the <= max_edges cap
    capped = {
        int(r.part_id): int(r.min_cost)
        for r in sssp_cost(edges, seed_mod=3, max_edges=1).collect()
    }
    assert capped == {3: 0, 5: 1, 11: 7}


def test_sssp_matches_brute_force_on_random_graphs(spark):
    """Engine relaxation vs an independent pure-Python Bellman-Ford on
    the deterministic pseudo-random graphs the k-core/BFS tests use."""
    from seisdb_spark.queries.graph_queries import SSSP_WEIGHT_MOD, sssp_cost

    def brute(edge_set, seed_mod, max_edges):
        nodes = sorted({u for u, _ in edge_set} | {v for _, v in edge_set})
        wadj = []
        for u, v in edge_set:
            w = 1 + (u + v) % SSSP_WEIGHT_MOD
            wadj += [(u, v, w), (v, u, w)]
        dist = {n: 0 for n in nodes if n % seed_mod == 0}
        for _ in range(max_edges):
            new = dict(dist)
            for s, d, w in wadj:
                if s in dist and (d not in new or dist[s] + w < new[d]):
                    new[d] = dist[s] + w
            dist = new
        return dist

    for seed in (0, 3, 7):
        n = 14 + seed
        edge_set = {
            (u, v)
            for u in range(1, n + 1)
            for v in range(u + 1, n + 1)
            if (u * 2654435761 + v * 40503 + seed * 97) % 1000 < 150
        }
        edges = spark.createDataFrame(
            [{"u": u, "v": v} for u, v in sorted(edge_set)],
            "u bigint, v bigint",
        )
        for mod in (5, 7):
            got = {
                int(r.part_id): int(r.min_cost)
                for r in sssp_cost(edges, seed_mod=mod, max_edges=6).collect()
            }
            assert got == brute(edge_set, mod, 6), f"seed={seed} mod={mod}"


def test_sssp_replica_invariant(spark):
    """Value certification of the graphscale tier for the WEIGHTED
    operator: the weight modulus 8 divides ID_OFFSET = 10^7, so replica
    copies carry identical weights and the cost table must replicate
    exactly through the id offset (weights would change under a modulus
    that does not divide the offset — this is the pin that keeps that
    invariant from silently breaking)."""
    from pyspark.sql import functions as F

    from seisdb_spark.queries.graph_queries import (
        copurchase_edges,
        sssp_cost,
    )
    from seisdb_spark.sources.tables import load_table

    off = 10**7
    li = load_table(spark, SMOKE_SF_DIR, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    reps = [
        li.select(
            (F.col("l_orderkey") + r * off).alias("l_orderkey"),
            (F.col("l_partkey") + r * off).alias("l_partkey"),
        )
        for r in range(3)
    ]
    li3 = reps[0].unionByName(reps[1]).unionByName(reps[2])

    base = {
        int(r.part_id): int(r.min_cost)
        for r in sssp_cost(copurchase_edges(li)).collect()
    }
    want = {pid + r * off: c for r in range(3) for pid, c in base.items()}
    got = {
        int(r.part_id): int(r.min_cost)
        for r in sssp_cost(copurchase_edges(li3)).collect()
    }
    assert got == want


def test_sssp_early_exit_engages_and_preserves_values(spark):
    """The fixpoint early exit must (a) actually engage — the sf0.01
    co-purchase costs converge by round ~4 of SSSP_MAX_EDGES=8, so
    running all 8 would mean the optimization silently regressed — and
    (b) never fire before a true fixpoint: on a 7-node path graph the
    farthest node's cost only appears in round 7, so with max_edges=8
    the loop must run at least 7 rounds and still produce the exact
    per-hop prefix sums."""
    from seisdb_spark.functions.graph import LAST_SUPERSTEPS
    from seisdb_spark.queries import graph_queries as gq
    from seisdb_spark.queries.registry import REGISTRY
    from tests.conftest import SF_DIR

    spark.__dict__.get("_seisdb_plan_cache", {}).pop(
        ("graph_sssp_cost", SF_DIR), None
    )
    REGISTRY["graph_sssp_cost"].spark(spark, SF_DIR)
    assert 0 < len(LAST_SUPERSTEPS["sssp"]) < gq.SSSP_MAX_EDGES, (
        f"early exit did not engage: {len(LAST_SUPERSTEPS['sssp'])} rounds"
    )

    # path 0-1-2-...-7, seed node 0 (seed_mod large so only 0 qualifies);
    # node k's cost first materializes in round k — a premature exit
    # would leave the tail unlabelled or stale
    edges = spark.createDataFrame(
        [{"u": i, "v": i + 1} for i in range(7)], "u bigint, v bigint"
    )
    got = {
        int(r.part_id): int(r.min_cost)
        for r in gq.sssp_cost(edges, seed_mod=1000, max_edges=8).collect()
    }
    w = lambda a, b: 1 + (a + b) % gq.SSSP_WEIGHT_MOD
    want, c = {0: 0}, 0
    for i in range(7):
        c += w(i, i + 1)
        want[i + 1] = c
    assert got == want
    assert len(LAST_SUPERSTEPS["sssp"]) >= 7  # no exit before the true fixpoint
