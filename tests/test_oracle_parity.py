"""Driver-contract rehearsal: run every registered Spark query and its DuckDB
oracle at sf0.01, compare row count, column names, and exact values
(order-insensitive) — the same gate CORRECTNESS_r{N}.json applies.
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from seisdb_spark.plancheck import run_plan
from seisdb_spark.queries import REGISTRY
from tests.conftest import SF_DIR

ORACLE_QUERIES = sorted(name for name, s in REGISTRY.items() if s.oracle is not None)
ROWS_ONLY_QUERIES = sorted(name for name, s in REGISTRY.items() if s.oracle is None)


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, normalize dtypes, sort rows — mirrors an
    order-insensitive value hash."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
        elif pd.api.types.is_object_dtype(s):
            df[c] = s.astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def assert_frames_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str):
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns), (
        f"{name}: column mismatch {sorted(spark_pdf.columns)} vs {sorted(oracle_pdf.columns)}"
    )
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: row count {len(spark_pdf)} vs {len(oracle_pdf)}"
    )
    a = canonicalize(spark_pdf)
    b = canonicalize(oracle_pdf)
    for c in a.columns:
        if pd.api.types.is_float_dtype(a[c]):
            sa, sb = a[c].to_numpy(), b[c].to_numpy()
            both_nan = pd.isna(sa) & pd.isna(sb)
            exact = (sa == sb) | both_nan
            if not exact.all():
                bad = (~exact).nonzero()[0][:5]
                raise AssertionError(
                    f"{name}: float col {c} mismatch at rows {bad}: "
                    f"{sa[bad]} vs {sb[bad]} "
                    f"(max abs diff {max(abs(x - y) for x, y in zip(sa[bad], sb[bad]) if not (math.isnan(x) or math.isnan(y)))})"
                )
        else:
            pd.testing.assert_series_equal(a[c], b[c], check_names=False, obj=f"{name}.{c}")


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, duck, name):
    spec = REGISTRY[name]
    spark_pdf = spec.spark(spark, SF_DIR).toPandas()
    oracle_pdf = duck.execute(spec.oracle).fetchdf()
    assert_frames_match(spark_pdf, oracle_pdf, name)


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_queries_run(spark, name):
    # run_plan evaluates every output column; count() would prune them
    assert run_plan(REGISTRY[name].spark(spark, SF_DIR)) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert df.columns == [
        "proc", "gll_id", "i_spec", "i_gll", "n_values",
        "offset", "scale", "length", "start", "blob_sha",
    ]


def test_contract_shapes():
    import __spark_entry__ as e

    qs = e.queries()
    os_ = e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 15


def test_driver_window_leads_registry():
    """The driver hash-checks the FIRST 50 registry entries: the curated
    DRIVER_WINDOW must be exactly that prefix (a silent registration-order
    change would push the LLM-pipeline/streaming surface out of the
    correctness window again — the round-2 gap)."""
    import __spark_entry__ as e
    from seisdb_spark.queries import DRIVER_WINDOW

    assert len(DRIVER_WINDOW) == 50
    assert list(e.queries())[:50] == DRIVER_WINDOW
    # every window entry has an oracle as of round 14: every rows-only
    # entry that needed its one clean driver execution has had it and
    # rotated out (kmeans_refine_assign r8; pq_refined_encode +
    # bpe_train_merges r10; bpe_apply_tokenize r11; the long-clean record
    # sinks sgt_pipeline_records and multimodal_decode_features r12;
    # sequence_packing_learned r14 after TWO clean executions), so the
    # window is 50 hard oracle rows.  A future rows-only registration
    # starts in-window per the governance precedent and joins this list
    # until its clean execution lands.
    no_oracle = [n for n in DRIVER_WINDOW if REGISTRY[n].oracle is None]
    assert no_oracle == []
