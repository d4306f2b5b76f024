"""One fresh plan per registry call, the one full-execution primitive
(``plancheck.run_plan``), and the session's cached-plan coalescing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from seisdb_spark.plancheck import run_plan
from seisdb_spark.queries import REGISTRY
from tests.conftest import SF_DIR


def _in_job_group(spark, group, fn):
    """(fn(), number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_registry_call_builds_a_fresh_plan(spark):
    """Every registry call builds its plan again, including the jobs the
    plan build runs (heavy_hitters_gate collects its sketch at build)."""
    fn = REGISTRY["heavy_hitters_gate"].spark
    d1, _ = _in_job_group(spark, "registry-call-1", lambda: fn(spark, SF_DIR))
    d2, jobs = _in_job_group(spark, "registry-call-2", lambda: fn(spark, SF_DIR))
    assert d1 is not d2
    assert jobs >= 1


def test_run_plan_evaluates_every_output_column(spark):
    """count() prunes an output column that raises under ANSI; run_plan
    evaluates it."""
    df = spark.range(4).select(
        "id", (F.lit(1) / (F.col("id") - F.col("id"))).alias("bad")
    )
    assert df.count() == 4
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        run_plan(df)


def test_persisted_shuffle_frame_coalesces(spark):
    """A persisted groupBy frame materializes with at most
    defaultParallelism partitions, not AQE's initial 512."""
    df = (
        spark.range(1000)
        .groupBy((F.col("id") % 7).alias("k"))
        .count()
        .persist()
    )
    try:
        assert run_plan(df) == 7
        parts = df.rdd.getNumPartitions()
    finally:
        df.unpersist()
    assert parts <= spark.sparkContext.defaultParallelism, parts
