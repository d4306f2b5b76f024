from __future__ import annotations

import itertools
import os

import duckdb
import pytest

SF_DIR = os.environ.get("SEISDB_TEST_SF_DIR", "/root/testdata/sf0.01")
SMOKE_SF_DIR = "/root/testdata/sf0.001"

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@pytest.fixture(scope="session")
def spark():
    from seisdb_spark.session import get_spark

    spark = get_spark(app_name="seisdb-tests")
    yield spark
    spark.stop()


NSPEC = 3
NPROCS = 2


_JOB_GROUPS = itertools.count()


def jobs_run(spark, action) -> int:
    """Number of Spark jobs ``action()`` runs, through ``statusTracker``."""
    sc = spark.sparkContext
    # a fresh group per call: an id() is reused once its object is
    # collected, and a reused group would count the earlier call's jobs too
    group = f"test-jobs-{next(_JOB_GROUPS)}"
    sc.setJobGroup(group, "counted action")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def fixture_meta(tmp_path_factory):
    from seisdb_spark.pipeline import generate_fixture

    root = str(tmp_path_factory.mktemp("specfem_fixture"))
    return generate_fixture(root, nprocs=NPROCS, nspec=NSPEC)


def _built(spark, m, kind):
    from seisdb_spark.pipeline import dgf_build, sgt_build

    build = sgt_build if kind == "SGT" else dgf_build
    return build(
        spark,
        os.path.join(m["model_dir"], "proc*_ibool.bin"),
        m["force_dirs"],
        m["nspec"],
        m["step0"],
        m["step1"],
        m["dstep"],
        network="CI",
        station="USC",
    )


def _collected(built):
    records, meta, steps = built
    pdf = records.toPandas().sort_values(["proc", "gll_id"]).reset_index(drop=True)
    return pdf, meta, steps


@pytest.fixture(scope="session")
def sgt_built(spark, fixture_meta):
    """The default fixture's SGT build: lazy (records, meta, steps)."""
    return _built(spark, fixture_meta, "SGT")


@pytest.fixture(scope="session")
def dgf_built(spark, fixture_meta):
    """The default fixture's DGF build: lazy (records, meta, steps)."""
    return _built(spark, fixture_meta, "DGF")


@pytest.fixture(scope="session")
def sgt_records(sgt_built):
    """(records as pandas sorted by proc, gll_id; meta; steps) of the
    session SGT build, run once."""
    return _collected(sgt_built)


@pytest.fixture(scope="session")
def dgf_records(dgf_built):
    """(records as pandas sorted by proc, gll_id; meta; steps) of the
    session DGF build, run once."""
    return _collected(dgf_built)


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()
