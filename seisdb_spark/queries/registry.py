"""Query registry: name -> (spark callable, duckdb oracle SQL, bench flag).

Contract (driver, __spark_entry__.py): each Spark callable takes
``(spark, sf_dir)`` and returns a DataFrame; the oracle is ANSI SQL DuckDB
runs over the same parquet tables registered as views.  Column names are
aliased identically on both sides — the driver sorts columns by name before
value-hashing.

Determinism discipline (so value hashes match):
  * every float aggregate is ``round(...)``-ed on both sides;
  * running/ordered computations use a total order (explicit tiebreakers);
  * integer sums are CAST to BIGINT in DuckDB (its SUM(int) yields HUGEINT);
  * scalar float arithmetic (min/max/normalize) is done in float64 on both
    sides — identical IEEE ops give identical bits, no rounding needed.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: SparkQuery
    oracle: str | None  # None => non-SQL-expressible; driver does rows-only check
    doc: str = ""
    bench: bool = False  # include in bench.py headline set
    #: True for driver-loop fixpoint queries (k-core peel, BFS frontier):
    #: their loop runs at plan build, so one pass costs far more than a
    #: plain query's; bench.py gives them fewer timed passes
    #: (N_WARM_FIXPOINT) and a subtotal of their own.
    fixpoint: bool = False


REGISTRY: dict[str, QuerySpec] = {}


def query(
    name: str,
    oracle: str | None,
    doc: str = "",
    bench: bool = False,
    fixpoint: bool = False,
):
    """Decorator registering a Spark query with its DuckDB oracle twin.

    The registered callable is ``fn`` itself: every call builds a fresh
    plan, so a harness that times ``spec.spark(...)`` plus
    :func:`seisdb_spark.plancheck.run_plan` prices the plan build (and
    any jobs it runs, such as a driver loop or a sketch collected into
    a broadcast) together with the execution.  A streaming twin's
    DataFrame reads a per-(process, sf_dir) staging root, so the next
    call of the same twin with the same sf_dir invalidates the
    DataFrame an earlier call returned.
    """

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(
            name=name,
            spark=fn,
            oracle=oracle,
            doc=doc,
            bench=bench,
            fixpoint=fixpoint,
        )
        return fn

    return deco
