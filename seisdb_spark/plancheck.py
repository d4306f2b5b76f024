"""Full plan execution and executed-plan shape introspection (used by
bench.py, the scale-stress harnesses and the plan-shape tests).

:func:`run_plan` is the one full-execution primitive: it runs a
DataFrame's own physical plan to completion and counts rows on the
executors.  Unlike ``count()`` it prunes no output column, unlike
``collect()`` it ships no row to the driver, and unlike a sink write it
executes through df's own QueryExecution, so a later :func:`final_plan`
reads the AQE plan that actually ran.

Plan assertions match the AQE-FINAL physical plan.  ``executedPlan()`` on an
executed AdaptiveSparkPlan stringifies as ``<final plan> == Initial Plan ==
<initial plan>`` (the "Final Plan ==" header appears in some Spark versions
too), and that format drifts across versions — so extraction is centralized
here and deliberately loose:

* if both a Final and an Initial marker are present, the slice between them
  is the final plan;
* if only the Initial marker is present, everything before it is;
* if neither is (non-AQE plan, or a future format change), the WHOLE string
  is used — presence checks then over-match rather than vacuously pass, and
  count checks fail loudly, which is the failure direction we want on a
  Spark upgrade.

Matching is case-insensitive throughout (node-name casing has changed
across Spark releases).
"""

from __future__ import annotations

import re


def run_plan(df) -> int:
    """Execute df's physical plan to completion; return its row count."""
    return df._jdf.queryExecution().executedPlan().execute().count()


def final_plan(df) -> str:
    """The AQE-final section of the executed physical plan, as text."""
    s = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(
        r"==\s*Final\s+Plan\s*==(.*?)==\s*Initial\s+Plan\s*==",
        s,
        re.S | re.I,
    )
    if m:
        return m.group(1)
    return re.split(r"==\s*Initial\s+Plan\s*==", s, flags=re.I)[0]


def count_exchanges(plan: str, key: str | None = None) -> int:
    """Number of shuffle-Exchange nodes in a plan string; with ``key``,
    only hash-partitioned exchanges leading with that column."""
    if key is not None:
        return len(
            re.findall(rf"(?i)exchange\s+hashpartitioning\({re.escape(key)}", plan)
        )
    # \b keeps BroadcastExchange out of the shuffle count; the suffix
    # matches both 'hashpartitioning(...)' and 'SinglePartition' spellings
    return len(re.findall(r"(?i)\bexchange\s+\S*partition", plan))


def has_node(plan: str, name: str) -> bool:
    """Case-insensitive node-presence check (e.g. 'BroadcastHashJoin')."""
    return name.lower() in plan.lower()
