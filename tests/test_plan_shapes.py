"""Every scale-harness plan predicate, asserted at the driver gate SF on
every pytest run.

tools/scale_stress.py carries one executed-plan predicate per stressed
query (no cartesian products, single keyed exchanges, broadcast sides
staying broadcast...).  Until round 12 those only ran when a tier run
was taken, so a plan regression could sit unnoticed between tier
refreshes.  This test builds and runs each stressed query at sf0.01 with
``run_plan`` (the scale harness's own action) and asserts its own
predicate on the AQE-final plan — the same check the tier rows
certify, now on every suite run.

Queries whose predicate is only meaningful on a derived corpus are
skipped here; their tier runs remain the evidence.  That is the
richvocab override only (vocab_coverage_32k's top-V/broadcast-back
claims are vacuous below V distinct words) — graphscale queries assert
here too, because that override exists to SCALE the graph, not to
change its shape: the predicate holds or fails identically on the
plain corpus.
"""

from __future__ import annotations

import pytest

from seisdb_spark.plancheck import final_plan, run_plan
from seisdb_spark.queries import REGISTRY
from tests.conftest import SF_DIR
from tools.scale_stress import DIR_OVERRIDE, STRESS_QUERIES

CHECKED = sorted(
    n for n in STRESS_QUERIES if DIR_OVERRIDE.get(n) != "richvocab"
)


@pytest.mark.parametrize("name", CHECKED)
def test_stress_plan_predicate_holds_at_gate_sf(spark, name):
    # a fresh registry call, so a driver loop's round plans (recorded at
    # plan build) are from THIS corpus; run_plan executes df's own plan,
    # which final_plan then reads
    df = REGISTRY[name].spark(spark, SF_DIR)
    run_plan(df)
    plan = final_plan(df)
    assert STRESS_QUERIES[name](plan), (
        f"{name}: scale-harness plan predicate failed at {SF_DIR} — "
        "the executed plan no longer has the certified 100TB shape"
    )
