"""Plan lint: every registered query's physical plan is screened for
anti-patterns that break at 100 TB, and for drift past its recorded
shuffle budget.

- ``BatchEvalPython`` = row-at-a-time Python UDF in the plan — always a
  bug in this engine (Arrow-batched ``ArrowEvalPython`` / ``MapInPandas``
  / ``FlatMapGroupsInPandas*`` are the sanctioned Python paths).
- ``CartesianProduct`` = unkeyed shuffle-product — never acceptable;
  intentional small-dim expansions must come through broadcast
  (BroadcastNestedLoopJoin), which caps the replicated side.
- Budget drift (VERDICT r04 #10): tests/plan_budgets.json records each
  query's (exchanges, bnlj) counts as CEILINGS; a plan that newly
  exceeds them fails HERE instead of showing up as a bench regression.
  After an intentional plan change, regenerate deliberately with
  ``python tools/plan_digest.py --budgets``. Counts can legitimately
  shrink (AQE, broadcast promotion); only growth fails.
"""

import json
import re
from pathlib import Path

import pytest

from pyspark_unload_to_gcs_spark.operators import dedup as D
from pyspark_unload_to_gcs_spark.registry_pipeline import _SPAN_K
from tools.plan_digest import screened_queries

# memoized-checkpoint queries render as 'Scan ExistingRDD' — lint their
# PLAN TWIN (the un-checkpointed frame) so the real mining stages stay
# under the anti-pattern screens
_SCREENED = screened_queries()
QUERY_NAMES = sorted(_SCREENED)
_BUDGET_PATH = Path(__file__).resolve().parent / "plan_budgets.json"
BUDGETS = json.loads(_BUDGET_PATH.read_text()) if _BUDGET_PATH.exists() else {}


def _plan(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    # Memoized queries (the stream replays, repeated_span_dedup) return
    # the SAME DataFrame object across calls; once an earlier test has
    # executed it, AdaptiveSparkPlan.toString() renders BOTH the final
    # plan AND an "== Initial Plan ==" section, double-counting every
    # Exchange against the budget (recorded from unexecuted plans).
    # Lint only the plan that actually executes.
    return plan.split("== Initial Plan ==")[0]


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_plan_lint_and_budget(spark, sf_dir, name):
    plan = _plan(_SCREENED[name](spark, sf_dir))
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF in plan"
    assert "CartesianProduct" not in plan, f"{name}: cartesian product in plan"

    budget = BUDGETS.get(name)
    assert budget is not None, (
        f"{name}: no entry in tests/plan_budgets.json — record its shuffle "
        "budget with `python tools/plan_digest.py --budgets`"
    )
    exchanges = len(re.findall(r"\bExchange\b", plan))
    bnlj = plan.count("BroadcastNestedLoopJoin")
    assert exchanges <= budget["exchanges"], (
        f"{name}: plan now has {exchanges} exchanges, budget is "
        f"{budget['exchanges']} — a new shuffle crept in (regenerate the "
        "budget only if the change is intentional)"
    )
    assert bnlj <= budget["bnlj"], (
        f"{name}: plan now has {bnlj} BroadcastNestedLoopJoins, budget is "
        f"{budget['bnlj']}"
    )


def _pq_stage(spark, sf_dir):
    from pyspark_unload_to_gcs_spark.operators import similarity as S
    from pyspark_unload_to_gcs_spark.registry import _t
    from pyspark_unload_to_gcs_spark.registry_pipeline import _pq_shared

    _, centroids, codebooks, _ = _pq_shared(spark, sf_dir)
    corpus = _t(spark, sf_dir, "embeddings").filter("vec_id != 0")
    return S.pq_encode(S.ivf_assign(corpus, centroids), codebooks)


def _docs(spark, sf_dir):
    from pyspark_unload_to_gcs_spark.registry import _t

    return _t(spark, sf_dir, "documents")


# The frames that pass a session.barrier render downstream as
# 'Scan ExistingRDD', so the registered plans no longer show their
# stages; screen each one as it is before its barrier.
_BEFORE_BARRIER = {
    "simhash_projection": lambda s, d: D._simhash_stage(_docs(s, d), "doc_id", "text"),
    "minhash_signatures": lambda s, d: D.minhash_signatures(_docs(s, d), "doc_id", "text"),
    "signature_frame": lambda s, d: D.signature_frame(_docs(s, d), "doc_id", "text"),
    "repeated_span_stage": lambda s, d: D._span_stage(_docs(s, d), "doc_id", "text", _SPAN_K),
    "pq_encode": _pq_stage,
}


@pytest.mark.parametrize("name", sorted(_BEFORE_BARRIER))
def test_plan_lint_before_barrier(spark, sf_dir, name):
    plan = _plan(_BEFORE_BARRIER[name](spark, sf_dir))
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF in plan"
    assert "CartesianProduct" not in plan, f"{name}: cartesian product in plan"
    if name == "simhash_projection":
        assert "ArrowEvalPython" in plan, f"{name}: the simhash UDF left Arrow"
