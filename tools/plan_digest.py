"""Generate PLANS.md: a physical-plan digest for every registered query
at sf0.001 — exchange count, broadcast/sort-merge joins, Arrow-batched
Python stages, and whole-stage-codegen span count. Regenerate with:

    python tools/plan_digest.py > PLANS.md
    python tools/plan_digest.py --budgets   # rewrite tests/plan_budgets.json

The digest is the at-a-glance scale audit: queries are sorted with the
most exchanges first (each Exchange is a cluster-wide shuffle at 100 TB;
the count includes exchanges that AQE reuses at run time, where a
``ReusedExchange`` in the final adaptive plan runs the shuffle once),
and any row-at-a-time Python (BatchEvalPython) or CartesianProduct would
show in the flags column — the plan-lint test asserts neither exists.

``--budgets`` records each query's current (exchanges, bnlj) counts as
CEILINGS in tests/plan_budgets.json; tests/test_plan_lint.py fails any
query whose live plan exceeds its recorded budget, so a shuffle
regression surfaces in CI instead of at bench time (VERDICT r04 #10).
Rerun --budgets deliberately after an intentional plan change.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark_unload_to_gcs_spark import registry  # noqa: E402
from pyspark_unload_to_gcs_spark.registry_pipeline import PLAN_TWINS  # noqa: E402
from pyspark_unload_to_gcs_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def screened_queries() -> dict:
    """The registered queries as the digest, the budgets and
    tests/test_plan_lint.py screen them: memoized-checkpoint queries
    substitute their PLAN TWIN so the real plan is screened, not the
    'Scan ExistingRDD' shell."""
    return {**registry.queries(), **PLAN_TWINS}


def digest(plan: str) -> dict:
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        # executedPlan.toString marks codegen stages as "*(n) Operator"
        "codegen": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "python": sum(
            plan.count(op)
            for op in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")
        ),
        "flags": ", ".join(
            f for f in ("BatchEvalPython", "CartesianProduct") if f in plan
        ),
    }


def write_budgets(path: str | None = None) -> None:
    import json

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = path or os.path.join(repo, "tests", "plan_budgets.json")
    # ALWAYS the conftest fixture dir (SPARK_GRAFT_SF0001 / sf0.001),
    # NOT the bench-shared SPARK_GRAFT_SF_DIR: budgets are ceilings for
    # test_plan_lint, which runs at the conftest scale — recording them
    # from a bench-configured shell's sf0.1 plans would bake in slack
    # (or spurious failures) wherever broadcast thresholds differ by
    # scale (r05 review).
    budget_sf = os.environ.get("SPARK_GRAFT_SF0001", "/root/testdata/sf0.001")
    spark = get_spark(app_name="plan-budgets", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    budgets = {}
    for name, q in screened_queries().items():
        plan = q(spark, budget_sf)._jdf.queryExecution().executedPlan().toString()
        # memoized frames render "== Initial Plan ==" after execution,
        # double-counting exchanges (see tests/test_plan_lint.py::_plan)
        d = digest(plan.split("== Initial Plan ==")[0])
        budgets[name] = {"exchanges": d["exchanges"], "bnlj": d["bnlj"]}
    with open(path, "w") as f:
        json.dump(budgets, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(budgets)} budgets to {path}")


def main() -> None:
    spark = get_spark(app_name="plan-digest", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for name, q in screened_queries().items():
        plan = q(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        rows.append((name, digest(plan.split("== Initial Plan ==")[0])))
    rows.sort(key=lambda r: (-r[1]["exchanges"], r[0]))

    print("# PLANS — physical-plan digest per registered query")
    print()
    print(f"Generated by `python tools/plan_digest.py` at {SF_DIR} "
          "(AQE off-line counts; Exchange = one cluster-wide shuffle at scale).")
    print("`python` counts Arrow-batched stages only — the plan-lint test "
          "(tests/test_plan_lint.py) asserts no BatchEvalPython/CartesianProduct "
          "exists anywhere.")
    print()
    print("| query | exchanges | broadcast joins | sort-merge joins | bnl joins | codegen spans | arrow python | flags |")
    print("|---|---|---|---|---|---|---|---|")
    for name, d in rows:
        print(
            f"| {name} | {d['exchanges']} | {d['bhj']} | {d['smj']} | {d['bnlj']} "
            f"| {d['codegen']} | {d['python']} | {d['flags']} |"
        )


if __name__ == "__main__":
    if "--budgets" in sys.argv:
        write_budgets()
    else:
        main()
