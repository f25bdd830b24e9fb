"""Dump every registered query's optimized logical plan to JSON.

Two dumps taken from different checkouts compare equal exactly when no
query's optimized plan changed, so a refactor that claims to leave plans
alone can be checked with ``diff`` (or ``cmp``) of the two files.
Expression ids, plan ids, PySpark's temp-view suffixes and its global
lambda-variable counter are normalized away; everything else is kept.

One residue is not normalized: a query with distinct aggregates over
more than one column set (stats_anova_twoway) can number its Expand
groups differently from run to run, because Catalyst orders those
groups by a hash of expressions that carry ids. Two dumps of the same
checkout can differ there.

Usage (PYTHONPATH lets Python workers import the package):

    PYTHONPATH=. python tools/plan_fingerprint.py <sf_dir> plans.json
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_NORMALIZE = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"_pyspark_[0-9a-f]{32}"), "_pyspark_"),
    (re.compile(r"lambda ([A-Za-z]+)_\d+"), r"lambda \1"),
]


def normalize(plan: str) -> str:
    for pattern, repl in _NORMALIZE:
        plan = pattern.sub(repl, plan)
    return plan


def main() -> int:
    sf_dir, out_path = sys.argv[1], sys.argv[2]

    from etl_pipeline_with_alpha_vantage_spark import registry
    from etl_pipeline_with_alpha_vantage_spark.session import get_spark

    registry.load_all()
    spark = get_spark(app_name="plan-fingerprint")
    spark.conf.set("spark.sql.debug.maxToStringFields", "100000")
    spark.conf.set("spark.sql.maxPlanStringLength", str(2**30))

    plans = {}
    for name in sorted(registry.QUERIES):
        df = registry.QUERIES[name](spark, sf_dir)
        plans[name] = normalize(df._jdf.queryExecution().optimizedPlan().toString())
    with open(out_path, "w") as f:
        json.dump(plans, f, indent=1, sort_keys=True)
    print(f"wrote {out_path} ({len(plans)} plans)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
