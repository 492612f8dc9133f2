"""Dump .explain('formatted') for named queries to plans/<round>/<name>_<tag>.txt.

Usage: python scripts/dump_round_plans.py ROUND before|after query [query ...]
ROUND names the directory under plans/ (for example r20). Plan claims
are checked against these files; regenerate the "after" files whenever
a touched query's plan changes.

An entry that runs jobs while it is built (a ``localCheckpoint``
round, a bounds ``first()``) numbers its AQE exchanges and its
expression ids differently on every run, so the dump normalizes both:
AQE exchange ids are written as ``plan_id=N``, and expression ids
(``name#123``) are renumbered in order of first appearance, which keeps
which reference points at which attribute. Two dumps of one commit
then compare byte-identical.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from retail_sales_etl_spark.plans import registry  # noqa: E402
from retail_sales_etl_spark.session import get_spark  # noqa: E402


def _normalized(plan: str) -> str:
    ids: dict[str, int] = {}
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    return re.sub(
        r"#(\d+)", lambda m: f"#{ids.setdefault(m.group(1), len(ids))}", plan
    )


def main() -> None:
    if len(sys.argv) < 4 or sys.argv[2] not in ("before", "after"):
        raise SystemExit(__doc__)
    round_dir, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(REPO, "plans", round_dir)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name=f"dump-{round_dir}-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.all_queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        plan = _normalized(plan)
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w", encoding="utf-8") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")
    spark.stop()


if __name__ == "__main__":
    main()
