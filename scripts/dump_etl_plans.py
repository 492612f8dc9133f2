"""Dump the plans of every Spark action one ``run_pipeline`` call runs.

Usage: python scripts/dump_etl_plans.py SF_DIR OUT_FILE [PIPELINE]
(PIPELINE defaults to ``lineitem``; SF_DIR holds the source tables.)

The pipeline runs for real into a temporary warehouse. Each action's
input frame (``count``, ``first`` and the table writes) is recorded
with the stage it ran in, and the ``formatted`` plan it has as the
action starts (with the pipeline's cache still in place) is written to
OUT_FILE in run order. SF_DIR and the warehouse are written as
``<sf_dir>`` and ``<warehouse>``, so plans from two checkouts diff
cleanly. Run it in a checkout before and after a plan-changing edit to
record what each action re-evaluates.
"""

from __future__ import annotations

import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from retail_sales_etl_spark import pipeline  # noqa: E402
from retail_sales_etl_spark.control.runlog import ControlLog  # noqa: E402
from retail_sales_etl_spark.session import get_spark  # noqa: E402


def main() -> None:
    if len(sys.argv) not in (3, 4):
        raise SystemExit(__doc__)
    sf_dir, out_file = sys.argv[1], sys.argv[2]
    name = sys.argv[3] if len(sys.argv) == 4 else "lineitem"
    spark = get_spark(app_name="dump-etl-plans")
    spark.sparkContext.setLogLevel("ERROR")
    # the session's concrete classes (PySpark 4 splits classic from the
    # abstract DataFrame API, and only the former runs the actions)
    frame_cls = type(spark.range(1))
    writer_cls = type(spark.range(1).write)

    actions: list[tuple[str, str, str]] = []
    stage = ["-"]
    insert_stage = ControlLog.insert_stage

    def tracking_insert_stage(self, run_id, stage_name, *args):
        stage[0] = stage_name
        return insert_stage(self, run_id, stage_name, *args)

    def recording(action, get_df):
        def wrapped(self, *args, **kwargs):
            df = get_df(self)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            actions.append((stage[0], action, plan))
            return orig[action](self, *args, **kwargs)

        return wrapped

    orig = {
        "count": frame_cls.count,
        "first": frame_cls.first,
        "save": writer_cls.save,
    }
    ControlLog.insert_stage = tracking_insert_stage
    frame_cls.count = recording("count", lambda df: df)
    frame_cls.first = recording("first", lambda df: df)
    writer_cls.save = recording("save", lambda w: w._df)
    with tempfile.TemporaryDirectory() as wh:
        try:
            pipeline.run_pipeline(spark, name, sf_dir, wh)
        finally:
            ControlLog.insert_stage = insert_stage
            for action, fn in orig.items():
                setattr(writer_cls if action == "save" else frame_cls, action, fn)
        parts = []
        for i, (stage_name, action, plan) in enumerate(actions, 1):
            plan = plan.replace(os.path.realpath(wh), "<warehouse>").replace(wh, "<warehouse>")
            plan = plan.replace(os.path.realpath(sf_dir), "<sf_dir>").replace(sf_dir, "<sf_dir>")
            parts.append(f"#### action {i}: {action}() in {stage_name}\n{plan}")
    os.makedirs(os.path.dirname(os.path.abspath(out_file)), exist_ok=True)
    with open(out_file, "w", encoding="utf-8") as f:
        f.write("\n".join(parts))
    print(f"wrote {out_file} ({len(actions)} actions)")
    spark.stop()


if __name__ == "__main__":
    main()
