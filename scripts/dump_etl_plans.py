"""Dump the plans of every Spark action one pipeline run or one registry
entry runs.

Usage: python scripts/dump_etl_plans.py SF_DIR OUT_FILE [NAME]
(NAME is a ``run_pipeline`` pipeline or a ``registry.all_queries()``
entry and defaults to ``lineitem``; SF_DIR holds the source tables.)

A pipeline runs for real into a temporary warehouse; an entry runs and
its result is collected. Each action's input frame (``count``,
``first``, ``collect`` and the file writes) is recorded with where it
ran, and the ``formatted`` plan it has as the action starts (with any
cache still in place) is written to OUT_FILE in run order. For a
pipeline, "where" is the control-log stage; for an entry, it is
``entry`` on the calling thread and ``stream`` inside a foreachBatch
sink. SF_DIR, the warehouse and temporary directories are written as
``<sf_dir>``, ``<warehouse>`` and ``<tmp>``, and lakehouse file tokens
as ``<token>``, so plans from two checkouts diff cleanly. Run it in a
checkout before and after a plan-changing edit to record what each
action re-evaluates.
"""

from __future__ import annotations

import os
import re
import sys
import tempfile
import threading

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from retail_sales_etl_spark import pipeline  # noqa: E402
from retail_sales_etl_spark.control.runlog import ControlLog  # noqa: E402
from retail_sales_etl_spark.plans import registry  # noqa: E402
from retail_sales_etl_spark.session import get_spark  # noqa: E402


def main() -> None:
    if len(sys.argv) not in (3, 4):
        raise SystemExit(__doc__)
    sf_dir, out_file = sys.argv[1], sys.argv[2]
    name = sys.argv[3] if len(sys.argv) == 4 else "lineitem"
    entries = registry.all_queries()
    if name not in pipeline.PIPELINES and name not in entries:
        raise SystemExit(f"{name!r} is neither a pipeline nor a registry entry")
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

    def where() -> str:
        if name in pipeline.PIPELINES:
            return stage[0]
        main_thread = threading.current_thread() is threading.main_thread()
        return "entry" if main_thread else "stream"

    inside = threading.local()  # first() runs collect(): record it once

    def recording(action, get_df):
        def wrapped(self, *args, **kwargs):
            if getattr(inside, "action", False):
                return orig[action](self, *args, **kwargs)
            df = get_df(self)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            actions.append((where(), action, plan))
            inside.action = True
            try:
                return orig[action](self, *args, **kwargs)
            finally:
                inside.action = False

        return wrapped

    orig = {
        "count": frame_cls.count,
        "first": frame_cls.first,
        "collect": frame_cls.collect,
        "save": writer_cls.save,
        "parquet": writer_cls.parquet,
    }
    writer_actions = ("save", "parquet")
    ControlLog.insert_stage = tracking_insert_stage
    for action in orig:
        if action in writer_actions:
            setattr(writer_cls, action, recording(action, lambda w: w._df))
        else:
            setattr(frame_cls, action, recording(action, lambda df: df))
    with tempfile.TemporaryDirectory() as wh:
        try:
            if name in pipeline.PIPELINES:
                pipeline.run_pipeline(spark, name, sf_dir, wh)
            else:
                entries[name](spark, sf_dir).collect()
        finally:
            ControlLog.insert_stage = insert_stage
            for action, fn in orig.items():
                setattr(writer_cls if action in writer_actions else frame_cls, action, fn)
        tmp = re.escape(tempfile.gettempdir())
        parts = []
        for i, (at, action, plan) in enumerate(actions, 1):
            plan = plan.replace(os.path.realpath(wh), "<warehouse>").replace(wh, "<warehouse>")
            plan = plan.replace(os.path.realpath(sf_dir), "<sf_dir>").replace(sf_dir, "<sf_dir>")
            plan = re.sub(tmp + r"/[^/\s,\]\)]+", "<tmp>", plan)
            plan = re.sub(r"(_staging_|part-)[0-9a-f]{12}", r"\1<token>", plan)
            parts.append(f"#### action {i}: {action}() in {at}\n{plan}")
    os.makedirs(os.path.dirname(os.path.abspath(out_file)), exist_ok=True)
    with open(out_file, "w", encoding="utf-8") as f:
        f.write("\n".join(parts))
    print(f"wrote {out_file} ({len(actions)} actions)")
    spark.stop()


if __name__ == "__main__":
    main()
