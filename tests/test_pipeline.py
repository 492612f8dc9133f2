"""End-to-end orchestrator tests: E -> T1 -> T2 -> L with stage logging."""

from __future__ import annotations

import os

from retail_sales_etl_spark.control.runlog import ControlLog
from retail_sales_etl_spark.pipeline import run_pipeline


def test_customer_pipeline_end_to_end(spark, sf_dir, tmp_path):
    wh = str(tmp_path / "warehouse")
    run = run_pipeline(spark, "customer", sf_dir, wh)
    assert run["status"] == "SUCCESS"

    out = spark.read.parquet(os.path.join(wh, "customer_dim"))
    assert out.count() == 150
    assert "acctbal_band" in out.columns

    log = ControlLog(os.path.join(wh, "_control"))
    stages = [s["stage_name"] for s in log.stages(run["run_id"])]
    for expected in ("EXTRACT", "TRANSFORM_P1", "TRANSFORM_P2", "LOAD"):
        assert expected in stages


def test_lineitem_pipeline_builds_date_dim(spark, sf_dir, tmp_path):
    wh = str(tmp_path / "warehouse")
    run = run_pipeline(spark, "lineitem", sf_dir, wh)
    assert run["status"] == "SUCCESS"
    # fact is partitioned by order_year
    fact_dir = os.path.join(wh, "sales_fact")
    assert any(d.startswith("order_year=") for d in os.listdir(fact_dir))
    # date_dim loaded alongside (sales pipeline parity)
    dd = spark.read.parquet(os.path.join(wh, "date_dim"))
    assert dd.count() > 0


def test_pipeline_writes_per_run_text_log(spark, sf_dir, tmp_path):
    """Reference utils/text_logger.py parity: a run leaves a grep-able
    text log with ts | level | module | pipeline | run_id | message."""
    wh = str(tmp_path / "warehouse")
    run = run_pipeline(spark, "customer", sf_dir, wh)
    log_file = os.path.join(wh, "_control", "logs", "etl_logs.log")
    assert os.path.exists(log_file)
    lines = open(log_file).read().splitlines()
    mine = [ln for ln in lines if run["run_id"] in ln]
    assert any("Pipeline started" in ln for ln in mine)
    assert any("EXTRACT ok" in ln for ln in mine)
    assert any("Pipeline SUCCESS" in ln for ln in mine)
    # field layout parity with the reference formatter
    parts = mine[0].split(" | ")
    assert parts[1] == "INFO" and parts[3] == "customer"


def test_pipeline_lifecycle_gating(spark, sf_dir, tmp_path):
    """Deactivated pipelines refuse to run; listing excludes them;
    reactivation restores both (reference metadata_table_helpers
    list_active_pipelines / deactivate_pipeline parity)."""
    import pytest

    wh = str(tmp_path / "wh")
    control = os.path.join(wh, "_control")
    log = ControlLog(control)
    log.register_pipeline("customer", "customer")
    log.register_pipeline("part", "part")
    assert {p["pipeline_name"] for p in log.list_active_pipelines()} == {
        "customer",
        "part",
    }

    log.deactivate_pipeline("customer")
    assert {p["pipeline_name"] for p in log.list_active_pipelines()} == {"part"}
    assert log.get_pipeline("customer")["is_active"] is False
    with pytest.raises(RuntimeError, match="deactivated"):
        run_pipeline(spark, "customer", sf_dir, wh, control_dir=control)
    # no run row was recorded for the refused run
    assert all(r["pipeline_name"] != "customer" for r in log.runs())

    log.activate_pipeline("customer")
    run = run_pipeline(spark, "customer", sf_dir, wh, control_dir=control)
    assert run["status"] == "SUCCESS"
    # unknown pipeline names cannot be toggled
    with pytest.raises(ValueError, match="Unknown pipeline"):
        log.deactivate_pipeline("nope")


def test_pipeline_table_map_populated_by_runner(spark, sf_dir, tmp_path):
    """run_pipeline populates the pipeline<->table ownership map the
    way the reference runner does: the fact pipeline owns date_dim
    (load_order 1, dimension) then its fact (load_order 2), and the
    getters answer 'which tables does pipeline X own?' in execution
    order (reference metadata_table_helpers.list_tables_for_pipeline)."""
    wh = str(tmp_path / "wh")
    run_pipeline(spark, "lineitem", sf_dir, wh)
    log = ControlLog(os.path.join(wh, "_control"))

    owned = log.list_tables_for_pipeline("lineitem")
    assert [(t["table_name"], t["load_order"], t["table_role"]) for t in owned] == [
        ("date_dim", 1, "dimension"),
        ("sales_fact", 2, "fact"),
    ]
    # re-running is idempotent on the map (upsert by PK, not duplicate)
    run_pipeline(spark, "lineitem", sf_dir, wh)
    assert len(log.list_tables_for_pipeline("lineitem")) == 2

    # table getters (reference get_table / list_active_tables_for_source)
    fact = log.get_table("sales_fact")
    assert fact is not None and fact["source_name"] == "lineitem"
    assert log.get_table("nope") is None
    assert {t["table_name"] for t in log.list_active_tables_for_source("orders")} == {
        "date_dim"
    }

    # deactivating a table drops it from the active views, reference
    # semantics (WHERE is_active = 1) in both list helpers
    log.set_table_active("date_dim", False)
    assert [t["table_name"] for t in log.list_tables_for_pipeline("lineitem")] == [
        "sales_fact"
    ]
    assert log.list_active_tables_for_source("orders") == []
    log.set_table_active("date_dim", True)
    assert len(log.list_tables_for_pipeline("lineitem")) == 2


def test_rerun_preserves_table_lifecycle_and_watermark(spark, sf_dir, tmp_path):
    """A re-run registers tables if-absent: an operator's pause
    (set_table_active False) and a recorded watermark must survive the
    next run instead of being overlaid with bootstrap defaults."""
    wh = str(tmp_path / "wh")
    run_pipeline(spark, "lineitem", sf_dir, wh)
    log = ControlLog(os.path.join(wh, "_control"))
    log.set_table_active("date_dim", False)
    log.update_watermark("sales_fact", "2024-06-01", 123)

    run_pipeline(spark, "lineitem", sf_dir, wh)
    assert log.get_table("date_dim")["is_active"] is False
    assert log.get_table("sales_fact")["last_loaded_value"] == "2024-06-01"
    assert log.latest_watermark("sales_fact") == "2024-06-01"
    # the paused table stays out of the active views until reactivated
    assert [t["table_name"] for t in log.list_tables_for_pipeline("lineitem")] == [
        "sales_fact"
    ]
    log.set_table_active("date_dim", True)
    assert len(log.list_tables_for_pipeline("lineitem")) == 2


def test_bootstrap_metadata_idempotent(tmp_path):
    """Standalone seed-everything entrypoint (reference
    scripts/bootstrap_metadata.py): seeds pipeline/table/map records,
    and re-seeding never resets lifecycle flags or watermarks."""
    log = ControlLog(str(tmp_path / "control"))
    pipelines = [("customer", "customer", "full", "manual")]
    tables = [
        ("customer_dim", "customer", "row", ["c_custkey"], "full", None),
        ("sales_fact", "lineitem", "row", ["l_orderkey", "l_linenumber"],
         "full", None),
    ]
    mapping = [
        ("customer", "customer_dim", 1, "dimension"),
        ("lineitem", "sales_fact", 2, "fact"),
    ]
    log.bootstrap_metadata(pipelines, tables, mapping)
    assert log.get_pipeline("customer")["is_active"]
    assert log.get_table("customer_dim")["primary_key"] == "c_custkey"

    # mutate state, then re-seed: bootstrap must not clobber it
    log.deactivate_pipeline("customer")
    log.update_watermark("sales_fact", "2024-01-01", 42)
    log.bootstrap_metadata(pipelines, tables, mapping)
    assert not log.get_pipeline("customer")["is_active"]
    assert log.get_table("sales_fact")["last_loaded_value"] == "2024-01-01"
    # the map filters on TABLE active only (reference WHERE tm.is_active
    # = 1) — a paused pipeline still owns its tables
    assert [t["table_name"] for t in log.list_tables_for_pipeline("customer")] == [
        "customer_dim"
    ]


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_pipeline_releases_t1_cache_on_every_exit(spark, sf_dir, tmp_path, monkeypatch):
    """The persisted T1 frame is released whether the run succeeds or a
    later stage fails: no cached DataFrame outlives ``run_pipeline``."""
    import dataclasses

    import pytest
    from pyspark.sql import functions as F

    from retail_sales_etl_spark import pipeline

    spark.catalog.clearCache()
    wh = str(tmp_path / "wh")
    assert run_pipeline(spark, "customer", sf_dir, wh)["status"] == "SUCCESS"
    assert _cache_is_empty(spark)

    def drop_one_row(s, df, sf):
        first = df.agg(F.min("c_custkey")).first()[0]
        return pipeline._model_customer(s, df, sf).filter(F.col("customer_id") != first)

    spec = dataclasses.replace(pipeline.PIPELINES["customer"], modeler=drop_one_row)
    monkeypatch.setitem(pipeline.PIPELINES, "customer", spec)
    with pytest.raises(ValueError, match="Row count changed during T2"):
        run_pipeline(spark, "customer", sf_dir, wh)
    assert _cache_is_empty(spark)

    log = ControlLog(os.path.join(wh, "_control"))
    failed = [r for r in log.runs() if r["status"] == "FAILED"]
    assert len(failed) == 1
    stages = log.stages(failed[0]["run_id"])
    assert ("TRANSFORM_P2", "FAILED") in [(s["stage_name"], s["status"]) for s in stages]
