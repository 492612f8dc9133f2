"""Pipeline orchestrator: Extract -> Clean (T1) -> Model (T2) -> Load.

Spark-first re-expression of the reference orchestrator
(/root/reference/runner/pipeline_runner.py:62): one run_id per
invocation, every stage logged STARTED -> SUCCESS/FAILED with row
counts into the control plane, the fact pipeline additionally builds
and loads the date dimension (like the reference's sales pipeline),
fail-fast with the failing stage recorded.

Row counts are the only driver-side materialization per stage. The
EXTRACT count is the ``row_count`` that ``run_extract``'s one-job sanity
check already computed, so the source is scanned once in that stage;
the later stages each run one cheap ``count()`` aggregate. The data
plane never leaves Spark.

The T1 output is the one persisted boundary: ``run_cleaning``'s frame is
persisted and its TRANSFORM_P1 ``count()`` fills the cache, so the T2
modeler, the T2 integrity gate and the load (its count and its write)
read the cleaned rows from memory instead of re-running the source scan
and the dedup shuffle once per action. The cache is released in a
``finally``, on success and on every failure path alike.
"""

from __future__ import annotations

import argparse
import os
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from .catalog import table_path
from .control.runlog import ControlLog, new_run_id
from .control.textlog import get_logger
from .load import writers
from .operators import cleaning, modeling
from .sources import readers


@dataclass
class PipelineSpec:
    """Configuration contract for one pipeline (reference pipeline_config.py)."""

    name: str
    source_table: str
    target_table: str
    expected_columns: list[str]
    primary_key: list[str]
    defaults: dict = field(default_factory=dict)
    dedupe_order: list[str] | None = None
    # modeler: (spark, cleaned_df, sf_dir) -> modeled_df
    modeler: Callable[[SparkSession, DataFrame, str], DataFrame] | None = None
    model_primary_key: list[str] | None = None
    partition_by: list[str] | None = None


def _model_customer(spark: SparkSession, df: DataFrame, sf_dir: str) -> DataFrame:
    from .catalog import load_table

    return modeling.build_customer_dim(
        df, load_table(spark, sf_dir, "nation"), load_table(spark, sf_dir, "region")
    )


def _model_supplier(spark: SparkSession, df: DataFrame, sf_dir: str) -> DataFrame:
    from .catalog import load_table

    return modeling.build_supplier_dim(
        df, load_table(spark, sf_dir, "nation"), load_table(spark, sf_dir, "region")
    )


def _model_part(spark: SparkSession, df: DataFrame, sf_dir: str) -> DataFrame:
    return modeling.build_part_dim(df)


def _model_lineitem(spark: SparkSession, df: DataFrame, sf_dir: str) -> DataFrame:
    return modeling.build_sales_fact(df)


PIPELINES: dict[str, PipelineSpec] = {
    "customer": PipelineSpec(
        name="customer",
        source_table="customer",
        target_table="customer_dim",
        expected_columns=["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
        primary_key=["c_custkey"],
        defaults={"c_mktsegment": "UNKNOWN"},
        dedupe_order=["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
        modeler=_model_customer,
        model_primary_key=["customer_id"],
    ),
    "supplier": PipelineSpec(
        name="supplier",
        source_table="supplier",
        target_table="supplier_dim",
        expected_columns=["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
        primary_key=["s_suppkey"],
        modeler=_model_supplier,
        model_primary_key=["supplier_id"],
    ),
    "part": PipelineSpec(
        name="part",
        source_table="part",
        target_table="part_dim",
        expected_columns=["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
        primary_key=["p_partkey"],
        defaults={"p_brand": "UNKNOWN", "p_type": "UNKNOWN"},
        modeler=_model_part,
        model_primary_key=["part_id"],
    ),
    "lineitem": PipelineSpec(
        name="lineitem",
        source_table="lineitem",
        target_table="sales_fact",
        expected_columns=[
            "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
            "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
            "l_linestatus", "l_shipdate",
        ],
        # The synthetic generator's true grain: (orderkey, linenumber)
        # alone collides, so the fact PK carries part+supplier too.
        primary_key=["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"],
        modeler=_model_lineitem,
        model_primary_key=["order_id", "line_number", "part_id", "supplier_id"],
        partition_by=["order_year"],
    ),
}


def run_pipeline(
    spark: SparkSession,
    pipeline_name: str,
    sf_dir: str,
    warehouse_dir: str,
    control_dir: str | None = None,
) -> dict:
    """Execute one pipeline end-to-end with stage logging.

    Returns the run-log record (status SUCCESS) or raises, leaving the
    failing stage recorded — parity with reference pipeline_runner.py:62.
    """
    if pipeline_name not in PIPELINES:
        raise ValueError(f"Invalid pipeline: {pipeline_name}")
    spec = PIPELINES[pipeline_name]

    control = control_dir or os.path.join(warehouse_dir, "_control")
    log = ControlLog(control)
    # Lifecycle gate: a registered-but-deactivated pipeline refuses to
    # run — an operator pauses a broken feed via metadata, no code
    # change (reference metadata_table_helpers.py:60,107). Unregistered
    # pipelines run (registration is optional bootstrap metadata).
    md = log.get_pipeline(pipeline_name)
    if md is not None and not md.get("is_active"):
        raise RuntimeError(
            f"Pipeline '{pipeline_name}' is deactivated in pipeline_md; "
            "reactivate it (ControlLog.activate_pipeline) to run"
        )
    run_id = new_run_id()
    run = log.insert_run(run_id, pipeline_name, "STARTED")
    # Per-run text log artifact (reference utils/text_logger.py:24)
    tlog = get_logger(run_id, pipeline_name, os.path.join(control, "logs"))
    tlog.info("Pipeline started (sf_dir=%s warehouse=%s)", sf_dir, warehouse_dir)
    stage = None
    cleaned = None
    try:
        # EXTRACT
        stage = log.insert_stage(run_id, "EXTRACT", "STARTED", None)
        sourced, extract_stats = readers.run_extract(
            spark,
            spec.source_table,
            table_path(sf_dir, spec.source_table),
            spec.expected_columns,
        )
        n_sourced = extract_stats["row_count"]
        log.update_stage(stage, "SUCCESS", n_sourced, n_sourced, None)
        tlog.info("EXTRACT ok: %d rows", n_sourced)

        # TRANSFORM CLEAN (T1)
        stage = log.insert_stage(run_id, "TRANSFORM_P1", "STARTED", n_sourced)
        cleaned = cleaning.run_cleaning(
            sourced,
            primary_key=spec.primary_key,
            defaults=spec.defaults,
            dedupe_order=spec.dedupe_order,
        ).persist()
        n_cleaned = cleaned.count()
        log.update_stage(stage, "SUCCESS", n_sourced, n_cleaned, None)
        tlog.info("TRANSFORM_P1 ok: %d -> %d rows", n_sourced, n_cleaned)

        # TRANSFORM MODEL (T2)
        stage = log.insert_stage(run_id, "TRANSFORM_P2", "STARTED", n_cleaned)
        modeled = cleaned if spec.modeler is None else spec.modeler(spark, cleaned, sf_dir)
        modeling.validate_integrity(
            modeled,
            spec.model_primary_key or spec.primary_key,
            expected_row_count=n_cleaned,
        )
        log.update_stage(stage, "SUCCESS", n_cleaned, n_cleaned, None)

        # FACT PIPELINE EXTRA: date dimension (reference sales/date_dim)
        if pipeline_name == "lineitem":
            from .catalog import load_table

            stage = log.insert_stage(run_id, "LOAD_DATE_DIM", "STARTED", None)
            date_dim = modeling.build_date_dim(load_table(spark, sf_dir, "orders"))
            result = writers.run_load(
                spark, date_dim, os.path.join(warehouse_dir, "date_dim"), ["date"]
            )
            log.update_stage(
                stage, "SUCCESS", result["row_count"], result["row_count"], None
            )
            # Register-if-absent: a re-run must not overlay the table's
            # lifecycle flag or watermark with bootstrap defaults.
            if log.get_table("date_dim") is None:
                log.register_table(
                    "date_dim", "orders", grain="date", primary_key=["date"]
                )
            log.map_table_to_pipeline(
                pipeline_name, "date_dim", load_order=1, table_role="dimension"
            )

        # LOAD
        stage = log.insert_stage(run_id, "LOAD", "STARTED", n_cleaned)
        result = writers.run_load(
            spark,
            modeled,
            os.path.join(warehouse_dir, spec.target_table),
            spec.model_primary_key or spec.primary_key,
            partition_by=spec.partition_by,
        )
        log.update_stage(stage, "SUCCESS", n_cleaned, result["row_count"], None)
        tlog.info("LOAD ok: %d rows -> %s", result["row_count"], spec.target_table)
        if log.get_table(spec.target_table) is None:
            log.register_table(
                spec.target_table,
                spec.source_table,
                grain="row" if spec.modeler else "source",
                primary_key=spec.model_primary_key or spec.primary_key,
            )
        # pipeline<->table ownership map (reference pipeline_table_map:
        # the fact lands after its same-run dimensions, load_order 2)
        log.map_table_to_pipeline(
            pipeline_name,
            spec.target_table,
            load_order=2 if pipeline_name == "lineitem" else 1,
            table_role="fact" if pipeline_name == "lineitem" else "dimension",
        )

        tlog.info("Pipeline SUCCESS")
        return log.update_run(run, "SUCCESS", None)

    except Exception as err:
        tlog.error(
            "Pipeline FAILED at %s: %s", stage["stage_name"] if stage else "?", err
        )
        if stage is not None:
            log.update_stage(stage, "FAILED", None, None, str(err))
        log.update_run(run, "FAILED", str(err))
        raise
    finally:
        if cleaned is not None:
            cleaned.unpersist()


def main() -> None:
    parser = argparse.ArgumentParser(prog="retail_sales_etl_spark")
    parser.add_argument(
        "--pipeline_name", "-p", choices=sorted(PIPELINES), required=True
    )
    parser.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    parser.add_argument("--warehouse-dir", default="/tmp/retail_warehouse")
    parser.add_argument("--dry-run", action="store_true", help="validate config only")
    args = parser.parse_args()
    if args.dry_run:
        print({"pipeline": args.pipeline_name, "spec": PIPELINES[args.pipeline_name]})
        return
    from .session import get_spark

    spark = get_spark(app_name=f"pipeline-{args.pipeline_name}")
    run = run_pipeline(spark, args.pipeline_name, args.sf_dir, args.warehouse_dir)
    print(run)


if __name__ == "__main__":
    main()
