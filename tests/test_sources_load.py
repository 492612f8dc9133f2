"""Extract readers/validation + Load writers/validation + control plane."""

from __future__ import annotations

import os

import pytest

from retail_sales_etl_spark.catalog import load_table, table_path
from retail_sales_etl_spark.control.runlog import ControlLog, new_run_id
from retail_sales_etl_spark.load import writers
from retail_sales_etl_spark.sources import readers


def test_read_parquet_with_validation(spark, sf_dir):
    df, stats = readers.run_extract(
        spark,
        "region",
        table_path(sf_dir, "region"),
        ["r_regionkey", "r_name"],
    )
    assert df.count() == 5
    assert stats["row_count"] == 5
    assert stats["duplicate_rows"] == 0


def test_schema_mismatch_raises(spark, sf_dir):
    df = readers.read_source(spark, table_path(sf_dir, "region"))
    with pytest.raises(ValueError, match="Schema mismatch"):
        readers.validate_schema(df, ["wrong", "columns"])


def test_csv_reader(spark, tmp_path):
    p = str(tmp_path / "src.csv")
    with open(p, "w") as f:
        f.write("id,name\n1,a\n2,b\n")
    df = readers.read_source(spark, p, fmt="csv")
    assert df.count() == 2
    assert df.columns == ["id", "name"]


def test_json_reader(spark, tmp_path):
    p = str(tmp_path / "src.jsonl")
    with open(p, "w") as f:
        f.write('{"id": 1, "name": "a"}\n{"id": 2, "name": "b"}\n')
    df = readers.read_source(spark, p, fmt="json")
    assert df.count() == 2
    assert sorted(df.columns) == ["id", "name"]


def test_sanity_check_empty_raises(spark):
    created = spark.createDataFrame([], "id INT, v STRING")
    # empty after a filter: the fused aggregate sums over no groups
    filtered = spark.createDataFrame([(1, "a")], "id INT, v STRING").filter("id < 0")
    for df in (created, filtered):
        with pytest.raises(ValueError, match="Source data is empty"):
            readers.sanity_check(df)


def test_sanity_check_null_threshold(spark):
    df = spark.createDataFrame([(1, None), (2, None)], "id INT, v STRING")
    with pytest.raises(ValueError, match="NULL values"):
        readers.sanity_check(df, null_threshold_pct=50.0)
    # an all-NULL column is exactly 100%, and passes a 100% threshold
    with pytest.raises(ValueError, match="'v' has 100.00% NULL values"):
        readers.sanity_check(df)
    stats = readers.sanity_check(df, null_threshold_pct=100.0)
    assert stats["null_pct"] == {"id": 0.0, "v": 100.0}


def test_sanity_check_duplicates(spark):
    cases = [
        ([(1, "a"), (1, "a")], 1),
        # NULLs compare equal, as in df.distinct()
        ([(1, None), (1, None), (None, None), (None, None), (None, None)], 3),
        ([(1, None), (1, "a"), (None, "a"), (2, "b")], 0),
    ]
    for rows, expected_dups in cases:
        df = spark.createDataFrame(rows, "id INT, v STRING")
        if expected_dups:
            with pytest.raises(
                ValueError, match=f"Duplicate rows found in source data: {expected_dups}"
            ):
                readers.sanity_check(df, null_threshold_pct=100.0)
        stats = readers.sanity_check(
            df, null_threshold_pct=100.0, fail_on_duplicates=False
        )
        # parity with the two-job form: count() minus distinct().count()
        assert stats["duplicate_rows"] == df.count() - df.distinct().count() == expected_dups
        assert stats["row_count"] == len(rows)


def test_load_roundtrip_and_validation(spark, sf_dir, tmp_path):
    region = load_table(spark, sf_dir, "region")
    path = str(tmp_path / "region_out")
    result = writers.run_load(spark, region, path, ["r_regionkey"])
    assert result["row_count"] == 5
    # idempotent: rerun overwrites, same result
    result2 = writers.run_load(spark, region, path, ["r_regionkey"])
    assert result2["row_count"] == 5


def test_partitioned_write(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders").selectExpr(
        "o_orderkey", "o_custkey", "year(o_orderdate) AS yr"
    )
    path = str(tmp_path / "orders_part")
    writers.write_table(orders, path, partition_by=["yr"])
    assert any(d.startswith("yr=") for d in os.listdir(path))
    back = spark.read.parquet(path)
    assert back.count() == orders.count()


def test_load_validation_catches_dup_pk(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (1, "b")], ["id", "v"])
    path = str(tmp_path / "dup_out")
    writers.write_table(df, path)
    with pytest.raises(ValueError, match="Duplicate primary keys"):
        writers.validate_loaded(spark, path, ["id"])


def test_compact_table(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "fragmented")
    orders.repartition(16).write.parquet(path)
    n_files_before = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert n_files_before >= 16

    result = writers.compact_table(spark, path, target_files=2)
    assert result["row_count"] == orders.count()
    n_files_after = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert n_files_after <= 2
    assert spark.read.parquet(path).count() == orders.count()


def test_control_log_run_and_stages(tmp_path):
    log = ControlLog(str(tmp_path / "control"))
    run_id = new_run_id()
    run = log.insert_run(run_id, "customer", "STARTED")
    stage = log.insert_stage(run_id, "EXTRACT", "STARTED", None)
    log.update_stage(stage, "SUCCESS", 100, 100, None)
    log.update_run(run, "SUCCESS", None)

    runs = log.runs()
    assert runs[-1]["status"] == "SUCCESS"
    stages = log.stages(run_id)
    assert stages[-1]["rows_out"] == 100


def test_control_log_watermark(tmp_path):
    log = ControlLog(str(tmp_path / "control"))
    log.register_table("sales_fact", "lineitem", "row", ["order_id"])
    assert log.latest_watermark("sales_fact") is None
    log.update_watermark("sales_fact", "2024-01-05", 1000)
    log.update_watermark("sales_fact", "2024-01-06", 1100)
    assert log.latest_watermark("sales_fact") == "2024-01-06"
