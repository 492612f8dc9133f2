"""Round-9 scale-posture probes:

1. kmeans_sampled_assign: the training stage must be ~FLAT as the
   corpus grows 10x — the sample is a fixed-size TakeOrdered, so Lloyd
   sees KMEANS_SAMPLE_N vectors no matter the corpus. We time the
   codebook materialization (sample + train) at 1x and 10x and the
   full query (train + linear assignment) at both scales.
2. Lakehouse log checkpointing: after K commits, a snapshot read must
   open O(commits since checkpoint) log JSONs, not O(K) — counted by
   instrumenting the log reader, and timed against a forced full
   replay.

Run: python scripts/probe_round9_scale.py   (results -> SURVEY §6)
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from retail_sales_etl_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.1"
STAGE = "/tmp/probe_r9_scale"
COPIES = 10


def _time(fn):
    t0 = time.time()
    out = fn()
    return out, time.time() - t0


def probe_sampled_kmeans(spark) -> None:
    from retail_sales_etl_spark.functions.vectors import as_double_array
    from retail_sales_etl_spark.operators.similarity import (
        _KMEANS_SALT,
        KMEANS_SAMPLE_N,
        _hash_sample,
        _lloyd,
        q_kmeans_sampled_assign,
    )

    emb1 = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", as_double_array("embedding").alias("v")
    )
    n1 = emb1.count()
    copies = spark.range(COPIES).select(F.col("id").alias("copy"))
    emb10_dir = f"{STAGE}/emb10"
    (
        emb1.crossJoin(copies)
        .select(
            (F.col("vec_id") + F.col("copy") * F.lit(10_000_000)).alias("vec_id"),
            "v",
        )
        .write.mode("overwrite")
        .parquet(emb10_dir)
    )
    emb10 = spark.read.parquet(emb10_dir)
    n10 = emb10.count()

    def train(emb):
        cent_arr, _, _ = _lloyd(_hash_sample(emb, _KMEANS_SALT, KMEANS_SAMPLE_N))
        return cent_arr.collect()  # K x dim — KBs

    _, t_train1 = _time(lambda: train(emb1))
    _, t_train10 = _time(lambda: train(emb10))
    print(
        f"[sampled-kmeans/train] {n1} vecs {t_train1:.2f}s -> {n10} vecs "
        f"{t_train10:.2f}s; train wall x{t_train10 / t_train1:.2f} for "
        f"x{COPIES} corpus (sample fixed at {KMEANS_SAMPLE_N})"
    )

    # full query (train + one linear assignment pass) at 1x, via the
    # registry surface, for the end-to-end number
    _, t_q1 = _time(
        lambda: q_kmeans_sampled_assign(spark, SF_DIR)
        .write.mode("overwrite")
        .format("noop")
        .save()
    )
    print(f"[sampled-kmeans/query] full query at sf0.1: {t_q1:.2f}s")


def probe_lakehouse_checkpoint(spark) -> None:
    from retail_sales_etl_spark.load import lakehouse as lh

    root = tempfile.mkdtemp(prefix="probe_ckpt_", dir=STAGE)
    table = lh.LakehouseTable(spark, os.path.join(root, "tbl"))
    base = spark.range(2_000).select(
        F.col("id"), (F.col("id") * 2).alias("val")
    )
    n_commits = 60
    for i in range(n_commits):
        table.write(base.withColumn("batch", F.lit(i)), mode="append")

    reads = {"n": 0}
    orig = lh.LakehouseTable._read_commit

    def counting(self, version):
        reads["n"] += 1
        return orig(self, version)

    lh.LakehouseTable._read_commit = counting
    try:
        _, t_ck = _time(lambda: table.read().count())
        n_ck = reads["n"]
        reads["n"] = 0
        orig_newest = lh.LakehouseTable._newest_checkpoint
        lh.LakehouseTable._newest_checkpoint = lambda self, as_of=None: None
        try:
            _, t_full = _time(lambda: table.read().count())
        finally:
            lh.LakehouseTable._newest_checkpoint = orig_newest
        n_full = reads["n"]
    finally:
        lh.LakehouseTable._read_commit = orig
    print(
        f"[lakehouse-ckpt] {n_commits} commits: checkpointed read opened "
        f"{n_ck} commit JSONs in {t_ck:.2f}s vs full replay {n_full} in "
        f"{t_full:.2f}s"
    )


def probe_dsir_10x(spark) -> None:
    """dsir_select at 10x docs: the bucket tables stay a fixed 1024
    rows (broadcast), so wall should track the linear gram explode."""
    from retail_sales_etl_spark.operators.sampling import q_dsir_select

    _, t1 = _time(
        lambda: q_dsir_select(spark, SF_DIR)
        .write.mode("overwrite")
        .format("noop")
        .save()
    )
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n1 = docs.count()
    copies = spark.range(COPIES).select(F.col("id").alias("copy"))
    big_dir = f"{STAGE}/dsir10x"
    os.makedirs(big_dir, exist_ok=True)
    (
        docs.crossJoin(copies)
        .select(
            (F.col("doc_id") + F.col("copy") * F.lit(111_000_000)).alias(
                "doc_id"
            ),
            "text",
            "lang",
            "source",
            "n_chars",
        )
        .write.mode("overwrite")
        .parquet(f"{big_dir}/documents.parquet")
    )
    out, t10 = _time(lambda: q_dsir_select(spark, big_dir).collect())
    print(
        f"[dsir] {n1} docs {t1:.2f}s -> {n1 * COPIES} docs {t10:.2f}s "
        f"(x{t10 / t1:.1f} wall for x{COPIES} docs; {len(out)} selected, "
        f"bucket tables fixed at 1024 rows)"
    )


def probe_cdc_apply_10x(spark) -> None:
    """Streaming CDC-apply at 10x orders: two micro-batches, MERGE
    rewrites only files containing changed keys."""
    from retail_sales_etl_spark.streaming.events import q_streaming_cdc_apply

    _, t1 = _time(
        lambda: q_streaming_cdc_apply(spark, SF_DIR)
        .write.mode("overwrite")
        .format("noop")
        .save()
    )
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    n1 = orders.count()
    copies = spark.range(COPIES).select(F.col("id").alias("copy"))
    big_dir = f"{STAGE}/cdc10x"
    os.makedirs(big_dir, exist_ok=True)
    (
        orders.crossJoin(copies)
        .select(
            (F.col("o_orderkey") + F.col("copy") * F.lit(700_000_000)).alias(
                "o_orderkey"
            ),
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
        )
        .write.mode("overwrite")
        .parquet(f"{big_dir}/orders.parquet")
    )
    out, t10 = _time(lambda: q_streaming_cdc_apply(spark, big_dir).count())
    print(
        f"[cdc-apply] {n1} orders {t1:.2f}s -> {n1 * COPIES} orders "
        f"{t10:.2f}s (x{t10 / t1:.1f} wall for x{COPIES} orders; "
        f"{out} maintained rows)"
    )


def main() -> None:
    spark = get_spark(app_name="probe-round9-scale")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(STAGE, exist_ok=True)
    try:
        probe_sampled_kmeans(spark)
        probe_lakehouse_checkpoint(spark)
        probe_dsir_10x(spark)
        probe_cdc_apply_10x(spark)
    finally:
        shutil.rmtree(STAGE, ignore_errors=True)


if __name__ == "__main__":
    main()
