"""Round-17 maintained-IVFPQ probe (sf0.1 x10 copies):

- streaming_ann_ivf_pq vs the from-scratch batch composition on the
  SAME 10x corpus (embeddings x10 on shifted vec_ids, labels kept):
  the maintained index must serve the IDENTICAL PQ/ADC + re-rank
  surface a batch build computes from scratch — the sampled codebook
  agrees because the hash sample sees the identical vector set,
  coding agrees because it is per-vector independent, membership
  agrees because the probed cells hold the same vectors, and the
  scoring tail is the shared ``_pq_retrieve``. Also times both paths:
  the streaming number includes the full 4-batch index build; the
  serving read alone is the file-pruned probe + constant-size
  codebook train.

Run: python scripts/probe_round17a_10x.py   (results -> SURVEY §6)
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from retail_sales_etl_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.1"
STAGE = "/tmp/probe_r17a_10x"
COPIES = 10


def _stage(spark, subdir, tables: dict):
    d = os.path.join(STAGE, subdir)
    os.makedirs(d, exist_ok=True)
    for table, df in tables.items():
        df.write.mode("overwrite").parquet(os.path.join(d, f"{table}.parquet"))
    from retail_sales_etl_spark.catalog import TABLES

    for t in TABLES:
        link = os.path.join(d, f"{t}.parquet")
        if t not in tables and not os.path.exists(link):
            os.symlink(os.path.join(SF_DIR, f"{t}.parquet"), link)
    return d


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def main() -> None:
    shutil.rmtree(STAGE, ignore_errors=True)
    spark = get_spark(app_name="probe-round17a-10x")
    spark.sparkContext.setLogLevel("ERROR")
    from retail_sales_etl_spark.catalog import load_table
    from retail_sales_etl_spark.functions.vectors import as_double_array
    from retail_sales_etl_spark.operators.similarity import (
        IVFPQ_NPROBE,
        QUERY_VEC_ID,
        _cent_arr,
        _pq_code,
        _pq_codebook_sampled,
        _pq_retrieve,
        _route_probes,
    )
    from retail_sales_etl_spark.streaming.events import q_streaming_ann_ivf_pq

    emb0 = load_table(spark, SF_DIR, "embeddings")
    hi = emb0.agg(F.max("vec_id")).first()[0] + 1
    emb10 = emb0
    for k in range(1, COPIES):
        emb10 = emb10.unionAll(
            emb0.withColumn("vec_id", F.col("vec_id") + F.lit(k * hi))
        )
    d10 = _stage(spark, "emb10", {"embeddings": emb10})

    def _batch_twin():
        emb3 = load_table(spark, d10, "embeddings").select(
            "vec_id",
            F.col("label").cast("bigint").alias("label"),
            as_double_array("embedding").alias("v"),
        )
        emb = emb3.select("vec_id", "v")
        query = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
            F.col("v").alias("qv")
        )
        probes = _route_probes(_cent_arr(emb3), query, IVFPQ_NPROBE)
        members = (
            emb3.join(broadcast(probes), emb3.label == F.col("cell"))
            .filter(F.col("vec_id") != QUERY_VEC_ID)
            .select("vec_id", "v")
        )
        codebook = _pq_codebook_sampled(emb)
        pcodes = _pq_code(members, codebook)
        return _pq_retrieve(emb, codebook, pcodes).collect()

    batch, tb = _timed(_batch_twin)
    served, ts = _timed(lambda: q_streaming_ann_ivf_pq(spark, d10).collect())
    want = [(r.vec_id, r.adc_dist, r.l2_dist) for r in batch]
    got = [(r.vec_id, r.adc_dist, r.l2_dist) for r in served]
    assert got == want, (got[:3], want[:3])
    print(f"ann_ivf_pq@10x batch {tb:6.2f}s   maintained(build+serve) "
          f"{ts:6.2f}s   top-{len(got)} IDENTICAL")
    shutil.rmtree(STAGE, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
