"""Round-10 scale-posture probes:

1. ann_ivf_pq_sampled_topk: BOTH trainers (sampled-Lloyd coarse
   quantizer + sampled PQ codebooks) must be ~FLAT as the corpus grows
   10x — each trains on a fixed-size TakeOrdered hash sample. Timed:
   codebook materialization (both trainers) at 1x and 10x, plus the
   full retrieval end-to-end at both scales (linear stages only:
   assignment + coding + ADC scan). Contrast: the full-corpus
   ``_pq_train`` codebook at 1x vs 10x (expected ~linear growth).
2. bpe_encode_corpus: with PLAIN doc copies (same text) the distinct-
   word grid is constant, so the merge chain + vocab + per-word encode
   are flat and only the corpus join scales; per-doc outputs must be
   IDENTICAL to base for the cloned ids (asserted on a sample).

Run: python scripts/probe_round10_10x.py   (results -> SURVEY §6)
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from retail_sales_etl_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.1"
STAGE = "/tmp/probe_r10_10x"
COPIES = 10


def _time(fn):
    t0 = time.time()
    out = fn()
    return out, time.time() - t0


def probe_sampled_ivfpq(spark) -> None:
    from retail_sales_etl_spark.functions.vectors import as_double_array
    from retail_sales_etl_spark.operators.similarity import (
        _KMEANS_SALT,
        KMEANS_SAMPLE_N,
        _hash_sample,
        _lloyd,
        _pq_code,
        _pq_codebook_sampled,
        _pq_train,
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
            (F.col("vec_id") + F.col("copy") * F.lit(10_000_000)).alias(
                "vec_id"
            ),
            "v",
        )
        .write.mode("overwrite")
        .parquet(emb10_dir)
    )
    emb10 = spark.read.parquet(emb10_dir)
    n10 = emb10.count()

    def train_both(emb):
        cent_arr, _, _ = _lloyd(_hash_sample(emb, _KMEANS_SALT, KMEANS_SAMPLE_N))
        coarse = cent_arr.collect()  # K x dim — KBs
        pq = _pq_codebook_sampled(emb).collect()  # M x K x dsub — KBs
        return len(coarse), len(pq)

    def train_full_pq(emb):
        codebook, _codes = _pq_train(emb)
        return len(codebook.collect())

    _, t_s1 = _time(lambda: train_both(emb1))
    _, t_s10 = _time(lambda: train_both(emb10))
    _, t_f1 = _time(lambda: train_full_pq(emb1))
    _, t_f10 = _time(lambda: train_full_pq(emb10))
    print(
        f"ivfpq SAMPLED trainers: n={n1} -> {t_s1:.2f}s | "
        f"n={n10} -> {t_s10:.2f}s (x{t_s10 / t_s1:.2f} at 10x data; "
        "~flat = constant-cost training)"
    )
    print(
        f"ivfpq FULL-corpus PQ trainer (contrast): n={n1} -> {t_f1:.2f}s | "
        f"n={n10} -> {t_f10:.2f}s (x{t_f10 / t_f1:.2f}; linear is expected)"
    )

    # end-to-end retrieval at both scales (linear one-pass stages)
    from retail_sales_etl_spark.operators import similarity as S

    def retrieve(emb):
        query = emb.filter(F.col("vec_id") == S.QUERY_VEC_ID).select(
            F.col("v").alias("qv")
        )
        cent_arr, _, _ = _lloyd(_hash_sample(emb, _KMEANS_SALT, KMEANS_SAMPLE_N))
        probes = S._route_probes(cent_arr, query, S.IVFPQ_NPROBE)
        members = (
            S._nearest_cell(emb, cent_arr)
            .join(F.broadcast(probes), "cell")
            .select("vec_id")
        )
        codebook = _pq_codebook_sampled(emb)
        pcodes = _pq_code(emb, codebook).join(members, "vec_id", "left_semi")
        return S._pq_retrieve(emb, codebook, pcodes).collect()

    r1, t_q1 = _time(lambda: retrieve(emb1))
    r10, t_q10 = _time(lambda: retrieve(emb10))
    print(
        f"ivfpq_sampled END-TO-END: n={n1} -> {t_q1:.2f}s ({len(r1)} rows) | "
        f"n={n10} -> {t_q10:.2f}s ({len(r10)} rows) "
        f"(x{t_q10 / t_q1:.2f}; linear one-pass stages dominate)"
    )


def probe_bpe_encode(spark) -> None:
    from retail_sales_etl_spark.operators.text import q_bpe_encode_corpus

    docs1 = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n1 = docs1.count()
    docs10_dir = f"{STAGE}/docs10"
    copies = spark.range(COPIES).select(F.col("id").alias("copy"))
    (
        docs1.crossJoin(copies)
        .withColumn(
            "doc_id", F.col("doc_id") + F.col("copy") * F.lit(100_000_000)
        )
        .drop("copy")
        .write.mode("overwrite")
        .parquet(docs10_dir)
    )

    base_dir = f"{STAGE}/docs1"
    docs1.write.mode("overwrite").parquet(base_dir)

    # stage layout: <dir>/documents.parquet (what load_table expects)
    for d_src, d_dst in [(base_dir, f"{STAGE}/sf1"), (docs10_dir, f"{STAGE}/sf10")]:
        os.makedirs(d_dst, exist_ok=True)
        dst = f"{d_dst}/documents.parquet"
        if os.path.exists(dst):
            shutil.rmtree(dst)
        shutil.copytree(d_src, dst)

    out1, t1 = _time(
        lambda: {
            r["doc_id"]: (r["n_tokens"], r["token_ids"])
            for r in q_bpe_encode_corpus(spark, f"{STAGE}/sf1").collect()
        }
    )
    out10, t10 = _time(
        lambda: {
            r["doc_id"]: (r["n_tokens"], r["token_ids"])
            for r in q_bpe_encode_corpus(spark, f"{STAGE}/sf10").collect()
        }
    )
    assert len(out10) == COPIES * len(out1), (len(out1), len(out10))
    # plain copies share the corpus text, so the learned merges, vocab
    # and per-doc encodings are IDENTICAL — check clones of 50 docs
    for doc_id in list(out1)[:50]:
        for c in range(COPIES):
            assert out10[doc_id + c * 100_000_000] == out1[doc_id], doc_id
    print(
        f"bpe_encode_corpus: n_docs={n1} -> {t1:.2f}s | "
        f"n_docs={COPIES * n1} -> {t10:.2f}s (x{t10 / t1:.2f}; clone "
        "encodings identical to base — word-grid stages are flat)"
    )


def main() -> None:
    spark = get_spark(app_name="probe-r10-10x")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(STAGE, exist_ok=True)
    try:
        probe_sampled_ivfpq(spark)
        probe_bpe_encode(spark)
    finally:
        shutil.rmtree(STAGE, ignore_errors=True)


if __name__ == "__main__":
    main()
