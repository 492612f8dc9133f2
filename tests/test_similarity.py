"""IVF ANN recall: nprobe>1 must find neighbors across cluster
boundaries that a single-probe search silently misses."""

from __future__ import annotations

import pytest

from retail_sales_etl_spark.operators import similarity
from retail_sales_etl_spark.operators.similarity import ivf_topk


@pytest.fixture(scope="module")
def boundary_emb(spark):
    """Query (vec_id=0) lives in cluster 0, but its TRUE nearest
    neighbor (vec_id=10) sits in cluster 1, whose centroid is farther
    from the query than cluster 0's."""
    rows = [
        # cluster 0: query + two same-cluster vectors
        (0, 0, [1.0, 0.0]),
        (1, 0, [1.0, 0.3]),
        (2, 0, [1.0, -0.4]),
        # cluster 1: mostly orthogonal, but vec 10 hugs the query
        (10, 1, [0.99, 0.05]),
        (11, 1, [0.0, 1.0]),
        (12, 1, [0.4, 1.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, label long, v array<double>")


def test_nprobe2_finds_cross_cluster_neighbor(boundary_emb):
    top = ivf_topk(boundary_emb, query_vec_id=0, nprobe=2, top_k=1).collect()
    assert [r.vec_id for r in top] == [10]


def test_nprobe1_misses_cross_cluster_neighbor(boundary_emb):
    # The single-probe search stays inside cluster 0 — demonstrating
    # the recall hole that nprobe=2 closes.
    top = ivf_topk(boundary_emb, query_vec_id=0, nprobe=1, top_k=1).collect()
    assert [r.vec_id for r in top] == [1]


def test_query_cluster_centroid_is_nearest(boundary_emb):
    # Sanity: the scenario is a genuine boundary case — cluster 0's
    # centroid IS the closer one, so probe #1 alone cannot see vec 10.
    top3 = ivf_topk(boundary_emb, query_vec_id=0, nprobe=2, top_k=3).collect()
    assert {r.vec_id for r in top3} == {10, 1, 2}


def test_assign_ivf_cells_is_total_and_single(spark, sf_dir):
    """Every vector gets exactly one computed cell."""
    from retail_sales_etl_spark.catalog import load_table
    from retail_sales_etl_spark.functions.vectors import as_double_array
    from retail_sales_etl_spark.operators.similarity import (
        assign_ivf_cells,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double_array("embedding").alias("v")
    )
    cells = assign_ivf_cells(emb).collect()
    assert len(cells) == emb.count()
    assert len({r["vec_id"] for r in cells}) == len(cells)


def test_ivf_cell_blocking_recall_at_least_label_blocking(spark, sf_dir):
    """Both blockings are SOUND (every emitted pair is a true >=tau
    pair); the computed-cell blocking must recall at least as many true
    pairs as trusting the metadata label — the point of routing by the
    quantizer instead of a fixed 10-value column."""
    import numpy as np

    from retail_sales_etl_spark.catalog import load_table
    from retail_sales_etl_spark.operators.dedup import (
        COSINE_THRESHOLD,
        q_dedup_embedding,
        q_dedup_embedding_ivf,
    )

    # ground truth: brute-force all-pairs cosine (test-side only; the
    # operators themselves never materialize all pairs)
    rows = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.stack([np.array(r["embedding"], dtype=np.float64) for r in rows])
    norms = np.linalg.norm(mat, axis=1)
    sims = (mat @ mat.T) / np.outer(norms, norms)
    iu, ju = np.triu_indices(len(ids), k=1)
    keep = np.round(sims[iu, ju], 6) >= COSINE_THRESHOLD
    truth = {
        (min(a, b), max(a, b))
        for a, b in zip(ids[iu][keep], ids[ju][keep])
    }

    label_pairs = {
        (r["a_id"], r["b_id"]) for r in q_dedup_embedding(spark, sf_dir).collect()
    }
    cell_pairs = {
        (r["a_id"], r["b_id"])
        for r in q_dedup_embedding_ivf(spark, sf_dir).collect()
    }
    assert label_pairs <= truth, "label blocking emitted a non-pair"
    assert cell_pairs <= truth, "cell blocking emitted a non-pair"
    assert len(cell_pairs & truth) >= len(label_pairs & truth)


def test_pq_codes_shape_and_adc_recall(spark, sf_dir):
    """PQ structural contract + retrieval quality: every vector gets
    exactly PQ_M codes in [0, PQ_K); the ADC top-10 is deterministic,
    excludes the query, and recalls a healthy fraction of the exact
    L2 top-10 (the whole point of the 256x-smaller scan)."""
    import numpy as np

    from retail_sales_etl_spark.catalog import load_table
    from retail_sales_etl_spark.functions.vectors import as_double_array
    from retail_sales_etl_spark.operators.similarity import (
        PQ_K,
        PQ_M,
        QUERY_VEC_ID,
        TOP_K,
        _pq_train,
        q_ann_pq_topk,
    )
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("v")
    )
    n_vecs = emb.count()
    _, codes = _pq_train(emb)
    stats = codes.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("vec_id").alias("n_vecs"),
        F.min("code").alias("mn"),
        F.max("code").alias("mx"),
    ).first()
    assert stats["n"] == n_vecs * PQ_M  # M codes per vector
    assert stats["n_vecs"] == n_vecs
    assert 0 <= stats["mn"] and stats["mx"] < PQ_K

    got = q_ann_pq_topk(spark, sf_dir).collect()
    assert len(got) == TOP_K
    ids = [r["vec_id"] for r in got]
    assert QUERY_VEC_ID not in ids
    dists = [r["l2_dist"] for r in got]
    assert dists == sorted(dists)  # re-ranked by ascending exact L2

    rows = emb.collect()
    vecs = {r["vec_id"]: np.array(r["v"]) for r in rows}
    q = vecs[QUERY_VEC_ID]
    exact = sorted(
        ((np.sum((v - q) ** 2), vid) for vid, v in vecs.items()
         if vid != QUERY_VEC_ID)
    )[:TOP_K]
    exact_ids = {vid for _, vid in exact}
    # two-stage PQ (ADC shortlist of PQ_RERANK + exact re-rank) should
    # recover nearly the whole exact top-10
    assert len(set(ids) & exact_ids) >= 8, (ids, exact_ids)


def test_pq_sampled_training_recall_vs_exact(spark, sf_dir):
    """Sampled-codebook PQ must keep high recall against the exact
    brute-force baseline — the exact-L2 re-rank of the PQ_RERANK
    shortlist absorbs the coarser 256-vector training sample."""
    from retail_sales_etl_spark.operators.similarity import (
        TOP_K,
        q_ann_pq_sampled_topk,
        q_ann_topk,
    )

    exact = {r["vec_id"] for r in q_ann_topk(spark, sf_dir).collect()}
    sampled = {r["vec_id"] for r in q_ann_pq_sampled_topk(spark, sf_dir).collect()}
    assert len(sampled) == TOP_K
    assert len(exact & sampled) >= 8, exact & sampled


def test_rp_project_preserves_norms_on_average(spark, sf_dir):
    """JL sanity for the +-1 sign projection: E[||Pv||^2] = ||v||^2, so
    the MEAN squared-norm ratio over the corpus must sit near 1 even
    though any single vector's ratio spreads with k=8 (measured
    per-vector range ~[0.15, 2.94] on the deterministic matrix)."""
    import numpy as np

    from retail_sales_etl_spark.functions.vectors import as_double_array
    from retail_sales_etl_spark.operators.similarity import (
        RP_OUT_DIM,
        q_embedding_rp_project,
    )

    proj = {
        r["vec_id"]: np.array([r[f"p{j}"] for j in range(RP_OUT_DIM)])
        for r in q_embedding_rp_project(spark, sf_dir).collect()
    }
    emb = {
        r["vec_id"]: np.array(r["v"])
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", as_double_array("embedding").alias("v"))
        .collect()
    }
    ratios = [
        float(proj[k] @ proj[k]) / float(emb[k] @ emb[k])
        for k in emb
        if float(emb[k] @ emb[k]) > 0
    ]
    mean = sum(ratios) / len(ratios)
    assert 0.85 < mean < 1.15, mean
    # and the projection is 8 scalar columns, not an array column
    assert len(proj[next(iter(proj))]) == RP_OUT_DIM


def test_dim_stats_dead_dimension_reports_zero_std(spark, tmp_path):
    """A constant (dead) dimension must report std exactly 0.0 — the
    rounding-error-negative variance is clamped, not NaN'd (and the
    DuckDB oracle twin would hard-error on sqrt of a negative)."""
    import math

    from pyspark.sql import Row

    from retail_sales_etl_spark.operators.similarity import (
        q_embedding_dim_stats,
    )

    rows = [
        Row(vec_id=i, label=0, embedding=[0.123456789, float(i)])
        for i in range(10)
    ]
    d = str(tmp_path)
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        f"{d}/embeddings.parquet"
    )
    got = {r["dim"]: r for r in q_embedding_dim_stats(spark, d).collect()}
    assert got[1]["std"] == 0.0 and not math.isnan(got[1]["std"])
    assert got[2]["std"] > 0


def test_hybrid_rrf_matches_member_recompute(spark, sf_dir):
    """The fused ranking must equal a Python recompute from the two
    member top-k lists (score formula, fusion keys, tie-breaks)."""
    from retail_sales_etl_spark.operators.similarity import (
        RRF_K,
        RRF_TOP,
        q_ann_topk,
        q_hybrid_rrf_retrieval,
    )
    from retail_sales_etl_spark.operators.text import q_bm25_retrieval

    lex_rows = q_bm25_retrieval(spark, sf_dir).collect()
    lex = {
        r["doc_id"]: i + 1
        for i, r in enumerate(
            sorted(lex_rows, key=lambda r: (-r["bm25_score"], r["doc_id"]))
        )
    }
    sem = {r["vec_id"]: r["rank"] for r in q_ann_topk(spark, sf_dir).collect()}
    fused = {}
    for doc in set(lex) | set(sem):
        s = 0.0
        if doc in lex:
            s += 1.0 / (RRF_K + lex[doc])
        if doc in sem:
            s += 1.0 / (RRF_K + sem[doc])
        fused[doc] = round(s, 6)
    exp = sorted(fused.items(), key=lambda kv: (-kv[1], kv[0]))[:RRF_TOP]

    got = q_hybrid_rrf_retrieval(spark, sf_dir).collect()
    assert [(r["doc_id"], r["rrf_score"]) for r in got] == exp
    for r in got:
        assert r["lex_rank"] == lex.get(r["doc_id"])
        assert r["sem_rank"] == sem.get(r["doc_id"])


def test_ivf_pq_candidates_stay_in_probed_cells(spark, sf_dir):
    """Every IVFPQ result must belong to one of the query's probed
    cells (the inverted-list restriction actually bites), and the
    two-stage ranking must agree with the exact scan on most of the
    top-k (recall guard)."""
    from pyspark.sql import functions as F

    from retail_sales_etl_spark.catalog import load_table
    from retail_sales_etl_spark.functions.vectors import as_double_array
    from retail_sales_etl_spark.operators.similarity import (
        IVFPQ_NPROBE,
        QUERY_VEC_ID,
        TOP_K,
        assign_ivf_cells,
        q_ann_ivf_pq_topk,
        q_ann_topk,
    )

    emb3 = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double_array("embedding").alias("v")
    )
    cells = {
        r["vec_id"]: r["cell"] for r in assign_ivf_cells(emb3).collect()
    }
    got = q_ann_ivf_pq_topk(spark, sf_dir).collect()
    assert 0 < len(got) <= TOP_K
    probed = {cells[r["vec_id"]] for r in got}
    assert len(probed) <= IVFPQ_NPROBE
    # the query's own cell must be among the probes (it is its own
    # nearest centroid by construction of the assignment argmax)
    assert cells[QUERY_VEC_ID] in probed

    # Approximation-quality claim: the ADC shortlist + re-rank must
    # reproduce the EXACT L2 top-k over the same member set (the IVF
    # routing decides membership; PQ must not lose candidates inside
    # it). Note q_ann_topk's global top-k intentionally differs: its
    # candidates span all cells.
    import numpy as np

    vecs = {r["vec_id"]: np.array(r["v"]) for r in emb3.collect()}
    q = vecs[QUERY_VEC_ID]
    members = [
        vid
        for vid, c in cells.items()
        if c in probed and vid != QUERY_VEC_ID
    ]
    exact_members = sorted(
        members,
        key=lambda vid: (
            round(float(np.sum((vecs[vid] - q) ** 2)), 6),
            vid,
        ),
    )[: len(got)]
    assert [r["vec_id"] for r in got] == exact_members


def test_whiten_qc_flags_corrupt_vector_and_survives_dead_dim(spark, tmp_path):
    """A vector with one huge dimension must show outlier dims and the
    largest max_abs_z; a constant (dead) dimension must contribute
    z=0 instead of NaN."""
    import math

    from pyspark.sql import Row

    from retail_sales_etl_spark.operators.similarity import (
        q_embedding_whiten_qc,
    )

    rows = [
        Row(vec_id=i, label=0, embedding=[float(i % 5), 7.0, float(i)])
        for i in range(20)
    ]
    rows.append(Row(vec_id=99, label=0, embedding=[100.0, 7.0, 5.0]))
    d = str(tmp_path)
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        f"{d}/embeddings.parquet"
    )
    got = {r["vec_id"]: r for r in q_embedding_whiten_qc(spark, d).collect()}
    assert len(got) == 21
    bad = got[99]
    assert bad["n_outlier_dims"] >= 1
    assert bad["max_abs_z"] == max(r["max_abs_z"] for r in got.values())
    for r in got.values():  # dead dim 2 (constant 7.0) -> finite stats
        assert not math.isnan(r["z_norm"]) and not math.isnan(r["max_abs_z"])


def test_embedding_top_pc_matches_numpy_replica(spark, sf_dir):
    """Third-engine check: an independent numpy implementation of the
    SAME staged power iteration (6/9-dp floor staging, decimal-exact
    sums are plain math here) must reproduce every loading bit-for-bit;
    the iterate must be unit-norm within staging error."""
    import math

    import numpy as np

    from retail_sales_etl_spark.catalog import load_table
    from retail_sales_etl_spark.operators.similarity import (
        PCA_POWER_ROUNDS,
        q_embedding_top_pc,
    )

    out = q_embedding_top_pc(spark, sf_dir).collect()
    assert len(out) == 64
    loadings = {r["dim"]: r["loading"] for r in out}

    def st(x, n):
        return math.floor(x * 10**n + 0.5) / 10**n

    rows = load_table(spark, sf_dir, "embeddings").select("embedding").collect()
    X = np.array(
        [[st(float(x), 6) for x in r["embedding"]] for r in rows],
        dtype=np.float64,
    )
    n, dim = X.shape
    mu = np.array(
        [st(float(sum(round(x * 1e6) for x in X[:, d]) / 1e6) / n, 6) for d in range(dim)]
    )
    Xc = X - mu
    v = np.full(dim, 0.125)
    for _ in range(PCA_POWER_ROUNDS):
        def fold_dot(a, b):
            # strict left fold — numpy's pairwise sum computes DIFFERENT
            # float ops than the engines' sequential accumulation
            acc = 0.0
            for x, y in zip(a, b):
                acc += x * y
            return acc

        p = np.array([st(fold_dot(xc, v), 6) for xc in Xc])
        # per-dim staged-product sums, exact via integer nanos
        s = np.array(
            [
                float(sum(round(st(p[i] * Xc[i, d], 9) * 1e9) for i in range(n)))
                / 1e9
                for d in range(dim)
            ]
        )
        s6 = np.array([st(x, 6) for x in s])
        nrm = math.sqrt(float(sum(round(x * 1e6) ** 2 for x in s6)) / 1e12)
        v = np.array([st(x / nrm, 6) for x in s6])
    for d in range(dim):
        assert loadings[d] == v[d], (d, loadings[d], v[d])
    assert abs(float(np.sum(v * v)) - 1.0) < 1e-4


def test_embedding_pc2_matches_numpy_replica(spark, sf_dir):
    """Third-engine check for the deflated chain: an independent numpy
    implementation of the SAME staged v1 iteration followed by the
    SAME staged Gram-Schmidt-deflated u iteration must reproduce every
    PC2 loading bit-for-bit, and the reported orthogonality audit must
    sit at rounding scale."""
    import math

    import numpy as np

    from retail_sales_etl_spark.catalog import load_table
    from retail_sales_etl_spark.operators.similarity import (
        PCA_POWER_ROUNDS,
        q_embedding_pc2,
    )

    out = q_embedding_pc2(spark, sf_dir).collect()
    assert len(out) == 64
    loadings = {r["dim"]: r["loading2"] for r in out}

    def st(x, n):
        return math.floor(x * 10**n + 0.5) / 10**n

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    rows = load_table(spark, sf_dir, "embeddings").select("embedding").collect()
    X = np.array(
        [[st(float(x), 6) for x in r["embedding"]] for r in rows],
        dtype=np.float64,
    )
    n, dim = X.shape
    mu = np.array(
        [
            st(float(sum(round(x * 1e6) for x in X[:, d]) / 1e6) / n, 6)
            for d in range(dim)
        ]
    )
    Xc = X - mu

    def staged_pass(w):
        """One staged corpus pass: returns the 6-dp staged s6 vector."""
        p = np.array([st(fold_dot(xc, w), 6) for xc in Xc])
        s = np.array(
            [
                float(
                    sum(round(st(p[i] * Xc[i, d], 9) * 1e9) for i in range(n))
                )
                / 1e9
                for d in range(dim)
            ]
        )
        return np.array([st(x, 6) for x in s])

    v = np.full(dim, 0.125)
    for _ in range(PCA_POWER_ROUNDS):
        s6 = staged_pass(v)
        nrm = math.sqrt(float(sum(round(x * 1e6) ** 2 for x in s6)) / 1e12)
        v = np.array([st(x / nrm, 6) if nrm > 0 else 0.0 for x in s6])

    u = np.array([0.125 if d % 2 == 0 else -0.125 for d in range(dim)])
    unrm = 0.0
    for _ in range(PCA_POWER_ROUNDS):
        s6 = staged_pass(u)
        c1 = st(
            float(sum(round(st(s6[d] * v[d], 9) * 1e9) for d in range(dim)))
            / 1e9,
            6,
        )
        d6 = np.array(
            [st(s6[d] - st(c1 * v[d], 6), 6) for d in range(dim)]
        )
        unrm = math.sqrt(float(sum(round(x * 1e6) ** 2 for x in d6)) / 1e12)
        u = np.array([st(x / unrm, 6) if unrm > 0 else 0.0 for x in d6])

    for d in range(dim):
        assert loadings[d] == u[d], (d, loadings[d], u[d])
    ortho = st(
        float(sum(round(st(u[d] * v[d], 9) * 1e9) for d in range(dim))) / 1e9,
        6,
    )
    assert out[0]["dot_v1_v2"] == ortho
    assert abs(out[0]["dot_v1_v2"]) < 1e-3
    assert out[0]["eigenvalue2"] == st(unrm / n, 6)


def test_embedding_pc2_recovers_second_axis(spark, tmp_path):
    """Crafted diagonal covariance: dims 0/1 carry variance 5 and 1 via
    exactly-orthogonal 4-periodic patterns, all other dims constant —
    PC2 must land on dim 1 (|loading| ≈ 1), stay orthogonal to PC1,
    and report eigenvalue2 ≈ 1."""
    from pyspark.sql import Row

    from retail_sales_etl_spark.operators.similarity import (
        q_embedding_pc2,
        q_embedding_top_pc,
    )

    c_pat = [3.0, -3.0, 1.0, -1.0]  # var 5
    d_pat = [1.0, 1.0, -1.0, -1.0]  # var 1, exactly orthogonal to c_pat
    rows = [
        Row(
            vec_id=i,
            label=0,
            embedding=[c_pat[i % 4], d_pat[i % 4]] + [0.0] * 62,
        )
        for i in range(40)
    ]
    d = str(tmp_path)
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        f"{d}/embeddings.parquet"
    )
    pc1 = {r["dim"]: r["loading"] for r in q_embedding_top_pc(spark, d).collect()}
    out = q_embedding_pc2(spark, d).collect()
    pc2 = {r["dim"]: r["loading2"] for r in out}
    assert abs(pc1[0]) > 0.99 and abs(pc1[1]) < 0.05
    assert abs(pc2[1]) > 0.99 and abs(pc2[0]) < 0.05
    for dd in range(2, 64):
        assert abs(pc2[dd]) < 1e-6
    assert abs(out[0]["dot_v1_v2"]) < 1e-4
    assert 0.9 < out[0]["eigenvalue2"] < 1.1


def test_anisotropy_share_bounds_and_consistency(spark, sf_dir):
    """pc1_share is a valid share, lambda1 matches the loadings
    entry's eigenvalue, and trace bounds lambda1 from above."""
    from retail_sales_etl_spark.operators.similarity import (
        q_embedding_anisotropy_qc,
        q_embedding_top_pc,
    )

    (r,) = q_embedding_anisotropy_qc(spark, sf_dir).collect()
    assert 0 < r["lambda1"] <= r["trace"]
    assert 0 < r["pc1_share"] <= 1
    pc = q_embedding_top_pc(spark, sf_dir).collect()
    assert pc[0]["eigenvalue"] == r["lambda1"]
    assert pc[0]["n_vectors"] == r["n_vectors"]


def test_ivf_balance_qc_exact_loads_on_skewed_cells(spark, tmp_path):
    """Three vectors hugging axis e1 (label 0) and one hugging e2
    (label 1): the census must report counts 3/1, shares 0.75/0.25 and
    load factors 1.5/0.5 exactly (n_cells=2), with assignment routed
    by the computed argmax — not the label column read back."""
    from pyspark.sql import Row

    from retail_sales_etl_spark.operators.similarity import (
        q_embedding_ivf_balance_qc,
    )

    rows = [
        Row(vec_id=1, label=0, embedding=[1.0, 0.0]),
        Row(vec_id=2, label=0, embedding=[0.9, 0.1]),
        Row(vec_id=3, label=0, embedding=[0.8, 0.05]),
        Row(vec_id=4, label=1, embedding=[0.0, 1.0]),
    ]
    d = str(tmp_path)
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        f"{d}/embeddings.parquet"
    )
    got = {r["cell"]: r for r in q_embedding_ivf_balance_qc(spark, d).collect()}
    assert set(got) == {0, 1}
    assert got[0]["n_vectors"] == 3 and got[1]["n_vectors"] == 1
    assert got[0]["share"] == 0.75 and got[1]["share"] == 0.25
    assert got[0]["load_factor"] == 1.5 and got[1]["load_factor"] == 0.5


def test_ivf_balance_qc_reports_dead_cell_with_zero_load(spark, tmp_path):
    """A centroid the argmax never routes to (label 2's centroid is the
    mean of one e1-ish and one e2-ish vector, so BOTH its members sit
    closer to the axis centroids) must still appear in the census with
    n_vectors = 0 — and n_cells must count it, so the surviving cells'
    load factors reflect the true 3-cell ideal, not a flattering
    2-cell one."""
    from pyspark.sql import Row

    from retail_sales_etl_spark.operators.similarity import (
        q_embedding_ivf_balance_qc,
    )

    rows = [
        Row(vec_id=1, label=0, embedding=[1.0, 0.0]),
        Row(vec_id=2, label=0, embedding=[0.9, 0.1]),
        Row(vec_id=3, label=0, embedding=[0.8, 0.05]),
        Row(vec_id=4, label=1, embedding=[0.0, 1.0]),
        Row(vec_id=5, label=2, embedding=[1.0, 0.0]),
        Row(vec_id=6, label=2, embedding=[0.0, 1.0]),
    ]
    d = str(tmp_path)
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        f"{d}/embeddings.parquet"
    )
    got = {r["cell"]: r for r in q_embedding_ivf_balance_qc(spark, d).collect()}
    assert set(got) == {0, 1, 2}
    assert got[2]["n_vectors"] == 0
    assert got[2]["share"] == 0.0 and got[2]["load_factor"] == 0.0
    assert got[0]["n_vectors"] == 4 and got[1]["n_vectors"] == 2
    # n_cells = 3 (the dead cell counts): loads 4*3/6 and 2*3/6
    assert got[0]["load_factor"] == 2.0 and got[1]["load_factor"] == 1.0


def test_embedding_drift_mmd_crafted_shift_and_identity(spark, tmp_path):
    """Hand-worked MMD^2 on a crafted 2-d corpus: label 1 = label 0
    shifted by (0.5, 0.5), label 2 = label 0 exactly. The clean
    decimals make staging exact: mmd2_linear(0,1) = 0.5 and
    mmd2_quadratic(0,1) = ||S0 - S1||_F^2 = 2.25, while the identical
    pair reports exactly 0 on both statistics — the calibration a
    drift monitor needs (no false drift on identical sources, exact
    response to a known shift)."""
    from pyspark.sql import Row

    from retail_sales_etl_spark.operators.similarity import (
        q_embedding_drift_mmd,
    )

    rows = [
        Row(vec_id=0, label=0, embedding=[1.0, 0.0]),
        Row(vec_id=1, label=0, embedding=[0.0, 1.0]),
        Row(vec_id=2, label=1, embedding=[1.5, 0.5]),
        Row(vec_id=3, label=1, embedding=[0.5, 1.5]),
        Row(vec_id=4, label=2, embedding=[1.0, 0.0]),
        Row(vec_id=5, label=2, embedding=[0.0, 1.0]),
    ]
    d = str(tmp_path)
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        f"{d}/embeddings.parquet"
    )
    got = {
        (r.label_a, r.label_b): r
        for r in q_embedding_drift_mmd(spark, d).collect()
    }
    assert set(got) == {(0, 1), (0, 2), (1, 2)}
    assert all(r.n_a == 2 and r.n_b == 2 for r in got.values())
    # shift pair: mu diff (0.5, 0.5) -> linear 0.5;
    # S0 = [[.5,0],[0,.5]], S1 = [[1.25,.75],[.75,1.25]] -> quad 2.25
    assert got[(0, 1)].mmd2_linear == 0.5
    assert got[(0, 1)].mmd2_quadratic == 2.25
    assert got[(1, 2)].mmd2_linear == 0.5
    assert got[(1, 2)].mmd2_quadratic == 2.25
    # identical distributions: exactly zero on both kernels
    assert got[(0, 2)].mmd2_linear == 0.0
    assert got[(0, 2)].mmd2_quadratic == 0.0


@pytest.fixture(scope="module")
def empty_corpus_dir(spark, tmp_path_factory):
    """A 0-row ``embeddings`` table (the generator's schema) and a 0-row
    ``documents`` table for the hybrid lexical member."""
    d = str(tmp_path_factory.mktemp("empty_embeddings"))
    spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, "
            "n_chars long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return d


@pytest.mark.parametrize("name", sorted(similarity.QUERIES))
def test_similarity_entry_on_empty_corpus(spark, empty_corpus_dir, name):
    """Every similarity entry over 0-row tables returns the same
    columns and rows as its DuckDB oracle over the same tables — the
    vector helpers' empty-input path (most entries return no rows; the
    recall report keeps one NULL-hit row per method and the anisotropy
    QC one row of NULL moments)."""
    import duckdb

    con = duckdb.connect()
    for t in ("embeddings", "documents"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{empty_corpus_dir}/{t}.parquet/*.parquet')"
        )
    got = similarity.QUERIES[name](spark, empty_corpus_dir)
    want = con.execute(similarity.ORACLE[name])
    cols = sorted(got.columns)
    want_cols = [c[0] for c in want.description]
    assert cols == sorted(want_cols)
    order = [want_cols.index(c) for c in cols]
    got_rows = sorted((tuple(r[c] for c in cols) for r in got.collect()), key=repr)
    want_rows = sorted(
        (tuple(r[i] for i in order) for r in want.fetchall()), key=repr
    )
    assert got_rows == want_rows


def test_one_vector_kernel_site():
    """Each vector mechanism has one home: the in-order dot fold lives
    only in ``functions/vectors.py`` (across the whole package), and in
    ``similarity.py`` the centroid array assembly, the PQ subvector
    split, the md5 hash sample and the nearest-centroid / nearest-code
    argmaxes each sit in one helper; the only hand-built cosine left is
    matryoshka's zero-norm-guarded ``_cos``."""
    import ast
    import inspect
    import pathlib

    import retail_sales_etl_spark

    def calls(tree):
        """(enclosing function, Call node) for every call in ``tree``."""
        out = []

        def visit(node, fn):
            for child in ast.iter_child_nodes(node):
                if isinstance(child, ast.FunctionDef):
                    visit(child, child.name)
                    continue
                if isinstance(child, ast.Call):
                    out.append((fn, child))
                visit(child, fn)

        visit(tree, "<module>")
        return out

    def name(call):
        return ast.unparse(call.func)

    pkg = pathlib.Path(retail_sales_etl_spark.__file__).parent
    folds = []
    for path in sorted(pkg.rglob("*.py")):
        for fn, c in calls(ast.parse(path.read_text())):
            if (
                name(c).endswith("aggregate")
                and c.args
                and isinstance(c.args[0], ast.Call)
                and name(c.args[0]).endswith("zip_with")
            ):
                folds.append((path.relative_to(pkg).as_posix(), fn))
    assert folds == [("functions/vectors.py", "dot")], folds

    tree = ast.parse(inspect.getsource(similarity))
    defined = {n.name for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)}
    assert not defined & {"_dot", "_as_double_array"}
    assert not hasattr(similarity, "_dot")
    assert not hasattr(similarity, "_as_double_array")

    sites = {
        "sqrt(dot(": set(),
        "sort_array": set(),
        "PQ slice": set(),
        "md5": set(),
        "max_by/min_by": set(),
    }
    for fn, c in calls(tree):
        called = name(c)
        if (
            called == "F.sqrt"
            and c.args
            and isinstance(c.args[0], ast.Call)
            and name(c.args[0]) in ("dot", "_dot")
        ):
            sites["sqrt(dot("].add(fn)
        if called == "F.sort_array":
            sites["sort_array"].add(fn)
        if called == "F.slice" and "PQ_DSUB" in ast.unparse(c):
            sites["PQ slice"].add(fn)
        if called == "F.md5":
            sites["md5"].add(fn)
        if called in ("F.max_by", "F.min_by") or any(
            isinstance(a, ast.Constant)
            and isinstance(a.value, str)
            and ("max_by(" in a.value or "min_by(" in a.value)
            for a in c.args
        ):
            sites["max_by/min_by"].add(fn)
    assert sites == {
        "sqrt(dot(": {"_cos"},
        "sort_array": {"_assemble"},
        "PQ slice": {"_pq_subs"},
        "md5": {"_hash_sample"},
        "max_by/min_by": {"_nearest_cell", "_nearest_code"},
    }, sites
