"""Similarity search, clustering and embedding QC over the embeddings
table (vec_id, label, embedding array<float>).

Every entry is a body plus calls to one helper per mechanism, and all
vector math goes through the kernels of ``functions/vectors.py``
(in-order fold dots, so each DuckDB twin's ``list_dot_product`` agrees
to the last bit). The helpers:

- ``load_embeddings``: the table scan as ``(…, v array<double>)``.
- ``_cos6`` / ``_l2sq6``: the 6-dp floor-rounded cosine / squared L2
  every ranking, routing and assignment step compares.
- ``_with_cosine`` + ``_rank``: one query scored against candidate
  rows, and the (cosine desc, vec_id) top-k tail with its 1-based
  rank (distributed TakeOrdered); ``_top_per_query`` is the same cut
  per ``q_id`` for a query batch (a window per query).
- ``_means`` / ``_assemble``: decimal-exact per-dimension means in long
  form (the IVF centroids and every Lloyd M-step) and their dim-ordered
  array assembly; ``_cent_arr`` is the per-label coarse quantizer
  built from them and ``_route_probes`` routes one query to its
  nearest cells.
- ``_nearest_cell`` / ``_nearest_code``: a vector's nearest centroid
  (highest cosine, lowest cell on ties) and a PQ subvector's nearest
  codeword (lowest squared L2, lowest code on ties) — one broadcast of
  the centroids and one map-combinable argmax on vec_id, no window.
- ``_lloyd`` (k-means) and ``_pq_train`` (per-subspace PQ codebooks):
  the two Lloyd chains, seeded by ``_seeds`` (the k lowest vec_ids)
  and trained on the corpus or on ``_hash_sample``'s fixed-size md5
  sample; ``_pq_subs`` splits vectors into PQ subvectors and
  ``_pq_retrieve`` is the ADC scan plus exact re-rank.
- ``_power_step`` / ``_normalize6``: one staged power-iteration pass
  and its 6-dp normalisation (top PC, anisotropy, PC2).
- ``_dim_moments``: decimal-exact per-dimension moments (dim stats,
  whitening QC).

Each ``ORACLE`` entry is an independent DuckDB twin written out in
full; no helper here builds SQL.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..catalog import load_table
from ..functions.rounding import fround, sum9
from ..functions.vectors import as_double_array, cosine, dot, l2sq

DIM = 64
N_PLANES = 8
TOP_K = 10
QUERY_VEC_ID = 0


def plane_weights() -> list[list[float]]:
    """Deterministic +-1 hyperplanes from md5(plane|dim) — reproducible
    everywhere with no RNG state."""
    return [
        [
            1.0 if int(hashlib.md5(f"{p}|{i}".encode()).hexdigest()[0], 16) >= 8
            else -1.0
            for i in range(DIM)
        ]
        for p in range(N_PLANES)
    ]


def load_embeddings(spark: SparkSession, sf_dir: str, *cols) -> DataFrame:
    """The embeddings table as ``(*cols, v array<double>)``."""
    return load_table(spark, sf_dir, "embeddings").select(
        *cols, as_double_array("embedding").alias("v")
    )


def _cos6(a: str, b: str) -> F.Column:
    """Cosine of two array columns, floor-rounded to 6 dp."""
    return fround(cosine(F.col(a), F.col(b)), 6)


def _l2sq6(a: str, b: str) -> F.Column:
    """Squared L2 of two array columns, floor-rounded to 6 dp."""
    return fround(l2sq(F.col(a), F.col(b)), 6)


def _query(emb: DataFrame, vec_id: int) -> DataFrame:
    """The 1-row query frame ``(qv)`` holding vector ``vec_id``."""
    return emb.filter(F.col("vec_id") == vec_id).select(F.col("v").alias("qv"))


def _with_cosine(emb: DataFrame, query: DataFrame) -> DataFrame:
    """Cross-join candidates with the (single-row, broadcast) query:
    ``(vec_id, label, cosine)``."""
    return emb.crossJoin(broadcast(query)).select(
        "vec_id", "label", _cos6("v", "qv").alias("cosine")
    )


def _rank(scored: DataFrame, top_k: int) -> DataFrame:
    """The ``top_k`` rows of ``scored`` by (cosine desc, vec_id) with
    their 1-based ``rank`` — a distributed TakeOrdered, then a window
    over k rows."""
    order = (F.col("cosine").desc(), F.col("vec_id"))
    return scored.orderBy(*order).limit(top_k).withColumn(
        "rank", F.row_number().over(Window.orderBy(*order))
    )


def _top_per_query(
    frame: DataFrame, score: str, tie: str, k: int, name: str
) -> DataFrame:
    """Per ``q_id``, the ``k`` rows by (score desc, tie), numbered in
    column ``name``."""
    w = Window.partitionBy("q_id").orderBy(F.col(score).desc(), F.col(tie))
    return frame.withColumn(name, F.row_number().over(w)).filter(
        F.col(name) <= k
    )


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for the query vector (vec_id=0): one scan,
    distributed TakeOrdered, no O(n^2)."""
    emb = load_embeddings(spark, sf_dir, "vec_id", "label")
    scored = _with_cosine(emb, _query(emb, QUERY_VEC_ID))
    return _rank(scored.filter(F.col("vec_id") != QUERY_VEC_ID), TOP_K)


def _bucket_expr(vcol: str) -> F.Column:
    """8-bit LSH signature: sign bit per hyperplane."""
    bits = []
    for plane in plane_weights():
        wlit = F.array(*[F.lit(x) for x in plane])
        bits.append(
            F.when(dot(F.col(vcol), wlit) > 0, F.lit("1")).otherwise(F.lit("0"))
        )
    return F.concat(*bits)


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH ANN: top-10 within the query's hyperplane-signature bucket.
    Hyperplane weights are deterministic +-1 vectors derived from md5
    in Python and embedded as literals, so Spark and DuckDB share the
    exact planes; search touches only the query's bucket (at 100 TB a
    bucket-partitioned layout makes this a pruned scan)."""
    emb = load_embeddings(spark, sf_dir, "vec_id", "label")
    emb = emb.withColumn("bucket", _bucket_expr("v"))
    query = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("v").alias("qv"), F.col("bucket").alias("qbucket")
    )
    scored = (
        emb.crossJoin(broadcast(query))
        .filter((F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != QUERY_VEC_ID))
        .select("vec_id", "label", "bucket", _cos6("v", "qv").alias("cosine"))
    )
    return _rank(scored, TOP_K)


def _means(rows: DataFrame, vcol: str, *keys: str) -> DataFrame:
    """Per-key mean of array column ``vcol`` in long form ``(*keys,
    dim_idx, centroid)``: posexplode, then a decimal-exact sum over the
    count — one shuffle on (keys, dim)."""
    return (
        rows.select(*keys, F.posexplode(vcol).alias("dim_idx", "val"))
        .groupBy(*keys, "dim_idx")
        .agg(
            (
                F.sum(F.col("val").cast("decimal(25,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("centroid")
        )
    )


def _assemble(long: DataFrame, *keys: str) -> DataFrame:
    """``(*keys, dim_idx, centroid)`` long form -> ``(*keys, cv)``
    arrays in dim order — also the assembly of a maintained centroid
    grid (the streaming IVF index sink's additive sums)."""
    return long.groupBy(*keys).agg(
        F.transform(
            F.sort_array(
                F.collect_list(F.struct(F.col("dim_idx"), F.col("centroid")))
            ),
            lambda s: s.centroid,
        ).alias("cv")
    )


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid in long form (label, dim_idx, centroid): the
    IVF coarse-quantizer build as one shuffle on (label, dim)."""
    return _means(load_embeddings(spark, sf_dir, "label"), "v", "label")


def ivf_topk(
    emb: DataFrame,
    query_vec_id: int = QUERY_VEC_ID,
    nprobe: int = 2,
    top_k: int = TOP_K,
) -> DataFrame:
    """IVF ANN core: route the query to its ``nprobe`` nearest
    centroids (coarse quantizer), then exact top-k within the union of
    those clusters.

    nprobe>1 is the standard IVF recall guard: with a single probe, a
    true neighbor sitting just across a Voronoi boundary in the
    second-nearest cluster is silently missed. ``emb`` must carry
    (vec_id, label, v) where label is the cluster id.
    """
    query = _query(emb, query_vec_id)
    probes = _route_probes(_cent_arr(emb), query, nprobe).select(
        F.col("cell").alias("probe_label")
    )
    candidates = emb.join(
        broadcast(probes), F.col("label") == F.col("probe_label")
    ).filter(F.col("vec_id") != query_vec_id)
    return _ivf_rank(candidates, query, top_k)


def _ivf_rank(candidates: DataFrame, query: DataFrame, top_k: int) -> DataFrame:
    """Exact cosine top-k over an externally-supplied candidate set —
    the scoring tail of ``ivf_topk``, shared with the maintained-index
    serving path."""
    return _rank(_with_cosine(candidates, query), top_k)


def _cent_arr(emb: DataFrame) -> DataFrame:
    """Per-label mean centroids as array rows ``(cell, cv)`` — the
    coarse quantizer behind cell assignment, IVF probe routing and
    IVFPQ."""
    return _assemble(_means(emb, "v", "label"), "label").withColumnRenamed(
        "label", "cell"
    )


def _route_probes(cent_arr: DataFrame, query: DataFrame, nprobe: int) -> DataFrame:
    """Coarse routing: the ``nprobe`` cells nearest the (1-row,
    broadcast) query, by (ccos desc, cell)."""
    return (
        cent_arr.crossJoin(broadcast(query))
        .select("cell", _cos6("cv", "qv").alias("ccos"))
        .orderBy(F.col("ccos").desc(), F.col("cell"))
        .limit(nprobe)
        .select("cell")
    )


def _nearest_cell(emb: DataFrame, cent_arr: DataFrame, *carry: str) -> DataFrame:
    """``(vec_id, cell, ccos, *carry)``: every vector of ``emb``
    (vec_id, v, …) routed to its nearest centroid of ``cent_arr``
    (cell, cv) by (ccos desc, lowest cell). The centroid table is tiny
    and broadcast; assignment is one map-side cosine per (vector,
    centroid) and a partial-aggregatable ``max_by`` — no window sort,
    one shuffle on vec_id. ``carry`` columns are constant per vec_id
    and ride along through the aggregate."""
    best = (
        emb.crossJoin(broadcast(cent_arr))
        .select("vec_id", "cell", *carry, _cos6("v", "cv").alias("ccos"))
        .groupBy("vec_id")
        .agg(
            F.expr(
                "max_by(named_struct('cell', cell, 'ccos', ccos),"
                " named_struct('c', ccos, 'l', -cell)) AS best"
            ),
            *[F.expr(f"any_value({c}) AS {c}") for c in carry],
        )
    )
    return best.select("vec_id", "best.cell", "best.ccos", *carry)


def assign_ivf_cells(emb: DataFrame) -> DataFrame:
    """Route every vector to its nearest centroid: (vec_id, cell).

    The IVF coarse-quantizer ASSIGNMENT step — the computed-cell
    replacement for trusting a metadata label as the block key.
    ``emb`` must carry (vec_id, label, v); at 100 TB the centroids
    would come from sampled k-means, here from the per-label means
    (``embedding_centroids``) — assignment is computed either way.
    """
    return assign_ivf_cells_scored(emb).select("vec_id", "cell")


def assign_ivf_cells_scored(emb: DataFrame) -> DataFrame:
    """Like ``assign_ivf_cells`` but keeps the winning centroid cosine:
    (vec_id, cell, ccos). The centroid distance is the priority signal
    semantic dedup ranks by, so the assignment argmax carries it along
    instead of recomputing it downstream."""
    return _nearest_cell(emb, _cent_arr(emb))


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over the embeddings table: nprobe=2 coarse routing, then
    exact top-k within the probed clusters. At scale the table is
    partitioned by cluster id, so the probe reads nprobe/n_clusters of
    the data; here clusters are the label column and centroids are
    computed exactly (decimal means).
    """
    emb = load_embeddings(spark, sf_dir, "vec_id", "label")
    return ivf_topk(emb, QUERY_VEC_ID, nprobe=2, top_k=TOP_K)


KMEANS_K = 10
KMEANS_ITERS = 3


def _seeds(emb: DataFrame, k: int, name: str) -> DataFrame:
    """The ``k`` lowest-vec_id rows of ``emb``, numbered 0..k-1 in
    column ``name`` — a distributed TakeOrdered, then a window over k
    rows."""
    return emb.orderBy("vec_id").limit(k).withColumn(
        name, (F.row_number().over(Window.orderBy("vec_id")) - 1).cast("int")
    )


def _lloyd(emb: DataFrame):
    """The deterministic k-means chain over ``emb`` (vec_id, v): seeds
    are the KMEANS_K lowest vec_ids, then KMEANS_ITERS rounds of
    ``_nearest_cell`` and ``_means``. Returns (cent_arr: cell, cv;
    cent_long: cell, dim_idx, centroid; assigned: vec_id, cell, ccos,
    v) — bit-reproducible, so a DuckDB twin can unroll the same rounds
    as CTEs."""
    cent_arr = _seeds(emb, KMEANS_K, "cell").select("cell", F.col("v").alias("cv"))
    for _ in range(KMEANS_ITERS):
        assigned = _nearest_cell(emb, cent_arr, "v")
        cent_long = _means(assigned, "v", "cell")
        cent_arr = _assemble(cent_long, "cell")
    return cent_arr, cent_long, assigned


def q_kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over the embeddings — the REAL coarse-quantizer
    build for IVF/SemDeDup (the other entries bootstrap centroids from
    the label column; unlabeled corpora need this).

    Fixed ``KMEANS_ITERS`` rounds from a deterministic init, so the
    whole iterative algorithm is bit-reproducible and oracle-checkable
    (the DuckDB twin unrolls the same rounds as CTEs). Each round is
    one broadcast of the K x dim centroid table + one shuffle on (cell,
    dim): per-round cost is linear in vectors, round count is fixed —
    at 100 TB the standard practice this mirrors is running exactly
    this plan on a uniform sample, then one final assignment pass over
    the corpus. Empty cells drop out (their id simply stops
    appearing), as in any Lloyd implementation without re-seeding.
    """
    _, cent_long, assigned = _lloyd(load_embeddings(spark, sf_dir, "vec_id"))
    counts = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n_members"))
    return cent_long.join(counts, "cell").select(
        "cell", "dim_idx", "centroid", "n_members"
    )


# Fixed-size deterministic training sample for the sampled-k-means
# mode: the N vectors with the smallest md5 hash keys — a
# deterministic reservoir (same trick as sample_topk_per_stratum,
# global). Fixed N means Lloyd's per-round cost is CONSTANT as the
# corpus grows; only the single final assignment pass is linear.
KMEANS_SAMPLE_N = 256
_KMEANS_SALT = "kmeans|"


def _hash_sample(emb: DataFrame, salt: str, n: int) -> DataFrame:
    """The ``n`` vectors of ``emb`` (vec_id, v) with the smallest
    md5(salt || vec_id) keys: a distributed TakeOrdered (map-side
    partial top-N per partition), no RNG, the same sample on any engine
    or partitioning."""
    key = F.substring(
        F.md5(F.concat(F.lit(salt), F.col("vec_id").cast("string"))), 1, 8
    )
    return (
        emb.withColumn("__sk", key)
        .orderBy("__sk", "vec_id")
        .limit(n)
        .select("vec_id", "v")
    )


def q_kmeans_sampled_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-training k-means — the 100 TB Lloyd recipe made
    explicit, per the scale story documented on ``q_kmeans_centroids``:

    1. TRAIN on a fixed-size deterministic sample: the KMEANS_SAMPLE_N
       vectors with the smallest md5('kmeans|'||vec_id) keys. Training
       cost is CONSTANT in the corpus size.
    2. ASSIGN the full corpus in ONE broadcast pass against the
       trained K x dim centroid table (KBs) — the only linear stage,
       and it is map-side until the final per-cell rollup.

    Output is the per-cell census of the full-corpus assignment
    (cell, n_members, avg_ccos): small, hash-checkable, and pinning
    both stages end-to-end; the DuckDB twin unrolls the same sample +
    rounds + assignment.
    """
    emb = load_embeddings(spark, sf_dir, "vec_id")
    cent_arr, _, _ = _lloyd(_hash_sample(emb, _KMEANS_SALT, KMEANS_SAMPLE_N))
    return (
        _nearest_cell(emb, cent_arr)
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            fround(
                F.sum(F.col("ccos").cast("decimal(25,6)")).cast("double")
                / F.count(F.lit(1)), 6).alias("avg_ccos"),
        )
    )


def _kmeans_sampled_oracle() -> str:
    """DuckDB twin of q_kmeans_sampled_assign: the same fixed-size
    hash sample, the same unrolled Lloyd rounds over it, then the same
    full-corpus assignment + per-cell census."""
    cos = (
        "floor((list_dot_product(e.v, c.cv)"
        " / (sqrt(list_dot_product(e.v, e.v))"
        " * sqrt(list_dot_product(c.cv, c.cv)))) * 1e6 + 0.5) / 1e6"
    )
    ctes = [
        """emb AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        )""",
        f"""semb AS (
            SELECT vec_id, v FROM emb
            ORDER BY substring(md5('{_KMEANS_SALT}' || CAST(vec_id AS VARCHAR)), 1, 8),
                     vec_id
            LIMIT {KMEANS_SAMPLE_N}
        )""",
        f"""carr_0 AS (
            SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
                   v AS cv
            FROM (SELECT vec_id, v FROM semb ORDER BY vec_id LIMIT {KMEANS_K})
        )""",
    ]
    for it in range(1, KMEANS_ITERS + 1):
        ctes.append(f"""assigned_{it} AS (
            SELECT vec_id, cell, v FROM (
                SELECT e.vec_id, c.cell, e.v,
                       row_number() OVER (
                           PARTITION BY e.vec_id ORDER BY {cos} DESC, c.cell
                       ) AS rn
                FROM semb e CROSS JOIN carr_{it - 1} c
            ) WHERE rn = 1
        )""")
        ctes.append(f"""cent_{it} AS (
            SELECT cell, i - 1 AS dim_idx,
                   CAST(sum(CAST(v[i] AS DECIMAL(25,6))) AS DOUBLE) / count(*)
                       AS centroid
            FROM (
                SELECT cell, v, unnest(generate_series(1, len(v))) AS i
                FROM assigned_{it}
            )
            GROUP BY cell, i
        )""")
        ctes.append(f"""carr_{it} AS (
            SELECT cell, list(centroid ORDER BY dim_idx) AS cv
            FROM cent_{it} GROUP BY cell
        )""")
    last = KMEANS_ITERS
    ctes.append(f"""fassign AS (
        SELECT vec_id, cell, ccos FROM (
            SELECT e.vec_id, c.cell, {cos} AS ccos,
                   row_number() OVER (
                       PARTITION BY e.vec_id ORDER BY {cos} DESC, c.cell
                   ) AS rn
            FROM emb e CROSS JOIN carr_{last} c
        ) WHERE rn = 1
    )""")
    return f"""
        WITH {', '.join(ctes)}
        SELECT cell, count(*) AS n_members,
               floor((CAST(sum(CAST(ccos AS DECIMAL(25,6))) AS DOUBLE)
                     / count(*)) * 1e6 + 0.5) / 1e6 AS avg_ccos
        FROM fassign
        GROUP BY cell
    """


def _kmeans_oracle() -> str:
    """DuckDB twin: the same Lloyd rounds unrolled as CTEs."""
    cos = (
        "floor((list_dot_product(e.v, c.cv)"
        " / (sqrt(list_dot_product(e.v, e.v))"
        " * sqrt(list_dot_product(c.cv, c.cv)))) * 1e6 + 0.5) / 1e6"
    )
    ctes = [
        """emb AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        )""",
        f"""carr_0 AS (
            SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
                   v AS cv
            FROM (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT {KMEANS_K})
        )""",
    ]
    for it in range(1, KMEANS_ITERS + 1):
        ctes.append(f"""assigned_{it} AS (
            SELECT vec_id, cell, v FROM (
                SELECT e.vec_id, c.cell, e.v,
                       row_number() OVER (
                           PARTITION BY e.vec_id ORDER BY {cos} DESC, c.cell
                       ) AS rn
                FROM emb e CROSS JOIN carr_{it - 1} c
            ) WHERE rn = 1
        )""")
        ctes.append(f"""cent_{it} AS (
            SELECT cell, i - 1 AS dim_idx,
                   CAST(sum(CAST(v[i] AS DECIMAL(25,6))) AS DOUBLE) / count(*)
                       AS centroid
            FROM (
                SELECT cell, v, unnest(generate_series(1, len(v))) AS i
                FROM assigned_{it}
            )
            GROUP BY cell, i
        )""")
        ctes.append(f"""carr_{it} AS (
            SELECT cell, list(centroid ORDER BY dim_idx) AS cv
            FROM cent_{it} GROUP BY cell
        )""")
    last = KMEANS_ITERS
    return f"""
        WITH {', '.join(ctes)}
        SELECT c.cell, c.dim_idx, c.centroid,
               CAST(n.n_members AS BIGINT) AS n_members
        FROM cent_{last} c
        JOIN (
            SELECT cell, count(*) AS n_members FROM assigned_{last} GROUP BY 1
        ) n ON c.cell = n.cell
    """


# Product quantization (Jégou et al., TPAMI 2011): split each vector
# into PQ_M subvectors, learn a PQ_K-code codebook per subspace (Lloyd,
# deterministic like kmeans_centroids), store each vector as PQ_M
# 4-bit codes, and answer queries with an ADC table — PQ_M*PQ_K
# distances computed ONCE per query, every corpus distance is then a
# table-lookup sum. At 100 TB this is the memory story of ANN: 64
# doubles (512 B) become 4 codes (2 B), so the scan is ~256x smaller,
# and the codebooks (PQ_M*PQ_K subvectors) broadcast in KBs.
PQ_M = 8
PQ_K = 16
PQ_ITERS = 2
PQ_DSUB = DIM // PQ_M
# ADC shortlist size for the exact re-rank stage: the coded scan ranks
# everything, raw floats are touched for only PQ_RERANK candidates.
PQ_RERANK = 100


def _pq_subs(vcol: str, name: str) -> F.Column:
    """The PQ_M contiguous PQ_DSUB-wide subvectors of array column
    ``vcol`` as posexplode rows ``(sub, name)``."""
    return F.posexplode(
        F.array(*[F.slice(vcol, m * PQ_DSUB + 1, PQ_DSUB) for m in range(PQ_M)])
    ).alias("sub", name)


def _nearest_code(subs: DataFrame, codebook: DataFrame, *carry: str) -> DataFrame:
    """``(vec_id, sub, code, *carry)``: every subvector of ``subs``
    (vec_id, sub, sv, …) coded to its nearest codeword of the broadcast
    ``codebook`` (sub, code, cv) by (6-dp squared L2, lowest code) —
    ``_nearest_cell``'s argmax shape, per subspace."""
    return (
        subs.join(broadcast(codebook), "sub")
        .select("vec_id", "sub", "code", *carry, _l2sq6("sv", "cv").alias("d2"))
        .groupBy("vec_id", "sub")
        .agg(
            F.expr("min_by(code, named_struct('d', d2, 'c', code)) AS code"),
            *[F.expr(f"any_value({c}) AS {c}") for c in carry],
        )
    )


def _pq_train(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Train per-subspace codebooks on ``emb`` (vec_id, v) and assign
    codes. Returns (codebook: sub, code, cv; codes: vec_id, sub, code).

    One Lloyd chain handles ALL subspaces at once — 'sub' is just an
    extra group key, so each round is one broadcast of the M*K codebook
    rows plus one shuffle on (sub, code, dim); no per-subspace jobs.
    Init: every vec_id appears in ALL M subspaces, so the K lowest
    vec_ids per subspace ARE the K lowest vec_ids globally — one
    distributed TakeOrdered (``_seeds``) picks them, never a window
    over the exploded corpus grid (that would sort the whole corpus
    inside each of the M window partitions). The DuckDB twins unroll
    the same rounds as CTEs.
    """
    subs = emb.select("vec_id", _pq_subs("v", "sv"))
    codebook = _seeds(emb, PQ_K, "code").select("code", _pq_subs("v", "cv"))
    for _ in range(PQ_ITERS):
        assigned = _nearest_code(subs, codebook, "sv")
        codebook = _assemble(_means(assigned, "sv", "sub", "code"), "sub", "code")
    return codebook, assigned.select("vec_id", "sub", "code")


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC retrieval with exact re-rank: train the codebooks, build
    the query's M x K ADC distance table (one tiny broadcast), rank
    every corpus vector by the SUM of table lookups over its codes (the
    coded scan never touches raw floats), shortlist the PQ_RERANK best,
    and re-rank ONLY the shortlist with exact L2 — the standard
    two-stage PQ pipeline: full-corpus work happens on 2-byte codes,
    float work on a constant-size candidate set. Both stages are
    orderBy+limit (distributed TakeOrdered). Recall vs the exact
    baseline is pytest-pinned; the ranking itself is deterministic and
    oracle-exact."""
    emb = load_embeddings(spark, sf_dir, "vec_id")
    return _pq_retrieve(emb, *_pq_train(emb))


def _pq_retrieve(emb: DataFrame, codebook: DataFrame, codes: DataFrame) -> DataFrame:
    """The shared two-stage PQ retrieval: build the query's M x K ADC
    table against ``codebook`` (one tiny broadcast), rank every coded
    corpus vector by table-lookup sums, exact-L2 re-rank the PQ_RERANK
    shortlist."""
    query = _query(emb, QUERY_VEC_ID)
    table = (
        query.select(_pq_subs("qv", "qsv"))
        .join(codebook, "sub")
        .select("sub", "code", _l2sq6("qsv", "cv").alias("d"))
    )
    shortlist = (
        codes.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(broadcast(table), ["sub", "code"])
        .groupBy("vec_id")
        .agg(F.sum(F.col("d").cast("decimal(18,6)")).alias("_s"))
        .select("vec_id", F.col("_s").cast("double").alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id"))
        .limit(PQ_RERANK)
    )
    return (
        shortlist.join(emb, "vec_id")
        .crossJoin(broadcast(query))
        .select("vec_id", "adc_dist", _l2sq6("v", "qv").alias("l2_dist"))
        .orderBy(F.col("l2_dist").asc(), F.col("vec_id"))
        .limit(TOP_K)
    )


# Fixed-size deterministic PQ training sample — same TakeOrdered trick
# as the sampled k-means, PQ's own salt so the two samples decorrelate.
PQ_SAMPLE_N = 256
_PQ_SALT = "pq|"


def q_ann_pq_sampled_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ retrieval in its 100 TB training form: codebooks learned from
    a FIXED-SIZE deterministic hash sample (PQ_SAMPLE_N vectors —
    constant training cost no matter the corpus, the standard practice
    the full-corpus ``ann_pq_topk`` documents), then the WHOLE corpus
    coded in ONE broadcast pass against the final codebooks, then the
    same ADC + exact-re-rank retrieval. The exact-L2 re-rank stage
    absorbs the coarser sampled codebooks, so recall stays pinned while
    training drops from O(corpus x iters) to O(sample x iters +
    corpus). Deterministic end-to-end; the DuckDB twin unrolls the
    sampled rounds plus the full-corpus coding pass."""
    emb = load_embeddings(spark, sf_dir, "vec_id")
    codebook = _pq_codebook_sampled(emb)
    return _pq_retrieve(emb, codebook, _pq_code(emb, codebook))


def _pq_codebook_sampled(emb: DataFrame) -> DataFrame:
    """``_pq_train``'s codebook over the PQ_SAMPLE_N hash sample of
    ``emb`` (vec_id, v) — constant training cost at any corpus size. A
    serving path can then code a RESTRICTED vector set (e.g. only the
    probed IVF cells read file-pruned from a maintained index) against
    corpus-trained codebooks with ``_pq_code``."""
    return _pq_train(_hash_sample(emb, _PQ_SALT, PQ_SAMPLE_N))[0]


def _pq_code(emb: DataFrame, codebook: DataFrame) -> DataFrame:
    """ONE broadcast coding pass of ``emb`` (vec_id, v) against final
    codebooks — the only corpus-sized stage of sampled PQ training,
    and per-vector independent, so coding any SUBSET of the corpus
    (a probed cell's members) bit-equals the full pass restricted to
    that subset. Returns codes (vec_id, sub, code)."""
    return _nearest_code(emb.select("vec_id", _pq_subs("v", "sv")), codebook)


def _pq_sampled_oracle(
    member_ctes: str = "", member_join: str = "", sample_where: str = ""
) -> str:
    """DuckDB twin of q_ann_pq_sampled_topk: the sampled Lloyd rounds
    unrolled as CTEs, one full-corpus coding pass against the final
    codebooks, then the same ADC + re-rank.

    ``member_ctes``/``member_join``: same composition hooks as
    ``_pq_oracle`` — the sampled IVFPQ oracle appends its coarse-
    quantizer membership CTEs and restricts the coded scan.
    ``sample_where``: optional WHERE clause restricting the training
    sample's candidate pool — the stored-codes streaming entry trains
    its frozen codebook on the FIRST delivered batch (vec_id below
    the first quarter cut), so its oracle samples from that slice."""

    def d2(a: str, b: str) -> str:
        return (
            f"floor((list_dot_product({a}, {a})"
            f" - 2 * list_dot_product({a}, {b})"
            f" + list_dot_product({b}, {b})) * 1e6 + 0.5) / 1e6"
        )

    ctes = [
        """emb AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        )""",
        f"""semb AS (
            SELECT vec_id, v FROM emb
            {sample_where}
            ORDER BY substring(md5('{_PQ_SALT}' || CAST(vec_id AS VARCHAR)), 1, 8),
                     vec_id
            LIMIT {PQ_SAMPLE_N}
        )""",
        f"""ssubs AS (
            SELECT vec_id, sub,
                   list_slice(v, sub * {PQ_DSUB} + 1,
                              sub * {PQ_DSUB} + {PQ_DSUB}) AS sv
            FROM semb
            CROSS JOIN (SELECT unnest(generate_series(0, {PQ_M - 1})) AS sub)
        )""",
        f"""cb_0 AS (
            SELECT sub, CAST(rn - 1 AS INT) AS code, sv AS cv FROM (
                SELECT sub, sv, row_number() OVER (
                    PARTITION BY sub ORDER BY vec_id
                ) AS rn FROM ssubs
            ) WHERE rn <= {PQ_K}
        )""",
    ]
    for it in range(1, PQ_ITERS + 1):
        ctes.append(f"""assigned_{it} AS (
            SELECT vec_id, sub, code, sv FROM (
                SELECT s.vec_id, s.sub, c.code, s.sv,
                       row_number() OVER (
                           PARTITION BY s.vec_id, s.sub
                           ORDER BY {d2('s.sv', 'c.cv')}, c.code
                       ) AS rn
                FROM ssubs s JOIN cb_{it - 1} c ON s.sub = c.sub
            ) WHERE rn = 1
        )""")
        ctes.append(f"""cent_{it} AS (
            SELECT sub, code, i - 1 AS dim_idx,
                   CAST(sum(CAST(sv[i] AS DECIMAL(25,6))) AS DOUBLE)
                       / count(*) AS centroid
            FROM (
                SELECT sub, code, sv, unnest(generate_series(1, len(sv))) AS i
                FROM assigned_{it}
            )
            GROUP BY sub, code, i
        )""")
        ctes.append(f"""cb_{it} AS (
            SELECT sub, code, list(centroid ORDER BY dim_idx) AS cv
            FROM cent_{it} GROUP BY sub, code
        )""")
    last = PQ_ITERS
    return f"""
        WITH {', '.join(ctes)},{member_ctes}
        fsubs AS (
            SELECT vec_id, sub,
                   list_slice(v, sub * {PQ_DSUB} + 1,
                              sub * {PQ_DSUB} + {PQ_DSUB}) AS sv
            FROM emb
            CROSS JOIN (SELECT unnest(generate_series(0, {PQ_M - 1})) AS sub)
        ),
        fcodes AS (
            SELECT vec_id, sub, code FROM (
                SELECT f.vec_id, f.sub, c.code,
                       row_number() OVER (
                           PARTITION BY f.vec_id, f.sub
                           ORDER BY {d2('f.sv', 'c.cv')}, c.code
                       ) AS rn
                FROM fsubs f JOIN cb_{last} c ON f.sub = c.sub
            ) WHERE rn = 1
        ),
        qsubs AS (
            SELECT sub, sv AS qsv FROM fsubs WHERE vec_id = {QUERY_VEC_ID}
        ),
        tbl AS (
            SELECT c.sub, c.code, {d2('q.qsv', 'c.cv')} AS d
            FROM cb_{last} c JOIN qsubs q ON c.sub = q.sub
        ),
        shortlist AS (
            SELECT a.vec_id,
                   CAST(sum(CAST(t.d AS DECIMAL(18,6))) AS DOUBLE) AS adc_dist
            FROM fcodes a
            {member_join}
            JOIN tbl t ON a.sub = t.sub AND a.code = t.code
            WHERE a.vec_id <> {QUERY_VEC_ID}
            GROUP BY a.vec_id
            ORDER BY adc_dist ASC, a.vec_id
            LIMIT {PQ_RERANK}
        ),
        q AS (SELECT v AS qv FROM emb WHERE vec_id = {QUERY_VEC_ID})
        SELECT s.vec_id, s.adc_dist,
               {d2('e.v', 'q.qv')} AS l2_dist
        FROM shortlist s
        JOIN emb e ON s.vec_id = e.vec_id
        CROSS JOIN q
        ORDER BY l2_dist ASC, s.vec_id
        LIMIT {TOP_K}
    """


def _pq_oracle(member_ctes: str = "", member_join: str = "") -> str:
    """DuckDB twin: the same per-subspace Lloyd rounds unrolled as
    CTEs (sub is an extra group key), then the same ADC table sum.

    ``member_ctes``/``member_join`` let a composing oracle (IVF+PQ)
    restrict the ADC scan to an inverted-list membership set: extra
    CTE text appended after the Lloyd chain, and a JOIN clause applied
    to the coded-scan FROM."""

    def d2(a: str, b: str) -> str:
        return (
            f"floor((list_dot_product({a}, {a})"
            f" - 2 * list_dot_product({a}, {b})"
            f" + list_dot_product({b}, {b})) * 1e6 + 0.5) / 1e6"
        )

    ctes = [
        """emb AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        )""",
        f"""subs AS (
            SELECT vec_id, sub,
                   list_slice(v, sub * {PQ_DSUB} + 1,
                              sub * {PQ_DSUB} + {PQ_DSUB}) AS sv
            FROM emb
            CROSS JOIN (SELECT unnest(generate_series(0, {PQ_M - 1})) AS sub)
        )""",
        f"""cb_0 AS (
            SELECT sub, CAST(rn - 1 AS INT) AS code, sv AS cv FROM (
                SELECT sub, sv, row_number() OVER (
                    PARTITION BY sub ORDER BY vec_id
                ) AS rn FROM subs
            ) WHERE rn <= {PQ_K}
        )""",
    ]
    for it in range(1, PQ_ITERS + 1):
        ctes.append(f"""assigned_{it} AS (
            SELECT vec_id, sub, code, sv FROM (
                SELECT s.vec_id, s.sub, c.code, s.sv,
                       row_number() OVER (
                           PARTITION BY s.vec_id, s.sub
                           ORDER BY {d2('s.sv', 'c.cv')}, c.code
                       ) AS rn
                FROM subs s JOIN cb_{it - 1} c ON s.sub = c.sub
            ) WHERE rn = 1
        )""")
        ctes.append(f"""cent_{it} AS (
            SELECT sub, code, i - 1 AS dim_idx,
                   CAST(sum(CAST(sv[i] AS DECIMAL(25,6))) AS DOUBLE)
                       / count(*) AS centroid
            FROM (
                SELECT sub, code, sv, unnest(generate_series(1, len(sv))) AS i
                FROM assigned_{it}
            )
            GROUP BY sub, code, i
        )""")
        ctes.append(f"""cb_{it} AS (
            SELECT sub, code, list(centroid ORDER BY dim_idx) AS cv
            FROM cent_{it} GROUP BY sub, code
        )""")
    last = PQ_ITERS
    return f"""
        WITH {', '.join(ctes)},{member_ctes}
        qsubs AS (
            SELECT sub, sv AS qsv FROM subs WHERE vec_id = {QUERY_VEC_ID}
        ),
        tbl AS (
            SELECT c.sub, c.code, {d2('q.qsv', 'c.cv')} AS d
            FROM cb_{last} c JOIN qsubs q ON c.sub = q.sub
        ),
        shortlist AS (
            SELECT a.vec_id,
                   CAST(sum(CAST(t.d AS DECIMAL(18,6))) AS DOUBLE) AS adc_dist
            FROM assigned_{last} a
            {member_join}
            JOIN tbl t ON a.sub = t.sub AND a.code = t.code
            WHERE a.vec_id <> {QUERY_VEC_ID}
            GROUP BY a.vec_id
            ORDER BY adc_dist ASC, a.vec_id
            LIMIT {PQ_RERANK}
        ),
        q AS (SELECT v AS qv FROM emb WHERE vec_id = {QUERY_VEC_ID})
        SELECT s.vec_id, s.adc_dist,
               {d2('e.v', 'q.qv')} AS l2_dist
        FROM shortlist s
        JOIN emb e ON s.vec_id = e.vec_id
        CROSS JOIN q
        ORDER BY l2_dist ASC, s.vec_id
        LIMIT {TOP_K}
    """


KNN_K = 3


def q_knn_join_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KNN self-join: top-k nearest neighbors for EVERY vector, blocked
    by label (IVF-cell analog) — the all-pairs companion to the
    single-query ANN entries, and the workhorse of embedding-based
    corpus curation (near-dup mining, cluster labeling, retrieval eval).

    Per block, one BLAS pairwise-cosine matrix inside ``applyInPandas``
    (same kernel family as dedup_embedding — measured ~20x over a
    per-pair expression fold at 10x scale); ties broken by neighbor id
    so the result is deterministic and oracle-exact. At 100 TB the
    block must be an ANN cell sized to worker memory; the blocked join
    never materializes cross-block pairs.
    """
    emb = load_embeddings(spark, sf_dir, "vec_id", "label")

    def _topk(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        label = pdf["label"].iloc[0]
        mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1)
        cos = np.floor(((mat @ mat.T) / np.outer(norms, norms)) * 1e6 + 0.5) / 1e6
        n = len(ids)
        k = min(KNN_K, n - 1)
        rows = []
        for i in range(n):
            c = cos[i].copy()
            c[i] = -np.inf
            # sort by (-cosine, neighbor id): deterministic under ties
            order = np.lexsort((ids, -c))[:k]
            for rank, j in enumerate(order, 1):
                rows.append((ids[i], ids[j], label, c[j], rank))
        return pd.DataFrame(
            rows, columns=["q_id", "n_id", "label", "cosine", "rank"]
        )

    return emb.groupBy("label").applyInPandas(
        _topk, schema="q_id long, n_id long, label int, cosine double, rank int"
    )


BATCH_QUERY_IDS = (0, 1, 2, 3, 4)
BATCH_TOP_K = 5


def q_ann_batch_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch IVF retrieval: top-k neighbors for a SET of query vectors
    in ONE plan — the real retrieval workload (RAG lookups arrive in
    batches, not one vector at a time).

    All queries route through the same broadcast centroid table
    (per-query nprobe best cells via a window over K*|Q| rows), then
    one cell-keyed join pulls each query's candidate cells and a
    per-query window ranks top-k. Cost: one corpus-side join keyed on
    cell id regardless of |Q| — per-query plans would scan the corpus
    |Q| times. At 100 TB the corpus is partitioned by cell, so each
    query batch touches nprobe/K of the data.
    """
    emb = load_embeddings(spark, sf_dir, "vec_id", "label")
    queries = emb.filter(F.col("vec_id").isin(*BATCH_QUERY_IDS)).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    routed = _cent_arr(emb).crossJoin(broadcast(queries)).select(
        "q_id", "qv", "cell", _cos6("cv", "qv").alias("ccos")
    )
    probes = _top_per_query(routed, "ccos", "cell", 2, "r").select(
        "q_id", "qv", F.col("cell").alias("probe_label")
    )
    cands = emb.join(
        broadcast(probes), F.col("label") == F.col("probe_label")
    ).filter(F.col("vec_id") != F.col("q_id"))
    scored = cands.select(
        "q_id", "vec_id", "label", _cos6("v", "qv").alias("cosine")
    )
    return _top_per_query(scored, "cosine", "vec_id", BATCH_TOP_K, "rank")


HN_K = 5  # hard negatives kept per query
HN_NPROBE = 2  # foreign cells probed per query


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training data (the
    DPR/SimCSE prep step): for each query vector, the most-similar
    vectors whose label DIFFERS from the query's — the negatives that
    actually teach a bi-encoder something.

    Scale shape = batch IVF with a foreign-cell constraint: every
    query routes through the broadcast centroid table to its
    HN_NPROBE most-similar cells EXCLUDING its own label (the hardest
    negatives live in the most query-similar foreign cells — IVF
    routing finds exactly those), then ONE cell-keyed corpus join
    scores the candidates and a per-query window keeps the top HN_K.
    One corpus join regardless of |Q|; candidates are negative by
    construction (foreign cell), so no post-filter rescans anything.
    """
    emb = load_embeddings(spark, sf_dir, "vec_id", "label")
    queries = emb.filter(F.col("vec_id").isin(*BATCH_QUERY_IDS)).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("v").alias("qv"),
    )
    routed = (
        _cent_arr(emb)
        .crossJoin(broadcast(queries))
        .filter(F.col("cell") != F.col("q_label"))
        .select("q_id", "q_label", "qv", "cell", _cos6("cv", "qv").alias("ccos"))
    )
    probes = _top_per_query(routed, "ccos", "cell", HN_NPROBE, "r").select(
        "q_id", "q_label", "qv", F.col("cell").alias("probe_label")
    )
    scored = emb.join(
        broadcast(probes), F.col("label") == F.col("probe_label")
    ).select(
        "q_id",
        "q_label",
        "vec_id",
        F.col("label").alias("neg_label"),
        _cos6("v", "qv").alias("cosine"),
    )
    return _top_per_query(scored, "cosine", "vec_id", HN_K, "rank")


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization QC for the vector store: per-vector
    scale (max|x|/127), reconstruction MSE and max abs error — the
    report that says whether 4x-smaller int8 vectors are safe for ANN
    (the standard vector-infra compression step).

    Pure Catalyst array expressions, fully map-side, no shuffle at
    all. Portability discipline: quantized value is
    floor(x/scale + 0.5) (explicit floor-based rounding, identical in
    every engine, no banker's-rounding ambiguity); per-term squared
    errors round to 12 dp and sum in DECIMAL before the final divide.
    Scalars out, never arrays (driver canonicalizer contract).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    x = F.transform("embedding", lambda v: v.cast("double"))
    max_abs = F.array_max(F.transform(x, lambda v: F.abs(v)))
    scale = F.when(max_abs > 0, max_abs / F.lit(127.0)).otherwise(F.lit(1.0))
    d = emb.select(
        "vec_id",
        "label",
        x.alias("v"),
        scale.alias("scale"),
        F.size("embedding").alias("dim"),
    )
    err = F.transform(
        "v",
        lambda v: v
        - F.floor(v / F.col("scale") + F.lit(0.5)) * F.col("scale"),
    )
    sq_terms = F.transform(err, lambda e: fround(e * e, 12))
    sse = F.aggregate(
        sq_terms,
        F.lit(0).cast("decimal(25,12)"),
        lambda acc, t: (acc + t.cast("decimal(25,12)")).cast("decimal(25,12)"),
    )
    # NB: the error metrics and the display rounding of `scale` must
    # live in SEPARATE selects — in one select, Spark's lateral column
    # alias resolution would make the err expressions read the
    # freshly-aliased fround(scale, 9) instead of the raw scale.
    scored = d.select(
        "vec_id",
        "label",
        "scale",
        (sse.cast("double") / F.col("dim")).alias("_mse"),
        F.array_max(F.transform(err, lambda e: F.abs(e))).alias("_mae"),
    )
    return scored.select(
        "vec_id",
        "label",
        fround("scale", 9).alias("scale"),
        fround("_mse", 9).alias("mse"),
        fround("_mae", 9).alias("max_abs_err"),
    )


# Random projection: 64 -> 8 dims with a +-1 sign matrix derived from
# md5 (Achlioptas 2003 database-friendly JL projections — sign matrices
# preserve pairwise distances like Gaussian ones). The matrix is
# PRECOMPUTED as literals from one helper shared by the Spark builder
# and the SQL oracle, so the two engines cannot diverge on the hash.
RP_OUT_DIM = 8
RP_IN_DIM = 64


def _rp_sign(i: int, j: int) -> int:
    h = hashlib.md5(f"rp|{i}|{j}".encode()).hexdigest()
    return 1 if int(h[0], 16) < 8 else -1


def q_embedding_rp_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction for the vector
    store: project 64-dim embeddings to 8 dims through a deterministic
    +-1 sign matrix, scaled 1/sqrt(k) — the cheap preprocessing step
    in front of coarse ANN routing / LSH when the full dimension is
    too wide to shuffle.

    Fully map-side (zero shuffles, whole-stage codegen over 512 +-
    terms); at 100 TB this is a pure scan-transform whose output is
    8/64 the width of its input. Portability: the +-v_i terms sum in
    a LEFT-DEEP double chain in a fixed order — IEEE add/div are
    exactly rounded and neither engine reassociates a float
    expression tree, so the accumulation is bit-identical (decimal
    staging is unnecessary AND would hurt here: round(double, 9)
    itself differs across engines at shortest-repr edges, which is
    why the final mile uses the floor form). One division by the
    shared sqrt(k) literal, final 6-dp floor-round. Output
    dims are scalar COLUMNS p0..p7 (driver canonicalizer contract:
    scalars, never arrays).
    """
    emb = load_embeddings(spark, sf_dir, "vec_id", "label")
    inv = F.lit(math.sqrt(RP_OUT_DIM))
    cols = []
    for j in range(RP_OUT_DIM):
        acc = None
        for i in range(RP_IN_DIM):
            term = F.element_at("v", i + 1)
            term = term if _rp_sign(i, j) > 0 else -term
            acc = term if acc is None else acc + term
        cols.append(fround(acc / inv, 6).alias(f"p{j}"))
    return emb.select("vec_id", "label", *cols)


def _rp_oracle() -> str:
    outs = []
    for j in range(RP_OUT_DIM):
        terms = " + ".join(
            ("-" if _rp_sign(i, j) < 0 else "")
            + f"CAST(embedding[{i + 1}] AS DOUBLE)"
            for i in range(RP_IN_DIM)
        )
        outs.append(
            f"floor((({terms}) / {math.sqrt(RP_OUT_DIM)!r}) * 1e6 + 0.5) / 1e6 AS p{j}"
        )
    return (
        "SELECT vec_id, label, " + ", ".join(outs) + " FROM embeddings"
    )


def _dims(emb: DataFrame, *keep: str) -> DataFrame:
    """``emb``'s v flattened to ``(*keep, dim, x)`` rows, dim 1-based."""
    return emb.select(*keep, F.posexplode("v").alias("dim0", "x")).select(
        *keep, (F.col("dim0") + 1).cast("bigint").alias("dim"), "x"
    )


def _dim_moments(dims: DataFrame, *extra: F.Column) -> DataFrame:
    """Per-dimension moments of ``dims`` (dim, x): count ``n``,
    decimal-exact sums ``s`` / ``s2`` of the 9-dp x and the 12-dp x²
    (the q_events_anomaly discipline — built-in stddev depends on the
    float accumulation order, this parallel sum/sum-of-squares formula
    does not), the 6-dp ``mean`` and ``std``, plus ``extra``
    aggregates. One map-combinable 64-group aggregate."""
    x, n, s, s2 = F.col("x"), F.col("n"), F.col("s"), F.col("s2")
    return dims.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(fround(x, 9).cast("decimal(30,9)")).cast("double").alias("s"),
        F.sum(fround(x * x, 12).cast("decimal(30,12)")).cast("double").alias("s2"),
        *extra,
    ).select(
        "*",
        fround(s / n, 6).alias("mean"),
        # greatest(0, ·): for a dead (constant) dimension the rounding
        # error of the 9-dp term dominates the 12-dp square's, so the
        # parallel-formula variance can come out ~-1e-10 — exactly the
        # input this report exists to catch. Clamp instead of NaN
        # (Spark) / hard sqrt-of-negative error (DuckDB).
        fround(
            F.sqrt(F.greatest(F.lit(0.0), (s2 - s * s / n) / (n - 1))), 6
        ).alias("std"),
    )


def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension feature QC over the embedding corpus: n, mean,
    std, min, max for each of the 64 dimensions — the report that
    catches dead dimensions (std≈0), scale drift between embedding
    model versions, and clipping (hard min/max walls) before vectors
    enter ANN indexes or quantizers. One posexplode -> 64-group
    aggregate (map-side combinable; the shuffle carries 64 keys x
    partial rows).
    """
    dims = _dims(load_embeddings(spark, sf_dir, "vec_id"))
    stats = _dim_moments(
        dims,
        fround(F.min("x"), 6).alias("vmin"),
        fround(F.max("x"), 6).alias("vmax"),
    )
    return stats.select("dim", "n", "mean", "std", "vmin", "vmax")


QUERIES = {
    "embedding_rp_project": q_embedding_rp_project,
    "embedding_dim_stats": q_embedding_dim_stats,
    "ann_batch_ivf": q_ann_batch_ivf,
    "embedding_quantize": q_embedding_quantize,
    "ann_topk": q_ann_topk,
    "ann_lsh_topk": q_ann_lsh_topk,
    "embedding_centroids": q_embedding_centroids,
    "ann_ivf_topk": q_ann_ivf_topk,
    "knn_join_blocked": q_knn_join_blocked,
    "kmeans_centroids": q_kmeans_centroids,
    "kmeans_sampled_assign": q_kmeans_sampled_assign,
    "ann_pq_topk": q_ann_pq_topk,
    "ann_pq_sampled_topk": q_ann_pq_sampled_topk,
    "hard_negatives": q_hard_negatives,
}


def _sql_array(plane: list[float]) -> str:
    return "[" + ", ".join(f"{x:.1f}" for x in plane) + "]"


def _lsh_bucket_sql(vexpr: str) -> str:
    bits = [
        f"CASE WHEN list_dot_product({vexpr}, {_sql_array(p)}) > 0 THEN '1' ELSE '0' END"
        for p in plane_weights()
    ]
    return " || ".join(bits)


_COSINE_SQL = (
    "floor((list_dot_product(v, qv) / "
    "(sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)))) * 1e6 + 0.5) / 1e6"
)

_CENTROIDS_SQL = """
    SELECT label, i - 1 AS dim_idx,
           CAST(sum(CAST(v[i] AS DECIMAL(25,6))) AS DOUBLE) / count(*) AS centroid
    FROM (
        SELECT label, v, unnest(generate_series(1, len(v))) AS i
        FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    )
    GROUP BY label, i
"""

_PAIR_COSINE_SQL = (
    "floor((list_dot_product(a.v, b.v) / "
    "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))) * 1e6 + 0.5) / 1e6"
)

ORACLE = {
    "embedding_rp_project": _rp_oracle(),
    "embedding_dim_stats": """
        WITH dims AS (
            SELECT i AS dim, CAST(embedding[i] AS DOUBLE) AS x
            FROM embeddings,
                 LATERAL (SELECT unnest(generate_series(1,
                          len(embedding))) AS i)
        ),
        stats AS (
            SELECT CAST(dim AS BIGINT) AS dim, count(*) AS n,
                   CAST(sum(CAST(floor((x) * 1e9 + 0.5) / 1e9 AS DECIMAL(30,9)))
                        AS DOUBLE) AS s,
                   CAST(sum(CAST(floor((x * x) * 1e12 + 0.5) / 1e12 AS DECIMAL(30,12)))
                        AS DOUBLE) AS s2,
                   floor((min(x)) * 1e6 + 0.5) / 1e6 AS vmin,
                   floor((max(x)) * 1e6 + 0.5) / 1e6 AS vmax
            FROM dims GROUP BY 1
        )
        SELECT dim, n,
               floor((s / n) * 1e6 + 0.5) / 1e6 AS mean,
               floor((sqrt(greatest(0.0, (s2 - s * s / n) / (n - 1)))) * 1e6 + 0.5) / 1e6
                   AS std,
               vmin, vmax
        FROM stats
    """,
    "embedding_quantize": """
        WITH emb AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
                   len(embedding) AS dim
            FROM embeddings
        ),
        scaled AS (
            SELECT vec_id, label, v, dim,
                   CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
                        THEN list_max(list_transform(v, x -> abs(x))) / 127.0
                        ELSE 1.0 END AS scale
            FROM emb
        ),
        errs AS (
            SELECT vec_id, label, scale, dim,
                   list_transform(v, x -> x - floor(x / scale + 0.5) * scale)
                       AS err
            FROM scaled
        )
        SELECT vec_id, label,
               floor((scale) * 1e9 + 0.5) / 1e9 AS scale,
               floor((CAST(list_sum(list_transform(err,
                         e -> CAST(floor((e * e) * 1e12 + 0.5) / 1e12 AS DECIMAL(25,12))))
                     AS DOUBLE) / dim) * 1e9 + 0.5) / 1e9 AS mse,
               floor((list_max(list_transform(err, e -> abs(e)))) * 1e9 + 0.5) / 1e9
                   AS max_abs_err
        FROM errs
    """,
    "kmeans_centroids": _kmeans_oracle(),
    "kmeans_sampled_assign": _kmeans_sampled_oracle(),
    "ann_pq_topk": _pq_oracle(),
    "ann_pq_sampled_topk": _pq_sampled_oracle(),
    "knn_join_blocked": f"""
        WITH emb AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        pairs AS (
            SELECT a.vec_id AS q_id, b.vec_id AS n_id, a.label AS label,
                   {_PAIR_COSINE_SQL} AS cosine
            FROM emb a
            JOIN emb b ON a.label = b.label AND a.vec_id <> b.vec_id
        )
        SELECT q_id, n_id, label, cosine, CAST(rank AS INTEGER) AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY q_id ORDER BY cosine DESC, n_id
            ) AS rank
            FROM pairs
        )
        WHERE rank <= {KNN_K}
    """,
    "embedding_centroids": _CENTROIDS_SQL,
    "hard_negatives": f"""
        WITH emb AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cent AS ({_CENTROIDS_SQL}),
        carr AS (SELECT label, list(centroid ORDER BY dim_idx) AS cv FROM cent GROUP BY label),
        q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv FROM emb
              WHERE vec_id IN {BATCH_QUERY_IDS}),
        routed AS (
            SELECT q_id, q_label, qv, label,
                   floor((list_dot_product(cv, qv)
                         / (sqrt(list_dot_product(cv, cv))
                            * sqrt(list_dot_product(qv, qv)))) * 1e6 + 0.5) / 1e6 AS ccos
            FROM carr, q
            WHERE label <> q_label
        ),
        probes AS (
            SELECT q_id, q_label, qv, label AS probe_label
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY q_id ORDER BY ccos DESC, label) AS r
                FROM routed
            ) WHERE r <= {HN_NPROBE}
        ),
        scored AS (
            SELECT p.q_id, p.q_label, e.vec_id, e.label AS neg_label,
                   floor((list_dot_product(e.v, p.qv)
                         / (sqrt(list_dot_product(e.v, e.v))
                            * sqrt(list_dot_product(p.qv, p.qv)))) * 1e6 + 0.5) / 1e6 AS cosine
            FROM emb e JOIN probes p ON e.label = p.probe_label
        )
        SELECT * FROM (
            SELECT q_id, q_label, vec_id, neg_label, cosine,
                   CAST(row_number() OVER (
                       PARTITION BY q_id ORDER BY cosine DESC, vec_id)
                       AS INTEGER) AS rank
            FROM scored
        ) WHERE rank <= {HN_K}
    """,
    "ann_batch_ivf": f"""
        WITH emb AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cent AS ({_CENTROIDS_SQL}),
        carr AS (SELECT label, list(centroid ORDER BY dim_idx) AS cv FROM cent GROUP BY label),
        q AS (SELECT vec_id AS q_id, v AS qv FROM emb
              WHERE vec_id IN {BATCH_QUERY_IDS}),
        routed AS (
            SELECT q_id, qv, label,
                   floor((list_dot_product(cv, qv)
                         / (sqrt(list_dot_product(cv, cv))
                            * sqrt(list_dot_product(qv, qv)))) * 1e6 + 0.5) / 1e6 AS ccos
            FROM carr, q
        ),
        probes AS (
            SELECT q_id, qv, label AS probe_label
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY q_id ORDER BY ccos DESC, label) AS r
                FROM routed
            ) WHERE r <= 2
        ),
        scored AS (
            SELECT p.q_id, e.vec_id, e.label,
                   floor((list_dot_product(e.v, p.qv)
                         / (sqrt(list_dot_product(e.v, e.v))
                            * sqrt(list_dot_product(p.qv, p.qv)))) * 1e6 + 0.5) / 1e6 AS cosine
            FROM emb e JOIN probes p
              ON e.label = p.probe_label AND e.vec_id <> p.q_id
        )
        SELECT * FROM (
            SELECT q_id, vec_id, label, cosine,
                   CAST(row_number() OVER (
                       PARTITION BY q_id ORDER BY cosine DESC, vec_id)
                       AS INTEGER) AS rank
            FROM scored
        ) WHERE rank <= {BATCH_TOP_K}
    """,
    "ann_ivf_topk": f"""
        WITH emb AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cent AS ({_CENTROIDS_SQL}),
        carr AS (SELECT label, list(centroid ORDER BY dim_idx) AS cv FROM cent GROUP BY label),
        q AS (SELECT v AS qv FROM emb WHERE vec_id = {QUERY_VEC_ID}),
        probes AS (
            SELECT label AS probe_label
            FROM carr, q
            ORDER BY floor((list_dot_product(cv, qv)
                           / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv)))) * 1e6 + 0.5) / 1e6 DESC,
                     label
            LIMIT 2
        )
        SELECT vec_id, label, cosine,
               CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
        FROM (
            SELECT vec_id, label, {_COSINE_SQL} AS cosine
            FROM emb, q
            WHERE label IN (SELECT probe_label FROM probes)
              AND vec_id <> {QUERY_VEC_ID}
            ORDER BY cosine DESC, vec_id
            LIMIT {TOP_K}
        )
    """,
    "ann_topk": f"""
        WITH emb AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        q AS (SELECT v AS qv FROM emb WHERE vec_id = {QUERY_VEC_ID})
        SELECT vec_id, label, cosine,
               CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
        FROM (
            SELECT vec_id, label, {_COSINE_SQL} AS cosine
            FROM emb, q
            WHERE vec_id <> {QUERY_VEC_ID}
            ORDER BY cosine DESC, vec_id
            LIMIT {TOP_K}
        )
    """,
    "ann_lsh_topk": f"""
        WITH emb AS (
            SELECT vec_id, label, v, {_lsh_bucket_sql('v')} AS bucket
            FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        ),
        q AS (SELECT v AS qv, bucket AS qbucket FROM emb WHERE vec_id = {QUERY_VEC_ID})
        SELECT vec_id, label, bucket, cosine,
               CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
        FROM (
            SELECT vec_id, label, bucket, {_COSINE_SQL} AS cosine
            FROM emb, q
            WHERE bucket = qbucket AND vec_id <> {QUERY_VEC_ID}
            ORDER BY cosine DESC, vec_id
            LIMIT {TOP_K}
        )
    """,
}


def q_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k evaluation of every approximate ANN path against the
    exact scan — the acceptance report an index owner runs before
    routing production traffic through LSH / IVF / PQ: per method, how
    many of the true top-k survive the approximation.

    Composes the existing query plans (exact top-k broadcast as the
    truth set, one left join + count per method); the oracle composes
    the same methods' SQL twins, so the report is hash-exact end to
    end. Cost is the sum of the member queries — an eval op, not a
    serving path.
    """
    return _recall_report(
        q_ann_topk(spark, sf_dir),
        [
            ("lsh", q_ann_lsh_topk(spark, sf_dir)),
            ("ivf", q_ann_ivf_topk(spark, sf_dir)),
            ("pq", q_ann_pq_topk(spark, sf_dir)),
        ],
    )


def _recall_report(
    exact: DataFrame, members: list[tuple[str, DataFrame]]
) -> DataFrame:
    """One (method, n_retrieved, n_hits, recall_at_k) row per
    ``(method, frame)`` member: how many of the member's ``vec_id``s
    are in the ``exact`` top-k (broadcast). A member with no rows
    reads (method, 0, NULL, NULL), as in SQL. Shared by the batch
    ``ann_recall_report`` and ``streaming_ann_recall``."""
    truth = exact.select("vec_id", F.lit(1).alias("hit"))
    parts = []
    for name, approx in members:
        agg = approx.select("vec_id").join(
            F.broadcast(truth), "vec_id", "left"
        ).agg(
            F.count(F.lit(1)).alias("n_retrieved"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias(
                "n_hits"
            ),
        )
        parts.append(
            agg.select(
                F.lit(name).alias("method"),
                "n_retrieved",
                "n_hits",
                fround(F.col("n_hits") / F.lit(float(TOP_K)), 6).alias(
                    "recall_at_k"
                ),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


QUERIES["ann_recall_report"] = q_ann_recall_report


def _recall_member_sql(name: str) -> str:
    """A member oracle wrapped as a derived table (DuckDB allows a
    WITH inside a parenthesized subquery)."""
    return f"(SELECT vec_id FROM ({ORACLE[name]}))"


ORACLE["ann_recall_report"] = f"""
    WITH exact AS (SELECT vec_id FROM {_recall_member_sql("ann_topk")}),
    m_lsh AS (SELECT vec_id FROM {_recall_member_sql("ann_lsh_topk")}),
    m_ivf AS (SELECT vec_id FROM {_recall_member_sql("ann_ivf_topk")}),
    m_pq AS (SELECT vec_id FROM {_recall_member_sql("ann_pq_topk")})
    SELECT method, n_retrieved, n_hits,
           floor((n_hits / {float(TOP_K)!r}) * 1e6 + 0.5) / 1e6 AS recall_at_k
    FROM (
        SELECT 'lsh' AS method, count(*) AS n_retrieved,
               CAST(sum(CASE WHEN vec_id IN (SELECT vec_id FROM exact)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
        FROM m_lsh
        UNION ALL
        SELECT 'ivf', count(*),
               CAST(sum(CASE WHEN vec_id IN (SELECT vec_id FROM exact)
                        THEN 1 ELSE 0 END) AS BIGINT)
        FROM m_ivf
        UNION ALL
        SELECT 'pq', count(*),
               CAST(sum(CASE WHEN vec_id IN (SELECT vec_id FROM exact)
                        THEN 1 ELSE 0 END) AS BIGINT)
        FROM m_pq
    )
"""


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal rank fusion of the lexical (BM25) and
# semantic (exact cosine) rankers.

RRF_K = 60  # the standard RRF damping constant (Cormack et al., SIGIR 2009)
RRF_TOP = 10


def q_hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+semantic retrieval via Reciprocal Rank Fusion
    (Cormack, Clarke & Buettcher, SIGIR 2009): fuse the BM25 top-k and
    the exact-cosine ANN top-k into one ranking by
    ``sum(1 / (RRF_K + rank))`` — the standard production hybrid-search
    pattern (keyword recall + embedding recall, no score calibration
    needed because only ranks are fused).

    The document corpus and the embedding corpus are 1:1 paired
    (doc_id == vec_id), so the fusion key is the shared id. Both member
    rankings are existing driver-proven plans; the fusion itself is a
    full outer join of two k-row lists — constant-size work on top of
    the member costs, so the 100 TB story is the members' story.
    Deterministic: both members tie-break by id, and the fused order
    tie-breaks (rrf_score desc, doc_id).
    """
    from .text import q_bm25_retrieval

    lex = q_bm25_retrieval(spark, sf_dir).select(
        F.col("doc_id"),
        F.row_number()
        .over(Window.orderBy(F.col("bm25_score").desc(), F.col("doc_id")))
        .alias("lex_rank"),
    )
    sem = q_ann_topk(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), F.col("rank").alias("sem_rank")
    )
    fused = lex.join(sem, "doc_id", "full_outer")
    rrf = fround(
        F.coalesce(1.0 / (F.lit(RRF_K) + F.col("lex_rank")), F.lit(0.0))
        + F.coalesce(1.0 / (F.lit(RRF_K) + F.col("sem_rank")), F.lit(0.0)), 6)
    return (
        fused.select("doc_id", "lex_rank", "sem_rank", rrf.alias("rrf_score"))
        .orderBy(F.col("rrf_score").desc(), F.col("doc_id"))
        .limit(RRF_TOP)
    )


QUERIES["hybrid_rrf_retrieval"] = q_hybrid_rrf_retrieval


def _rrf_bm25_member_sql() -> str:
    from .text import ORACLE as _TEXT_ORACLE

    return _TEXT_ORACLE["bm25_retrieval"]


ORACLE["hybrid_rrf_retrieval"] = f"""
    WITH lex AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY bm25_score DESC, doc_id)
                    AS INTEGER) AS lex_rank
        FROM ({_rrf_bm25_member_sql()})
    ),
    sem AS (
        SELECT vec_id AS doc_id, CAST(rank AS INTEGER) AS sem_rank
        FROM ({ORACLE["ann_topk"]})
    )
    SELECT doc_id, lex_rank, sem_rank,
           floor((COALESCE(1.0 / ({RRF_K} + lex_rank), 0.0)
                 + COALESCE(1.0 / ({RRF_K} + sem_rank), 0.0)) * 1e6 + 0.5) / 1e6 AS rrf_score
    FROM lex FULL OUTER JOIN sem USING (doc_id)
    ORDER BY rrf_score DESC, doc_id
    LIMIT {RRF_TOP}
"""


# ---------------------------------------------------------------------------
# IVF+PQ: coarse routing over inverted lists + coded ADC scan.

IVFPQ_NPROBE = 2


def q_ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ retrieval (Jégou, Douze & Schmid, TPAMI 2011 — the FAISS
    ``IVFx,PQy`` index): the coarse quantizer routes the query to its
    ``IVFPQ_NPROBE`` nearest cells, and the PQ/ADC coded scan runs
    over ONLY those cells' inverted lists before the exact re-rank.
    This composes the two scale levers the standalone entries prove
    separately: IVF cuts the scanned fraction to nprobe/n_cells, PQ
    cuts the bytes per scanned vector ~256x — together the billion-
    scale serving shape. Codes are learned on raw vectors (FAISS
    ``by_residual=false`` variant, so the codebook chain is identical
    to ``ann_pq_topk``'s and stays oracle-exact).

    At 100 TB the codes table is STORED partitioned by cell, so the
    membership restriction is partition pruning at the scan, not a
    join; here it is an explicit vec_id semi-join so the plan is
    visible and oracle-checkable.
    """
    emb3 = load_embeddings(spark, sf_dir, "vec_id", "label")
    emb = emb3.select("vec_id", "v")
    probes = _route_probes(_cent_arr(emb3), _query(emb, QUERY_VEC_ID), IVFPQ_NPROBE)
    members = (
        assign_ivf_cells(emb3)
        .join(broadcast(probes), "cell")
        .select("vec_id")
    )
    codebook, codes = _pq_train(emb)
    pcodes = codes.join(members, "vec_id", "left_semi")
    return _pq_retrieve(emb, codebook, pcodes)


QUERIES["ann_ivf_pq_topk"] = q_ann_ivf_pq_topk

_IVFPQ_MEMBER_CTES = f"""
        embl AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
        ),
        icent AS (
            SELECT label, i - 1 AS dim_idx,
                   CAST(sum(CAST(v[i] AS DECIMAL(25,6))) AS DOUBLE)
                       / count(*) AS centroid
            FROM (
                SELECT label, v, unnest(generate_series(1, len(v))) AS i
                FROM embl
            )
            GROUP BY label, i
        ),
        icarr AS (
            SELECT label AS cell, list(centroid ORDER BY dim_idx) AS cv
            FROM icent GROUP BY label
        ),
        iq AS (SELECT v AS qv FROM embl WHERE vec_id = {QUERY_VEC_ID}),
        iprobes AS (
            SELECT cell FROM icarr, iq
            ORDER BY floor((list_dot_product(cv, qv)
                           / (sqrt(list_dot_product(cv, cv))
                              * sqrt(list_dot_product(qv, qv)))) * 1e6 + 0.5) / 1e6 DESC,
                     cell
            LIMIT {IVFPQ_NPROBE}
        ),
        iscored AS (
            SELECT e.vec_id, c.cell,
                   floor((list_dot_product(e.v, c.cv)
                         / (sqrt(list_dot_product(e.v, e.v))
                            * sqrt(list_dot_product(c.cv, c.cv)))) * 1e6 + 0.5) / 1e6 AS ccos
            FROM embl e CROSS JOIN icarr c
        ),
        icells AS (
            SELECT vec_id, cell FROM (
                SELECT vec_id, cell,
                       row_number() OVER (
                           PARTITION BY vec_id ORDER BY ccos DESC, cell
                       ) AS rn
                FROM iscored
            ) WHERE rn = 1
        ),
        imembers AS (
            SELECT vec_id FROM icells
            WHERE cell IN (SELECT cell FROM iprobes)
        ),
"""

ORACLE["ann_ivf_pq_topk"] = _pq_oracle(
    member_ctes=_IVFPQ_MEMBER_CTES,
    member_join="JOIN imembers m ON a.vec_id = m.vec_id",
)

# Membership hooks for the STREAMING-SERVED IVFPQ composition: the
# maintained index's cells are the raw label column (the ann_ivf_topk /
# streaming_ann_ivf convention — at 100 TB the vector table is stored
# clustered by that cell id, so membership is file pruning, not an
# assignment join), routed to the same label-mean centroids the
# maintained grid derives. Composes into _pq_sampled_oracle after its
# Lloyd chain; 'i' prefixes avoid CTE-name collisions.
_LABEL_IVFPQ_MEMBER_CTES = f"""
        embl AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
        ),
        icent AS (
            SELECT label, i - 1 AS dim_idx,
                   CAST(sum(CAST(v[i] AS DECIMAL(25,6))) AS DOUBLE)
                       / count(*) AS centroid
            FROM (
                SELECT label, v, unnest(generate_series(1, len(v))) AS i
                FROM embl
            )
            GROUP BY label, i
        ),
        icarr AS (
            SELECT label AS cell, list(centroid ORDER BY dim_idx) AS cv
            FROM icent GROUP BY label
        ),
        iq AS (SELECT v AS qv FROM embl WHERE vec_id = {QUERY_VEC_ID}),
        iprobes AS (
            SELECT cell FROM icarr, iq
            ORDER BY floor((list_dot_product(cv, qv)
                           / (sqrt(list_dot_product(cv, cv))
                              * sqrt(list_dot_product(qv, qv)))) * 1e6 + 0.5) / 1e6 DESC,
                     cell
            LIMIT {IVFPQ_NPROBE}
        ),
        imembers AS (
            SELECT vec_id FROM embl
            WHERE label IN (SELECT cell FROM iprobes)
        ),
"""


def q_ann_ivf_pq_sampled_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ with BOTH trainers sampled — the full billion-scale index
    recipe with constant training cost. ``ann_ivf_pq_topk`` proves the
    composed IVF+PQ serving shape but trains both quantizers on the
    full corpus; this entry swaps in the two sampled chains the
    standalone entries already prove: the coarse quantizer is Lloyd
    over the KMEANS_SAMPLE_N hash sample (``kmeans_sampled_assign``'s
    trainer), the PQ codebooks come from the PQ_SAMPLE_N hash sample
    (``ann_pq_sampled_topk``'s trainer, decorrelated salt). The only
    corpus-sized stages left are the two ONE-PASS broadcasts —
    cell assignment and PQ coding — exactly the FAISS train-on-sample
    / add-everything split. Query routing probes IVFPQ_NPROBE cells;
    the ADC coded scan runs over only those cells' members; exact-L2
    re-rank absorbs the sampled-codebook coarseness. Deterministic
    end-to-end; the DuckDB twin composes the two sampled oracle
    chains through the same member hooks as the full-corpus IVFPQ.
    """
    emb = load_embeddings(spark, sf_dir, "vec_id")
    cent_arr, _, _ = _lloyd(_hash_sample(emb, _KMEANS_SALT, KMEANS_SAMPLE_N))
    probes = _route_probes(cent_arr, _query(emb, QUERY_VEC_ID), IVFPQ_NPROBE)
    # full-corpus cell assignment: ONE broadcast pass, map-combinable
    # argmax — no window sort
    members = (
        _nearest_cell(emb, cent_arr)
        .join(broadcast(probes), "cell")
        .select("vec_id")
    )
    codebook = _pq_codebook_sampled(emb)
    pcodes = _pq_code(emb, codebook).join(members, "vec_id", "left_semi")
    return _pq_retrieve(emb, codebook, pcodes)


QUERIES["ann_ivf_pq_sampled_topk"] = q_ann_ivf_pq_sampled_topk


def _sampled_coarse_member_ctes() -> str:
    """Membership CTEs for the sampled IVFPQ oracle: the sampled-Lloyd
    coarse quantizer (same chain as the kmeans_sampled oracle, 'i'
    prefix to avoid collisions), query probe routing, one full-corpus
    assignment, members of the probed cells."""
    cos = (
        "floor((list_dot_product(e.v, c.cv)"
        " / (sqrt(list_dot_product(e.v, e.v))"
        " * sqrt(list_dot_product(c.cv, c.cv)))) * 1e6 + 0.5) / 1e6"
    )
    ctes = [
        f"""isemb AS (
            SELECT vec_id, v FROM emb
            ORDER BY substring(md5('{_KMEANS_SALT}' || CAST(vec_id AS VARCHAR)), 1, 8),
                     vec_id
            LIMIT {KMEANS_SAMPLE_N}
        )""",
        f"""icarr_0 AS (
            SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
                   v AS cv
            FROM (SELECT vec_id, v FROM isemb ORDER BY vec_id LIMIT {KMEANS_K})
        )""",
    ]
    for it in range(1, KMEANS_ITERS + 1):
        ctes.append(f"""iassigned_{it} AS (
            SELECT vec_id, cell, v FROM (
                SELECT e.vec_id, c.cell, e.v,
                       row_number() OVER (
                           PARTITION BY e.vec_id ORDER BY {cos} DESC, c.cell
                       ) AS rn
                FROM isemb e CROSS JOIN icarr_{it - 1} c
            ) WHERE rn = 1
        )""")
        ctes.append(f"""icent_{it} AS (
            SELECT cell, i - 1 AS dim_idx,
                   CAST(sum(CAST(v[i] AS DECIMAL(25,6))) AS DOUBLE) / count(*)
                       AS centroid
            FROM (
                SELECT cell, v, unnest(generate_series(1, len(v))) AS i
                FROM iassigned_{it}
            )
            GROUP BY cell, i
        )""")
        ctes.append(f"""icarr_{it} AS (
            SELECT cell, list(centroid ORDER BY dim_idx) AS cv
            FROM icent_{it} GROUP BY cell
        )""")
    last = KMEANS_ITERS
    ctes.append(f"""iq AS (
        SELECT v AS qv FROM emb WHERE vec_id = {QUERY_VEC_ID}
    )""")
    ctes.append(f"""iprobes AS (
        SELECT cell FROM icarr_{last} cv_t, iq
        ORDER BY floor((list_dot_product(cv_t.cv, iq.qv)
                       / (sqrt(list_dot_product(cv_t.cv, cv_t.cv))
                          * sqrt(list_dot_product(iq.qv, iq.qv)))) * 1e6 + 0.5) / 1e6 DESC,
                 cell
        LIMIT {IVFPQ_NPROBE}
    )""")
    ctes.append(f"""ifassign AS (
        SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell,
                   row_number() OVER (
                       PARTITION BY e.vec_id ORDER BY {cos} DESC, c.cell
                   ) AS rn
            FROM emb e CROSS JOIN icarr_{last} c
        ) WHERE rn = 1
    )""")
    ctes.append("""imembers AS (
        SELECT vec_id FROM ifassign
        WHERE cell IN (SELECT cell FROM iprobes)
    )""")
    return "\n        " + ",\n        ".join(ctes) + ","


ORACLE["ann_ivf_pq_sampled_topk"] = _pq_sampled_oracle(
    member_ctes=_sampled_coarse_member_ctes(),
    member_join="JOIN imembers m ON a.vec_id = m.vec_id",
)


# ---------------------------------------------------------------------------
# Whitening QC: per-vector outlier screen in z-score space.

Z_OUTLIER = 3.0


def q_embedding_whiten_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-VECTOR whitening QC: z-score every dimension against the
    corpus per-dimension mean/std (the whitening transform quantizers
    and similarity metrics assume), then report each vector's z-space
    norm, its largest |z|, and how many dimensions sit beyond
    ``Z_OUTLIER`` sigma — the row-level outlier screen that catches
    corrupt vectors (a few huge dims) and distribution-shifted inserts
    BEFORE they poison centroids, codebooks, or int8 scales; the
    row-grain companion of the column-grain ``embedding_dim_stats``.

    Plan: dim_stats' ``_dim_moments`` aggregate, broadcast back onto the
    (vec, dim) grid (64 rows — KBs at any corpus size), z computed
    map-side on 6-dp-rounded mean/std (both engines agree at the
    outlier boundary), one map-combinable per-vector aggregate. Dead
    dimensions (std=0) contribute z=0 by convention.
    """
    dims = _dims(load_embeddings(spark, sf_dir, "vec_id"), "vec_id")
    stats = _dim_moments(dims).select(
        "dim", F.col("mean").alias("mu"), F.col("std").alias("sd")
    )
    z = F.when(
        F.col("sd") > 0, fround((F.col("x") - F.col("mu")) / F.col("sd"), 6)
    ).otherwise(F.lit(0.0))
    zs = dims.join(broadcast(stats), "dim").select("vec_id", z.alias("z"))
    return zs.groupBy("vec_id").agg(
        fround(
            F.sqrt(
                F.sum(
                    fround(F.col("z") * F.col("z"), 9).cast("decimal(25,9)")
                ).cast("double")
            ), 6).alias("z_norm"),
        fround(F.max(F.abs("z")), 6).alias("max_abs_z"),
        F.sum(
            F.when(F.abs("z") > Z_OUTLIER, 1).otherwise(0)
        ).cast("bigint").alias("n_outlier_dims"),
    )


QUERIES["embedding_whiten_qc"] = q_embedding_whiten_qc

ORACLE["embedding_whiten_qc"] = f"""
    WITH dims AS (
        SELECT vec_id, CAST(i AS BIGINT) AS dim,
               CAST(embedding[i] AS DOUBLE) AS x
        FROM embeddings,
             LATERAL (SELECT unnest(generate_series(1,
                      len(embedding))) AS i)
    ),
    stats AS (
        SELECT dim,
               floor((s / n) * 1e6 + 0.5) / 1e6 AS mu,
               floor((sqrt(greatest(0.0, (s2 - s * s / n) / (n - 1)))) * 1e6 + 0.5) / 1e6
                   AS sd
        FROM (
            SELECT dim, count(*) AS n,
                   CAST(sum(CAST(floor((x) * 1e9 + 0.5) / 1e9 AS DECIMAL(30,9)))
                        AS DOUBLE) AS s,
                   CAST(sum(CAST(floor((x * x) * 1e12 + 0.5) / 1e12 AS DECIMAL(30,12)))
                        AS DOUBLE) AS s2
            FROM dims GROUP BY 1
        )
    ),
    zs AS (
        SELECT vec_id,
               CASE WHEN sd > 0 THEN floor(((x - mu) / sd) * 1e6 + 0.5) / 1e6
                    ELSE 0.0 END AS z
        FROM dims JOIN stats USING (dim)
    )
    SELECT vec_id,
           floor((sqrt(CAST(sum(CAST(floor((z * z) * 1e9 + 0.5) / 1e9 AS DECIMAL(25,9)))
                           AS DOUBLE))) * 1e6 + 0.5) / 1e6 AS z_norm,
           floor((max(abs(z))) * 1e6 + 0.5) / 1e6 AS max_abs_z,
           CAST(sum(CASE WHEN abs(z) > {Z_OUTLIER!r} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outlier_dims
    FROM zs GROUP BY vec_id
"""


# ---------------------------------------------------------------------------
# Matryoshka truncation QC (Kusupati et al., NeurIPS 2022): how much
# cosine structure survives when embeddings are truncated to a prefix
# of their dimensions — the measurement that decides whether a serving
# index can store 8/16/32-dim prefixes instead of the full vector.

MATRYOSHKA_KS = (8, 16, 32, DIM)


def q_embedding_matryoshka_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per prefix-length k: mean cosine over deterministic vector pairs
    (vec 2i vs 2i+1 — an id-adjacent pairing, no RNG) and the mean
    absolute gap to the full-dimension cosine.

    Exactness: each pair's cosine is 6-dp floor-staged, the gap is a
    DECIMAL difference of staged values, and the per-k means are
    DECIMAL sums over the staged grid — so the floats never re-enter
    an aggregation. Plan: ONE id-shifted self-join builds the pairs
    (shuffle on vec_id), the x|K| explode happens map-side after it,
    and everything aggregates to |K| rows with map-side combine. Zero
    norms guard to cosine 0.0 in both engines.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.filter(F.col("vec_id") % 2 == 0).select(
        (F.col("vec_id") / 2).cast("bigint").alias("pair_id"),
        as_double_array("embedding").alias("va"),
    )
    b = emb.filter(F.col("vec_id") % 2 == 1).select(
        ((F.col("vec_id") - 1) / 2).cast("bigint").alias("pair_id"),
        as_double_array("embedding").alias("vb"),
    )

    def _cos(x: F.Column, y: F.Column) -> F.Column:
        den = F.sqrt(dot(x, x)) * F.sqrt(dot(y, y))
        return F.when(den > 0, fround(dot(x, y) / den, 6)).otherwise(F.lit(0.0))

    pairs = a.join(b, "pair_id").withColumn(
        "cos_full", _cos(F.col("va"), F.col("vb"))
    )
    ks = F.array(*[F.lit(k) for k in MATRYOSHKA_KS])
    staged = pairs.select(
        "pair_id",
        "cos_full",
        F.explode(ks).alias("k"),
        "va",
        "vb",
    ).select(
        "pair_id",
        "k",
        _cos(
            F.slice("va", 1, F.col("k")), F.slice("vb", 1, F.col("k"))
        ).alias("cos_k"),
        "cos_full",
    )
    dec = "decimal(25,6)"
    return (
        staged.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("cos_k").cast(dec)).alias("_sc"),
            F.sum(
                F.abs(
                    F.col("cos_k").cast(dec) - F.col("cos_full").cast(dec)
                )
            ).alias("_sg"),
        )
        .select(
            "k",
            "n_pairs",
            fround(F.col("_sc").cast("double") / F.col("n_pairs"), 6).alias(
                "mean_cos"
            ),
            fround(F.col("_sg").cast("double") / F.col("n_pairs"), 6).alias(
                "mean_abs_gap"
            ),
        )
    )


QUERIES["embedding_matryoshka_qc"] = q_embedding_matryoshka_qc

_MK_COS = (
    "CASE WHEN sqrt(list_dot_product({a}, {a}))"
    " * sqrt(list_dot_product({b}, {b})) > 0"
    " THEN floor((list_dot_product({a}, {b})"
    " / (sqrt(list_dot_product({a}, {a}))"
    " * sqrt(list_dot_product({b}, {b})))) * 1e6 + 0.5) / 1e6"
    " ELSE 0.0 END"
)

ORACLE["embedding_matryoshka_qc"] = f"""
    WITH pairs AS (
        SELECT CAST(a.vec_id / 2 AS BIGINT) AS pair_id,
               CAST(a.embedding AS DOUBLE[]) AS va,
               CAST(b.embedding AS DOUBLE[]) AS vb
        FROM embeddings a
        JOIN embeddings b ON b.vec_id = a.vec_id + 1
        WHERE a.vec_id % 2 = 0
    ),
    staged AS (
        SELECT pair_id, k,
               {_MK_COS.format(a="va[1:k]", b="vb[1:k]")} AS cos_k,
               {_MK_COS.format(a="va", b="vb")} AS cos_full
        FROM pairs
        CROSS JOIN (SELECT unnest({list(MATRYOSHKA_KS)!r}) AS k)
    )
    SELECT CAST(k AS INTEGER) AS k, count(*) AS n_pairs,
           floor((CAST(sum(CAST(cos_k AS DECIMAL(25,6))) AS DOUBLE)
                  / count(*)) * 1e6 + 0.5) / 1e6 AS mean_cos,
           floor((CAST(sum(abs(CAST(cos_k AS DECIMAL(25,6))
                              - CAST(cos_full AS DECIMAL(25,6)))) AS DOUBLE)
                  / count(*)) * 1e6 + 0.5) / 1e6 AS mean_abs_gap
    FROM staged GROUP BY k
"""


# ---------------------------------------------------------------------------
# embedding_top_pc — top principal component by distributed power iteration
# ---------------------------------------------------------------------------
PCA_POWER_ROUNDS = 3


def _pc_assemble(frame: DataFrame, dim_col: str, val_col: str) -> DataFrame:
    """Collapse a (dim, value) frame to a 1-row array frame in dim
    order — the broadcastable vector representation between rounds."""
    return frame.agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col(dim_col).alias("d"), F.col(val_col).alias("x")
                    )
                )
            ),
            lambda s: s["x"],
        ).alias("arr")
    )


def _power_step(cent: DataFrame, vec: DataFrame) -> DataFrame:
    """One staged power-iteration pass s = X_cᵀ(X_c v) over the
    centered rows ``cent`` (xc) against the 64-row iterate ``vec``
    (dim, val): the iterate is collapsed to a 1-row array and
    BROADCAST, each row's projection is one in-order fold dot staged to
    6 dp, and the per-term products are 9-dp staged into a 64-group
    map-combinable DECIMAL(28,9) sum. Returns (dim, s6) on the 6-dp
    grid; nothing shuffles on vec_id."""
    va = _pc_assemble(vec, "dim", "val")
    proj = cent.crossJoin(F.broadcast(va)).select(
        "xc", fround(dot(F.col("xc"), F.col("arr")), 6).alias("p")
    )
    return (
        proj.select(F.posexplode("xc").alias("dim", "xcv"), "p")
        .groupBy("dim")
        .agg(sum9(F.col("p") * F.col("xcv")).alias("s"))
        .select("dim", fround(F.col("s"), 6).alias("s6"))
    )


def _normalize6(frame: DataFrame, col: str) -> tuple[DataFrame, DataFrame]:
    """``frame`` (dim, col) scaled to unit norm on the 6-dp grid:
    returns (iterate (dim, val), 1-row nrm)."""
    # DECIMAL(18,6) so the square stays at precision 37: at (25,6)
    # the product needs 51 digits and DuckDB silently falls back to
    # order-dependent DOUBLE summation (found by bitcheck: 1-ulp nrm
    # drift -> a 6-dp boundary flip in round 2)
    c = F.col(col).cast("decimal(18,6)")
    nrm = frame.agg(F.sqrt(F.sum(c * c).cast("double")).alias("nrm"))
    # zero-variance corpus (all rows identical): nrm = 0 would put
    # 0/0 NaN into fround, whose floor() is 0 on Spark but NaN in
    # DuckDB — guard to a zero iterate in both engines
    vec = frame.crossJoin(F.broadcast(nrm)).select(
        "dim",
        F.when(F.col("nrm") > 0, fround(F.col(col) / F.col("nrm"), 6))
        .otherwise(F.lit(0.0))
        .alias("val"),
    )
    return vec, nrm


def _power_iterate(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Shared centering + PCA_POWER_ROUNDS staged power-iteration chain:
    returns (centered rows, final v frame, final nrm 1-row, n 1-row).
    Used by q_embedding_top_pc (loadings), q_embedding_anisotropy_qc
    (explained-variance share) and q_embedding_pc2 (deflation basis)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            as_double_array("embedding"), lambda x: fround(x, 6)
        ).alias("x6"),
    )
    n1 = emb.agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"))
    mu = _means(emb, "x6").select(
        "dim_idx", fround(F.col("centroid"), 6).alias("m")
    )
    mua = _pc_assemble(mu, "dim_idx", "m")
    cent = emb.crossJoin(F.broadcast(mua)).select(
        "vec_id", F.zip_with("x6", "arr", lambda a, b: a - b).alias("xc")
    )
    v = spark.range(DIM).select(
        F.col("id").cast("int").alias("dim"), F.lit(0.125).alias("val")
    )
    for _ in range(PCA_POWER_ROUNDS):
        v, nrm = _normalize6(_power_step(cent, v), "s6")
    return cent, v, nrm, n1


def q_embedding_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by
    PCA_POWER_ROUNDS steps of power iteration on the covariance matrix
    (Mises & Pollaczek-Geringer 1929) — matrix-free: the covariance is
    never materialized, each step is v <- normalize(X_cᵀ(X_c v)).

    This is the anisotropy probe for embedding QC (Ethayarajh 2019:
    contextual embeddings concentrate in a narrow cone; a dominant PC
    with a large eigenvalue share means cosine similarity is mostly
    measuring the common direction — the "all-but-the-top" cleanup of
    Mu & Viswanath 2018 subtracts exactly this vector, and
    embedding_whiten_qc's per-dim z-scores cannot see it because it
    lives OFF-axis).

    Scale shape: each round is one ``_power_step`` corpus pass plus a
    ``_normalize6`` on the 64-row grid — no round's cost exceeds one
    scan + a KB-sized exchange. Mean centering is one posexplode
    aggregate staged to the 6-dp grid. Inputs are 6-dp floor-staged
    and the iterate is re-staged to the 6-dp grid each round
    (engine-portable like the logistic trainer's coefficients);
    deterministic all-ones/8 init (unit norm: 64 dims), so the sign is
    pinned. Eigenvalue = ||X_cᵀX_c v||/n, the Rayleigh estimate of the
    top covariance eigenvalue.
    """
    cent, v, nrm, n1 = _power_iterate(spark, sf_dir)
    return (
        v.crossJoin(F.broadcast(nrm))
        .crossJoin(F.broadcast(n1))
        .select(
            "dim",
            F.col("val").alias("loading"),
            fround(
                F.col("nrm") / F.col("n_vectors").cast("double"), 6
            ).alias("eigenvalue"),
            "n_vectors",
        )
    )


QUERIES["embedding_top_pc"] = q_embedding_top_pc


def _top_pc_oracle() -> str:
    """DuckDB twin: the same power-iteration rounds unrolled as CTEs
    (the _kmeans_oracle discipline), list_dot_product == the in-order
    fold of vectors.dot."""
    ctes = [
        """emb AS (
            SELECT vec_id,
                   list_transform(CAST(embedding AS DOUBLE[]),
                                  x -> floor(x * 1e6 + 0.5) / 1e6) AS x6
            FROM embeddings
        )""",
        "nv AS (SELECT CAST(count(*) AS BIGINT) AS n_vectors FROM emb)",
        """dims AS (
            SELECT vec_id, i - 1 AS dim, x6[i] AS x
            FROM emb, LATERAL (SELECT unnest(generate_series(1,
                               len(x6))) AS i)
        )""",
        """mu AS (
            SELECT dim,
                   floor((CAST(sum(CAST(x AS DECIMAL(25,6))) AS DOUBLE)
                          / count(*)) * 1e6 + 0.5) / 1e6 AS m
            FROM dims GROUP BY 1
        )""",
        """cgrid AS (
            SELECT vec_id, dim, x - m AS xc FROM dims JOIN mu USING (dim)
        )""",
        """carr AS (
            SELECT vec_id, list(xc ORDER BY dim) AS xc
            FROM cgrid GROUP BY vec_id
        )""",
        f"""v_0 AS (
            SELECT i - 1 AS dim, CAST(0.125 AS DOUBLE) AS val
            FROM (SELECT unnest(generate_series(1, {DIM})) AS i)
        )""",
    ]
    for r in range(1, PCA_POWER_ROUNDS + 1):
        ctes.append(
            f"va_{r} AS (SELECT list(val ORDER BY dim) AS va FROM v_{r - 1})"
        )
        ctes.append(f"""proj_{r} AS (
            SELECT vec_id,
                   floor((list_dot_product(xc, va)) * 1e6 + 0.5) / 1e6 AS p
            FROM carr CROSS JOIN va_{r}
        )""")
        ctes.append(f"""s6_{r} AS (
            SELECT dim, floor(s * 1e6 + 0.5) / 1e6 AS s6
            FROM (
                SELECT g.dim,
                       CAST(sum(CAST(floor((p.p * g.xc) * 1e9 + 0.5) / 1e9
                                     AS DECIMAL(28,9))) AS DOUBLE) AS s
                FROM cgrid g JOIN proj_{r} p USING (vec_id)
                GROUP BY 1
            )
        )""")
        ctes.append(f"""nrm_{r} AS (
            SELECT sqrt(CAST(sum(CAST(s6 AS DECIMAL(18,6))
                                 * CAST(s6 AS DECIMAL(18,6))) AS DOUBLE))
                       AS nrm
            FROM s6_{r}
        )""")
        ctes.append(f"""v_{r} AS (
            SELECT dim,
                   CASE WHEN nrm > 0
                        THEN floor((s6 / nrm) * 1e6 + 0.5) / 1e6
                        ELSE 0.0 END AS val
            FROM s6_{r} CROSS JOIN nrm_{r}
        )""")
    last = PCA_POWER_ROUNDS
    return f"""
        WITH {', '.join(ctes)}
        SELECT CAST(v.dim AS INT) AS dim, v.val AS loading,
               floor((nrm / n_vectors) * 1e6 + 0.5) / 1e6 AS eigenvalue,
               n_vectors
        FROM v_{last} v CROSS JOIN nrm_{last} CROSS JOIN nv
    """


ORACLE["embedding_top_pc"] = _top_pc_oracle()


def q_embedding_anisotropy_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anisotropy QC: the top principal component's explained-variance
    share λ₁/trace(Σ) — the published isotropy number (Mu & Viswanath
    2018 report exactly this before/after "all-but-the-top";
    Ethayarajh 2019's cone finding is a large λ₁ share). A share near
    1/dim means an isotropic, cosine-friendly space; a dominant share
    means similarity scores mostly measure the common direction and
    the serving stack should subtract the PC first.

    Reuses the staged power-iteration chain (_power_iterate); the only
    new corpus pass is the trace aggregate Σ‖x_c‖²/n — per-vector
    squared norms via the in-order fold dot, 6-dp staged, DECIMAL-
    summed. λ₁ = ‖X_cᵀX_c v‖/n (the Rayleigh estimate the loadings
    entry reports); share = λ₁·dim vs trace is deliberately NOT
    output — the raw ratio with the 1/dim isotropy reference column
    keeps every number a direct quotient of already-proven quantities.
    """
    cent, _v, nrm, n1 = _power_iterate(spark, sf_dir)
    tr = cent.select(
        fround(dot(F.col("xc"), F.col("xc")), 6).alias("q")
    ).agg(
        F.sum(F.col("q").cast("decimal(25,6)")).cast("double").alias("sq")
    )
    n_d = F.col("n_vectors").cast("double")
    lam = F.col("nrm") / n_d
    trace = F.col("sq") / n_d
    return (
        n1.crossJoin(F.broadcast(nrm))
        .crossJoin(F.broadcast(tr))
        .select(
            "n_vectors",
            fround(lam, 6).alias("lambda1"),
            fround(trace, 6).alias("trace"),
            F.when(trace > 0, fround(lam / trace, 6))
            .otherwise(F.lit(0.0))
            .alias("pc1_share"),
            fround(F.lit(1.0) / F.lit(float(DIM)), 6).alias("isotropy_ref"),
        )
    )


QUERIES["embedding_anisotropy_qc"] = q_embedding_anisotropy_qc


def _anisotropy_oracle() -> str:
    base = _top_pc_oracle()
    prefix = base[base.index("WITH") : base.rindex("SELECT")]
    last = PCA_POWER_ROUNDS
    return f"""
        {prefix},
        tr AS (
            SELECT CAST(sum(CAST(floor((list_dot_product(xc, xc))
                                        * 1e6 + 0.5) / 1e6
                                 AS DECIMAL(25,6))) AS DOUBLE) AS sq
            FROM carr
        )
        SELECT n_vectors,
               floor((nrm / CAST(n_vectors AS DOUBLE)) * 1e6 + 0.5) / 1e6
                   AS lambda1,
               floor((sq / CAST(n_vectors AS DOUBLE)) * 1e6 + 0.5) / 1e6
                   AS trace,
               CASE WHEN sq / CAST(n_vectors AS DOUBLE) > 0
                    THEN floor(((nrm / CAST(n_vectors AS DOUBLE))
                                / (sq / CAST(n_vectors AS DOUBLE)))
                               * 1e6 + 0.5) / 1e6
                    ELSE 0.0 END AS pc1_share,
               floor((1.0 / {float(DIM)!r}) * 1e6 + 0.5) / 1e6 AS isotropy_ref
        FROM nv CROSS JOIN nrm_{last} CROSS JOIN tr
    """


ORACLE["embedding_anisotropy_qc"] = _anisotropy_oracle()


def q_embedding_pc2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SECOND principal component by DEFLATED power iteration: run the
    shared staged chain for v1 (``_power_iterate``), then iterate a
    second vector u with per-round Gram-Schmidt deflation against v1
    — after each corpus pass the v1 component is subtracted
    (u <- normalize(s - (s·v1) v1), Hotelling 1933's deflation), so u
    converges to the top eigenvector of the deflated covariance,
    i.e. PC2. Together with embedding_top_pc this is the start of the
    "all-but-the-top" cleanup basis (Mu & Viswanath 2018 remove the
    top D/100 PCs — the machinery here extends one deflation per
    extra component).

    Scale shape: identical to top_pc — per round the iterate and v1
    are 64-row frames collapsed to broadcast arrays, the corpus pass
    is map-side fold-dots + a 64-group map-combinable aggregate, and
    the deflation itself runs entirely on the 64-row dim grid
    (one tiny join + 1-row dot). v1 and each round's 64-row s6
    aggregate are eagerly localCheckpoint()ed (the pagerank /
    label-prop discipline, graph.py:90,130): s6 feeds both the
    deflation dot and the subtraction, so without truncation each
    consumer replays the round's corpus pass AND the logical plan
    compounds ~4x per round — Catalyst analysis alone on the unrolled
    tree dominated wall time (observed at sf0.001: 119 s untruncated
    vs ~4 s of u-chain work after). With the checkpoints the whole
    query is rounds+1 corpus passes and every per-round plan is
    64-row flat. The centered corpus is deliberately NOT cached (the
    top_pc posture: re-scanning beats materializing |corpus| x 64
    doubles at scale).
    Determinism: each round runs the v1 chain's ``_power_step`` and
    ``_normalize6``, the deflation coefficient and subtraction are
    6-dp staged, init is the alternating ±1/8 unit vector (orthogonal
    to v1's all-ones/8 init, sign pinned). Output: the 64 loadings,
    the Rayleigh eigenvalue2 = ||deflated s||/n, and dot_v1_v2 — the
    orthogonality audit the oracle recomputes (|dot| stays at
    rounding scale unless deflation is broken).
    """
    cent, v1, _nrm1, n1 = _power_iterate(spark, sf_dir)
    v1r = v1.select("dim", F.col("val").alias("v1")).localCheckpoint(
        eager=True
    )
    u = spark.range(DIM).select(
        F.col("id").cast("int").alias("dim"),
        F.when(F.col("id") % 2 == 0, F.lit(0.125))
        .otherwise(F.lit(-0.125))
        .alias("val"),
    )
    for _ in range(PCA_POWER_ROUNDS):
        s6 = _power_step(cent, u).localCheckpoint(eager=True)
        j = s6.join(v1r, "dim")
        c1 = j.agg(sum9(F.col("s6") * F.col("v1")).alias("c")).select(
            fround(F.col("c"), 6).alias("c1")
        )
        d6 = j.crossJoin(F.broadcast(c1)).select(
            "dim",
            fround(
                F.col("s6") - fround(F.col("c1") * F.col("v1"), 6), 6
            ).alias("d6"),
        )
        u, nrm2 = _normalize6(d6, "d6")
    ortho = (
        u.join(v1r, "dim")
        .agg(sum9(F.col("val") * F.col("v1")).alias("c"))
        .select(fround(F.col("c"), 6).alias("dot_v1_v2"))
    )
    return (
        u.crossJoin(F.broadcast(nrm2))
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(ortho))
        .select(
            "dim",
            F.col("val").alias("loading2"),
            fround(
                F.col("nrm") / F.col("n_vectors").cast("double"), 6
            ).alias("eigenvalue2"),
            "n_vectors",
            "dot_v1_v2",
        )
    )


QUERIES["embedding_pc2"] = q_embedding_pc2


def _pc2_oracle() -> str:
    """DuckDB twin: the v1 chain unrolled exactly as _top_pc_oracle,
    then the deflated u chain — per round the same staged projection/
    aggregate plus a 64-row deflation (c1 dot, 6-dp subtraction).
    Every CTE is MATERIALIZED (the kcore discipline, graph.py:404):
    the u chain references v_last in all 3 rounds twice each, so
    DuckDB's default single-reference inlining expands the doubled
    chain combinatorially (observed: >9 min at sf0.001 vs ~2 s
    materialized)."""
    ctes = [
        """emb AS (
            SELECT vec_id,
                   list_transform(CAST(embedding AS DOUBLE[]),
                                  x -> floor(x * 1e6 + 0.5) / 1e6) AS x6
            FROM embeddings
        )""",
        "nv AS (SELECT CAST(count(*) AS BIGINT) AS n_vectors FROM emb)",
        """dims AS (
            SELECT vec_id, i - 1 AS dim, x6[i] AS x
            FROM emb, LATERAL (SELECT unnest(generate_series(1,
                               len(x6))) AS i)
        )""",
        """mu AS (
            SELECT dim,
                   floor((CAST(sum(CAST(x AS DECIMAL(25,6))) AS DOUBLE)
                          / count(*)) * 1e6 + 0.5) / 1e6 AS m
            FROM dims GROUP BY 1
        )""",
        """cgrid AS (
            SELECT vec_id, dim, x - m AS xc FROM dims JOIN mu USING (dim)
        )""",
        """carr AS (
            SELECT vec_id, list(xc ORDER BY dim) AS xc
            FROM cgrid GROUP BY vec_id
        )""",
        f"""v_0 AS (
            SELECT i - 1 AS dim, CAST(0.125 AS DOUBLE) AS val
            FROM (SELECT unnest(generate_series(1, {DIM})) AS i)
        )""",
    ]
    for r in range(1, PCA_POWER_ROUNDS + 1):
        ctes.append(
            f"va_{r} AS (SELECT list(val ORDER BY dim) AS va FROM v_{r - 1})"
        )
        ctes.append(f"""proj_{r} AS (
            SELECT vec_id,
                   floor((list_dot_product(xc, va)) * 1e6 + 0.5) / 1e6 AS p
            FROM carr CROSS JOIN va_{r}
        )""")
        ctes.append(f"""s6_{r} AS (
            SELECT dim, floor(s * 1e6 + 0.5) / 1e6 AS s6
            FROM (
                SELECT g.dim,
                       CAST(sum(CAST(floor((p.p * g.xc) * 1e9 + 0.5) / 1e9
                                     AS DECIMAL(28,9))) AS DOUBLE) AS s
                FROM cgrid g JOIN proj_{r} p USING (vec_id)
                GROUP BY 1
            )
        )""")
        ctes.append(f"""nrm_{r} AS (
            SELECT sqrt(CAST(sum(CAST(s6 AS DECIMAL(18,6))
                                 * CAST(s6 AS DECIMAL(18,6))) AS DOUBLE))
                       AS nrm
            FROM s6_{r}
        )""")
        ctes.append(f"""v_{r} AS (
            SELECT dim,
                   CASE WHEN nrm > 0
                        THEN floor((s6 / nrm) * 1e6 + 0.5) / 1e6
                        ELSE 0.0 END AS val
            FROM s6_{r} CROSS JOIN nrm_{r}
        )""")
    last = PCA_POWER_ROUNDS
    ctes.append(f"""u_0 AS (
        SELECT i - 1 AS dim,
               CASE WHEN (i - 1) % 2 = 0 THEN CAST(0.125 AS DOUBLE)
                    ELSE CAST(-0.125 AS DOUBLE) END AS val
        FROM (SELECT unnest(generate_series(1, {DIM})) AS i)
    )""")
    for r in range(1, PCA_POWER_ROUNDS + 1):
        ctes.append(
            f"ua_{r} AS (SELECT list(val ORDER BY dim) AS ua FROM u_{r - 1})"
        )
        ctes.append(f"""uproj_{r} AS (
            SELECT vec_id,
                   floor((list_dot_product(xc, ua)) * 1e6 + 0.5) / 1e6 AS p
            FROM carr CROSS JOIN ua_{r}
        )""")
        ctes.append(f"""us6_{r} AS (
            SELECT dim, floor(s * 1e6 + 0.5) / 1e6 AS s6
            FROM (
                SELECT g.dim,
                       CAST(sum(CAST(floor((p.p * g.xc) * 1e9 + 0.5) / 1e9
                                     AS DECIMAL(28,9))) AS DOUBLE) AS s
                FROM cgrid g JOIN uproj_{r} p USING (vec_id)
                GROUP BY 1
            )
        )""")
        ctes.append(f"""c1_{r} AS (
            SELECT floor(CAST(sum(CAST(floor((s.s6 * v.val) * 1e9 + 0.5)
                                        / 1e9 AS DECIMAL(28,9))) AS DOUBLE)
                         * 1e6 + 0.5) / 1e6 AS c1
            FROM us6_{r} s JOIN v_{last} v USING (dim)
        )""")
        ctes.append(f"""d6_{r} AS (
            SELECT s.dim,
                   floor((s.s6 - floor((c.c1 * v.val) * 1e6 + 0.5) / 1e6)
                         * 1e6 + 0.5) / 1e6 AS d6
            FROM us6_{r} s JOIN v_{last} v USING (dim)
            CROSS JOIN c1_{r} c
        )""")
        ctes.append(f"""unrm_{r} AS (
            SELECT sqrt(CAST(sum(CAST(d6 AS DECIMAL(18,6))
                                 * CAST(d6 AS DECIMAL(18,6))) AS DOUBLE))
                       AS nrm
            FROM d6_{r}
        )""")
        ctes.append(f"""u_{r} AS (
            SELECT dim,
                   CASE WHEN nrm > 0
                        THEN floor((d6 / nrm) * 1e6 + 0.5) / 1e6
                        ELSE 0.0 END AS val
            FROM d6_{r} CROSS JOIN unrm_{r}
        )""")
    ctes.append(f"""ortho AS (
        SELECT floor(CAST(sum(CAST(floor((u.val * v.val) * 1e9 + 0.5) / 1e9
                                    AS DECIMAL(28,9))) AS DOUBLE)
                     * 1e6 + 0.5) / 1e6 AS dot_v1_v2
        FROM u_{last} u JOIN v_{last} v USING (dim)
    )""")
    mat = [c.replace(" AS (", " AS MATERIALIZED (", 1) for c in ctes]
    return f"""
        WITH {', '.join(mat)}
        SELECT CAST(u.dim AS INT) AS dim, u.val AS loading2,
               floor((nrm / n_vectors) * 1e6 + 0.5) / 1e6 AS eigenvalue2,
               n_vectors, dot_v1_v2
        FROM u_{last} u CROSS JOIN unrm_{last} CROSS JOIN nv CROSS JOIN ortho
    """


ORACLE["embedding_pc2"] = _pc2_oracle()


def q_embedding_ivf_balance_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index HEALTH check: the per-cell occupancy table of the
    coarse quantizer — the acceptance gate an ANN deployment runs
    before trusting its index (Jégou et al., TPAMI 2011 §V: IVF probe
    cost is governed by the inverted-list length distribution; one
    overloaded cell makes every probe that routes there scan a large
    fraction of the corpus, and empty cells waste nprobe budget).
    Per cell: vector count, share of the corpus, and load_factor =
    n_vectors * n_cells / n_total (1.0 = perfectly balanced; the
    max-load cell's factor is the probe-latency multiplier vs ideal).

    Scale shape: reuses the production assignment path
    (``assign_ivf_cells``: broadcast centroid table, map-side argmax,
    one vec_id shuffle), then ONE map-combinable census to the
    n_cells-row grid; the 1-row total broadcasts back and every ratio
    is one double division from exact integers, fround-staged. The QC
    output is grid-sized at any corpus scale.
    """
    emb = load_embeddings(spark, sf_dir, "vec_id", "label")
    cent = _cent_arr(emb)
    counts = (
        _nearest_cell(emb, cent)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_assigned"))
    )
    # n_cells comes from the CENTROID table, not the assigned cells: a
    # cell the argmax never routes to is exactly the dead cell this QC
    # exists to expose (emitted with n_vectors = 0), and counting only
    # occupied cells would flatter load_factor toward 1.0. The totals
    # are a window over the n_cells-row grid: a separate aggregate
    # joined back would plan the whole assignment a second time.
    everything = Window.partitionBy()
    n_vectors = F.col("n_vectors").cast("double")
    n_cells = F.count(F.lit(1)).over(everything).cast("double")
    n_total = F.sum("n_vectors").over(everything).cast("double")
    return (
        cent.select("cell")
        .join(F.broadcast(counts), "cell", "left")
        .select(
            "cell",
            F.coalesce("n_assigned", F.lit(0))
            .cast("bigint")
            .alias("n_vectors"),
        )
        .select(
            "cell",
            "n_vectors",
            fround(n_vectors / n_total, 6).alias("share"),
            fround(n_vectors * n_cells / n_total, 6).alias("load_factor"),
        )
    )


QUERIES["embedding_ivf_balance_qc"] = q_embedding_ivf_balance_qc

ORACLE["embedding_ivf_balance_qc"] = """
    WITH emb AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    cent AS (
        SELECT label, i - 1 AS dim_idx,
               CAST(sum(CAST(v[i] AS DECIMAL(25,6))) AS DOUBLE) / count(*) AS centroid
        FROM (
            SELECT label, v, unnest(generate_series(1, len(v))) AS i FROM emb
        )
        GROUP BY label, i
    ),
    carr AS (
        SELECT label AS cell, list(centroid ORDER BY dim_idx) AS cv
        FROM cent GROUP BY label
    ),
    scored AS (
        SELECT e.vec_id, c.cell,
               floor((list_dot_product(e.v, c.cv)
                     / (sqrt(list_dot_product(e.v, e.v))
                        * sqrt(list_dot_product(c.cv, c.cv)))) * 1e6 + 0.5) / 1e6 AS ccos
        FROM emb e CROSS JOIN carr c
    ),
    cells AS (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY ccos DESC, cell
                   ) AS rn
            FROM scored
        ) WHERE rn = 1
    ),
    grid AS (
        SELECT carr.cell,
               CAST(coalesce(cnt.n_assigned, 0) AS BIGINT) AS n_vectors
        FROM carr LEFT JOIN (
            SELECT cell, count(*) AS n_assigned FROM cells GROUP BY cell
        ) cnt ON carr.cell = cnt.cell
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_cells,
               CAST(sum(n_vectors) AS BIGINT) AS n_total
        FROM grid
    )
    SELECT cell, n_vectors,
           floor((CAST(n_vectors AS DOUBLE) / CAST(n_total AS DOUBLE))
                 * 1e6 + 0.5) / 1e6 AS share,
           floor((CAST(n_vectors AS DOUBLE) * CAST(n_cells AS DOUBLE)
                  / CAST(n_total AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS load_factor
    FROM grid, tot
"""


# ---------------------------------------------------------------------------
# embedding_drift_mmd — distribution drift between embedding sources:
# kernel MMD^2 per label pair, the embeddings-side companion of
# leadtime_drift_ks (Gretton et al., JMLR 2012). With the linear
# kernel MMD^2 = ||mu_a - mu_b||^2 (first moments); with the
# quadratic kernel k(x,y) = (x.y)^2 it collapses to the Frobenius
# distance of the second-moment matrices ||S_a - S_b||_F^2 — so BOTH
# statistics are exact moment-grid aggregates: no pairwise vector
# join ever happens, unlike the O(n^2) energy-distance estimator.
# ---------------------------------------------------------------------------


def _drift_moment_grid(emb: DataFrame) -> DataFrame:
    """The (label, i, j, s) moment grid a drift corpus collapses to —
    one row per label for the count (i = j = 0), per (label, i) for
    the 9-dp-staged first-moment sum (j = 0), and per (label, i, j)
    for the 12-dp-staged second-moment sum — every value an EXACT
    DECIMAL(38,12), so grids from disjoint corpus slices ADD
    cell-wise to the full-corpus grid bit-exactly (decimal widening
    from the 30,9 / 30,12 staging scales is lossless). This additive
    lattice is what makes the streaming twin a plain grid-IVM sink.
    ``emb``: (label bigint, v array<double>)."""
    zero = F.lit(0).cast("int")
    n = emb.groupBy("label").agg(
        F.count(F.lit(1)).cast("decimal(38,12)").alias("s")
    ).select("label", zero.alias("i"), zero.alias("j"), "s")
    d1 = emb.select(
        "label", "v", F.posexplode("v").alias("i0", "xi")
    ).select("label", "v", (F.col("i0") + 1).cast("int").alias("i"), "xi")
    m = d1.groupBy("label", "i").agg(
        F.sum(fround(F.col("xi"), 9).cast("decimal(30,9)"))
        .cast("decimal(38,12)")
        .alias("s")
    ).select("label", "i", zero.alias("j"), "s")
    pairs = d1.select(
        "label", "i", "xi", F.posexplode("v").alias("j0", "xj")
    ).select(
        "label", "i", (F.col("j0") + 1).cast("int").alias("j"), "xi", "xj"
    )
    s2 = pairs.groupBy("label", "i", "j").agg(
        F.sum(
            fround(F.col("xi") * F.col("xj"), 12).cast("decimal(30,12)")
        )
        .cast("decimal(38,12)")
        .alias("s")
    )
    return n.unionByName(m).unionByName(s2)


def _drift_mmd_from_moments(grid: DataFrame) -> DataFrame:
    """Derive the per-pair MMD^2 report from a (label, i, j, s)
    moment grid (see ``_drift_moment_grid``) — shared by the batch
    operator and the streaming sink so the two surfaces can never
    drift on the derivation. Exact-decimal sums cast to double only
    here, so a grid assembled incrementally derives bit-identically
    to a from-scratch pass."""
    n_lab = grid.where((F.col("i") == 0) & (F.col("j") == 0)).select(
        "label", F.col("s").cast("bigint").alias("n")
    )
    mgrid = grid.where((F.col("i") > 0) & (F.col("j") == 0)).select(
        "label", "i", F.col("s").cast("double").alias("s")
    )
    sgrid = grid.where(F.col("j") > 0).select(
        "label", "i", "j", F.col("s").cast("double").alias("s")
    )
    mu = mgrid.join(F.broadcast(n_lab), "label").select(
        "label", "i", "n", (F.col("s") / F.col("n")).alias("m")
    )
    smom = sgrid.join(F.broadcast(n_lab), "label").select(
        "label", "i", "j", (F.col("s") / F.col("n")).alias("m")
    )
    lin = (
        mu.alias("a")
        .join(mu.alias("b"), F.col("a.i") == F.col("b.i"))
        .where(F.col("a.label") < F.col("b.label"))
        .groupBy(
            F.col("a.label").alias("label_a"),
            F.col("b.label").alias("label_b"),
        )
        .agg(
            F.max("a.n").cast("bigint").alias("n_a"),
            F.max("b.n").cast("bigint").alias("n_b"),
            F.sum(
                fround(
                    (F.col("a.m") - F.col("b.m"))
                    * (F.col("a.m") - F.col("b.m")),
                    12,
                ).cast("decimal(38,12)")
            )
            .cast("double")
            .alias("lin"),
        )
    )
    quad = (
        smom.alias("a")
        .join(
            smom.alias("b"),
            (F.col("a.i") == F.col("b.i")) & (F.col("a.j") == F.col("b.j")),
        )
        .where(F.col("a.label") < F.col("b.label"))
        .groupBy(
            F.col("a.label").alias("label_a"),
            F.col("b.label").alias("label_b"),
        )
        .agg(
            F.sum(
                fround(
                    (F.col("a.m") - F.col("b.m"))
                    * (F.col("a.m") - F.col("b.m")),
                    12,
                ).cast("decimal(38,12)")
            )
            .cast("double")
            .alias("quad"),
        )
    )
    return lin.join(quad, ["label_a", "label_b"]).select(
        "label_a",
        "label_b",
        "n_a",
        "n_b",
        fround(F.col("lin"), 6).alias("mmd2_linear"),
        fround(F.col("quad"), 6).alias("mmd2_quadratic"),
    )


def q_embedding_drift_mmd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift report: for every (label_a <
    label_b) source pair, the linear-kernel MMD^2 (mean shift) and
    quadratic-kernel MMD^2 (second-moment / covariance-shape shift,
    ||S_a - S_b||_F^2) — the monitor that catches an embedding-model
    version swap or a source whose vectors drifted before they
    poison a shared ANN index (drift on means is invisible to
    per-dimension std checks when dimensions co-rotate; the second
    moment sees it).

    Scale shape: the ONLY O(n) stage is the map-side flatten of each
    vector to its d + d^2 moment terms with partial aggregation
    (``_drift_moment_grid``) — the shuffle carries (label, i, j) grid
    partials (labels x 4096 for d=64), never raw terms; every later
    join in the shared derivation (``_drift_mmd_from_moments``: label
    counts broadcast, a<b pair join) lives on the bounded moment
    grid. At 100 TB the plan is one embarrassingly-parallel scan plus
    KB-scale exchanges — and because the grid is an ADDITIVE lattice,
    the same derivation serves the streaming twin's maintained grid.
    Determinism: the grid sums stage through 9/12-dp floored DECIMALs
    (the embedding_dim_stats discipline), per-(i,j) terms are single
    IEEE expressions on exact-sum-derived doubles re-floored to 12 dp
    and DECIMAL-summed, so the 4160-term reductions are
    order-independent; 6-dp floor on the published statistics."""
    emb = load_embeddings(
        spark, sf_dir, F.col("label").cast("bigint").alias("label")
    )
    return _drift_mmd_from_moments(_drift_moment_grid(emb))


QUERIES["embedding_drift_mmd"] = q_embedding_drift_mmd

ORACLE["embedding_drift_mmd"] = """
    WITH emb AS (
        SELECT CAST(label AS BIGINT) AS label,
               CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
    ),
    nlab AS (
        SELECT label, CAST(count(*) AS BIGINT) AS n FROM emb GROUP BY label
    ),
    d1 AS (
        SELECT label, i, CAST(v[i] AS DOUBLE) AS xi, v
        FROM emb,
             LATERAL (SELECT unnest(generate_series(1, len(v))) AS i)
    ),
    mgrid AS (
        SELECT label, i,
               CAST(sum(CAST(floor((xi) * 1e9 + 0.5) / 1e9
                             AS DECIMAL(30,9))) AS DOUBLE) AS s
        FROM d1 GROUP BY 1, 2
    ),
    pairs AS (
        SELECT label, i, j, xi, CAST(v[j] AS DOUBLE) AS xj
        FROM d1,
             LATERAL (SELECT unnest(generate_series(1, len(v))) AS j)
    ),
    sgrid AS (
        SELECT label, i, j,
               CAST(sum(CAST(floor((xi * xj) * 1e12 + 0.5) / 1e12
                             AS DECIMAL(30,12))) AS DOUBLE) AS s
        FROM pairs GROUP BY 1, 2, 3
    ),
    mu AS (
        SELECT g.label, g.i, n.n, g.s / n.n AS m
        FROM mgrid g JOIN nlab n ON g.label = n.label
    ),
    smom AS (
        SELECT g.label, g.i, g.j, g.s / n.n AS m
        FROM sgrid g JOIN nlab n ON g.label = n.label
    ),
    lin AS (
        SELECT a.label AS label_a, b.label AS label_b,
               max(a.n) AS n_a, max(b.n) AS n_b,
               CAST(sum(CAST(floor(((a.m - b.m) * (a.m - b.m)) * 1e12
                                   + 0.5) / 1e12
                             AS DECIMAL(38,12))) AS DOUBLE) AS lin
        FROM mu a JOIN mu b ON a.i = b.i AND a.label < b.label
        GROUP BY 1, 2
    ),
    quad AS (
        SELECT a.label AS label_a, b.label AS label_b,
               CAST(sum(CAST(floor(((a.m - b.m) * (a.m - b.m)) * 1e12
                                   + 0.5) / 1e12
                             AS DECIMAL(38,12))) AS DOUBLE) AS quad
        FROM smom a
             JOIN smom b ON a.i = b.i AND a.j = b.j AND a.label < b.label
        GROUP BY 1, 2
    )
    SELECT l.label_a, l.label_b,
           CAST(l.n_a AS BIGINT) AS n_a,
           CAST(l.n_b AS BIGINT) AS n_b,
           floor((l.lin) * 1e6 + 0.5) / 1e6 AS mmd2_linear,
           floor((q.quad) * 1e6 + 0.5) / 1e6 AS mmd2_quadratic
    FROM lin l JOIN quad q
         ON l.label_a = q.label_a AND l.label_b = q.label_b
"""
