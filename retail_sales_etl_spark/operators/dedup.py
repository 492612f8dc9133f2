"""Deduplication operators for the documents/embeddings corpora.

The large-scale-training-data dedup toolbox, each as a declarative
Spark plan with a DuckDB oracle twin:

- exact:          md5 canonicalization, one hash-partition pass
- ngram_jaccard:  3-word shingles -> inverted-index self-join -> exact
                  Jaccard (candidate generation is index-based, never
                  all-pairs; the join key is the shingle, so shuffle
                  volume tracks corpus token count, not n^2)
- minhash_lsh:    k independent minhashes per doc; a minhash here is
                  min(md5(seed || shingle)) — a string-min over a keyed
                  cryptographic permutation, portable across engines —
                  banded into LSH keys; candidates share >=1 band bucket
- simhash:        64-bit simhash from md5 nibble bits, majority-voted
                  over token occurrences, emitted as a bitstring plus a
                  16-bit band prefix for blocked hamming search
- embedding:      near-dup pairs by cosine >= tau, blocked by label
                  (cluster id) so the pair space is per-block, not global

At 100 TB: every stage is explode -> hash-shuffle -> agg; no driver-side
loops, no UDFs; AQE splits skewed shingle/bucket keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.rounding import fround

N_MINHASH = 8
BAND_SIZE = 2  # 4 bands of 2 minhashes each
JACCARD_THRESHOLD = 0.05
COSINE_THRESHOLD = 0.3
# Shingles present in more than MAX_SHINGLE_DF docs are dropped from the
# inverted index before pair generation: a shingle shared by d docs
# yields d^2 candidate pairs, so one boilerplate/spam shingle can blow
# up the join quadratically at corpus scale. Per-doc shingle-set sizes
# (the Jaccard denominators) still come from the FULL shingle sets, so
# the score only under-counts overlap contributed by junk shingles.
MAX_SHINGLE_DF = 100


def _shingles(docs: DataFrame, n: int = 3, keep: tuple = ()) -> DataFrame:
    """Distinct word n-gram shingles per doc (map-side explode).
    ``keep`` names per-doc columns carried onto every shingle row."""
    d = docs.select("doc_id", *keep, F.split("text", " ").alias("w")).filter(
        F.size("w") >= n
    )
    idx = F.sequence(F.lit(0), F.size("w") - n)
    gram = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at("w", (i + k + 1).cast("int")) for k in range(n)]
        ),
    )
    return d.select(
        "doc_id", *keep, F.explode(F.array_distinct(gram)).alias("shingle")
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group identical texts by md5, keep min doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5("text")
    w = Window.partitionBy("text_hash")
    return (
        docs.select("doc_id", h.alias("text_hash"))
        .withColumn("canonical_id", F.min("doc_id").over(w))
        .withColumn("is_duplicate", F.col("doc_id") != F.col("canonical_id"))
    )


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs via shingle inverted index."""
    docs = load_table(spark, sf_dir, "documents")
    sh = _shingles(docs).cache()
    ns = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    rare = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= MAX_SHINGLE_DF)
        .select("shingle")
    )
    indexed = sh.join(rare, "shingle")
    a = indexed.select(F.col("doc_id").alias("a_id"), "shingle")
    b = indexed.select(
        F.col("doc_id").alias("b_id"), F.col("shingle").alias("shingle_b")
    )
    pairs = (
        a.join(b, (F.col("shingle") == F.col("shingle_b")) & (F.col("a_id") < F.col("b_id")))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    na = ns.select(F.col("doc_id").alias("a_id"), F.col("n").alias("na"))
    nb = ns.select(F.col("doc_id").alias("b_id"), F.col("n").alias("nb"))
    return (
        pairs.join(na, "a_id")
        .join(nb, "b_id")
        .select(
            "a_id",
            "b_id",
            "shared",
            (
                F.col("shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("shared"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def _mh_expr_sql(j: int) -> str:
    """Minhash j as a 32-bit slice of a seeded md5 of the shingle.

    Eight independent digests per shingle would be 8x the hash cost;
    slicing four 8-hex-char (32-bit) pieces out of each of two seeded
    digests gives 8 effectively-independent uniform hashes for 2 md5
    calls — the standard few-hashes/many-slices LSH trick.
    """
    seed, slice_idx = divmod(j, 4)
    return f"min(substring(md5('{seed}|' || shingle), {slice_idx * 8 + 1}, 8))"


def _minhash_signatures(docs: DataFrame) -> DataFrame:
    """Per-doc minhash signature: string-min over seeded hash slices."""
    return _minhash_by(_shingles(docs), "doc_id")


def _minhash_by(sh: DataFrame, key: str) -> DataFrame:
    """MinHash of the shingle rows ``sh`` per ``key`` (a doc, or a
    whole source): string-min over seeded hash slices.

    The two seeded digests are STAGED in a projection below the
    aggregate (h0/h1 computed once per shingle row); the 8 min()
    aggregates then slice substrings of the staged columns. Spark's
    subexpression elimination does not span separate aggregate
    function children, so the inlined form (``_mh_expr_sql``, kept
    for the DuckDB oracle text) digests every shingle 8 times — 4x
    the hash work per row for identical values."""
    staged = sh.select(
        key,
        *[
            F.md5(F.concat(F.lit(f"{seed}|"), F.col("shingle"))).alias(
                f"h{seed}"
            )
            for seed in (0, 1)
        ],
    )
    aggs = [
        F.min(
            F.substring(F.col(f"h{s // 4}"), (s % 4) * 8 + 1, 8)
        ).alias(f"mh{s}")
        for s in range(N_MINHASH)
    ]
    return staged.groupBy(key).agg(*aggs)


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_signatures(load_table(spark, sf_dir, "documents"))


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs: docs sharing >=1 minhash band bucket."""
    return minhash_lsh_pairs(load_table(spark, sf_dir, "documents"))


def band_rows(docs: DataFrame) -> DataFrame:
    """LSH band rows ``(doc_id, band_idx, band_key)`` for an arbitrary
    (doc_id, text) frame — the shared index grain for batch pair
    generation AND the streaming signature table the incremental dedup
    sink maintains."""
    sig = _minhash_signatures(docs)
    n_bands = N_MINHASH // BAND_SIZE
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(
                    F.concat(
                        *[F.col(f"mh{b * BAND_SIZE + j}") for j in range(BAND_SIZE)]
                    )
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    return sig.select("doc_id", F.explode(bands).alias("band")).select(
        "doc_id",
        F.col("band.band_idx").alias("band_idx"),
        F.col("band.band_key").alias("band_key"),
    )


def minhash_lsh_pairs(docs: DataFrame) -> DataFrame:
    """LSH candidate pairs over an arbitrary (doc_id, text) frame."""
    # cache: the self-join below would otherwise recompute the whole
    # shingle->signature subtree for each side
    exploded = band_rows(docs).cache()
    a = exploded.select(
        F.col("doc_id").alias("a_id"), "band_idx", "band_key"
    )
    b = exploded.select(
        F.col("doc_id").alias("b_id"),
        F.col("band_idx").alias("band_idx_b"),
        F.col("band_key").alias("band_key_b"),
    )
    return (
        a.join(
            b,
            (F.col("band_key") == F.col("band_key_b"))
            & (F.col("band_idx") == F.col("band_idx_b"))
            & (F.col("a_id") < F.col("b_id")),
        )
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def _nib_sql(k: int) -> str:
    """Value 0..15 of hex digit ``k`` of a precomputed hash column ``h``.

    Shared between Spark (F.expr) and DuckDB — only common SQL surface:
    substring, instr. The md5 itself is staged ONCE per word row (64
    bit-votes reusing one hash; inlining md5 into every vote would cost
    64 digests per token occurrence).
    """
    return f"(instr('0123456789abcdef', substring(h, {k + 1}, 1)) - 1)"


def _vote_sql(j: int) -> str:
    """+-1 vote for simhash bit j (MSB-first within each nibble)."""
    p = 2 ** (3 - j % 4)
    return f"2 * (CAST(floor(nib{j // 4} / {p}) AS INTEGER) % 2) - 1"


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit simhash per doc: majority vote over token md5 bits.

    Plan shape chosen for scale: hash only the DISTINCT vocabulary
    (md5 + nibble extraction on |vocab| rows, broadcast back), then a
    single weighted-sum aggregation over per-doc token counts — the
    heavy pass touches no hash functions at all.

    Expressions are built as SQL strings through selectExpr/F.expr, not
    per-bit Column objects: 64-bit-wide plans otherwise pay ~400 py4j
    round trips of pure driver-side construction time (measured ~0.9s
    vs ~0.25s at sf0.1) before the first task launches.
    """
    from pyspark.sql.functions import broadcast

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    wc = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("cnt"))
    vocab_bits = (
        words.select("w")
        .distinct()
        .selectExpr("w", "md5(w) AS h")
        .selectExpr("w", *[f"{_nib_sql(k)} AS nib{k}" for k in range(16)])
        .selectExpr("w", *[f"({_vote_sql(j)}) AS b{j}" for j in range(64)])
    )
    votes = wc.join(broadcast(vocab_bits), "w").groupBy("doc_id").agg(
        *[F.expr(f"sum(cnt * b{j}) AS v{j}") for j in range(64)]
    )
    bit_concat = (
        "concat("
        + ", ".join(f"CASE WHEN v{j} > 0 THEN '1' ELSE '0' END" for j in range(64))
        + ")"
    )
    return votes.selectExpr("doc_id", f"{bit_concat} AS simhash").selectExpr(
        "doc_id", "simhash", "substring(simhash, 1, 16) AS band_prefix"
    )


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine >= tau within a label block.

    Kernel choice measured at 10x scale (20k vectors): an expression
    fold over the joined pairs evaluates 64 multiply-adds per pair row
    (~38s); grouping by block and computing the whole pairwise matrix
    with BLAS inside ``applyInPandas`` is ~20x faster. Each block's
    matrix must fit a worker (at 100 TB: block by IVF cell, not a
    coarse label). Cosines rounded to 6 dp — identical to the fold and
    to the DuckDB oracle, since kernel accumulation differences are
    ~1e-13 against a 1e-6 grid.
    """
    import numpy as np
    import pandas as pd

    from .similarity import load_embeddings

    emb = load_embeddings(spark, sf_dir, "vec_id", "label")

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        label = pdf["label"].iloc[0]
        mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1)
        sims = (mat @ mat.T) / np.outer(norms, norms)
        iu, ju = np.triu_indices(len(ids), k=1)
        # a_id < b_id regardless of intra-block row order
        a, b = ids[iu], ids[ju]
        swap = a > b
        a2 = np.where(swap, b, a)
        b2 = np.where(swap, a, b)
        cos = np.floor((sims[iu, ju]) * 1e6 + 0.5) / 1e6
        keep = cos >= COSINE_THRESHOLD
        return pd.DataFrame(
            {
                "a_id": a2[keep],
                "b_id": b2[keep],
                "label": np.full(keep.sum(), label),
                "cosine": cos[keep],
            }
        )

    return emb.groupBy("label").applyInPandas(
        _pairs, schema="a_id long, b_id long, label int, cosine double"
    )


def q_dedup_embedding_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs blocked by COMPUTED IVF cell.

    Same BLAS pairwise kernel as ``dedup_embedding``, but the block key
    is each vector's nearest-centroid assignment
    (similarity.assign_ivf_cells), not the trusted 10-value ``label``
    column. This is the 100 TB shape: cells come from the quantizer and
    can be sized to worker memory (split hot cells, merge cold ones),
    where a fixed metadata label is a skew hazard and unavailable for
    unlabeled corpora. tests/test_similarity.py pins that cell-blocked
    pairs equal label-blocked pairs at the threshold on the testdata.
    """
    import numpy as np
    import pandas as pd

    from .similarity import assign_ivf_cells, load_embeddings

    emb = load_embeddings(spark, sf_dir, "vec_id", "label")
    cells = assign_ivf_cells(emb)
    blocked = emb.join(cells, "vec_id").select("vec_id", "cell", "v")

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        cell = pdf["cell"].iloc[0]
        mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1)
        sims = (mat @ mat.T) / np.outer(norms, norms)
        iu, ju = np.triu_indices(len(ids), k=1)
        a, b = ids[iu], ids[ju]
        swap = a > b
        a2 = np.where(swap, b, a)
        b2 = np.where(swap, a, b)
        cos = np.floor((sims[iu, ju]) * 1e6 + 0.5) / 1e6
        keep = cos >= COSINE_THRESHOLD
        return pd.DataFrame(
            {
                "a_id": a2[keep],
                "b_id": b2[keep],
                "cell": np.full(keep.sum(), cell),
                "cosine": cos[keep],
            }
        )

    return blocked.groupBy("cell").applyInPandas(
        _pairs, schema="a_id long, b_id long, cell int, cosine double"
    )


SEMANTIC_EPS = 0.35  # within-cell cosine above which vectors are semantic dups


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    public): cluster embeddings with the IVF coarse quantizer, then
    within each cell drop vectors that have a near-duplicate
    (cosine >= eps) sitting CLOSER to the centroid — the survivor of
    every dup pair is the example farthest from the centroid, which
    the paper finds keeps the most diverse training set.

    Scale shape: assignment is the broadcast-centroid argmax
    (assign_ivf_cells_scored), then ONE ``applyInPandas`` BLAS kernel
    per cell computes the pairwise-cosine matrix and the dominance
    flag in-block — no cross-cell pairs, no second shuffle; cells are
    quantizer-sized to worker memory at 100 TB. Deterministic: 6-dp
    cosines, centroid-distance priority, ties broken by vec_id.
    """
    import numpy as np
    import pandas as pd

    from .similarity import assign_ivf_cells_scored, load_embeddings

    emb = load_embeddings(spark, sf_dir, "vec_id", "label")
    assigned = assign_ivf_cells_scored(emb)
    blocked = emb.join(assigned, "vec_id").select("vec_id", "cell", "ccos", "v")

    def _flag(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        ccos = pdf["ccos"].to_numpy()
        cell = pdf["cell"].iloc[0]
        mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1)
        sims = np.floor(((mat @ mat.T) / np.outer(norms, norms)) * 1e6 + 0.5) / 1e6
        np.fill_diagonal(sims, -np.inf)
        near = sims >= SEMANTIC_EPS
        # neighbor j dominates i when j is closer to the centroid
        # (higher ccos), ties broken by lower vec_id
        dom = (ccos[None, :] > ccos[:, None]) | (
            (ccos[None, :] == ccos[:, None]) & (ids[None, :] < ids[:, None])
        )
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cell": np.full(len(ids), cell),
                "centroid_cos": ccos,
                "n_neighbors": near.sum(axis=1).astype(np.int64),
                "is_semantic_dup": (near & dom).any(axis=1),
            }
        )

    return blocked.groupBy("cell").applyInPandas(
        _flag,
        schema=(
            "vec_id long, cell int, centroid_cos double,"
            " n_neighbors long, is_semantic_dup boolean"
        ),
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the
    MinHash-LSH candidate graph.

    Pair lists (a~b, b~c) under-describe dedup decisions — keeping one
    doc per transitive cluster needs component ids. Edges are the LSH
    band-bucket pairs; components come from iterative min-label
    propagation (operators/graph.py connected_components); every doc
    not in any pair is its own singleton cluster. Output: one row per
    doc with its cluster id (min doc_id in the cluster), the cluster
    size, and the keep/drop verdict (keep the canonical min doc).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pairs = q_dedup_minhash_lsh(spark, sf_dir).select(
        F.col("a_id").alias("a"), F.col("b_id").alias("b")
    )
    from .graph import connected_components

    labels = connected_components(
        docs.select(F.col("doc_id").alias("node_id")), pairs
    )
    w = Window.partitionBy("cluster_id")
    return (
        labels.select(
            F.col("node_id").alias("doc_id"),
            F.col("component_id").alias("cluster_id"),
        )
        .withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))
    )


MIN_WORDS = 20


def q_prepare_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus preparation in ONE declarative plan:

    quality gate (>= MIN_WORDS words) -> exact dedup (md5 canonical)
    -> near-dup cluster dedup (MinHash-LSH pairs -> connected
    components, keep each cluster's canonical doc) -> deterministic
    per-language stratified downsample. Output: the kept corpus with
    its lineage facts (cluster size, token count).

    This is the "switchboard" query a reference user runs nightly:
    every stage is one of this module's audited operators composed
    (same shuffles, no new scan patterns), so the 100 TB posture is
    the per-stage posture. Dedup runs BEFORE sampling so keep rates
    apply to unique content, not to duplicate-inflated counts.
    """
    from ..operators.graph import connected_components
    from ..operators.sampling import SAMPLE_RATES, _key, _threshold_hex

    docs = load_table(spark, sf_dir, "documents")
    n_words = (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        + 1
    )
    gated = docs.select(
        "doc_id", "lang", "source", "text", n_words.alias("n_tokens")
    ).filter(F.col("n_tokens") >= MIN_WORDS)
    w_exact = Window.partitionBy(F.md5("text"))
    # NOT cached although consumed three times (pair gen, CC nodes,
    # final join): each consumer gets a column-pruned subtree, and the
    # A/B measured recompute cheaper than materializing full rows
    # (2.6s vs 3.2s steady-state at sf0.1)
    exact = gated.withColumn(
        "canonical_id", F.min("doc_id").over(w_exact)
    ).filter(F.col("doc_id") == F.col("canonical_id"))

    pairs = minhash_lsh_pairs(exact.select("doc_id", "text")).select(
        F.col("a_id").alias("a"), F.col("b_id").alias("b")
    )
    labels = connected_components(
        exact.select(F.col("doc_id").alias("node_id")), pairs
    )
    w_cl = Window.partitionBy("component_id")
    canon = (
        labels.withColumn("cluster_size", F.count(F.lit(1)).over(w_cl))
        .filter(F.col("node_id") == F.col("component_id"))
        .select(F.col("node_id").alias("doc_id"), "cluster_size")
    )

    thr = None
    for lang, rate in sorted(SAMPLE_RATES.items()):
        branch_val = F.lit(_threshold_hex(rate))
        if thr is None:
            thr = F.when(F.col("lang") == lang, branch_val)
        else:
            thr = thr.when(F.col("lang") == lang, branch_val)
    thr = thr.otherwise(F.lit(_threshold_hex(1.0)))

    return (
        canon.join(exact, "doc_id")
        .filter(_key(F.col("doc_id")) < thr)
        .select("doc_id", "lang", "source", "n_tokens", "cluster_size")
    )


# Set-similarity join threshold tau = SETSIM_NUM/SETSIM_DEN (kept as a
# ratio so prefix lengths use exact integer arithmetic — float
# ceil(0.7*n) can round the wrong way and silently break the filter's
# no-false-negative guarantee).
SETSIM_NUM = 7
SETSIM_DEN = 10


def setsim_pairs(docs: DataFrame) -> DataFrame:
    """Exact set-similarity self-join (Jaccard >= tau) with PPJoin-style
    prefix filtering (Xiao et al., WWW'08 — public algorithm).

    Instead of inverted-indexing EVERY shingle (all-pairs on hot
    shingles) or capping document frequency (a recall heuristic), each
    doc's shingles are globally ordered rarest-first and only the first
    ``n - ceil(tau*n) + 1`` (the *prefix*) are indexed. The lemma: two
    sets with Jaccard >= tau MUST share at least one prefix token under
    any consistent global order — so joining prefixes only is lossless,
    and ordering rarest-first makes the joined buckets the smallest
    possible ones. At 100 TB this is the canonical exact-similarity
    shape: the shuffle carries ~(1-tau) of the shingle index, hot
    (high-df) shingles land in the un-indexed suffixes, and the final
    verification is a per-candidate-pair array intersect, never
    all-pairs.

    Reference parity: extends the reference's duplicate detection
    (pandas drop_duplicates, retail-sales-etl transform/clean.py) to
    graded similarity. Output matches dedup_ngram_jaccard's shape.
    """
    sh = _shingles(docs)
    dfc = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # (df, shingle) ascending = rarest-first total order, ties broken
    # lexically -> consistent across docs (required by the lemma).
    arrs = (
        sh.join(dfc, "shingle")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "shingle"))).alias("ts"))
        .select(
            "doc_id",
            F.expr("transform(ts, t -> t.shingle)").alias("toks"),
            F.size("ts").alias("n"),
        )
    )
    # prefix_len = n - ceil(tau*n) + 1, computed in exact integers:
    # ceil(NUM*n/DEN) = (NUM*n + DEN - 1) div DEN
    prefix = arrs.select(
        "doc_id",
        F.expr(
            f"explode(slice(toks, 1, "
            f"n - ((n*{SETSIM_NUM} + {SETSIM_DEN - 1}) div {SETSIM_DEN}) + 1))"
        ).alias("shingle"),
    )
    a = prefix.select(F.col("doc_id").alias("a_id"), "shingle")
    b = prefix.select(
        F.col("doc_id").alias("b_id"), F.col("shingle").alias("shingle_b")
    )
    cand = (
        a.join(b, (F.col("shingle") == F.col("shingle_b")) & (F.col("a_id") < F.col("b_id")))
        .select("a_id", "b_id")
        .distinct()
    )
    fa = arrs.select(
        F.col("doc_id").alias("a_id"),
        F.col("toks").alias("a_toks"),
        F.col("n").alias("na"),
    )
    fb = arrs.select(
        F.col("doc_id").alias("b_id"),
        F.col("toks").alias("b_toks"),
        F.col("n").alias("nb"),
    )
    tau = F.lit(SETSIM_NUM) / F.lit(SETSIM_DEN)
    return (
        cand.join(fa, "a_id")
        .join(fb, "b_id")
        .select(
            "a_id",
            "b_id",
            F.size(F.array_intersect("a_toks", "b_toks")).alias("shared"),
            "na",
            "nb",
        )
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("na") + F.col("nb") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= tau)
        .select("a_id", "b_id", "shared", "jaccard")
    )


def q_setsim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return setsim_pairs(load_table(spark, sf_dir, "documents"))


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_clusters": q_dedup_clusters,
    "prepare_corpus": q_prepare_corpus,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "minhash_signatures": q_minhash_signatures,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash": q_dedup_simhash,
    "dedup_embedding": q_dedup_embedding,
    "dedup_embedding_ivf": q_dedup_embedding_ivf,
    "dedup_semantic": q_dedup_semantic,
    "setsim_join": q_setsim_join,
}

def _shingles_sql(src: str = "documents") -> str:
    return f"""
    SELECT DISTINCT doc_id, w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3] AS shingle
    FROM (
        SELECT doc_id, w, unnest(generate_series(0, len(w) - 3)) AS i
        FROM (
            SELECT doc_id, string_split(text, ' ') AS w
            FROM {src}
            WHERE len(string_split(text, ' ')) >= 3
        )
    )
"""


def _minhash_sig_sql(src: str = "documents") -> str:
    return (
        "SELECT doc_id, "
        + ", ".join(f"{_mh_expr_sql(s)} AS mh{s}" for s in range(N_MINHASH))
        + f" FROM ({_shingles_sql(src)}) GROUP BY doc_id"
    )


_SHINGLES_SQL = _shingles_sql()

_MINHASH_SIG_SQL = _minhash_sig_sql()


def _simhash_oracle() -> str:
    nibs = ", ".join(f"{_nib_sql(k)} AS nib{k}" for k in range(16))
    votes = ", ".join(f"sum({_vote_sql(j)}) AS v{j}" for j in range(64))
    bits = [f"CASE WHEN v{j} > 0 THEN '1' ELSE '0' END" for j in range(64)]
    all_bits = " || ".join(bits)
    prefix = " || ".join(bits[:16])
    return f"""
        SELECT doc_id, {all_bits} AS simhash, {prefix} AS band_prefix
        FROM (
            SELECT doc_id, {votes}
            FROM (
                SELECT doc_id, {nibs}
                FROM (
                    SELECT doc_id, md5(unnest(string_split(text, ' '))) AS h
                    FROM documents
                )
            )
            GROUP BY doc_id
        )
    """


def _bands_sql() -> str:
    """SQL twin of ``band_rows`` (expects a CTE named ``sig``)."""
    n_bands = N_MINHASH // BAND_SIZE
    return " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, md5("
        + " || ".join(f"mh{b * BAND_SIZE + j}" for j in range(BAND_SIZE))
        + ") AS band_key FROM sig"
        for b in range(n_bands)
    )


_BANDS_SQL = _bands_sql()


def _minhash_lsh_oracle() -> str:
    return f"""
        WITH sig AS ({_MINHASH_SIG_SQL}),
        bands AS ({_BANDS_SQL})
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared_bands
        FROM bands a
        JOIN bands b ON a.band_key = b.band_key
                    AND a.band_idx = b.band_idx
                    AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    """


def _clusters_oracle() -> str:
    """Transitive closure via recursive CTE: reach(doc, lab) holds every
    label reachable through the symmetric LSH edge set; min(lab) per doc
    is the component min — the same unique fixpoint the Spark label
    propagation converges to."""
    return f"""
        WITH RECURSIVE
        sig AS ({_MINHASH_SIG_SQL}),
        bands AS ({_BANDS_SQL}),
        pairs AS (
            SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
            FROM bands a
            JOIN bands b ON a.band_key = b.band_key
                        AND a.band_idx = b.band_idx
                        AND a.doc_id < b.doc_id
        ),
        edges AS (
            SELECT a_id AS src, b_id AS dst FROM pairs
            UNION ALL
            SELECT b_id AS src, a_id AS dst FROM pairs
        ),
        reach AS (
            SELECT doc_id, doc_id AS lab FROM documents
            UNION
            SELECT e.dst AS doc_id, r.lab
            FROM reach r JOIN edges e ON e.src = r.doc_id
        ),
        lab AS (
            SELECT doc_id, min(lab) AS cluster_id FROM reach GROUP BY doc_id
        )
        SELECT doc_id, cluster_id,
               count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
               doc_id = cluster_id AS is_canonical
        FROM lab
    """


def _prepare_corpus_oracle() -> str:
    from ..operators.sampling import SAMPLE_RATES, _SALT, _threshold_hex

    n_bands = N_MINHASH // BAND_SIZE
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, md5("
        + " || ".join(f"mh{b * BAND_SIZE + j}" for j in range(BAND_SIZE))
        + ") AS band_key FROM sig"
        for b in range(n_bands)
    )
    cases = " ".join(
        f"WHEN '{lang}' THEN '{_threshold_hex(rate)}'"
        for lang, rate in sorted(SAMPLE_RATES.items())
    )
    return f"""
        WITH RECURSIVE
        gated AS (
            SELECT doc_id, lang, source, text,
                   length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens
            FROM documents
            WHERE length(text) - length(replace(text, ' ', '')) + 1 >= {MIN_WORDS}
        ),
        exact AS (
            SELECT * FROM (
                SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
                FROM gated
            ) WHERE doc_id = canonical_id
        ),
        sig AS ({_minhash_sig_sql('exact')}),
        bands AS ({band_rows}),
        pairs AS (
            SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
            FROM bands a
            JOIN bands b ON a.band_key = b.band_key
                        AND a.band_idx = b.band_idx
                        AND a.doc_id < b.doc_id
        ),
        edges AS (
            SELECT a_id AS src, b_id AS dst FROM pairs
            UNION ALL
            SELECT b_id AS src, a_id AS dst FROM pairs
        ),
        reach AS (
            SELECT doc_id, doc_id AS lab FROM exact
            UNION
            SELECT e.dst AS doc_id, r.lab
            FROM reach r JOIN edges e ON e.src = r.doc_id
        ),
        lab AS (
            SELECT doc_id, min(lab) AS cluster_id FROM reach GROUP BY doc_id
        ),
        canon AS (
            SELECT doc_id, cluster_size FROM (
                SELECT doc_id, cluster_id,
                       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
                FROM lab
            ) WHERE doc_id = cluster_id
        )
        SELECT e.doc_id AS doc_id, lang, source, n_tokens, cluster_size
        FROM canon c
        JOIN exact e ON c.doc_id = e.doc_id
        WHERE substring(md5('{_SALT}' || CAST(e.doc_id AS VARCHAR)), 1, 8)
              < CASE lang {cases} ELSE '{_threshold_hex(1.0)}' END
    """


ORACLE = {
    "dedup_exact": """
        SELECT doc_id,
               md5(text) AS text_hash,
               min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
               doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_duplicate
        FROM documents
    """,
    "dedup_ngram_jaccard": f"""
        WITH sh AS ({_SHINGLES_SQL}),
        ns AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        indexed AS (
            SELECT doc_id, shingle FROM sh
            WHERE shingle IN (
                SELECT shingle FROM sh GROUP BY shingle
                HAVING count(*) <= {MAX_SHINGLE_DF}
            )
        ),
        pairs AS (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS shared
            FROM indexed a
            JOIN indexed b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT a_id, b_id, shared,
               CAST(shared AS DOUBLE) / (na.n + nb.n - shared) AS jaccard
        FROM pairs
        JOIN ns na ON pairs.a_id = na.doc_id
        JOIN ns nb ON pairs.b_id = nb.doc_id
        WHERE CAST(shared AS DOUBLE) / (na.n + nb.n - shared) >= {JACCARD_THRESHOLD}
    """,
    # The oracle runs the UNFILTERED inverted-index join (every shingle,
    # no prefix, no df cap) — if the prefix filter dropped a qualifying
    # pair, the hash check would catch it.
    "setsim_join": f"""
        WITH sh AS ({_SHINGLES_SQL}),
        ns AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        pairs AS (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS shared
            FROM sh a
            JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT a_id, b_id, shared,
               CAST(shared AS DOUBLE) / (na.n + nb.n - shared) AS jaccard
        FROM pairs
        JOIN ns na ON pairs.a_id = na.doc_id
        JOIN ns nb ON pairs.b_id = nb.doc_id
        WHERE CAST(shared AS DOUBLE) / (na.n + nb.n - shared)
              >= CAST({SETSIM_NUM} AS DOUBLE) / {SETSIM_DEN}
    """,
    "minhash_signatures": _MINHASH_SIG_SQL,
    "dedup_clusters": _clusters_oracle(),
    "prepare_corpus": _prepare_corpus_oracle(),
    "dedup_minhash_lsh": _minhash_lsh_oracle(),
    "dedup_simhash": _simhash_oracle(),
    "dedup_semantic": f"""
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
        assigned AS (
            SELECT vec_id, cell, ccos FROM (
                SELECT vec_id, cell, ccos,
                       row_number() OVER (
                           PARTITION BY vec_id ORDER BY ccos DESC, cell
                       ) AS rn
                FROM scored
            ) WHERE rn = 1
        ),
        blocked AS (
            SELECT e.vec_id, a.cell, a.ccos, e.v
            FROM emb e JOIN assigned a ON e.vec_id = a.vec_id
        ),
        pairs AS (
            SELECT a.vec_id,
                   count(*) AS n_neighbors,
                   bool_or(b.ccos > a.ccos
                           OR (b.ccos = a.ccos AND b.vec_id < a.vec_id))
                       AS has_dominator
            FROM blocked a
            JOIN blocked b ON a.cell = b.cell AND a.vec_id <> b.vec_id
            WHERE floor((list_dot_product(a.v, b.v)
                        / (sqrt(list_dot_product(a.v, a.v))
                           * sqrt(list_dot_product(b.v, b.v)))) * 1e6 + 0.5) / 1e6
                  >= {SEMANTIC_EPS}
            GROUP BY 1
        )
        SELECT bl.vec_id, bl.cell, bl.ccos AS centroid_cos,
               CAST(coalesce(p.n_neighbors, 0) AS BIGINT) AS n_neighbors,
               coalesce(p.has_dominator, FALSE) AS is_semantic_dup
        FROM blocked bl
        LEFT JOIN pairs p ON bl.vec_id = p.vec_id
    """,
    "dedup_embedding_ivf": f"""
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
        blocked AS (
            SELECT e.vec_id, cells.cell, e.v
            FROM emb e JOIN cells ON e.vec_id = cells.vec_id
        )
        SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.cell AS cell,
               floor((list_dot_product(a.v, b.v)
                     / (sqrt(list_dot_product(a.v, a.v))
                        * sqrt(list_dot_product(b.v, b.v)))) * 1e6 + 0.5) / 1e6 AS cosine
        FROM blocked a
        JOIN blocked b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE floor((list_dot_product(a.v, b.v)
                    / (sqrt(list_dot_product(a.v, a.v))
                       * sqrt(list_dot_product(b.v, b.v)))) * 1e6 + 0.5) / 1e6 >= {COSINE_THRESHOLD}
    """,
    "dedup_embedding": f"""
        SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.label AS label,
               floor((list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
                     / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))) * 1e6 + 0.5) / 1e6 AS cosine
        FROM embeddings a
        JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE floor((list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
                    / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                       * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))) * 1e6 + 0.5) / 1e6 >= {COSINE_THRESHOLD}
    """,
}


# ---------------------------------------------------------------------------
# Corpus-level similarity: per-source mergeable MinHash sketches.


def q_source_minhash_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jaccard similarity ESTIMATE between sources from
    per-source MinHash sketches — the corpus-overlap matrix a curator
    reads before mixing sources (two crawls of the same site show up
    as a high-similarity pair long before doc-level dedup runs).

    The per-source sketch is the component-wise MIN of the source's
    shingle hashes — min is associative/commutative, so the sketch is
    map-combinable and MERGEABLE: at 100 TB each executor folds its
    partition's shingles into 8 string-mins, the shuffle carries
    |sources| x 8 values, and sketches of disjoint corpus shards merge
    by another min. The estimator is the classic one-permutation
    match-rate over N_MINHASH components (Broder 1997); the pair grid
    is |sources|^2 rows of arithmetic, never touching the corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = _shingles(docs).join(docs.select("doc_id", "source"), "doc_id")
    aggs = [F.expr(f"{_mh_expr_sql(s)} AS mh{s}") for s in range(N_MINHASH)]
    # cache: the self-join below would otherwise recompute the whole
    # corpus-scale shingle->hash->min subtree once per side
    # (minhash_lsh_pairs precedent)
    sk = sh.groupBy("source").agg(*aggs).cache()
    a = sk.select(
        F.col("source").alias("source_a"),
        *[F.col(f"mh{j}").alias(f"a{j}") for j in range(N_MINHASH)],
    )
    b = sk.select(
        F.col("source").alias("source_b"),
        *[F.col(f"mh{j}").alias(f"b{j}") for j in range(N_MINHASH)],
    )
    n_match = None
    for j in range(N_MINHASH):
        t = F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
        n_match = t if n_match is None else n_match + t
    return (
        a.join(b, F.col("source_a") < F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            n_match.cast("int").alias("n_match"),
            fround(n_match / F.lit(float(N_MINHASH)), 6).alias(
                "jaccard_est"
            ),
        )
    )


QUERIES["source_minhash_jaccard"] = q_source_minhash_jaccard

_SRC_SKETCH_SQL = (
    "SELECT d.source, "
    + ", ".join(f"{_mh_expr_sql(s)} AS mh{s}" for s in range(N_MINHASH))
    + f" FROM ({_shingles_sql()}) sh JOIN documents d USING (doc_id)"
    + " GROUP BY d.source"
)

ORACLE["source_minhash_jaccard"] = f"""
    WITH sk AS ({_SRC_SKETCH_SQL})
    SELECT a.source AS source_a, b.source AS source_b,
           CAST({" + ".join(
               f"(CASE WHEN a.mh{j} = b.mh{j} THEN 1 ELSE 0 END)"
               for j in range(N_MINHASH)
           )} AS INTEGER) AS n_match,
           floor((({" + ".join(
               f"(CASE WHEN a.mh{j} = b.mh{j} THEN 1 ELSE 0 END)"
               for j in range(N_MINHASH)
           )}) / {float(N_MINHASH)!r}) * 1e6 + 0.5) / 1e6 AS jaccard_est
    FROM sk a JOIN sk b ON a.source < b.source
"""


# ---------------------------------------------------------------------------
# Dedup-method acceptance report: precision/recall vs exact ground truth.


def q_dedup_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall acceptance report for the approximate dup-pair
    finders against the EXACT >=tau n-gram-Jaccard pair set — the
    ANN recall report's dedup sibling: before trusting minhash-LSH
    banding (probabilistic) or PPJoin prefix filtering (exact but
    differently tokenized) at 100 TB, a pipeline owner reads this
    table. Composes the member query plans (truth set broadcast, one
    left join + count per method) and nests the member SQL oracles, so
    the evaluation is hash-exact end to end. Cost = sum of members —
    an eval op on the small-SF gate, not a serving path.
    """
    # cache: the exact-Jaccard pair join (the expensive member) feeds
    # one broadcast per method plus the n_true aggregate — without the
    # cache it would re-execute three times
    truth = q_dedup_ngram_jaccard(spark, sf_dir).select(
        "a_id", "b_id", F.lit(1).alias("hit")
    ).cache()
    methods = [
        ("minhash_lsh", q_dedup_minhash_lsh),
        ("setsim_ppjoin", q_setsim_join),
    ]
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true"))
    parts = []
    for name, fn in methods:
        cand = fn(spark, sf_dir).select("a_id", "b_id")
        agg = (
            cand.join(F.broadcast(truth), ["a_id", "b_id"], "left")
            .agg(
                F.count(F.lit(1)).alias("n_candidates"),
                F.sum(F.coalesce("hit", F.lit(0)))
                .cast("bigint")
                .alias("n_hits"),
            )
            .crossJoin(F.broadcast(n_true))
        )
        parts.append(
            agg.select(
                F.lit(name).alias("method"),
                "n_candidates",
                "n_true",
                "n_hits",
                fround(F.col("n_hits") / F.col("n_candidates"), 6).alias(
                    "precision"
                ),
                fround(F.col("n_hits") / F.col("n_true"), 6).alias(
                    "recall"
                ),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


QUERIES["dedup_recall_report"] = q_dedup_recall_report


def _recall_member(name: str) -> str:
    return f"(SELECT a_id, b_id FROM ({ORACLE[name]}))"


ORACLE["dedup_recall_report"] = f"""
    WITH truth AS (SELECT a_id, b_id FROM {_recall_member("dedup_ngram_jaccard")}),
    m_lsh AS (SELECT a_id, b_id FROM {_recall_member("dedup_minhash_lsh")}),
    m_ppj AS (SELECT a_id, b_id FROM {_recall_member("setsim_join")}),
    nt AS (SELECT count(*) AS n_true FROM truth)
    SELECT method, n_candidates, n_true, n_hits,
           floor((CAST(n_hits AS DOUBLE) / n_candidates) * 1e6 + 0.5) / 1e6 AS precision,
           floor((CAST(n_hits AS DOUBLE) / n_true) * 1e6 + 0.5) / 1e6 AS recall
    FROM (
        SELECT 'minhash_lsh' AS method, count(*) AS n_candidates,
               (SELECT n_true FROM nt) AS n_true,
               CAST(sum(CASE WHEN (a_id, b_id) IN (SELECT (a_id, b_id) FROM truth)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
        FROM m_lsh
        UNION ALL
        SELECT 'setsim_ppjoin', count(*),
               (SELECT n_true FROM nt),
               CAST(sum(CASE WHEN (a_id, b_id) IN (SELECT (a_id, b_id) FROM truth)
                        THEN 1 ELSE 0 END) AS BIGINT)
        FROM m_ppj
    )
"""


def q_split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split near-dup LEAKAGE census: for every unordered pair
    of corpus_split assignments (the doc-id-grain split), how many
    MinHash-LSH candidate pairs straddle it — the pre-training audit
    that quantifies eval contamination BEFORE any GPU burns (a near-
    dup of a test doc sitting in train inflates eval exactly like
    test leakage; Lee et al. 2022 "Deduplicating Training Data Makes
    Language Models Better" measure this effect). is_leak marks the
    cross-split rows; a zero-leak corpus is what corpus_split_group's
    group-aware assignment guarantees BY CONSTRUCTION for
    within-group duplication.

    Scale shape: reuses the banded LSH pair generation verbatim
    (bucket-bounded, never all-pairs), joins the doc-grain split
    assignment onto each endpoint (id-keyed shuffles), and collapses
    to the <= 6-row split-pair grid with least/greatest
    normalization — one map-combinable aggregate at the end.
    """
    from .sampling import _SPLIT_SALT, _threshold_hex
    from .sampling import SPLIT_TRAIN, SPLIT_VALID

    docs = load_table(spark, sf_dir, "documents")
    key = F.substring(
        F.md5(F.concat(F.lit(_SPLIT_SALT), F.col("doc_id").cast("string"))),
        1,
        8,
    )
    split = (
        F.when(key < F.lit(_threshold_hex(SPLIT_TRAIN)), F.lit("train"))
        .when(key < F.lit(_threshold_hex(SPLIT_VALID)), F.lit("valid"))
        .otherwise(F.lit("test"))
    )
    assign = docs.select("doc_id", split.alias("split"))
    pairs = minhash_lsh_pairs(docs)
    labeled = (
        pairs.join(
            assign.select(
                F.col("doc_id").alias("a_id"), F.col("split").alias("split_a")
            ),
            "a_id",
        )
        .join(
            assign.select(
                F.col("doc_id").alias("b_id"), F.col("split").alias("split_b")
            ),
            "b_id",
        )
    )
    return (
        labeled.select(
            F.least("split_a", "split_b").alias("split_lo"),
            F.greatest("split_a", "split_b").alias("split_hi"),
        )
        .groupBy("split_lo", "split_hi")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .withColumn("is_leak", F.col("split_lo") != F.col("split_hi"))
    )


QUERIES["split_leakage_report"] = q_split_leakage_report


def _split_leakage_oracle() -> str:
    from .sampling import _SPLIT_SALT, _threshold_hex
    from .sampling import SPLIT_TRAIN, SPLIT_VALID

    split_case = f"""CASE WHEN substring(md5('{_SPLIT_SALT}' || CAST(doc_id AS VARCHAR)), 1, 8)
                     < '{_threshold_hex(SPLIT_TRAIN)}' THEN 'train'
                WHEN substring(md5('{_SPLIT_SALT}' || CAST(doc_id AS VARCHAR)), 1, 8)
                     < '{_threshold_hex(SPLIT_VALID)}' THEN 'valid'
                ELSE 'test' END"""
    return f"""
        WITH sig AS ({_MINHASH_SIG_SQL}),
        bands AS ({_BANDS_SQL}),
        pairs AS (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id
            FROM bands a
            JOIN bands b ON a.band_key = b.band_key
                        AND a.band_idx = b.band_idx
                        AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        assign AS (
            SELECT doc_id, {split_case} AS split FROM documents
        )
        SELECT least(sa.split, sb.split) AS split_lo,
               greatest(sa.split, sb.split) AS split_hi,
               CAST(count(*) AS BIGINT) AS n_pairs,
               least(sa.split, sb.split) <> greatest(sa.split, sb.split)
                   AS is_leak
        FROM pairs p
        JOIN assign sa ON p.a_id = sa.doc_id
        JOIN assign sb ON p.b_id = sb.doc_id
        GROUP BY 1, 2
    """


ORACLE["split_leakage_report"] = _split_leakage_oracle()
