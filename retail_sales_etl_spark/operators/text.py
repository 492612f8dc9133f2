"""Text-analysis operators for the documents corpus, with DuckDB oracles.

Training-data-pipeline text ops: language ID, quality scoring, token
counting, fingerprinting, corpus stats. All pure Catalyst expressions
(string built-ins; no Python in the hot path), so at 100 TB these are
embarrassingly-parallel single scans with full codegen.

Portability: every function used (length/replace/lower/md5/instr/
regexp_extract_all/split) has byte-identical semantics in Spark and
DuckDB for the ASCII patterns used here; occurrence counting uses the
length-difference-after-replace identity rather than engine-specific
count functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.ols import ols_fit, ols_sums
from ..functions.rounding import fround, stage9

# marker tokens per language for the n-gram/stopword scoring heuristic
LANG_MARKERS = {
    "en": ("the", "a", "of"),
    "es": ("el", "la", "de"),
    "de": ("der", "und", "die"),
    "fr": ("le", "et", "les"),
    "zh": ("de5", "le5", "shi4"),
}
LANG_PRIORITY = ("en", "es", "de", "fr", "zh")

STOPWORDS = ("the", "a", "of", "and")

TOKEN_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def _count_occurrences(padded: F.Column, token: str) -> F.Column:
    """# of non-overlapping ' token ' hits via the replace-length identity."""
    needle = f" {token} "
    return (
        F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit("")))
    ) / len(needle)


def _count_occurrences_sql(padded: str, token: str) -> str:
    needle = f" {token} "
    return (
        f"(length({padded}) - length(replace({padded}, ' {token} ', '')))"
        f" / {len(needle)}"
    )


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID with a deterministic priority argmax."""
    docs = load_table(spark, sf_dir, "documents")
    padded = F.concat(F.lit(" "), F.lower("text"), F.lit(" "))
    scores = {
        lang: sum(
            (_count_occurrences(padded, tok) for tok in toks), F.lit(0.0)
        ).alias(f"score_{lang}")
        for lang, toks in LANG_MARKERS.items()
    }
    scored = docs.select("doc_id", "lang", *scores.values())
    pred = None
    for lang in LANG_PRIORITY:
        cond = None
        for other in LANG_PRIORITY:
            if other == lang:
                continue
            c = F.col(f"score_{lang}") >= F.col(f"score_{other}")
            cond = c if cond is None else (cond & c)
        branch = F.when(cond, F.lit(lang))
        pred = branch if pred is None else pred.when(cond, F.lit(lang))
    return scored.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[F.col(f"score_{lang}") for lang in LANG_PRIORITY],
        pred.otherwise(F.lit("unknown")).alias("predicted_lang"),
    ).withColumn("is_match", F.col("predicted_lang") == F.col("labeled_lang"))


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length/word/stopword-ratio quality scoring + keep flag."""
    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    n_chars = F.length(text)
    n_words = n_chars - F.length(F.replace(text, F.lit(" "), F.lit(""))) + 1
    stop_cnt = sum(
        (_count_occurrences(padded, tok) for tok in STOPWORDS), F.lit(0.0)
    )
    avg_word_len = (
        F.length(F.replace(text, F.lit(" "), F.lit(""))).cast("double") / n_words
    )
    stop_ratio = stop_cnt / n_words
    score = (
        F.lit(0.5)
        + F.lit(0.5) * (stop_ratio - F.lit(0.05))
        - F.when(n_words < 20, F.lit(0.25)).otherwise(F.lit(0.0))
    )
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        avg_word_len.alias("avg_word_len"),
        stop_cnt.alias("stopword_count"),
        stop_ratio.alias("stopword_ratio"),
        score.alias("quality_score"),
        (score >= 0.4).alias("is_kept"),
    )


def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counting."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_PATTERN), F.lit(0))
    n_ws = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) + 1
    )
    return docs.select(
        "doc_id",
        n_ws.alias("n_ws_tokens"),
        F.size(toks).alias("n_regex_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
        (F.size(toks).cast("double") / F.size(F.array_distinct(toks)))
        .alias("dup_token_ratio"),
    )


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-form + sorted-bag fingerprints (doc identity at scale)."""
    docs = load_table(spark, sf_dir, "documents")
    canonical = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    sorted_bag = F.concat_ws(" ", F.array_sort(F.split(canonical, " ")))
    return docs.select(
        "doc_id",
        F.md5(canonical).alias("fingerprint"),
        F.md5(sorted_bag).alias("sorted_fingerprint"),
        F.length(canonical).alias("canonical_len"),
    )


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus stats by (source, lang)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+"
NUMBER_RE = "[0-9][0-9][0-9]+"


def q_text_pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: mask emails and long digit runs, report
    counts. Pure regexp_replace/extract_all — single scan, codegen'd;
    the patterns are RE2/Java-compatible so the oracle shares them."""
    docs = load_table(spark, sf_dir, "documents")
    masked = F.regexp_replace(
        F.regexp_replace("text", EMAIL_RE, "<EMAIL>"), NUMBER_RE, "<NUM>"
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(EMAIL_RE), F.lit(0)))
        .alias("n_emails_masked"),
        F.size(F.regexp_extract_all("text", F.lit(NUMBER_RE), F.lit(0)))
        .alias("n_numbers_masked"),
        F.md5(masked).alias("masked_hash"),
        (F.length("text") - F.length(masked)).alias("len_delta"),
    )


def q_corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-data pipeline: quality gate -> exact dedup ->
    tokenize/fingerprint the survivors.

    One declarative plan end to end — Catalyst fuses the quality filter
    into the scan, the dedup is the only shuffle, and the token count
    runs on the deduped survivors only.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_words = (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        + 1
    )
    kept = docs.filter(n_words >= 20).select("doc_id", "text")
    w = Window.partitionBy(F.md5("text"))
    canon = kept.withColumn("canonical_id", F.min("doc_id").over(w)).filter(
        F.col("doc_id") == F.col("canonical_id")
    )
    toks = F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_PATTERN), F.lit(0))
    canonical_text = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    return canon.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.md5(canonical_text).alias("fingerprint"),
    )


CHUNK_WORDS = 50
CHUNK_STRIDE = 40  # 10-word overlap


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size chunking with overlap: each doc becomes ceil(n/stride)
    50-word chunks starting every 40 words — the standard pre-training
    windowing step (overlap preserves cross-boundary context).

    Pure Catalyst: split -> sequence of offsets -> explode -> slice +
    concat_ws; one scan, map-side only, output volume = input x
    (words/stride) with zero shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n = F.size(words)
    starts = F.sequence(
        F.lit(0),
        F.greatest(
            F.floor((n - 1) / CHUNK_STRIDE).cast("int"), F.lit(0)
        ) * CHUNK_STRIDE,
        F.lit(CHUNK_STRIDE),
    )
    d = docs.select("doc_id", "lang", words.alias("w"), F.explode(starts).alias("s"))
    chunk = F.slice(F.col("w"), F.col("s") + 1, CHUNK_WORDS)
    return d.select(
        "doc_id",
        "lang",
        (F.col("s") / CHUNK_STRIDE).cast("int").alias("chunk_idx"),
        F.size(chunk).alias("chunk_words"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
    )


MAX_SEQ_WORDS = 120


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign docs to training sequences of <=
    MAX_SEQ_WORDS by sequential fill per source shard.

    pack_id = floor(exclusive-prefix-sum(words) / budget) — one window
    cumsum per shard, no iterative bin-packing loop; the shard is the
    parallel unit so packing never serializes the corpus. (Greedy
    first-fit-decreasing packs ~5% tighter but is inherently
    sequential — the cumsum form is the one that scales.)
    """
    docs = load_table(spark, sf_dir, "documents")
    n_words = (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        + 1
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    toks = docs.select("doc_id", "source", n_words.alias("n_words"))
    cum = toks.withColumn("cum_words", F.sum("n_words").over(w))
    return cum.select(
        "doc_id",
        "source",
        "n_words",
        F.floor((F.col("cum_words") - F.col("n_words")) / MAX_SEQ_WORDS)
        .cast("bigint")
        .alias("pack_id"),
    )


FUZZY_PREFIX_LEN = 32
FUZZY_BLOCK_LEN = 4
FUZZY_MAX_DIST = 3


def _fuzzy_segments() -> list[tuple[int, int, int]]:
    """PassJoin partition of the prefix REMAINDER (the chars after the
    block key) into FUZZY_MAX_DIST+1 segments: (idx, start, len) in
    1-based full-prefix coordinates. k+1 segments + the edit-free
    block = k+2 parts, so <= k edits leave >= 2 parts untouched —
    in particular at least one remainder segment survives intact."""
    k = FUZZY_MAX_DIST
    m = k + 1
    rem = FUZZY_PREFIX_LEN - FUZZY_BLOCK_LEN
    base, extra = divmod(rem, m)
    segs, start = [], FUZZY_BLOCK_LEN + 1
    for i in range(m):
        length = base + (1 if i < extra else 0)
        segs.append((i, start, length))
        start += length
    return segs


def _fuzzy_windows() -> list[tuple[int, int, int]]:
    """Probe windows: every (seg_idx, start, len) substring position
    that could be the shifted image of an index segment — start within
    +-k of the segment position (<= k indels precede it). The lower
    clamp is 1, NOT the block boundary: an alignment can shift a
    remainder segment's image into the first block_len columns (>= 1
    deletion per shifted column). A block-boundary clamp happens to
    stay recall-complete here only through a subtle compensation
    argument (destroying every late segment plus shifting an early one
    past the boundary costs > k edits); clamping at 1 makes the
    guarantee self-evident for a handful of extra probe rows
    (test_fuzzy_segment_filter_pigeonhole pins the property)."""
    windows = []
    for i, s, l in _fuzzy_segments():
        lo = max(1, s - FUZZY_MAX_DIST)
        hi = min(FUZZY_PREFIX_LEN - l + 1, s + FUZZY_MAX_DIST)
        for q in range(lo, hi + 1):
            windows.append((i, q, l))
    return windows


def q_fuzzy_prefix_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-match join: doc pairs whose canonical 32-char prefixes are
    within Levenshtein distance 3, BLOCKED on the 4-char prefix key.

    The block key alone is NOT a scale posture: natural-language
    4-char prefixes have bounded cardinality, so at 1000x the corpus
    each block is 1000x bigger and the in-block pair space grows
    QUADRATICALLY. Candidates therefore pass an exact PassJoin segment
    filter (Li, Deng, Feng & Wang, PVLDB 2011 — the edit-distance
    sibling of ``setsim_join``'s PPJoin prefix filter): the remainder
    partitions into k+1 segments, and any pair within distance k must
    match some segment EXACTLY at a position shifted by at most k
    (<= k edits precede it), so the join runs on (block, segment_idx,
    segment_value) keys instead of the block alone. Selectivity is
    governed by k/L: at the r11 deliberately loose budget (k/L =
    8/32 = 25%, 3-char segments) the measured cut was only ~2.1x
    (natural-text trigrams collide); at this operator's k/L = 3/32 =
    9.4% budget — the regime real entity-resolution runs use —
    segments are 7 chars and the filter's selectivity sharpens
    exponentially (probe_fuzzy_passjoin_10x.py measures the cut).
    Prefixes shorter than the full length (rare by construction —
    docs under 32 canonical chars) fall back to exhaustive in-block
    pairing so recall stays exact. The final levenshtein() filter is
    exact and runs JVM-side with identical unit-cost semantics in
    DuckDB, so the candidate refinement is invisible: output
    identical to the naive blocked join, and the oracle stays the
    naive SQL.
    """
    docs = load_table(spark, sf_dir, "documents")
    canonical = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    # The prefix table is consumed by four branches (index, probe, and
    # both refinement sides); persisting the narrow (id, 32-char
    # prefix, block) projection runs the full-text regex scan ONCE
    # instead of four times. Doc-grain but ~44 bytes/row — disk-spill
    # safe at corpus scale. Lifetime: the returned frame is lazy, so
    # there is no in-function unpersist point — the cache lives until
    # the caller's `spark.catalog.clearCache()` (bench.py issues one
    # after every query) or session end.
    pref = docs.select(
        "doc_id",
        F.substring(canonical, 1, FUZZY_PREFIX_LEN).alias("prefix"),
        F.substring(canonical, 1, FUZZY_BLOCK_LEN).alias("block"),
    ).persist()
    longs = pref.filter(F.length("prefix") == FUZZY_PREFIX_LEN)
    shorts = pref.filter(F.length("prefix") < FUZZY_PREFIX_LEN)

    segs = _fuzzy_segments()
    seg_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("i"), F.lit(s).alias("s"), F.lit(l).alias("l")
            )
            for i, s, l in segs
        ]
    )
    index = (
        longs.select("doc_id", "block", "prefix", F.explode(seg_arr).alias("g"))
        .select(
            F.col("doc_id").alias("i_id"),
            "block",
            F.col("g.i").alias("i"),
            F.expr("substring(prefix, g.s, g.l)").alias("seg"),
        )
    )
    windows = _fuzzy_windows()
    win_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("i"), F.lit(q).alias("q"), F.lit(l).alias("l")
            )
            for i, q, l in windows
        ]
    )
    probe = (
        longs.select("doc_id", "block", "prefix", F.explode(win_arr).alias("g"))
        .select(
            F.col("doc_id").alias("p_id"),
            "block",
            F.col("g.i").alias("i"),
            F.expr("substring(prefix, g.q, g.l)").alias("seg"),
        )
    )
    long_pairs = (
        probe.join(index, ["block", "i", "seg"])
        .filter(F.col("p_id") != F.col("i_id"))
        .select(
            F.least("p_id", "i_id").alias("a_id"),
            F.greatest("p_id", "i_id").alias("b_id"),
            "block",
        )
        .distinct()
    )
    short_pairs = (
        shorts.select(F.col("doc_id").alias("s_id"), "block")
        .join(pref.select(F.col("doc_id").alias("o_id"), "block"), "block")
        .filter(F.col("s_id") != F.col("o_id"))
        .select(
            F.least("s_id", "o_id").alias("a_id"),
            F.greatest("s_id", "o_id").alias("b_id"),
            "block",
        )
        .distinct()
    )
    cand = long_pairs.unionAll(short_pairs).distinct()
    pa = pref.select(F.col("doc_id").alias("a_id"), F.col("prefix").alias("pa"))
    pb = pref.select(F.col("doc_id").alias("b_id"), F.col("prefix").alias("pb"))
    return (
        cand.join(pa, "a_id")
        .join(pb, "b_id")
        .withColumn("dist", F.levenshtein("pa", "pb"))
        .filter(F.col("dist") <= FUZZY_MAX_DIST)
        .select("a_id", "b_id", "block", "dist")
    )


TFIDF_TOP_K = 3


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-3 terms by TF-IDF (tf x ln(N/df), 6-dp rounded).

    One explode -> (doc, term) counts; document frequency and the
    corpus size are aggregates OVER that grid (no second corpus scan);
    rank window partitions per doc. ln() is IEEE-identical across
    engines at 6 dp.
    """
    from pyspark.sql.functions import broadcast

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w")
    )
    wc = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = wc.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        wc.join(dfreq, "w")
        .crossJoin(broadcast(n_docs))
        .withColumn(
            "tfidf",
            fround(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("w"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", F.col("w").alias("term"), "tf", "df", "tfidf", "rank")
    )


REP_TOP2_THRESH = 0.2  # Gopher-style repetition gates (Rae et al. 2021)
REP_DUP3_THRESH = 0.3


def _word_ngrams(words: F.Column, n: int) -> F.Column:
    """Array of word n-grams via sequence+slice — pure Catalyst, no
    Python. Guarded: short docs yield an empty array (Spark's
    ``sequence(1, 0)`` counts DOWN, unlike SQL generate_series)."""
    count = F.size(words) - (n - 1)
    return F.when(
        count >= 1,
        F.transform(
            F.sequence(F.lit(1), count),
            lambda i: F.concat_ws(" ", F.slice(words, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals: per-doc fraction of word
    positions covered by the most frequent 2-gram and by duplicated
    2-/3-grams — the published gates for boilerplate/looping text
    (Rae et al. 2021, public).

    Shape at scale: one explode to the (doc, gram) grid, count, then a
    per-doc re-aggregate — two keyed shuffles over ~corpus-token rows,
    the same budget as tfidf_top_terms; no windows, no self-joins.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    base = docs.select("doc_id", w.alias("w"), F.size(w).alias("n_words"))

    def per_doc(n: int, tag: str):
        counts = (
            base.select("doc_id", F.explode(_word_ngrams(F.col("w"), n)).alias("g"))
            .groupBy("doc_id", "g")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        return counts.groupBy("doc_id").agg(
            F.max("cnt").alias(f"top_{tag}"),
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)).alias(
                f"dup_{tag}"
            ),
        )

    g2, g3 = per_doc(2, "g2"), per_doc(3, "g3")
    out = base.select("doc_id", "n_words").join(g2, "doc_id", "left").join(
        g3, "doc_id", "left"
    )
    n2 = F.col("n_words") - 1
    n3 = F.col("n_words") - 2
    top2_frac = F.when(
        n2 > 0, F.coalesce(F.col("top_g2"), F.lit(0)).cast("double") / n2
    ).otherwise(F.lit(0.0))
    dup2_frac = F.when(
        n2 > 0, F.coalesce(F.col("dup_g2"), F.lit(0)).cast("double") / n2
    ).otherwise(F.lit(0.0))
    dup3_frac = F.when(
        n3 > 0, F.coalesce(F.col("dup_g3"), F.lit(0)).cast("double") / n3
    ).otherwise(F.lit(0.0))
    return out.select(
        "doc_id",
        "n_words",
        F.coalesce(F.col("top_g2"), F.lit(0)).cast("bigint").alias("top_2gram_count"),
        top2_frac.alias("top_2gram_frac"),
        dup2_frac.alias("dup_2gram_frac"),
        dup3_frac.alias("dup_3gram_frac"),
        (
            (top2_frac > F.lit(REP_TOP2_THRESH))
            | (dup3_frac > F.lit(REP_DUP3_THRESH))
        ).alias("is_repetitive"),
    )


DECON_N = 5  # word n-gram size for contamination matching
DECON_EVAL_MOD = 37  # doc_id % 37 == 0 plays the held-out benchmark set
DECON_FRAC_THRESH = 0.1


def q_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination by n-gram overlap (the GPT-3 paper's
    public recipe): flag training docs sharing 5-grams with a held-out
    eval set (here a deterministic doc_id slice standing in for the
    benchmark corpus).

    Scale shape: per-doc gram dedup happens MAP-SIDE (``array_distinct``
    before the explode — the (doc, gram) grid is never shuffled on the
    gram key); the eval side reduces to DISTINCT grams — benchmarks are
    MBs while the corpus is TBs — and broadcasts, so the corpus is
    shuffled exactly once, on doc_id, for the final per-doc counts.
    """
    docs = load_table(spark, sf_dir, "documents")
    grams = _distinct_grams(docs, DECON_N)
    is_eval = F.col("doc_id") % DECON_EVAL_MOD == 0
    return _decon_verdicts(
        grams.filter(~is_eval),
        grams.filter(is_eval).select("gram").distinct(),
        docs.filter(~is_eval).select("doc_id"),
    )


def _distinct_grams(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, gram): each doc's distinct whitespace word n-grams,
    deduped map-side (``array_distinct`` before the explode) — the
    gram grid of both decontamination screens, batch and streaming."""
    w = F.split("text", " ")
    return docs.select(
        "doc_id", F.explode(F.array_distinct(_word_ngrams(w, n))).alias("gram")
    )


def _decon_verdicts(
    train_grams: DataFrame, eval_set: DataFrame, train_ids: DataFrame
) -> DataFrame:
    """The per-doc contamination verdict: ``train_grams`` (doc_id,
    gram) judged against the distinct eval ``gram`` set (broadcast),
    one row per ``train_ids`` doc — a doc without grams reads 0 of 0.
    Shared by the batch ``decontaminate_ngram`` and the streaming
    ``decon_sink`` (which judges each batch against the pinned eval
    index plus the batch's own eval grams)."""
    hits = (
        train_grams.join(
            F.broadcast(eval_set.withColumn("hit", F.lit(1))), "gram", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("hit").alias("n_contaminated"),
        )
    )
    out = train_ids.join(hits, "doc_id", "left")
    n_grams = F.coalesce(F.col("n_grams"), F.lit(0)).cast("bigint")
    n_cont = F.coalesce(F.col("n_contaminated"), F.lit(0)).cast("bigint")
    frac = F.when(n_grams > 0, n_cont.cast("double") / n_grams).otherwise(F.lit(0.0))
    return out.select(
        "doc_id",
        n_grams.alias("n_grams"),
        n_cont.alias("n_contaminated"),
        frac.alias("contamination_frac"),
        (frac >= F.lit(DECON_FRAC_THRESH)).alias("is_contaminated"),
    )


CONTAIN_N = 2  # word n-gram size for per-item containment
CONTAIN_THRESH = 0.3


def q_decontaminate_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-eval-item containment decontamination — the stronger leakage
    signal the pooled-gram screen can't give: for each (train doc,
    eval doc) pair, the fraction of the EVAL doc's distinct n-grams
    the train doc contains. A train doc containing >= CONTAIN_THRESH
    of a benchmark item is flagged WITH the item it leaks (so the item
    can be dropped from eval, or the doc from training) — the recipe
    benchmark cards publish as 'n-gram containment'.

    Scale shape: same as decontaminate_ngram — per-doc gram dedup is
    map-side, the eval side ((eval_id, gram) pairs + per-item sizes —
    benchmarks are MBs) broadcasts, and the corpus shuffles once on
    (doc_id, eval_id) for the pair counts. The quadratic term is
    |pairs sharing a gram|, bounded by eval size, never corpus^2.
    """
    docs = load_table(spark, sf_dir, "documents")
    grams = _distinct_grams(docs, CONTAIN_N)
    is_eval = F.col("doc_id") % DECON_EVAL_MOD == 0
    eval_grams = grams.filter(is_eval).select(
        F.col("doc_id").alias("eval_id"), "gram"
    )
    eval_sizes = eval_grams.groupBy("eval_id").agg(
        F.count(F.lit(1)).alias("eval_grams")
    )
    pairs = (
        grams.filter(~is_eval)
        .join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .join(F.broadcast(eval_sizes), "eval_id")
    )
    return _containment_pairs(pairs)


def _containment_pairs(pairs: DataFrame) -> DataFrame:
    """The containment score tail over (doc_id, eval_id, n_shared,
    eval_grams) pair counts: the 6-dp share of the eval item's distinct
    grams the doc contains, kept at >= CONTAIN_THRESH. Shared by the
    batch ``decontaminate_containment`` and the streaming
    ``containment_sink``."""
    containment = fround(
        F.col("n_shared").cast("double") / F.col("eval_grams"), 6)
    return pairs.select(
        "doc_id",
        "eval_id",
        F.col("n_shared").cast("bigint").alias("n_shared"),
        F.col("eval_grams").cast("bigint").alias("eval_grams"),
        containment.alias("containment"),
    ).filter(F.col("containment") >= CONTAIN_THRESH)


BOILER_CHUNK_WORDS = 10
BOILER_FRAC_THRESH = 0.3


def q_doc_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection (the exact-substring
    motivation of Lee et al. 2021, public): hash each doc's
    non-overlapping 10-word chunks and flag chunks appearing in MORE
    THAN ONE distinct document — headers, license blocks, templated
    paragraphs that whole-doc dedup misses and within-doc repetition
    can't see.

    Scale shape: chunking is map-side (sequence+slice+md5, no overlap
    so output volume = tokens/10); the chunk->n_docs aggregate shuffles
    once on the chunk hash (count-distinct with partial aggregation);
    the per-doc rollup shuffles once on doc_id. No df-cap here on
    purpose — boilerplate IS the high-df tail, capping it would delete
    the signal.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    n_full = F.floor(F.size(w) / BOILER_CHUNK_WORDS).cast("int")
    starts = F.when(
        n_full >= 1,
        F.sequence(
            F.lit(1), (n_full - 1) * BOILER_CHUNK_WORDS + 1, F.lit(BOILER_CHUNK_WORDS)
        ),
    ).otherwise(F.array().cast("array<int>"))
    chunks = docs.select(
        "doc_id",
        F.explode(starts).alias("i"),
        w.alias("w"),
    ).select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.slice(F.col("w"), F.col("i"), BOILER_CHUNK_WORDS)))
        .alias("chunk"),
    )
    chunk_docs = chunks.groupBy("chunk").agg(
        F.count_distinct("doc_id").alias("n_docs")
    )
    per_doc = (
        chunks.join(chunk_docs, "chunk")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0)).alias(
                "n_shared_chunks"
            ),
        )
    )
    out = docs.select("doc_id").join(per_doc, "doc_id", "left")
    n_chunks = F.coalesce(F.col("n_chunks"), F.lit(0)).cast("bigint")
    n_shared = F.coalesce(F.col("n_shared_chunks"), F.lit(0)).cast("bigint")
    frac = F.when(n_chunks > 0, n_shared.cast("double") / n_chunks).otherwise(
        F.lit(0.0)
    )
    return out.select(
        "doc_id",
        n_chunks.alias("n_chunks"),
        n_shared.alias("n_shared_chunks"),
        frac.alias("shared_frac"),
        (frac >= F.lit(BOILER_FRAC_THRESH)).alias("is_boilerplate"),
    )


def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc word-unigram Shannon entropy (nats) — the diversity
    quality signal: near-zero entropy means looping/templated text that
    length and stopword gates miss; natural prose sits well above it.

    H = ln(n) - (sum_w c_w * ln(c_w)) / n. Portability: each
    c*ln(c) term is rounded to 6 dp and summed in DECIMAL
    (order-independent, exact — a raw double sum would differ between
    engines by accumulation order), then one double division and a
    final 6-dp round. Plan: one explode -> (doc, word) count grid ->
    per-doc re-agg; same shuffle budget as tf-idf.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w")
    )
    wc = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    return _doc_entropy(wc, ["doc_id"])


def _doc_entropy(wc: DataFrame, keys: list[str]) -> DataFrame:
    """Per-doc (``keys``, n_words, n_distinct, entropy_nats) from a
    (``keys``, w, c) word-count grid — the ``text_entropy`` formula,
    shared with the streaming corpus-health partial (which carries the
    doc's source/lang/n_chars as extra keys)."""
    term = fround(F.col("c") * F.log(F.col("c")), 6).cast("decimal(25,6)")
    per_doc = wc.groupBy(*keys).agg(
        F.sum("c").cast("bigint").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(term).alias("_clogc"),
    )
    entropy = fround(
        F.log(F.col("n_words"))
        - F.col("_clogc").cast("double") / F.col("n_words"), 6)
    return per_doc.select(
        *keys,
        "n_words",
        "n_distinct",
        entropy.alias("entropy_nats"),
    )


LINE_WORDS = 10


def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level corpus dedup (the CCNet/"dedup at paragraph
    granularity" recipe, public): split each document into fixed
    10-word lines, keep only the globally FIRST occurrence of every
    duplicated line (ordered by doc_id, line position), and rebuild the
    cleaned text — headers and templated paragraphs vanish from every
    copy but one, which whole-document dedup cannot do.

    Unlike ``doc_boilerplate`` (which only FLAGS shared chunks), this
    emits the surviving corpus. Scale shape: line splitting is map-side
    (sequence+slice, non-overlapping so the grid is tokens/10 rows);
    keep/drop is a min-struct AGGREGATE per line_hash — it partial-
    aggregates map-side, so a line duplicated corpus-wide (exactly the
    boilerplate this targets, e.g. a universal header) reduces to one
    candidate per input partition BEFORE the shuffle, where a
    row_number window would funnel every occurrence into one hot
    partition; reconstruction is one doc_id shuffle with an
    order-restoring array_sort — no joins against the raw corpus, no
    driver-side state.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    n_seg = F.ceil(F.size(w) / F.lit(LINE_WORDS)).cast("int")
    starts = F.sequence(
        F.lit(1), (n_seg - 1) * LINE_WORDS + 1, F.lit(LINE_WORDS)
    )
    segs = (
        docs.select("doc_id", F.explode(starts).alias("i"), w.alias("w"))
        .select(
            "doc_id",
            F.floor((F.col("i") - 1) / LINE_WORDS).cast("bigint").alias(
                "line_no"
            ),
            F.concat_ws(
                " ", F.slice(F.col("w"), F.col("i"), LINE_WORDS)
            ).alias("seg"),
        )
        .withColumn("line_hash", F.md5("seg"))
    )
    # Global first occurrence per line_hash: min over (doc_id, line_no)
    # orders exactly like the old row_number window, but as an aggregate
    # it combines map-side — no hot partition for corpus-wide lines.
    # `seg` rides along (identical for every occurrence of a hash).
    winners = (
        segs.groupBy("line_hash")
        .agg(F.min(F.struct("doc_id", "line_no", "seg")).alias("first"))
        .select("first.doc_id", "first.line_no", "first.seg")
    )
    kept = (
        winners.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("line_no", "seg"))
                    ),
                    lambda x: x["seg"],
                ),
            ).alias("clean_text"),
        )
    )
    totals = segs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_lines"))
    return totals.join(kept, "doc_id", "left").select(
        "doc_id",
        "n_lines",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
    )


def _adj_pairs_expr(arr: str) -> str:
    """Adjacent-pair grid as a Spark SQL expression over the array
    column ``arr``: (w1, w2) structs for positions (i, i + 1). Shared
    by the bigram-LM and PMI operators over token arrays and by BPE
    over symbol arrays (one tokenization fix must hit all three); the
    SQL twin over a CTE named `words` is ``_adj_pairs_sql``."""
    return (
        f"transform(sequence(1, size({arr}) - 1),"
        f" i -> struct(element_at({arr}, i) AS w1,"
        f" element_at({arr}, i + 1) AS w2))"
    )


def _adj_pairs_sql(with_doc_id: bool) -> str:
    cols = "doc_id, " if with_doc_id else ""
    return f"""
            SELECT {cols}w[i] AS w1, w[i + 1] AS w2
            FROM (
                SELECT {cols}w,
                       unnest(generate_series(1, len(w) - 1)) AS i
                FROM words WHERE len(w) >= 2
            )"""


BIGRAM_ADD_K = 0.5


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-bigram-LM scoring with add-k smoothing: per-doc average
    negative log-prob of its adjacent token pairs under
    p(w2|w1) = (c12 + k) / (c1 + k·V) — one order deeper than
    ``unigram_logprob`` (a doc of real words in scrambled order scores
    fluent under a unigram model; the bigram model catches it), still
    computed from the corpus itself with no external model.

    Plan: one (doc, w1, w2) adjacent-pair count grid (map-side
    combinable explode); corpus pair counts re-aggregate FROM the
    grid's partials; unigram counts + vocab size from one token
    explode; two keyed joins (Zipf-hot w1 keys fan out at most
    |distinct pairs touching them| — AQE skew-split) and a broadcast
    1-row vocab frame. Per-term ``c·ln(p)`` rounds to 6 dp and sums
    in DECIMAL; one double division; final 6-dp round.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.lower("text"), " ").alias("w")
    )
    grid = (
        toks.filter(F.size("w") >= 2)
        .select("doc_id", F.explode(F.expr(_adj_pairs_expr("w"))).alias("p"))
        .groupBy("doc_id", "p.w1", "p.w2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pair_counts = grid.groupBy("w1", "w2").agg(F.sum("c").alias("c12"))
    uni = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    vocab = uni.agg(F.count(F.lit(1)).alias("v_size"))
    logp = F.log(
        (F.col("c12") + F.lit(BIGRAM_ADD_K))
        / (F.col("c1") + F.lit(BIGRAM_ADD_K) * F.col("v_size"))
    )
    term = fround(F.col("c") * logp, 6).cast("decimal(25,6)")
    per_doc = (
        grid.join(pair_counts, ["w1", "w2"])
        .join(uni.select(F.col("t").alias("w1"), "c1"), "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_bigrams"),
            F.sum(term).alias("_s"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        # fround, not round(x, 6): when the decimal term-sum divides to
        # an exact half at 6 dp (hit at sf0.1), Spark and DuckDB round()
        # disagree on the same double.
        fround(-F.col("_s").cast("double") / F.col("n_bigrams"), 6).alias(
            "avg_neg_logprob"
        ),
    )


PMI_MIN_COUNT = 5
PMI_TOP_K = 50


def q_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k collocations by pointwise mutual information over adjacent
    token pairs (Church & Hanks 1990) — the classic phrase-mining /
    tokenizer-vocabulary signal: high-PMI pairs are multi-word units
    worth fusing, low-PMI frequent pairs are syntax.

    PMI = ln( p(ab) / (p(a) p(b)) ) with p from corpus counts; pairs
    below PMI_MIN_COUNT are noise-gated (MLE PMI is biased for rare
    pairs). Scale shape: one map-side adjacent-pair explode (~|tokens|
    rows), two map-combinable count aggregates (pair grid + unigram
    grid), two joins of the pair grid against the unigram counts —
    Zipf-hot unigram keys fan out at most |distinct pairs touching
    them|, AQE handles the head — then a distributed TakeOrdered
    top-k. No windows over raw data, no pairs beyond adjacency.

    The 1-row totals frame is crossJoin-broadcast like
    q_unigram_logprob; ln() at 6-dp rounding is engine-portable (the
    entropy/logprob precedent).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.split(F.lower("text"), " ").alias("w"))
    pairs = toks.filter(F.size("w") >= 2).select(
        F.explode(F.expr(_adj_pairs_expr("w"))).alias("p")
    ).select("p.w1", "p.w2")
    pair_counts = pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("n_ab")
    )
    uni = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("n_t"))
    )
    return _pmi_from_grids(pair_counts, uni)


def _pmi_from_grids(pair_counts: DataFrame, uni: DataFrame) -> DataFrame:
    """The PMI scoring tail over a (w1, w2, n_ab) bigram grid and a
    (t, n_t) unigram grid — split out so the streaming serve path
    (``streaming_pmi``: both grids maintained additively at ingest)
    ranks through the IDENTICAL expression chain as the batch
    operator, totals included (the grids carry the corpus sums)."""
    totals = pair_counts.agg(
        F.sum("n_ab").alias("n_pairs")
    ).crossJoin(uni.agg(F.sum("n_t").alias("n_uni")))
    pmi = (
        pair_counts.filter(F.col("n_ab") >= PMI_MIN_COUNT)
        .join(uni.select(F.col("t").alias("w1"), F.col("n_t").alias("na")), "w1")
        .join(uni.select(F.col("t").alias("w2"), F.col("n_t").alias("nb")), "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            "n_ab",
            fround(
                F.log(
                    (F.col("n_ab") / F.col("n_pairs"))
                    / (
                        (F.col("na") / F.col("n_uni"))
                        * (F.col("nb") / F.col("n_uni"))
                    )
                ), 6).alias("pmi"),
        )
    )
    return pmi.orderBy(
        F.col("pmi").desc(), F.col("w1"), F.col("w2")
    ).limit(PMI_TOP_K)


def q_corpus_source_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source data card: the rollup a corpus owner reads before
    mixing sources into a training run — document and token volume,
    language concentration, and the exact-duplicate rate attributable
    to each source (a doc counts as a dup if its canonical md5 was
    already seen at a smaller doc_id ANYWHERE in the corpus, so a
    source that re-crawls another source's content wears the dups).

    One doc-grain scan computes tokens/langs map-side; the dup flag is
    a min-doc_id aggregate per md5 (map-combinable, the dedup_exact
    keep-first rule) joined back at doc grain; everything then
    collapses to the |sources| grid. No windows, no pairs.
    """
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "source",
        "lang",
        F.size(F.split("text", " ")).cast("bigint").alias("n_toks"),
        F.md5("text").alias("h"),
    )
    first = d.groupBy("h").agg(F.min("doc_id").alias("first_id"))
    flagged = d.join(first, "h").select(
        "doc_id",
        "source",
        "lang",
        "n_toks",
        (F.col("doc_id") > F.col("first_id")).cast("int").alias("is_dup"),
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"),
        fround(
            F.sum("n_toks") / F.count(F.lit(1)).cast("double"), 6).alias("avg_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum(
            F.when(F.col("lang") == "en", 1).otherwise(0)
        ).cast("bigint").alias("n_en"),
        F.sum("is_dup").cast("bigint").alias("n_exact_dups"),
        fround(
            F.sum("is_dup") / F.count(F.lit(1)).cast("double"), 6).alias("dup_frac"),
    )


SPAN_K = 16


def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT duplicate-substring removal (the suffix-array dedup of Lee
    et al. 2021, "Deduplicating Training Data Makes Language Models
    Better", re-expressed relationally): any run of ``SPAN_K``
    consecutive tokens that occurs more than once ANYWHERE in the
    corpus (across documents or repeated within one) is masked out of
    every occurrence, and the surviving text is rebuilt. This is the
    span-granular member of the dedup suite — sharper than
    ``dedup_lines`` (which only catches aligned fixed-width lines) and
    exact where minhash/simhash are probabilistic.

    Relational form of the suffix-array scan: a duplicated substring of
    length >= K contains a duplicated K-gram, so K-gram occurrence
    counts find exactly the covered token positions. Scale shape: the
    overlapping K-gram grid is one map-side pass (sequence + slice;
    ~|tokens| rows keyed by a 128-bit gram hash, never the gram text
    on the wire beyond the map stage... the md5 IS the shuffle key and
    payload), one count aggregate (map-side combinable), one join of
    the grid against the (small) duplicated-hash set — AQE broadcasts
    it when it fits — and then everything collapses to DOC grain: the
    covered-position sets aggregate per doc_id and the rebuild is a
    doc-keyed join + map-side array filter over the original token
    array. The token grid is never shuffled row-wise; no pairs, no
    windows, linear end-to-end.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("w"))
    # Overlapping K-gram starts (1-based), keyed by gram hash. The
    # size->=K filter guarantees sequence() ascends.
    grams = (
        toks.filter(F.size("w") >= SPAN_K)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(w) - {SPAN_K} + 1),"
                    f" i -> struct(i AS pos,"
                    f" md5(array_join(slice(w, i, {SPAN_K}), ' ')) AS gh))"
                )
            ).alias("x"),
        )
        .select("doc_id", "x.pos", "x.gh")
    )
    dup_hashes = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .select("gh")
    )
    covered = (
        grams.join(dup_hashes, "gh")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(SPAN_K - 1))
            ).alias("p"),
        )
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("p")).alias("cov"))
    )
    kept = F.expr(
        "filter(transform(w, (t, i) -> struct(i + 1 AS pos, t AS tok)),"
        " s -> NOT array_contains(cov, s.pos))"
    )
    out = (
        toks.join(covered, "doc_id", "left")
        .withColumn("cov", F.coalesce("cov", F.expr("array()")))
        .withColumn("kept", kept)
    )
    n_tokens = F.size("w").cast("bigint")
    n_kept = F.size("kept").cast("bigint")
    return out.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_kept.alias("n_kept"),
        fround(
            (n_tokens - n_kept).cast("double") / n_tokens, 6).alias("dup_frac"),
        F.expr("array_join(transform(kept, s -> s.tok), ' ')").alias(
            "clean_text"
        ),
    )


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram-LM scoring: per-doc average negative log-prob of
    its tokens under the corpus's own unigram distribution — the
    public CCNet-style quality/fluency proxy (docs full of rare or
    garbled tokens score high, plain prose low), computable without any
    external model.

    Two aggregations over one exploded scan: the (doc, word) count grid
    (map-side combinable), then global word counts derived FROM the
    grid's partials (never a second scan). The per-doc re-join is keyed
    on word; Zipf-hot words fan out at most n_docs rows each and AQE
    skew-split handles the head. Portability: per-term
    ``c * ln(c_w/N)`` rounded to 6 dp and summed in DECIMAL
    (order-independent), one double division, final 6-dp round — same
    discipline as q_text_entropy.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w")
    )
    wc = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    vocab = wc.groupBy("w").agg(F.sum("c").alias("cw"))
    totals = vocab.agg(F.sum("cw").alias("n_total"))
    term = fround(
        F.col("c") * F.log(F.col("cw") / F.col("n_total")), 6).cast("decimal(25,6)")
    per_doc = (
        wc.join(vocab, "w")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_words"),
            F.sum(term).alias("_s"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_words",
        fround(-F.col("_s").cast("double") / F.col("n_words"), 6).alias(
            "avg_neg_logprob"
        ),
    )


# BM25 constants (Robertson et al.; the Lucene-default parametrization)
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 10
# Fixed query — terms present in the synthetic corpus vocabulary.
BM25_QUERY = ("hash", "join", "stream")


def q_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k BM25 ranked retrieval for a fixed term query — the lexical
    retrieval baseline every RAG / training-data pipeline needs next to
    the embedding ANN path.

    Scale shape: the term filter lands map-side BEFORE the (doc, term)
    grid aggregates, so the shuffled grid is |matching docs| x |query
    terms|, never the corpus vocabulary; document length and corpus
    stats (N, avgdl) are a broadcast 1-row frame; the final top-k is
    orderBy+limit = distributed TakeOrdered, not a global sort. Per-term
    scores are 6-dp rounded then summed as DECIMAL so the total is
    order-independent (bit-stable under any partitioning) and matches
    the oracle exactly. idf = ln(1 + (N - df + .5)/(df + .5)) — the
    Robertson/Lucene form, positive for any df.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.lower("text"), " ").alias("ws")
    )
    dl = toks.select("doc_id", F.size("ws").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    )
    wc_dl = _bm25_doc_terms(toks, terms=BM25_QUERY)
    dfreq = wc_dl.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    return _bm25_rank(wc_dl, dfreq, stats)


def _bm25_doc_terms(toks: DataFrame, terms=None) -> DataFrame:
    """(doc_id, w, tf, dl) term grid off tokenized docs ``(doc_id,
    ws array)`` — the shared posting builder of the batch retrieval
    and the streaming index sink (one tokenization/tf convention, the
    two can never drift). ``terms`` filters MAP-SIDE before the grid
    aggregate (the batch query path: the shuffled grid is |matching
    docs| x |query terms|); ``terms=None`` builds the FULL-vocabulary
    grid (the index-build path — at 100 TB that full grid IS the
    inverted index, paid once per batch instead of once per query)."""
    dl = toks.select("doc_id", F.size("ws").alias("dl"))
    words = toks.select("doc_id", F.explode("ws").alias("w"))
    if terms is not None:
        words = words.filter(F.col("w").isin(*terms))
    wc = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    return wc.join(dl, "doc_id")


def _bm25_rank(wc_dl: DataFrame, dfreq: DataFrame, stats: DataFrame) -> DataFrame:
    """BM25 scoring + top-k rollup off a (doc_id, w, tf, dl) grid, a
    per-term df frame, and a 1-row (n_docs, avgdl) stats frame — the
    shared tail of the batch retrieval and the maintained-index
    serving path. Per-term scores are 6-dp rounded then DECIMAL-summed
    (order-independent); idf = ln(1 + (N - df + .5)/(df + .5)), the
    Robertson/Lucene form."""
    from pyspark.sql.functions import broadcast

    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    term_score = fround(
        idf
        * F.col("tf")
        * (BM25_K1 + 1)
        / (
            F.col("tf")
            + BM25_K1
            * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        ), 6)
    return (
        wc_dl.join(broadcast(dfreq), "w")
        .crossJoin(broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.sum(term_score.cast("decimal(18,6)")).alias("_s"),
            F.count(F.lit(1)).alias("n_terms_matched"),
        )
        .select(
            "doc_id",
            F.col("_s").cast("double").alias("bm25_score"),
            "n_terms_matched",
        )
        .orderBy(F.col("bm25_score").desc(), F.col("doc_id"))
        .limit(BM25_TOP_K)
    )


QUERIES = {
    "bm25_retrieval": q_bm25_retrieval,
    "unigram_logprob": q_unigram_logprob,
    "chunk_documents": q_chunk_documents,
    "dedup_lines": q_dedup_lines,
    "dedup_spans": q_dedup_spans,
    "pmi_bigrams": q_pmi_bigrams,
    "bigram_logprob": q_bigram_logprob,
    "corpus_source_report": q_corpus_source_report,
    "text_entropy": q_text_entropy,
    "text_repetition": q_text_repetition,
    "decontaminate_ngram": q_decontaminate_ngram,
    "decontaminate_containment": q_decontaminate_containment,
    "doc_boilerplate": q_doc_boilerplate,
    "pack_sequences": q_pack_sequences,
    "fuzzy_prefix_match": q_fuzzy_prefix_match,
    "tfidf_top_terms": q_tfidf_top_terms,
    "text_langid": q_text_langid,
    "text_quality": q_text_quality,
    "text_tokens": q_text_tokens,
    "text_fingerprint": q_text_fingerprint,
    "doc_stats": q_doc_stats,
    "corpus_clean_pipeline": q_corpus_clean_pipeline,
    "text_pii_mask": q_text_pii_mask,
}


def _langid_oracle() -> str:
    padded = "(' ' || lower(text) || ' ')"
    score_exprs = []
    for lang, toks in LANG_MARKERS.items():
        parts = " + ".join(_count_occurrences_sql(padded, t) for t in toks)
        score_exprs.append(f"(0.0 + {parts}) AS score_{lang}")
    branches = []
    for lang in LANG_PRIORITY:
        conds = " AND ".join(
            f"score_{lang} >= score_{other}"
            for other in LANG_PRIORITY
            if other != lang
        )
        branches.append(f"WHEN {conds} THEN '{lang}'")
    case = "CASE " + " ".join(branches) + " ELSE 'unknown' END"
    scores = ", ".join(f"score_{lang}" for lang in LANG_PRIORITY)
    return f"""
        SELECT doc_id, labeled_lang, {scores},
               {case} AS predicted_lang,
               ({case}) = labeled_lang AS is_match
        FROM (
            SELECT doc_id, lang AS labeled_lang, {', '.join(score_exprs)}
            FROM documents
        )
    """


def _quality_oracle() -> str:
    padded = "(' ' || lower(text) || ' ')"
    stop = " + ".join(_count_occurrences_sql(padded, t) for t in STOPWORDS)
    return f"""
        SELECT doc_id,
               length(text) AS n_chars,
               length(text) - length(replace(text, ' ', '')) + 1 AS n_words,
               CAST(length(replace(text, ' ', '')) AS DOUBLE)
                 / (length(text) - length(replace(text, ' ', '')) + 1) AS avg_word_len,
               (0.0 + {stop}) AS stopword_count,
               (0.0 + {stop}) / (length(text) - length(replace(text, ' ', '')) + 1)
                 AS stopword_ratio,
               0.5 + 0.5 * ((0.0 + {stop}) / (length(text) - length(replace(text, ' ', '')) + 1) - 0.05)
                   - (CASE WHEN (length(text) - length(replace(text, ' ', '')) + 1) < 20
                           THEN 0.25 ELSE 0.0 END) AS quality_score,
               (0.5 + 0.5 * ((0.0 + {stop}) / (length(text) - length(replace(text, ' ', '')) + 1) - 0.05)
                   - (CASE WHEN (length(text) - length(replace(text, ' ', '')) + 1) < 20
                           THEN 0.25 ELSE 0.0 END)) >= 0.4 AS is_kept
        FROM documents
    """


ORACLE = {
    # Constants are CAST to DOUBLE so DuckDB's DECIMAL literal
    # arithmetic can't diverge from Spark's double literals; operation
    # order mirrors the Spark expression exactly.
    "bm25_retrieval": f"""
        WITH toks AS (
            SELECT doc_id, string_split(lower(text), ' ') AS ws
            FROM documents
        ),
        dl AS (SELECT doc_id, len(ws) AS dl FROM toks),
        stats AS (
            SELECT count(*) AS n_docs,
                   CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
            FROM dl
        ),
        wc AS (
            SELECT doc_id, w, count(*) AS tf
            FROM (SELECT doc_id, unnest(ws) AS w FROM toks)
            WHERE w IN ({", ".join(f"'{t}'" for t in BM25_QUERY)})
            GROUP BY 1, 2
        ),
        dfreq AS (SELECT w, count(*) AS df FROM wc GROUP BY 1),
        scored AS (
            SELECT wc.doc_id,
                   CAST(floor((
                       ln(1 + (CAST(n_docs - df AS DOUBLE) + 0.5)
                              / (CAST(df AS DOUBLE) + 0.5))
                       * tf * CAST({BM25_K1 + 1} AS DOUBLE)
                       / (tf + CAST({BM25_K1} AS DOUBLE)
                          * (CAST({1 - BM25_B} AS DOUBLE)
                             + CAST({BM25_B} AS DOUBLE) * dl / avgdl))) * 1e6 + 0.5) / 1e6 AS DECIMAL(18,6)) AS s
            FROM wc
            JOIN dfreq USING (w)
            JOIN dl ON wc.doc_id = dl.doc_id
            CROSS JOIN stats
        )
        SELECT doc_id, CAST(sum(s) AS DOUBLE) AS bm25_score,
               count(*) AS n_terms_matched
        FROM scored GROUP BY 1
        ORDER BY bm25_score DESC, doc_id
        LIMIT {BM25_TOP_K}
    """,
    "unigram_logprob": """
        WITH words AS (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
            FROM documents
        ),
        wc AS (SELECT doc_id, w, count(*) AS c FROM words GROUP BY 1, 2),
        vocab AS (SELECT w, sum(c) AS cw FROM wc GROUP BY 1),
        tot AS (SELECT sum(cw) AS n_total FROM vocab)
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_words,
               floor((-CAST(sum(CAST(floor((c * ln(cw / n_total)) * 1e6 + 0.5) / 1e6
                                    AS DECIMAL(25,6))) AS DOUBLE)
                     / sum(c)) * 1e6 + 0.5) / 1e6 AS avg_neg_logprob
        FROM wc JOIN vocab USING (w), tot
        GROUP BY doc_id
    """,
    "text_entropy": """
        WITH wc AS (
            SELECT doc_id, w, count(*) AS c
            FROM (
                SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
                FROM documents
            )
            GROUP BY doc_id, w
        ),
        per_doc AS (
            SELECT doc_id,
                   CAST(sum(c) AS BIGINT) AS n_words,
                   count(*) AS n_distinct,
                   sum(CAST(floor((c * ln(c)) * 1e6 + 0.5) / 1e6 AS DECIMAL(25,6))) AS clogc
            FROM wc GROUP BY doc_id
        )
        SELECT doc_id, n_words, n_distinct,
               floor((ln(n_words) - CAST(clogc AS DOUBLE) / n_words) * 1e6 + 0.5) / 1e6
                   AS entropy_nats
        FROM per_doc
    """,
    "dedup_lines": f"""
        WITH words AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        seg AS (
            SELECT doc_id,
                   CAST(floor((i - 1) / {LINE_WORDS}.0) AS BIGINT) AS line_no,
                   array_to_string(w[i : i + {LINE_WORDS - 1}], ' ') AS seg
            FROM (
                SELECT doc_id, w,
                       unnest(generate_series(
                           1,
                           (CAST(ceil(len(w) / {LINE_WORDS}.0) AS INT) - 1)
                               * {LINE_WORDS} + 1,
                           {LINE_WORDS})) AS i
                FROM words
            )
        ),
        ranked AS (
            SELECT doc_id, line_no, seg,
                   row_number() OVER (
                       PARTITION BY md5(seg) ORDER BY doc_id, line_no
                   ) AS rn
            FROM seg
        ),
        totals AS (
            SELECT doc_id, count(*) AS n_lines FROM seg GROUP BY 1
        ),
        kept AS (
            SELECT doc_id, count(*) AS n_kept,
                   string_agg(seg, ' ' ORDER BY line_no) AS clean_text
            FROM ranked WHERE rn = 1 GROUP BY 1
        )
        SELECT t.doc_id, t.n_lines,
               CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
               coalesce(k.clean_text, '') AS clean_text
        FROM totals t LEFT JOIN kept k ON t.doc_id = k.doc_id
    """,
    "bigram_logprob": f"""
        WITH words AS (
            SELECT doc_id, string_split(lower(text), ' ') AS w
            FROM documents
        ),
        grid AS (
            SELECT doc_id, w1, w2, count(*) AS c
            FROM ({_adj_pairs_sql(True)}
            ) GROUP BY 1, 2, 3
        ),
        pc AS (SELECT w1, w2, sum(c) AS c12 FROM grid GROUP BY 1, 2),
        uni AS (
            SELECT t, count(*) AS c1
            FROM (
                SELECT unnest(string_split(lower(text), ' ')) AS t
                FROM documents
            ) GROUP BY 1
        ),
        voc AS (SELECT count(*) AS v_size FROM uni),
        terms AS (
            SELECT g.doc_id, g.c,
                   CAST(floor((g.c * ln((pc.c12 + {BIGRAM_ADD_K})
                              / (uni.c1 + {BIGRAM_ADD_K} * v.v_size))) * 1e6 + 0.5) / 1e6
                        AS DECIMAL(25,6)) AS term
            FROM grid g
            JOIN pc ON g.w1 = pc.w1 AND g.w2 = pc.w2
            JOIN uni ON g.w1 = uni.t
            CROSS JOIN voc v
        )
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_bigrams,
               floor(-CAST(sum(term) AS DOUBLE) / sum(c) * 1e6 + 0.5)
                   / 1e6 AS avg_neg_logprob
        FROM terms GROUP BY 1
    """,
    "corpus_source_report": """
        WITH d AS (
            SELECT doc_id, source, lang,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
                   md5(text) AS h
            FROM documents
        ),
        first AS (SELECT h, min(doc_id) AS first_id FROM d GROUP BY 1),
        flagged AS (
            SELECT d.doc_id, d.source, d.lang, d.n_toks,
                   CASE WHEN d.doc_id > f.first_id THEN 1 ELSE 0 END
                       AS is_dup
            FROM d JOIN first f ON d.h = f.h
        )
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(n_toks) AS BIGINT) AS n_tokens,
               floor((sum(n_toks) / CAST(count(*) AS DOUBLE)) * 1e6 + 0.5) / 1e6
                   AS avg_tokens,
               count(DISTINCT lang) AS n_langs,
               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_en,
               CAST(sum(is_dup) AS BIGINT) AS n_exact_dups,
               floor((sum(is_dup) / CAST(count(*) AS DOUBLE)) * 1e6 + 0.5) / 1e6
                   AS dup_frac
        FROM flagged GROUP BY 1
    """,
    "pmi_bigrams": f"""
        WITH words AS (
            SELECT string_split(lower(text), ' ') AS w FROM documents
        ),
        pairs AS ({_adj_pairs_sql(False)}
        ),
        pc AS (
            SELECT w1, w2, count(*) AS n_ab FROM pairs GROUP BY 1, 2
        ),
        uni AS (
            SELECT t, count(*) AS n_t
            FROM (
                SELECT unnest(string_split(lower(text), ' ')) AS t
                FROM documents
            ) GROUP BY 1
        ),
        tot AS (
            SELECT (SELECT sum(n_ab) FROM pc) AS n_pairs,
                   (SELECT sum(n_t) FROM uni) AS n_uni
        )
        SELECT w1, w2, n_ab,
               floor((ln((n_ab / n_pairs)
                        / ((a.n_t / n_uni) * (b.n_t / n_uni)))) * 1e6 + 0.5) / 1e6 AS pmi
        FROM pc
        JOIN uni a ON pc.w1 = a.t
        JOIN uni b ON pc.w2 = b.t
        CROSS JOIN tot
        WHERE n_ab >= {PMI_MIN_COUNT}
        ORDER BY pmi DESC, w1, w2
        LIMIT {PMI_TOP_K}
    """,
    "dedup_spans": f"""
        WITH words AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        grams AS (
            SELECT doc_id, i AS pos,
                   md5(array_to_string(w[i : i + {SPAN_K - 1}], ' ')) AS gh
            FROM (
                SELECT doc_id, w,
                       unnest(generate_series(1, len(w) - {SPAN_K} + 1)) AS i
                FROM words WHERE len(w) >= {SPAN_K}
            )
        ),
        dupg AS (SELECT gh FROM grams GROUP BY gh HAVING count(*) > 1),
        cov AS (
            SELECT DISTINCT doc_id, p FROM (
                SELECT g.doc_id,
                       unnest(generate_series(
                           g.pos, g.pos + {SPAN_K - 1})) AS p
                FROM grams g JOIN dupg d ON g.gh = d.gh
            )
        ),
        toks AS (
            SELECT doc_id, i AS pos, w[i] AS tok
            FROM (
                SELECT doc_id, w,
                       unnest(generate_series(1, len(w))) AS i
                FROM words
            )
        ),
        kept AS (
            SELECT t.doc_id, t.pos, t.tok
            FROM toks t LEFT JOIN cov c
              ON t.doc_id = c.doc_id AND t.pos = c.p
            WHERE c.p IS NULL
        ),
        ka AS (
            SELECT doc_id, count(*) AS n_kept,
                   string_agg(tok, ' ' ORDER BY pos) AS clean_text
            FROM kept GROUP BY 1
        )
        SELECT d.doc_id,
               CAST(len(d.w) AS BIGINT) AS n_tokens,
               CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
               floor((CAST(len(d.w) - coalesce(k.n_kept, 0) AS DOUBLE)
                     / len(d.w)) * 1e6 + 0.5) / 1e6 AS dup_frac,
               coalesce(k.clean_text, '') AS clean_text
        FROM words d LEFT JOIN ka k ON d.doc_id = k.doc_id
    """,
    "doc_boilerplate": f"""
        WITH chunks AS (
            SELECT doc_id,
                   md5(array_to_string(
                       w[i : i + {BOILER_CHUNK_WORDS - 1}], ' ')) AS chunk
            FROM (
                SELECT doc_id, w,
                       unnest(generate_series(
                           1,
                           (CAST(floor(len(w) / {BOILER_CHUNK_WORDS}) AS INT) - 1)
                               * {BOILER_CHUNK_WORDS} + 1,
                           {BOILER_CHUNK_WORDS})) AS i
                FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
                WHERE len(w) >= {BOILER_CHUNK_WORDS}
            )
        ),
        chunk_docs AS (
            SELECT chunk, count(DISTINCT doc_id) AS n_docs FROM chunks GROUP BY 1
        ),
        per_doc AS (
            SELECT c.doc_id,
                   count(*) AS n_chunks,
                   CAST(sum(CASE WHEN cd.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_shared_chunks
            FROM chunks c JOIN chunk_docs cd ON c.chunk = cd.chunk
            GROUP BY 1
        )
        SELECT d.doc_id,
               CAST(coalesce(n_chunks, 0) AS BIGINT) AS n_chunks,
               CAST(coalesce(n_shared_chunks, 0) AS BIGINT) AS n_shared_chunks,
               CASE WHEN coalesce(n_chunks, 0) > 0
                    THEN CAST(coalesce(n_shared_chunks, 0) AS DOUBLE) / n_chunks
                    ELSE 0.0 END AS shared_frac,
               (CASE WHEN coalesce(n_chunks, 0) > 0
                     THEN CAST(coalesce(n_shared_chunks, 0) AS DOUBLE) / n_chunks
                     ELSE 0.0 END) >= {BOILER_FRAC_THRESH} AS is_boilerplate
        FROM (SELECT doc_id FROM documents) d
        LEFT JOIN per_doc ON d.doc_id = per_doc.doc_id
    """,
    "text_repetition": f"""
        WITH base AS (
            SELECT doc_id, string_split(text, ' ') AS w,
                   len(string_split(text, ' ')) AS n_words
            FROM documents
        ),
        c2 AS (
            SELECT doc_id, gram, count(*) AS cnt
            FROM (
                SELECT doc_id, array_to_string(w[i : i + 1], ' ') AS gram
                FROM (
                    SELECT doc_id, w,
                           unnest(generate_series(1, len(w) - 1)) AS i
                    FROM base
                )
            )
            GROUP BY 1, 2
        ),
        a2 AS (
            SELECT doc_id, max(cnt) AS top_g2,
                   CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT)
                       AS dup_g2
            FROM c2 GROUP BY 1
        ),
        c3 AS (
            SELECT doc_id, gram, count(*) AS cnt
            FROM (
                SELECT doc_id, array_to_string(w[i : i + 2], ' ') AS gram
                FROM (
                    SELECT doc_id, w,
                           unnest(generate_series(1, len(w) - 2)) AS i
                    FROM base
                )
            )
            GROUP BY 1, 2
        ),
        a3 AS (
            SELECT doc_id,
                   CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT)
                       AS dup_g3
            FROM c3 GROUP BY 1
        )
        SELECT b.doc_id, b.n_words,
               CAST(coalesce(top_g2, 0) AS BIGINT) AS top_2gram_count,
               CASE WHEN b.n_words - 1 > 0
                    THEN CAST(coalesce(top_g2, 0) AS DOUBLE) / (b.n_words - 1)
                    ELSE 0.0 END AS top_2gram_frac,
               CASE WHEN b.n_words - 1 > 0
                    THEN CAST(coalesce(dup_g2, 0) AS DOUBLE) / (b.n_words - 1)
                    ELSE 0.0 END AS dup_2gram_frac,
               CASE WHEN b.n_words - 2 > 0
                    THEN CAST(coalesce(dup_g3, 0) AS DOUBLE) / (b.n_words - 2)
                    ELSE 0.0 END AS dup_3gram_frac,
               (CASE WHEN b.n_words - 1 > 0
                     THEN CAST(coalesce(top_g2, 0) AS DOUBLE) / (b.n_words - 1)
                     ELSE 0.0 END) > {REP_TOP2_THRESH}
               OR (CASE WHEN b.n_words - 2 > 0
                        THEN CAST(coalesce(dup_g3, 0) AS DOUBLE) / (b.n_words - 2)
                        ELSE 0.0 END) > {REP_DUP3_THRESH} AS is_repetitive
        FROM base b
        LEFT JOIN a2 ON b.doc_id = a2.doc_id
        LEFT JOIN a3 ON b.doc_id = a3.doc_id
    """,
    "decontaminate_containment": f"""
        WITH grams AS (
            SELECT DISTINCT doc_id,
                   array_to_string(w[i : i + {CONTAIN_N - 1}], ' ') AS gram
            FROM (
                SELECT doc_id, w,
                       unnest(generate_series(1, len(w) - {CONTAIN_N - 1})) AS i
                FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
            )
        ),
        eval_grams AS (
            SELECT doc_id AS eval_id, gram FROM grams
            WHERE doc_id % {DECON_EVAL_MOD} = 0
        ),
        eval_sizes AS (
            SELECT eval_id, count(*) AS eval_grams FROM eval_grams GROUP BY 1
        ),
        pairs AS (
            SELECT g.doc_id, e.eval_id, count(*) AS n_shared
            FROM grams g JOIN eval_grams e ON g.gram = e.gram
            WHERE g.doc_id % {DECON_EVAL_MOD} <> 0
            GROUP BY 1, 2
        )
        SELECT p.doc_id, p.eval_id,
               CAST(p.n_shared AS BIGINT) AS n_shared,
               CAST(s.eval_grams AS BIGINT) AS eval_grams,
               floor((CAST(p.n_shared AS DOUBLE) / s.eval_grams) * 1e6 + 0.5) / 1e6
                   AS containment
        FROM pairs p JOIN eval_sizes s ON p.eval_id = s.eval_id
        WHERE floor((CAST(p.n_shared AS DOUBLE) / s.eval_grams) * 1e6 + 0.5) / 1e6
              >= {CONTAIN_THRESH}
    """,
    "decontaminate_ngram": f"""
        WITH grams AS (
            SELECT DISTINCT doc_id,
                   array_to_string(w[i : i + {DECON_N - 1}], ' ') AS gram
            FROM (
                SELECT doc_id, w,
                       unnest(generate_series(1, len(w) - {DECON_N - 1})) AS i
                FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
            )
        ),
        eval_grams AS (
            SELECT DISTINCT gram FROM grams WHERE doc_id % {DECON_EVAL_MOD} = 0
        ),
        hits AS (
            SELECT g.doc_id,
                   count(*) AS n_grams,
                   count(e.gram) AS n_contaminated
            FROM grams g
            LEFT JOIN eval_grams e ON g.gram = e.gram
            WHERE g.doc_id % {DECON_EVAL_MOD} <> 0
            GROUP BY 1
        )
        SELECT d.doc_id,
               CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
               CAST(coalesce(n_contaminated, 0) AS BIGINT) AS n_contaminated,
               CASE WHEN coalesce(n_grams, 0) > 0
                    THEN CAST(coalesce(n_contaminated, 0) AS DOUBLE) / n_grams
                    ELSE 0.0 END AS contamination_frac,
               (CASE WHEN coalesce(n_grams, 0) > 0
                     THEN CAST(coalesce(n_contaminated, 0) AS DOUBLE) / n_grams
                     ELSE 0.0 END) >= {DECON_FRAC_THRESH} AS is_contaminated
        FROM (SELECT doc_id FROM documents WHERE doc_id % {DECON_EVAL_MOD} <> 0) d
        LEFT JOIN hits ON d.doc_id = hits.doc_id
    """,
    "chunk_documents": f"""
        SELECT doc_id, lang,
               CAST(s / {CHUNK_STRIDE} AS INTEGER) AS chunk_idx,
               len(w[s + 1 : s + {CHUNK_WORDS}]) AS chunk_words,
               md5(array_to_string(w[s + 1 : s + {CHUNK_WORDS}], ' ')) AS chunk_md5
        FROM (
            SELECT doc_id, lang, w,
                   unnest(generate_series(0,
                       greatest(((len(w) - 1) // {CHUNK_STRIDE}), 0) * {CHUNK_STRIDE},
                       {CHUNK_STRIDE})) AS s
            FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents)
        )
    """,
    "fuzzy_prefix_match": f"""
        WITH pref AS (
            SELECT doc_id,
                   substring(canon, 1, {FUZZY_PREFIX_LEN}) AS prefix,
                   substring(canon, 1, {FUZZY_BLOCK_LEN}) AS block
            FROM (
                SELECT doc_id,
                       trim(regexp_replace(regexp_replace(lower(text),
                            '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS canon
                FROM documents
            )
        )
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.block AS block,
               levenshtein(a.prefix, b.prefix) AS dist
        FROM pref a
        JOIN pref b ON a.block = b.block AND a.doc_id < b.doc_id
        WHERE levenshtein(a.prefix, b.prefix) <= {FUZZY_MAX_DIST}
    """,
    "tfidf_top_terms": f"""
        WITH wc AS (
            SELECT doc_id, w, count(*) AS tf
            FROM (
                SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
                FROM documents
            )
            GROUP BY 1, 2
        ),
        dfreq AS (SELECT w, count(*) AS df FROM wc GROUP BY 1),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
            SELECT doc_id, wc.w AS w, tf, df,
                   floor((tf * ln(CAST(n_docs AS DOUBLE) / df)) * 1e6 + 0.5) / 1e6 AS tfidf
            FROM wc JOIN dfreq ON wc.w = dfreq.w CROSS JOIN n
        )
        SELECT doc_id, w AS term, tf, df, tfidf, CAST(rank AS INTEGER) AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, w
            ) AS rank
            FROM scored
        )
        WHERE rank <= {TFIDF_TOP_K}
    """,
    "pack_sequences": f"""
        SELECT doc_id, source, n_words,
               CAST(floor(CAST(cum_words - n_words AS DOUBLE) / {MAX_SEQ_WORDS})
                    AS BIGINT) AS pack_id
        FROM (
            SELECT doc_id, source, n_words,
                   sum(n_words) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum_words
            FROM (
                SELECT doc_id, source,
                       length(text) - length(replace(text, ' ', '')) + 1 AS n_words
                FROM documents
            )
        )
    """,
    "text_langid": _langid_oracle(),
    "text_quality": _quality_oracle(),
    "text_tokens": f"""
        SELECT doc_id,
               length(text) - length(replace(text, ' ', '')) + 1 AS n_ws_tokens,
               len(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS n_regex_tokens,
               len(list_distinct(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'))) AS n_unique_tokens,
               CAST(len(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS DOUBLE)
                 / len(list_distinct(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'))) AS dup_token_ratio
        FROM documents
    """,
    "text_fingerprint": """
        SELECT doc_id,
               md5(canonical) AS fingerprint,
               md5(array_to_string(list_sort(string_split(canonical, ' ')), ' ')) AS sorted_fingerprint,
               length(canonical) AS canonical_len
        FROM (
            SELECT doc_id,
                   trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS canonical
            FROM documents
        )
    """,
    "text_pii_mask": f"""
        SELECT doc_id,
               len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails_masked,
               len(regexp_extract_all(text, '{NUMBER_RE}')) AS n_numbers_masked,
               md5(regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                                  '{NUMBER_RE}', '<NUM>', 'g')) AS masked_hash,
               length(text)
                 - length(regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                                         '{NUMBER_RE}', '<NUM>', 'g')) AS len_delta
        FROM documents
    """,
    "corpus_clean_pipeline": f"""
        WITH kept AS (
            SELECT doc_id, text
            FROM documents
            WHERE length(text) - length(replace(text, ' ', '')) + 1 >= 20
        ),
        canon AS (
            SELECT doc_id, text,
                   min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
            FROM kept
        )
        SELECT doc_id,
               len(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS n_tokens,
               md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fingerprint
        FROM canon
        WHERE doc_id = canonical_id
    """,
    "doc_stats": """
        SELECT source, lang,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
               min(n_chars) AS min_chars,
               max(n_chars) AS max_chars
        FROM documents
        GROUP BY 1, 2
    """,
}


# ---------------------------------------------------------------------------
# Vocabulary coverage: per-source OOV rate against the corpus top-V vocab.

# 16 < the corpus's distinct-word count at every SF, so the head-vocab
# cut genuinely bites on the driver's testdata (nonzero OOV rates).
OOV_VOCAB_SIZE = 16


def q_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source out-of-vocabulary rate against the corpus's own
    top-``OOV_VOCAB_SIZE`` word vocabulary — the tokenizer-coverage
    signal a data curator checks before fixing a vocab: a source whose
    token mass falls outside the head vocabulary will fragment into
    long byte-level token sequences.

    Plan: one token explode feeds BOTH the global word-count grid and
    the (source, word) grid (map-side combinable aggs — the shuffled
    volume is the distinct-word grid, never per-token rows); the vocab
    cut is a distributed TakeOrdered (count desc, word asc — boundary
    ties deterministic) of constant size V, broadcast back; per-source
    stats are one more bounded agg. No per-token shuffle, no window.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.lower("text"), " ")).alias("w")
    )
    counts = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    vocab = (
        counts.orderBy(F.col("c").desc(), F.col("w"))
        .limit(OOV_VOCAB_SIZE)
        .select("w", F.lit(1).alias("in_vocab"))
    )
    src_grid = toks.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    joined = src_grid.join(F.broadcast(vocab), "w", "left")
    oov_c = F.when(F.col("in_vocab").isNull(), F.col("c")).otherwise(F.lit(0))
    return (
        joined.groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.sum(oov_c).cast("bigint").alias("n_oov"),
            F.count(F.when(F.col("in_vocab").isNull(), F.lit(1)))
            .cast("bigint")
            .alias("n_oov_types"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            "n_oov_types",
            fround(F.col("n_oov") / F.col("n_tokens"), 6).alias("oov_rate"),
        )
    )


QUERIES["vocab_oov_rate"] = q_vocab_oov_rate

ORACLE["vocab_oov_rate"] = f"""
    WITH words AS (
        SELECT source, unnest(string_split(lower(text), ' ')) AS w
        FROM documents
    ),
    counts AS (SELECT w, count(*) AS c FROM words GROUP BY 1),
    vocab AS (
        SELECT w, 1 AS in_vocab FROM counts
        ORDER BY c DESC, w LIMIT {OOV_VOCAB_SIZE}
    ),
    src_grid AS (
        SELECT source, w, count(*) AS c FROM words GROUP BY 1, 2
    )
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN in_vocab IS NULL THEN c ELSE 0 END)
                AS BIGINT) AS n_oov,
           CAST(count(CASE WHEN in_vocab IS NULL THEN 1 END)
                AS BIGINT) AS n_oov_types,
           floor((CAST(sum(CASE WHEN in_vocab IS NULL THEN c ELSE 0 END)
                      AS DOUBLE) / sum(c)) * 1e6 + 0.5) / 1e6 AS oov_rate
    FROM src_grid LEFT JOIN vocab USING (w)
    GROUP BY source
"""


# ---------------------------------------------------------------------------
# BPE merge learning: the first rounds of byte-pair-encoding training.

BPE_ROUNDS = 3


def q_bpe_merge_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first ``BPE_ROUNDS`` merge rules of byte-pair-encoding
    tokenizer training (Sennrich, Haddow & Birch, ACL 2016) learned
    from the corpus: per round, the most frequent adjacent symbol pair
    (weighted by word frequency) is merged into one symbol everywhere,
    and the pair becomes that round's merge rule.

    Like every real BPE trainer, after the initial token count ALL
    work runs on the distinct-word count grid, never the corpus: each
    round is one pair-explode + map-combinable count over that grid, a
    1-row argmax picked by distributed TakeOrdered (count desc, then
    (w1, w2) asc — deterministic), broadcast back, and a map-side
    string rewrite. Symbol sequences are '|'-WRAPPED strings
    ("cat" -> "|c||a||t|"), so the merge is a plain left-to-right
    ``replace(seq, '|'||w1||'||'||w2||'|', '|'||w1w2||'|')`` — the
    leading delimiter anchors w1 at a symbol boundary (a bare
    trailing-separator encoding would also fire when w1 is the
    SUFFIX of a longer symbol, e.g. rule (a,b) on "|xa||b|"), and the
    non-overlapping scan still matches classic BPE ("aaaa" + (a,a) ->
    ["aa","aa"]); identical semantics in Spark and DuckDB. Rounds
    unroll in the plan (fixed constant), no driver collect.
    """
    _, _, rounds = _bpe_chain(load_table(spark, sf_dir, "documents"))
    out = rounds[0]
    for r in rounds[1:]:
        out = out.unionAll(r)
    return out


def _bpe_chain(docs: DataFrame):
    """The shared BPE training chain: returns ``(wc, cur, rounds)``
    where ``wc`` is the (w, c) distinct-word count grid, ``cur`` is the
    FINAL encoded word grid (w, seq, c) after BPE_ROUNDS merges, and
    ``rounds`` is the per-round merge-rule DataFrames — shared by the
    trainer entry (``bpe_merge_rounds``) and the corpus encoder
    (``bpe_encode_corpus``)."""
    wc = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cur = wc.select(
        "w",
        F.concat(
            F.lit("|"), F.array_join(F.split("w", ""), "||"), F.lit("|")
        ).alias("seq"),
        "c",
    )
    rounds = []
    for r in range(1, BPE_ROUNDS + 1):
        syms = cur.withColumn(
            "s", F.filter(F.split("seq", "[|]"), lambda x: x != F.lit(""))
        )
        pairs = syms.filter(F.size("s") >= 2).select(
            F.explode(F.expr(_adj_pairs_expr("s"))).alias("p"), "c"
        )
        cnt = pairs.groupBy("p.w1", "p.w2").agg(
            F.sum("c").cast("bigint").alias("pair_count")
        )
        best = cnt.orderBy(
            F.col("pair_count").desc(), F.col("w1"), F.col("w2")
        ).limit(1)
        rounds.append(
            best.select(
                F.lit(r).alias("round"), "w1", "w2", "pair_count"
            )
        )
        cur = cur.crossJoin(F.broadcast(best)).select(
            "w",
            F.expr(
                "replace(seq, '|' || w1 || '||' || w2 || '|',"
                " '|' || w1 || w2 || '|')"
            ).alias("seq"),
            "c",
        )
    return wc, cur, rounds


QUERIES["bpe_merge_rounds"] = q_bpe_merge_rounds


def _bpe_oracle() -> str:
    ctes = [
        """wc AS (
            SELECT w, count(*) AS c
            FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
                  FROM documents)
            GROUP BY 1
        )""",
        """seq0 AS (
            SELECT '|' || array_to_string(string_split(w, ''), '||') || '|'
                       AS seq, c
            FROM wc
        )""",
    ]
    for r in range(1, BPE_ROUNDS + 1):
        ctes.append(f"""p{r} AS (
            SELECT s[i] AS w1, s[i + 1] AS w2, sum(c) AS cnt
            FROM (
                SELECT s, c, unnest(generate_series(1, len(s) - 1)) AS i
                FROM (SELECT list_filter(string_split(seq, '|'),
                                         x -> x <> '') AS s, c
                      FROM seq{r - 1})
                WHERE len(s) >= 2
            )
            GROUP BY 1, 2
        )""")
        ctes.append(
            f"b{r} AS (SELECT w1, w2, cnt FROM p{r}"
            " ORDER BY cnt DESC, w1, w2 LIMIT 1)"
        )
        ctes.append(f"""seq{r} AS (
            SELECT replace(seq, '|' || w1 || '||' || w2 || '|',
                           '|' || w1 || w2 || '|') AS seq, c
            FROM seq{r - 1}, b{r}
        )""")
    unions = " UNION ALL ".join(
        f"SELECT {r} AS round, w1, w2, CAST(cnt AS BIGINT) AS pair_count"
        f" FROM b{r}"
        for r in range(1, BPE_ROUNDS + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + unions


ORACLE["bpe_merge_rounds"] = _bpe_oracle()


def q_bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE merge table to ENCODE the corpus — the
    step that closes the tokenizer loop from ``bpe_merge_rounds``
    (learn) to ``pack_sequences`` (consume): every document becomes
    its token-id sequence under the trained merges, with ids assigned
    frequency-ranked (id 1 = most frequent symbol; corpus-weighted,
    (freq desc, symbol) tie-break) like a real tokenizer vocab.

    Scale shape — all heavy work happens on the DISTINCT-WORD grid,
    never the corpus: the merge rewrite is the trainer's own final
    word grid (map-side broadcast replaces), the vocab is a tiny
    (chars + BPE_ROUNDS) frequency rank, per-word id strings are one
    grouped aggregate over the word grid, and the corpus pass is ONE
    shuffle join (exploded words -> word grid) + one per-doc
    reassembly — the standard word-cache encode every production BPE
    tokenizer uses. Output is scalar columns (driver canonicalizer
    contract): n_tokens plus the ','-joined id sequence whose string
    equality pins the full encode; the real sink would emit
    array<int> into pack_sequences.
    """
    docs = load_table(spark, sf_dir, "documents")
    wc, cur, _ = _bpe_chain(docs)
    wsyms = (
        cur.select(
            "w",
            F.posexplode(
                F.filter(F.split("seq", "[|]"), lambda x: x != F.lit(""))
            ).alias("sympos0", "sym"),
        )
        .select("w", (F.col("sympos0") + 1).alias("sympos"), "sym")
    )
    vfreq = wsyms.join(wc, "w").groupBy("sym").agg(
        F.sum("c").cast("bigint").alias("freq")
    )
    # vocab is O(alphabet + BPE_ROUNDS) rows — the single-partition
    # rank window is a few hundred rows at any corpus size
    vocab = vfreq.select(
        "sym",
        F.row_number()
        .over(Window.orderBy(F.col("freq").desc(), "sym"))
        .cast("int")
        .alias("token_id"),
    )
    wtok = (
        wsyms.join(F.broadcast(vocab), "sym")
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("n_syms"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("sympos", "token_id"))
                    ),
                    lambda s: s.token_id.cast("string"),
                ),
                ",",
            ).alias("ids"),
        )
    )
    dwords = (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.lower("text"), " ")).alias("pos0", "w"),
        )
        .filter(F.col("w") != F.lit(""))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    )
    return (
        dwords.join(wtok, "w")
        .groupBy("doc_id")
        .agg(
            F.sum("n_syms").cast("bigint").alias("n_tokens"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "ids"))),
                    lambda s: s.ids,
                ),
                ",",
            ).alias("token_ids"),
        )
    )


QUERIES["bpe_encode_corpus"] = q_bpe_encode_corpus


def _bpe_encode_oracle() -> str:
    """DuckDB twin of q_bpe_encode_corpus: the same merge chain kept
    keyed by word, the same frequency-ranked vocab, per-word id
    strings, and the per-doc reassembly."""
    ctes = [
        """wc AS (
            SELECT w, count(*) AS c
            FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
                  FROM documents)
            GROUP BY 1
        )""",
        """wseq0 AS (
            SELECT w,
                   '|' || array_to_string(string_split(w, ''), '||') || '|'
                       AS seq, c
            FROM wc
        )""",
    ]
    for r in range(1, BPE_ROUNDS + 1):
        ctes.append(f"""wp{r} AS (
            SELECT s[i] AS w1, s[i + 1] AS w2, sum(c) AS cnt
            FROM (
                SELECT s, c, unnest(generate_series(1, len(s) - 1)) AS i
                FROM (SELECT list_filter(string_split(seq, '|'),
                                         x -> x <> '') AS s, c
                      FROM wseq{r - 1})
                WHERE len(s) >= 2
            )
            GROUP BY 1, 2
        )""")
        ctes.append(
            f"wb{r} AS (SELECT w1, w2 FROM wp{r}"
            " ORDER BY cnt DESC, w1, w2 LIMIT 1)"
        )
        ctes.append(f"""wseq{r} AS (
            SELECT w, replace(seq, '|' || w1 || '||' || w2 || '|',
                              '|' || w1 || w2 || '|') AS seq, c
            FROM wseq{r - 1}, wb{r}
        )""")
    last = BPE_ROUNDS
    ctes.append(f"""wsyms AS (
        SELECT w, i AS sympos, s[i] AS sym
        FROM (
            SELECT w, s, unnest(generate_series(1, len(s))) AS i
            FROM (SELECT w, list_filter(string_split(seq, '|'),
                                        x -> x <> '') AS s
                  FROM wseq{last})
        )
    )""")
    ctes.append("""vfreq AS (
        SELECT ws.sym, CAST(sum(wc.c) AS BIGINT) AS freq
        FROM wsyms ws JOIN wc USING (w)
        GROUP BY 1
    )""")
    ctes.append("""vocab AS (
        SELECT sym, CAST(row_number() OVER (ORDER BY freq DESC, sym)
                         AS INT) AS token_id
        FROM vfreq
    )""")
    ctes.append("""wtok AS (
        SELECT w, count(*) AS n_syms,
               string_agg(CAST(token_id AS VARCHAR), ','
                          ORDER BY sympos) AS ids
        FROM wsyms JOIN vocab USING (sym)
        GROUP BY w
    )""")
    ctes.append("""dwords AS (
        SELECT doc_id, i AS pos, w[i] AS wrd
        FROM (
            SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i
            FROM (SELECT doc_id, string_split(lower(text), ' ') AS w
                  FROM documents)
        )
        WHERE w[i] <> ''
    )""")
    return f"""
        WITH {', '.join(ctes)}
        SELECT doc_id,
               CAST(sum(n_syms) AS BIGINT) AS n_tokens,
               string_agg(ids, ',' ORDER BY pos) AS token_ids
        FROM dwords JOIN wtok ON dwords.wrd = wtok.w
        GROUP BY doc_id
    """


ORACLE["bpe_encode_corpus"] = _bpe_encode_oracle()


# ---------------------------------------------------------------------------
# Quality-classifier feature assembly.


def q_doc_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assemble the per-document TRAINING-FEATURE table for a quality
    classifier (the fastText/logreg quality-filter recipe: compute
    cheap signals at corpus scale, train a small model on them, filter
    with the model): one row per doc joining the surface-quality,
    lexical-diversity, repetition, and corpus-LM-fluency signal
    families, plus the heuristic keep-verdicts as weak labels.

    Composes four driver-proven member plans; every member is already
    doc-grain, so assembly is three doc_id equi-joins (co-partitioned
    by the same key — AQE coalesces to one exchange per side, no
    windows, no fan-out) and the oracle nests the member SQL twins.
    At 100 TB the members share one corpus scan when materialized
    through the same pipeline; the join cost is the feature table
    itself.
    """
    quality = q_text_quality(spark, sf_dir).select(
        "doc_id",
        "n_chars",
        "n_words",
        "avg_word_len",
        "stopword_ratio",
        "quality_score",
        F.col("is_kept").alias("heur_keep"),
    )
    entropy = q_text_entropy(spark, sf_dir).select(
        "doc_id", "n_distinct", "entropy_nats"
    )
    rep = q_text_repetition(spark, sf_dir).select(
        "doc_id", "dup_2gram_frac", "dup_3gram_frac", "is_repetitive"
    )
    lm = q_unigram_logprob(spark, sf_dir).select(
        "doc_id", "avg_neg_logprob"
    )
    return (
        quality.join(entropy, "doc_id")
        .join(rep, "doc_id", "left")
        .join(lm, "doc_id")
        .select(
            "doc_id",
            "n_chars",
            "n_words",
            "avg_word_len",
            "stopword_ratio",
            "quality_score",
            "n_distinct",
            "entropy_nats",
            F.coalesce("dup_2gram_frac", F.lit(0.0)).alias(
                "dup_2gram_frac"
            ),
            F.coalesce("dup_3gram_frac", F.lit(0.0)).alias(
                "dup_3gram_frac"
            ),
            "avg_neg_logprob",
            "heur_keep",
            F.coalesce("is_repetitive", F.lit(False)).alias(
                "is_repetitive"
            ),
        )
    )


QUERIES["doc_quality_features"] = q_doc_quality_features


def _features_oracle() -> str:
    return f"""
        WITH quality AS (
            SELECT doc_id, n_chars, n_words, avg_word_len,
                   stopword_ratio, quality_score, is_kept AS heur_keep
            FROM ({ORACLE["text_quality"]})
        ),
        entropy AS (
            SELECT doc_id, n_distinct, entropy_nats
            FROM ({ORACLE["text_entropy"]})
        ),
        rep AS (
            SELECT doc_id, dup_2gram_frac, dup_3gram_frac, is_repetitive
            FROM ({ORACLE["text_repetition"]})
        ),
        lm AS (
            SELECT doc_id, avg_neg_logprob
            FROM ({ORACLE["unigram_logprob"]})
        )
        SELECT q.doc_id, n_chars, n_words, avg_word_len, stopword_ratio,
               quality_score, n_distinct, entropy_nats,
               COALESCE(dup_2gram_frac, 0.0) AS dup_2gram_frac,
               COALESCE(dup_3gram_frac, 0.0) AS dup_3gram_frac,
               avg_neg_logprob, heur_keep,
               COALESCE(is_repetitive, FALSE) AS is_repetitive
        FROM quality q
        JOIN entropy USING (doc_id)
        LEFT JOIN rep USING (doc_id)
        JOIN lm USING (doc_id)
    """


ORACLE["doc_quality_features"] = _features_oracle()


# ---------------------------------------------------------------------------
# Class-based TF-IDF: characteristic terms per source.

CTFIDF_TOP_K = 3


def q_source_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Characteristic terms per SOURCE by class-based TF-IDF (the
    c-TF-IDF recipe behind BERTopic-style corpus characterization:
    treat each source's concatenated docs as one class document, score
    w by class_tf(w) * ln(1 + n_sources / source_df(w))) — the
    at-a-glance "what is this source about" report next to the
    doc-grain ``tfidf_top_terms``; the +1 smoothing keeps terms
    present in every source scored by their mass instead of zeroed.

    All work lives on the (source, word) grid: one token explode
    feeds the grid and the source-df aggregate (both map-combinable),
    the score is map-side arithmetic, the per-source top-k is a window
    over each source's distinct words (bounded by vocabulary, not
    corpus). ln rounded to 6 dp, score staged in DECIMAL, (score desc,
    word) tie-break — deterministic both engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    grid = (
        docs.select(
            "source", F.explode(F.split(F.lower("text"), " ")).alias("w")
        )
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = grid.groupBy("w").agg(F.count(F.lit(1)).alias("sdf"))
    n_sources = docs.select("source").distinct().agg(
        F.count(F.lit(1)).alias("n_sources")
    )
    scored = (
        grid.join(df, "w")
        .crossJoin(F.broadcast(n_sources))
        .select(
            "source",
            "w",
            "tf",
            (
                F.col("tf")
                * fround(
                    F.log(1.0 + F.col("n_sources") / F.col("sdf")), 6).cast("decimal(18,6)")
            ).cast("double").alias("ctfidf"),
        )
    )
    win = Window.partitionBy("source").orderBy(
        F.col("ctfidf").desc(), F.col("w")
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= CTFIDF_TOP_K)
        .select("source", "w", "tf", fround("ctfidf", 6).alias("ctfidf"), "rank")
    )


QUERIES["source_top_terms"] = q_source_top_terms

ORACLE["source_top_terms"] = f"""
    WITH grid AS (
        SELECT source, w, count(*) AS tf
        FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS w
              FROM documents)
        GROUP BY 1, 2
    ),
    sdf AS (SELECT w, count(*) AS sdf FROM grid GROUP BY 1),
    ns AS (SELECT count(DISTINCT source) AS n_sources FROM documents),
    scored AS (
        SELECT source, w, tf,
               CAST(tf * CAST(floor((ln(1.0 + n_sources
                                        / CAST(sdf AS DOUBLE))) * 1e6 + 0.5) / 1e6
                              AS DECIMAL(18,6)) AS DOUBLE) AS ctfidf
        FROM grid JOIN sdf USING (w), ns
    )
    SELECT source, w, tf, floor((ctfidf) * 1e6 + 0.5) / 1e6 AS ctfidf,
           CAST(rank AS INTEGER) AS rank
    FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY source ORDER BY ctfidf DESC, w
               ) AS rank
        FROM scored
    ) WHERE rank <= {CTFIDF_TOP_K}
"""


# ---------------------------------------------------------------------------
# Packing-efficiency QC: the acceptance report for q_pack_sequences.


def q_pack_efficiency_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source packing efficiency of the cumsum sequence packer: how
    full the training sequences actually are (mean fill), how often a
    straddling document overflows the budget, and how many pad tokens
    the underfull packs would burn — the numbers that decide whether
    the packing strategy (or MAX_SEQ_WORDS) needs retuning before a
    run burns compute on padding.

    Everything after ``q_pack_sequences``'s per-shard cumsum is two
    integer re-aggregations: (source, pack_id) totals, then the
    per-source rollup — exact BIGINT arithmetic, floats only in the
    final frounded ratios. Bounded output (one row per source).
    """
    packs = q_pack_sequences(spark, sf_dir)
    per_pack = packs.groupBy("source", "pack_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("pack_words"),
    )
    budget = F.lit(MAX_SEQ_WORDS)
    return (
        per_pack.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_packs"),
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("pack_words").cast("bigint").alias("total_words"),
            F.max("pack_words").cast("bigint").alias("max_pack_words"),
            F.sum(F.when(F.col("pack_words") > budget, 1).otherwise(0))
            .cast("bigint")
            .alias("n_overflow"),
            F.sum(
                F.when(
                    F.col("pack_words") < budget,
                    budget - F.col("pack_words"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("waste_words"),
        )
        .select(
            "source",
            "n_packs",
            "n_docs",
            "total_words",
            "max_pack_words",
            "n_overflow",
            "waste_words",
            fround(
                F.col("total_words").cast("double")
                / (F.col("n_packs").cast("double") * MAX_SEQ_WORDS),
                6,
            ).alias("mean_fill"),
            fround(
                F.col("n_overflow").cast("double") / F.col("n_packs"), 6
            ).alias("overflow_frac"),
        )
    )


QUERIES["pack_efficiency_report"] = q_pack_efficiency_report

ORACLE["pack_efficiency_report"] = f"""
    WITH packs AS ({ORACLE["pack_sequences"]}),
    per_pack AS (
        SELECT source, pack_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_words) AS BIGINT) AS pack_words
        FROM packs GROUP BY 1, 2
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_packs,
           CAST(sum(n_docs) AS BIGINT) AS n_docs,
           CAST(sum(pack_words) AS BIGINT) AS total_words,
           CAST(max(pack_words) AS BIGINT) AS max_pack_words,
           CAST(sum(CASE WHEN pack_words > {MAX_SEQ_WORDS} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_overflow,
           CAST(sum(CASE WHEN pack_words < {MAX_SEQ_WORDS}
                         THEN {MAX_SEQ_WORDS} - pack_words ELSE 0 END)
                AS BIGINT) AS waste_words,
           floor((CAST(sum(pack_words) AS DOUBLE)
                  / (CAST(count(*) AS DOUBLE) * {MAX_SEQ_WORDS}))
                 * 1e6 + 0.5) / 1e6 AS mean_fill,
           floor((CAST(sum(CASE WHEN pack_words > {MAX_SEQ_WORDS}
                               THEN 1 ELSE 0 END) AS DOUBLE)
                  / count(*)) * 1e6 + 0.5) / 1e6 AS overflow_frac
    FROM per_pack GROUP BY 1
"""


# ---------------------------------------------------------------------------
# quality_logistic_newton — a trained quality classifier, oracle-exact
# ---------------------------------------------------------------------------
# 2-parameter logistic fit (intercept + scaled word-count feature,
# labels = the text_quality keep rule) via LOGI_ROUNDS Newton/IRLS
# steps.  The reference has no ML surface; this is the
# training-data-pipeline "quality classifier" stage (fastText /
# CCNet-style doc filters) distilled to its distributed-systems core:
# per-step full-corpus gradient + Hessian aggregates and a scalar
# parameter update.  Cross-engine exactness demands no transcendental
# calls (libm exp() is NOT correctly-rounded and differs between the
# JVM and DuckDB), so the link is the RATIONAL sigmoid
# p(z) = 0.5 + 0.5 * z / (1 + |z|)   (Elliott 1993 "fast sigmoid"),
# whose derivative w(z) = 0.5 / (1 + |z|)^2 plays p(1-p)'s role in the
# IRLS weights — every per-row quantity is then a finite composition of
# IEEE-exact ops, bit-identical in both engines.
LOGI_ROUNDS = 3
LOGI_RIDGE = 0.001  # Tikhonov term on the Hessian diagonal


def _logi_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc (x = scaled word count, y = the text_quality keep flag).

    The label is the hand-written keep RULE from ``q_text_quality`` —
    the fit distills the rule into a calibrated smooth score
    (rule-to-model distillation, the standard bootstrap for a corpus
    quality classifier when no human labels exist yet).  Both columns
    are exact rational functions of integer counts."""
    docs = load_table(spark, sf_dir, "documents")
    padded = F.concat(F.lit(" "), F.lower("text"), F.lit(" "))
    n_words = (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        + 1
    )
    stop = sum((_count_occurrences(padded, t) for t in STOPWORDS), F.lit(0.0))
    score = (
        F.lit(0.5)
        + F.lit(0.5) * (stop / n_words - F.lit(0.05))
        - F.when(n_words < 20, F.lit(0.25)).otherwise(F.lit(0.0))
    )
    return docs.select(
        (n_words.cast("double") / F.lit(64.0)).alias("x"),
        F.when(score >= F.lit(0.4), F.lit(1.0)).otherwise(F.lit(0.0)).alias("y"),
    )


def _logi_p(z: F.Column) -> F.Column:
    return F.lit(0.5) + F.lit(0.5) * (z / (F.lit(1.0) + F.abs(z)))


def _logi_step(feats: DataFrame, beta: DataFrame | None) -> DataFrame:
    """One Newton step: corpus-wide gradient/Hessian sums (staged
    decimal — order-independent), then the 2x2 closed-form solve as
    scalar double arithmetic on the 1-row frame."""
    if beta is None:
        d = feats.select(
            "x", "y", F.lit(0.0).alias("b0"), F.lit(0.0).alias("b1")
        )
    else:
        d = feats.crossJoin(F.broadcast(beta)).select("x", "y", "b0", "b1")
    z = F.col("b0") + F.col("b1") * F.col("x")
    p = _logi_p(z)
    w = F.lit(0.5) / ((F.lit(1.0) + F.abs(z)) * (F.lit(1.0) + F.abs(z)))
    sums = (
        d.select(
            "b0",
            "b1",
            stage9(F.col("y") - p).alias("tg0"),
            stage9((F.col("y") - p) * F.col("x")).alias("tg1"),
            stage9(w).alias("tw"),
            stage9(w * F.col("x")).alias("twx"),
            stage9((w * F.col("x")) * F.col("x")).alias("twxx"),
        )
        .groupBy("b0", "b1")
        .agg(
            F.sum("tg0").cast("double").alias("g0"),
            F.sum("tg1").cast("double").alias("g1"),
            F.sum("tw").cast("double").alias("sw"),
            F.sum("twx").cast("double").alias("swx"),
            F.sum("twxx").cast("double").alias("swxx"),
        )
    )
    h00 = F.col("sw") + F.lit(LOGI_RIDGE)
    h01 = F.col("swx")
    h11 = F.col("swxx") + F.lit(LOGI_RIDGE)
    det = h00 * h11 - h01 * h01
    return sums.select(
        fround(
            F.col("b0") + (h11 * F.col("g0") - h01 * F.col("g1")) / det, 9
        ).alias("b0"),
        fround(
            F.col("b1") + (h00 * F.col("g1") - h01 * F.col("g0")) / det, 9
        ).alias("b1"),
    )


def q_quality_logistic_newton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newton-trained logistic quality classifier — coefficients and
    train metrics per round.

    Shape at 100 TB: each round is ONE full scan ending in a 5-number
    map-combined aggregate (the gradient/Hessian sums), the parameter
    update is arithmetic on a 1-row frame that broadcasts into the
    next scan — the textbook distributed-IRLS plan, LOGI_ROUNDS * scan
    total cost, nothing driver-side, no window, no shuffle wider than
    one row.  Determinism: rational sigmoid (module comment), 9-dp
    floor-staged DECIMAL sums, coefficients re-staged to the 9-dp grid
    after every step so the iterates are engine-portable; accuracy
    thresholds on z >= 0 (exact, monotone in p).  Output: one row per
    Newton round with (b0, b1, Brier score, accuracy) — the
    convergence trace a data-quality run would log.
    """
    feats = _logi_feats(spark, sf_dir)
    betas: list[DataFrame] = []
    b: DataFrame | None = None
    for _ in range(LOGI_ROUNDS):
        b = _logi_step(feats, b)
        betas.append(b)
    d = feats
    for i, bf in enumerate(betas, 1):
        d = d.crossJoin(
            F.broadcast(
                bf.select(
                    F.col("b0").alias(f"b0_{i}"), F.col("b1").alias(f"b1_{i}")
                )
            )
        )
    terms = []
    for i in range(1, LOGI_ROUNDS + 1):
        z = F.col(f"b0_{i}") + F.col(f"b1_{i}") * F.col("x")
        p = _logi_p(z)
        err = F.col("y") - p
        terms.append(stage9(err * err).alias(f"tb_{i}"))
        terms.append(
            F.when((z >= F.lit(0.0)) == (F.col("y") == F.lit(1.0)), 1)
            .otherwise(0)
            .alias(f"tc_{i}")
        )
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("y") == F.lit(1.0), 1).otherwise(0))
        .cast("bigint")
        .alias("n_pos"),
    ]
    for i in range(1, LOGI_ROUNDS + 1):
        aggs += [
            F.first(f"b0_{i}").alias(f"b0r_{i}"),
            F.first(f"b1_{i}").alias(f"b1r_{i}"),
            F.sum(f"tb_{i}").cast("double").alias(f"sb_{i}"),
            F.sum(f"tc_{i}").cast("bigint").alias(f"sc_{i}"),
        ]
    one = d.select("*", *terms).agg(*aggs)
    rows = [
        F.struct(
            F.lit(i).alias("round"),
            F.col(f"b0r_{i}").alias("b0"),
            F.col(f"b1r_{i}").alias("b1"),
            fround(F.col(f"sb_{i}") / F.col("n_docs"), 6).alias("brier"),
            fround(F.col(f"sc_{i}").cast("double") / F.col("n_docs"), 6).alias(
                "accuracy"
            ),
            F.col("n_docs"),
            F.col("n_pos"),
        )
        for i in range(1, LOGI_ROUNDS + 1)
    ]
    return one.select(F.explode(F.array(*rows)).alias("r")).select("r.*")


QUERIES["quality_logistic_newton"] = q_quality_logistic_newton


def _logi_p_sql(z: str) -> str:
    return f"0.5 + 0.5 * (({z}) / (1.0 + abs({z})))"


def _logi_train_ctes() -> list[str]:
    """The shared unrolled-Newton CTE chain (feats, b_0..b_N) — reused
    by the trainer oracle and the calibration-report oracle.

    Every expression mirrors the Spark column tree op-for-op (same
    literals, same association order), so each intermediate double is
    bit-identical; the staged-decimal sums are order-independent."""
    stop = " + ".join(
        _count_occurrences_sql("(' ' || lower(text) || ' ')", t)
        for t in STOPWORDS
    )

    def st(term: str) -> str:
        return f"CAST(floor(({term}) * 1e9 + 0.5) / 1e9 AS DECIMAL(28,9))"

    p_of = _logi_p_sql

    def w_of(z: str) -> str:
        return f"0.5 / ((1.0 + abs({z})) * (1.0 + abs({z})))"

    ctes = [
        f"""feats AS (
            SELECT CAST(length(text) - length(replace(text, ' ', '')) + 1
                        AS DOUBLE) / 64.0 AS x,
                   CASE WHEN 0.5 + 0.5 * ((0.0 + {stop})
                              / (length(text) - length(replace(text, ' ', '')) + 1)
                              - 0.05)
                            - (CASE WHEN (length(text)
                                          - length(replace(text, ' ', '')) + 1) < 20
                                    THEN 0.25 ELSE 0.0 END) >= 0.4
                        THEN 1.0 ELSE 0.0 END AS y
            FROM documents
        )""",
        "b_0 AS (SELECT 0.0 AS b0, 0.0 AS b1)",
    ]
    for r in range(1, LOGI_ROUNDS + 1):
        z = "(b0 + b1 * x)"
        p = p_of(z)
        w = w_of(z)
        ctes.append(f"""s_{r} AS (
            SELECT any_value(b0) AS b0, any_value(b1) AS b1,
                   CAST(sum({st(f"y - ({p})")}) AS DOUBLE) AS g0,
                   CAST(sum({st(f"(y - ({p})) * x")}) AS DOUBLE) AS g1,
                   CAST(sum({st(w)}) AS DOUBLE) AS sw,
                   CAST(sum({st(f"({w}) * x")}) AS DOUBLE) AS swx,
                   CAST(sum({st(f"(({w}) * x) * x")}) AS DOUBLE) AS swxx
            FROM feats CROSS JOIN b_{r - 1}
        )""")
        h00 = f"(sw + {LOGI_RIDGE})"
        h11 = f"(swxx + {LOGI_RIDGE})"
        det = f"({h00} * {h11} - swx * swx)"
        ctes.append(f"""b_{r} AS (
            SELECT floor((b0 + ({h11} * g0 - swx * g1) / {det})
                         * 1e9 + 0.5) / 1e9 AS b0,
                   floor((b1 + ({h00} * g1 - swx * g0) / {det})
                         * 1e9 + 0.5) / 1e9 AS b1
            FROM s_{r}
        )""")
    return ctes


def _logi_oracle() -> str:
    """Unrolled-rounds DuckDB twin of q_quality_logistic_newton."""
    ctes = _logi_train_ctes()
    p_of = _logi_p_sql

    def st(term: str) -> str:
        return f"CAST(floor(({term}) * 1e9 + 0.5) / 1e9 AS DECIMAL(28,9))"

    beta_cols = ", ".join(
        f"b_{r}.b0 AS b0_{r}, b_{r}.b1 AS b1_{r}"
        for r in range(1, LOGI_ROUNDS + 1)
    )
    joins = " ".join(f"CROSS JOIN b_{r}" for r in range(1, LOGI_ROUNDS + 1))
    ctes.append(f"m AS (SELECT f.x, f.y, {beta_cols} FROM feats f {joins})")
    selects = []
    for r in range(1, LOGI_ROUNDS + 1):
        z = f"(b0_{r} + b1_{r} * x)"
        p = p_of(z)
        selects.append(f"""
        SELECT CAST({r} AS INTEGER) AS round,
               any_value(b0_{r}) AS b0,
               any_value(b1_{r}) AS b1,
               floor((CAST(sum({st(f"(y - ({p})) * (y - ({p}))")}) AS DOUBLE)
                      / count(*)) * 1e6 + 0.5) / 1e6 AS brier,
               floor((CAST(sum(CASE WHEN ({z} >= 0.0) = (y = 1.0)
                                    THEN 1 ELSE 0 END) AS DOUBLE)
                      / count(*)) * 1e6 + 0.5) / 1e6 AS accuracy,
               count(*) AS n_docs,
               CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_pos
        FROM m""")
    return (
        "WITH " + ",\n".join(ctes) + "\nSELECT * FROM ("
        + " UNION ALL ".join(selects) + ")"
    )


ORACLE["quality_logistic_newton"] = _logi_oracle()


# Zipf head size: fit over the top-N ranks only — the rank-frequency
# log-log line is straight in the head and bends at the hapax tail, so
# fitting the full vocabulary measures the tail wall, not the law.
ZIPF_MAX_RANK = 1000


def q_text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus rank-frequency curve: OLS of
    ln(count) on ln(rank) over the top-ZIPF_MAX_RANK word ranks, with
    slope (Zipf exponent, ~-1 for natural text), intercept, and R² —
    the one-row corpus-health number that catches template/boilerplate
    corpora (|slope| too steep) and synthetic word salad (too flat,
    low R²) before training.

    Scale shape: the corpus collapses to the distinct-word grid in one
    exploded-scan aggregate; the GLOBAL (count desc, word) rank uses
    the banded two-phase prefix-rank (band = the count value, offsets
    windowed over the small distinct-count grid and broadcast back,
    row_number only within bands) — never a vocabulary-wide sort.
    Bands are PRUNED before the rank window: a band whose offset is
    already >= ZIPF_MAX_RANK cannot contribute a head rank, so the
    off < ZIPF_MAX_RANK filter drops it pre-window — under Zipf the
    cw=1 hapax band alone holds ~half the vocabulary, and without the
    prune one reducer would still sort it; the head filter then
    bounds everything downstream at ZIPF_MAX_RANK rows.
    Determinism: ln values 6-dp floor-staged (libm ln differs by ulps
    across engines; the unigram_logprob discipline), then the shared
    staged OLS kernel (``functions/ols.py``: 9-dp staged products,
    DECIMAL sums, the closed form in mirrored double arithmetic),
    guarded degenerate denominators.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("cw"))
    totals = vocab.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum("cw").cast("bigint").alias("n_tokens"),
    )
    grid = vocab.groupBy("cw").agg(F.count(F.lit(1)).alias("n_at"))
    wg = Window.orderBy(F.col("cw").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = grid.select(
        "cw",
        F.coalesce(F.sum("n_at").over(wg), F.lit(0)).cast("bigint").alias("off"),
    )
    wb = Window.partitionBy("cw").orderBy("w")
    head = (
        vocab.join(F.broadcast(offsets), "cw")
        .filter(F.col("off") < ZIPF_MAX_RANK)
        .select("cw", (F.col("off") + F.row_number().over(wb)).alias("r"))
        .filter(F.col("r") <= ZIPF_MAX_RANK)
    )
    x6 = fround(F.log(F.col("r").cast("double")), 6)
    y6 = fround(F.log(F.col("cw").cast("double")), 6)

    sums = head.select(x6.alias("x6"), y6.alias("y6")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_head"), *ols_sums()
    )
    cov, varx, vary, slope, intercept = ols_fit("n_head")
    return sums.crossJoin(F.broadcast(totals)).select(
        "n_types",
        "n_tokens",
        "n_head",
        F.when(varx > 0, fround(slope, 6)).otherwise(F.lit(0.0)).alias(
            "zipf_slope"
        ),
        F.when(varx > 0, fround(intercept, 6))
        .otherwise(F.lit(0.0))
        .alias("zipf_intercept"),
        F.when(
            (varx > 0) & (vary > 0), fround((cov * cov) / (varx * vary), 6)
        )
        .otherwise(F.lit(0.0))
        .alias("r2"),
    )


QUERIES["text_zipf_fit"] = q_text_zipf_fit

ORACLE["text_zipf_fit"] = f"""
    WITH vocab AS (
        SELECT w, count(*) AS cw
        FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
              FROM documents)
        GROUP BY 1
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_types,
               CAST(sum(cw) AS BIGINT) AS n_tokens
        FROM vocab
    ),
    head AS (
        SELECT cw, row_number() OVER (ORDER BY cw DESC, w) AS r
        FROM vocab QUALIFY r <= {ZIPF_MAX_RANK}
    ),
    staged AS (
        SELECT floor((ln(CAST(r AS DOUBLE))) * 1e6 + 0.5) / 1e6 AS x6,
               floor((ln(CAST(cw AS DOUBLE))) * 1e6 + 0.5) / 1e6 AS y6
        FROM head
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n_head,
               CAST(sum(CAST(x6 AS DECIMAL(25,6))) AS DOUBLE) AS sx,
               CAST(sum(CAST(y6 AS DECIMAL(25,6))) AS DOUBLE) AS sy,
               CAST(sum(CAST(floor((x6 * x6) * 1e9 + 0.5) / 1e9
                             AS DECIMAL(28,9))) AS DOUBLE) AS sxx,
               CAST(sum(CAST(floor((x6 * y6) * 1e9 + 0.5) / 1e9
                             AS DECIMAL(28,9))) AS DOUBLE) AS sxy,
               CAST(sum(CAST(floor((y6 * y6) * 1e9 + 0.5) / 1e9
                             AS DECIMAL(28,9))) AS DOUBLE) AS syy
        FROM staged
    )
    SELECT n_types, n_tokens, n_head,
           CASE WHEN (CAST(n_head AS DOUBLE) * sxx - sx * sx) > 0
                THEN floor(((CAST(n_head AS DOUBLE) * sxy - sx * sy)
                            / (CAST(n_head AS DOUBLE) * sxx - sx * sx))
                           * 1e6 + 0.5) / 1e6
                ELSE 0.0 END AS zipf_slope,
           CASE WHEN (CAST(n_head AS DOUBLE) * sxx - sx * sx) > 0
                THEN floor(((sy - ((CAST(n_head AS DOUBLE) * sxy - sx * sy)
                                   / (CAST(n_head AS DOUBLE) * sxx - sx * sx))
                                  * sx) / CAST(n_head AS DOUBLE))
                           * 1e6 + 0.5) / 1e6
                ELSE 0.0 END AS zipf_intercept,
           CASE WHEN (CAST(n_head AS DOUBLE) * sxx - sx * sx) > 0
                 AND (CAST(n_head AS DOUBLE) * syy - sy * sy) > 0
                THEN floor((((CAST(n_head AS DOUBLE) * sxy - sx * sy)
                             * (CAST(n_head AS DOUBLE) * sxy - sx * sy))
                            / ((CAST(n_head AS DOUBLE) * sxx - sx * sx)
                               * (CAST(n_head AS DOUBLE) * syy - sy * sy)))
                           * 1e6 + 0.5) / 1e6
                ELSE 0.0 END AS r2
    FROM s CROSS JOIN tot
"""


# ln 2 as a shared literal: Spark's and DuckDB's ln() agree here but a
# literal removes the dependency on libm entirely for this constant.
LN2 = 0.6931471805599453


def q_source_jsd_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Jensen-Shannon divergence between the source's word
    distribution and the whole corpus (Lin 1991) — THE distribution-
    shift number for corpus mixing: a source whose JSD jumps between
    crawls changed its content mix, and sources ranked by JSD tell you
    which ones make the mixture non-uniform (c-TF-IDF's
    source_top_terms says WHICH words; this says HOW FAR the whole
    distribution sits from the blend, bounded in [0, ln 2]).

    The off-support subtlety: KL(Q||M) sums over ALL corpus words, but
    for words ABSENT from the source, m = q/2 exactly, so those terms
    collapse to q·ln2 — giving JSD_s = ½ΣT_p + ½(ΣT_q + (1−Q(S))·ln2)
    where the sums run only over the source's OWN support S and Q(S)
    is exact integer mass. Everything therefore lives on the
    (source, word) grid: corpus counts re-aggregate from the grid's
    partials (never a second corpus scan), one keyed join on word, and
    the rollup collapses to |sources| rows. Determinism: ln terms 6-dp
    floor-staged into DECIMAL sums (the unigram_logprob discipline),
    support mass as exact integer sums, ln 2 as a shared literal.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "source", F.explode(F.split(F.lower("text"), " ")).alias("w")
    )
    grid = words.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    vocab = grid.groupBy("w").agg(F.sum("c").alias("cw"))
    src_tot = grid.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("ns"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
    )
    corpus_tot = vocab.agg(F.sum("cw").cast("bigint").alias("n"))
    j = (
        grid.join(vocab, "w")
        .join(src_tot, "source")
        .crossJoin(F.broadcast(corpus_tot))
    )
    p = F.col("c").cast("double") / F.col("ns").cast("double")
    q = F.col("cw").cast("double") / F.col("n").cast("double")
    m = F.lit(0.5) * (p + q)
    dec = "decimal(25,6)"
    per_src = j.groupBy("source").agg(
        F.first("ns").alias("n_words"),
        F.first("n_types").alias("n_types"),
        F.sum(fround(p * F.log(p / m), 6).cast(dec)).alias("_tp"),
        F.sum(fround(q * F.log(q / m), 6).cast(dec)).alias("_tq"),
        F.sum(F.col("cw").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("_cws"),
        F.first(F.col("n")).alias("_n"),
    )
    qs = F.col("_cws").cast("double") / F.col("_n").cast("double")
    jsd = F.lit(0.5) * F.col("_tp").cast("double") + F.lit(0.5) * (
        F.col("_tq").cast("double") + (F.lit(1.0) - qs) * F.lit(LN2)
    )
    return per_src.select(
        "source", "n_words", "n_types", fround(jsd, 6).alias("jsd")
    )


QUERIES["source_jsd_divergence"] = q_source_jsd_divergence

ORACLE["source_jsd_divergence"] = f"""
    WITH grid AS (
        SELECT source, w, count(*) AS c
        FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS w
              FROM documents)
        GROUP BY 1, 2
    ),
    vocab AS (SELECT w, sum(c) AS cw FROM grid GROUP BY 1),
    src_tot AS (
        SELECT source, CAST(sum(c) AS BIGINT) AS ns,
               CAST(count(*) AS BIGINT) AS n_types
        FROM grid GROUP BY 1
    ),
    corpus_tot AS (SELECT CAST(sum(cw) AS BIGINT) AS n FROM vocab),
    terms AS (
        SELECT g.source, s.ns, s.n_types, v.cw, t.n,
               CAST(g.c AS DOUBLE) / CAST(s.ns AS DOUBLE) AS p,
               CAST(v.cw AS DOUBLE) / CAST(t.n AS DOUBLE) AS q
        FROM grid g
        JOIN vocab v USING (w)
        JOIN src_tot s USING (source)
        CROSS JOIN corpus_tot t
    ),
    per_src AS (
        SELECT source,
               any_value(ns) AS n_words,
               any_value(n_types) AS n_types,
               sum(CAST(floor((p * ln(p / (0.5 * (p + q)))) * 1e6 + 0.5) / 1e6
                        AS DECIMAL(25,6))) AS tp,
               sum(CAST(floor((q * ln(q / (0.5 * (p + q)))) * 1e6 + 0.5) / 1e6
                        AS DECIMAL(25,6))) AS tq,
               CAST(sum(CAST(cw AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS cws,
               any_value(n) AS n
        FROM terms GROUP BY 1
    )
    SELECT source, n_words, n_types,
           floor((0.5 * CAST(tp AS DOUBLE)
                  + 0.5 * (CAST(tq AS DOUBLE)
                           + (1.0 - CAST(cws AS DOUBLE) / CAST(n AS DOUBLE))
                             * {LN2!r}))
                 * 1e6 + 0.5) / 1e6 AS jsd
    FROM per_src
"""


CAL_BINS = 10


def q_quality_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + expected calibration error (ECE;
    Naeini et al., AAAI 2015) for the Newton-trained quality
    classifier — the acceptance gate between "trained" and "usable as
    a filter threshold": per probability decile, the mean predicted
    keep-probability vs the observed keep rate, and the
    support-weighted mean absolute gap.

    Plan: re-runs the LOGI_ROUNDS training chain (each round one scan
    into a 5-number aggregate), then ONE scoring scan bins every doc
    map-side (bin = floor(10p), clamped); per-bin stats are a
    CAL_BINS-group aggregate; ECE is a second aggregate over the
    bounded bin grid with gap*count products in exact DECIMAL (a
    10-row double sum would be partition-order-dependent). Observed
    rates are exact integer ratios; predicted means 6-dp staged.
    """
    feats = _logi_feats(spark, sf_dir)
    b: DataFrame | None = None
    for _ in range(LOGI_ROUNDS):
        b = _logi_step(feats, b)
    z = F.col("b0") + F.col("b1") * F.col("x")
    p = _logi_p(z)
    scored = feats.crossJoin(F.broadcast(b)).select(
        "y",
        F.least(
            F.floor(p * F.lit(float(CAL_BINS))).cast("int"),
            F.lit(CAL_BINS - 1),
        ).alias("bin"),
        fround(p, 6).alias("p6"),
    )
    bins = scored.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("y") == F.lit(1.0), 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
        F.sum(F.col("p6").cast("decimal(25,6)")).alias("_sp"),
    )
    mean_p = fround(
        F.col("_sp").cast("double") / F.col("n_docs").cast("double"), 6
    )
    obs = fround(
        F.col("n_kept").cast("double") / F.col("n_docs").cast("double"), 6
    )
    binned = bins.select(
        "bin",
        "n_docs",
        "n_kept",
        mean_p.alias("mean_pred"),
        obs.alias("obs_rate"),
        fround(F.abs(mean_p - obs), 6).alias("gap"),
    )
    ece = binned.agg(
        F.sum(
            F.col("gap").cast("decimal(10,6)")
            * F.col("n_docs").cast("decimal(19,0)")
        ).alias("_sg"),
        F.sum("n_docs").cast("bigint").alias("_n"),
    ).select(
        fround(F.col("_sg").cast("double") / F.col("_n").cast("double"), 6).alias(
            "ece"
        )
    )
    return binned.crossJoin(F.broadcast(ece))


QUERIES["quality_calibration_report"] = q_quality_calibration_report


def _cal_oracle() -> str:
    ctes = _logi_train_ctes()
    z = f"(b0 + b1 * x)"
    p = _logi_p_sql(z)
    ctes.append(f"""scored AS (
        SELECT y,
               least(CAST(floor(({p}) * {float(CAL_BINS)!r}) AS INT),
                     {CAL_BINS - 1}) AS bin,
               floor(({p}) * 1e6 + 0.5) / 1e6 AS p6
        FROM feats CROSS JOIN b_{LOGI_ROUNDS}
    )""")
    ctes.append("""bins AS (
        SELECT bin,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept,
               sum(CAST(p6 AS DECIMAL(25,6))) AS sp
        FROM scored GROUP BY 1
    )""")
    ctes.append("""binned AS (
        SELECT bin, n_docs, n_kept,
               floor((CAST(sp AS DOUBLE) / CAST(n_docs AS DOUBLE))
                     * 1e6 + 0.5) / 1e6 AS mean_pred,
               floor((CAST(n_kept AS DOUBLE) / CAST(n_docs AS DOUBLE))
                     * 1e6 + 0.5) / 1e6 AS obs_rate,
               floor((abs(floor((CAST(sp AS DOUBLE) / CAST(n_docs AS DOUBLE))
                                * 1e6 + 0.5) / 1e6
                          - floor((CAST(n_kept AS DOUBLE)
                                   / CAST(n_docs AS DOUBLE))
                                  * 1e6 + 0.5) / 1e6))
                     * 1e6 + 0.5) / 1e6 AS gap
        FROM bins
    )""")
    ctes.append("""ece AS (
        SELECT floor((CAST(sum(CAST(gap AS DECIMAL(10,6))
                               * CAST(n_docs AS DECIMAL(19,0))) AS DOUBLE)
                      / CAST(sum(n_docs) AS DOUBLE)) * 1e6 + 0.5) / 1e6
                   AS ece
        FROM binned
    )""")
    return (
        "WITH " + ",\n".join(ctes)
        + "\nSELECT bin, n_docs, n_kept, mean_pred, obs_rate, gap, ece"
        + "\nFROM binned CROSS JOIN ece"
    )


ORACLE["quality_calibration_report"] = _cal_oracle()


# ---------------------------------------------------------------------------
# text_heaps_fit — Heaps'-law vocabulary-growth fit (the companion
# corpus-health number to text_zipf_fit: V(n) = K·n^beta)
# ---------------------------------------------------------------------------

# Documents per cumulative-sum band: the per-doc running totals are
# computed band-locally (window partitioned by band) plus a band-offset
# lookup, so no window ever orders the full doc grain on one reducer.
HEAPS_BAND = 4096


def q_text_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit of vocabulary growth: OLS of ln(cumulative
    distinct words) on ln(cumulative tokens) over the doc_id-ordered
    corpus prefix curve — slope is the Heaps exponent beta (~0.4-0.6
    for natural text; near 0 = closed/template vocabulary, near 1 =
    noise/ids where every token is new), the one-row companion to
    ``text_zipf_fit`` (Heaps and Zipf are two views of the same
    heavy-tailed vocabulary process).

    The cumulative TYPE count is made distributable by the
    first-occurrence trick: V at doc d = #{words whose MIN doc_id <=
    d}, so one (word -> min doc_id) aggregate turns "distinct so far"
    into a plain cumulative SUM of per-doc new-type counts. Both
    cumulative sums run BANDED (band = doc_id div HEAPS_BAND): band
    totals -> exclusive prefix offsets windowed over the small band
    grid and broadcast back, intra-band running sums windowed within
    each band — never a corpus-wide single-reducer window (the
    text_zipf_fit banded-rank discipline). The OLS is text_zipf_fit's:
    6-dp floor-staged ln values into the shared staged OLS kernel
    (``functions/ols.py``), guarded degenerate denominators.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.size(F.split(F.lower("text"), " ")).cast("bigint").alias("tok"),
    )
    words = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w")
    )
    newty = (
        words.groupBy("w")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nt"))
    )
    grid = (
        toks.join(newty, "doc_id", "left")
        .select(
            "doc_id",
            "tok",
            F.coalesce("nt", F.lit(0)).cast("bigint").alias("nt"),
            F.floor(F.col("doc_id") / F.lit(HEAPS_BAND)).alias("band"),
        )
    )
    btot = grid.groupBy("band").agg(
        F.sum("tok").alias("btok"), F.sum("nt").alias("bnt")
    )
    wb = Window.orderBy("band").rowsBetween(Window.unboundedPreceding, -1)
    offs = btot.select(
        "band",
        F.coalesce(F.sum("btok").over(wb), F.lit(0)).alias("otok"),
        F.coalesce(F.sum("bnt").over(wb), F.lit(0)).alias("ont"),
    )
    wi = (
        Window.partitionBy("band")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    curve = grid.join(F.broadcast(offs), "band").select(
        (F.col("otok") + F.sum("tok").over(wi)).alias("n"),
        (F.col("ont") + F.sum("nt").over(wi)).alias("v"),
    )
    x6 = fround(F.log(F.col("n").cast("double")), 6)
    y6 = fround(F.log(F.col("v").cast("double")), 6)

    sums = curve.select(x6.alias("x6"), y6.alias("y6"), "n", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.max("n").cast("bigint").alias("n_tokens"),
        F.max("v").cast("bigint").alias("n_types"),
        *ols_sums(),
    )
    cov, varx, vary, slope, intercept = ols_fit("n_docs")
    return sums.select(
        "n_docs",
        "n_tokens",
        "n_types",
        F.when(varx > 0, fround(slope, 6)).otherwise(F.lit(0.0)).alias(
            "heaps_beta"
        ),
        F.when(varx > 0, fround(intercept, 6))
        .otherwise(F.lit(0.0))
        .alias("heaps_intercept"),
        F.when(
            (varx > 0) & (vary > 0), fround((cov * cov) / (varx * vary), 6)
        )
        .otherwise(F.lit(0.0))
        .alias("r2"),
    )


QUERIES["text_heaps_fit"] = q_text_heaps_fit

ORACLE["text_heaps_fit"] = """
    WITH toks AS (
        SELECT doc_id,
               len(string_split(lower(text), ' ')) AS tok
        FROM documents
    ),
    words AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        FROM documents
    ),
    newty AS (
        SELECT doc_id, count(*) AS nt
        FROM (SELECT w, min(doc_id) AS doc_id FROM words GROUP BY 1)
        GROUP BY 1
    ),
    curve AS (
        SELECT sum(t.tok) OVER (ORDER BY t.doc_id) AS n,
               sum(coalesce(nw.nt, 0)) OVER (ORDER BY t.doc_id) AS v
        FROM toks t LEFT JOIN newty nw USING (doc_id)
    ),
    staged AS (
        SELECT floor((ln(CAST(n AS DOUBLE))) * 1e6 + 0.5) / 1e6 AS x6,
               floor((ln(CAST(v AS DOUBLE))) * 1e6 + 0.5) / 1e6 AS y6,
               n, v
        FROM curve
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(max(n) AS BIGINT) AS n_tokens,
               CAST(max(v) AS BIGINT) AS n_types,
               CAST(sum(CAST(x6 AS DECIMAL(25,6))) AS DOUBLE) AS sx,
               CAST(sum(CAST(y6 AS DECIMAL(25,6))) AS DOUBLE) AS sy,
               CAST(sum(CAST(floor((x6 * x6) * 1e9 + 0.5) / 1e9
                             AS DECIMAL(28,9))) AS DOUBLE) AS sxx,
               CAST(sum(CAST(floor((x6 * y6) * 1e9 + 0.5) / 1e9
                             AS DECIMAL(28,9))) AS DOUBLE) AS sxy,
               CAST(sum(CAST(floor((y6 * y6) * 1e9 + 0.5) / 1e9
                             AS DECIMAL(28,9))) AS DOUBLE) AS syy
        FROM staged
    )
    SELECT n_docs, n_tokens, n_types,
           CASE WHEN (CAST(n_docs AS DOUBLE) * sxx - sx * sx) > 0
                THEN floor(((CAST(n_docs AS DOUBLE) * sxy - sx * sy)
                            / (CAST(n_docs AS DOUBLE) * sxx - sx * sx))
                           * 1e6 + 0.5) / 1e6
                ELSE 0.0 END AS heaps_beta,
           CASE WHEN (CAST(n_docs AS DOUBLE) * sxx - sx * sx) > 0
                THEN floor(((sy - ((CAST(n_docs AS DOUBLE) * sxy - sx * sy)
                                   / (CAST(n_docs AS DOUBLE) * sxx - sx * sx))
                                  * sx) / CAST(n_docs AS DOUBLE))
                           * 1e6 + 0.5) / 1e6
                ELSE 0.0 END AS heaps_intercept,
           CASE WHEN (CAST(n_docs AS DOUBLE) * sxx - sx * sx) > 0
                 AND (CAST(n_docs AS DOUBLE) * syy - sy * sy) > 0
                THEN floor((((CAST(n_docs AS DOUBLE) * sxy - sx * sy)
                             * (CAST(n_docs AS DOUBLE) * sxy - sx * sy))
                            / ((CAST(n_docs AS DOUBLE) * sxx - sx * sx)
                               * (CAST(n_docs AS DOUBLE) * syy - sy * sy)))
                           * 1e6 + 0.5) / 1e6
                ELSE 0.0 END AS r2
    FROM s
"""


# ---------------------------------------------------------------------------
# rake_keywords — RAKE keyword extraction (Rose et al. 2010): stopword-
# delimited candidate phrases scored by member-word deg/freq
# ---------------------------------------------------------------------------

RAKE_TOP_K = 50


def _rake_occ(docs: DataFrame, keys: tuple[str, ...]) -> DataFrame:
    """RAKE candidate-phrase occurrences: tokenize + gaps-and-islands
    segmentation (windows PER DOCUMENT — stopwords and word boundaries
    delimit maximal non-stopword runs). One row per (doc, run) with
    the phrase text and its word count — the shared segmentation stage
    every RAKE surface (batch, per-source, streaming IVM) derives its
    grids from, so a segmentation fix can never reach one and miss
    another."""
    k = list(keys)
    wp = docs.select(
        *k,
        "doc_id",
        F.posexplode(F.split(F.lower("text"), " ")).alias("p0", "w"),
    ).select(*k, "doc_id", (F.col("p0") + 1).alias("p"), "w")
    nonstop = wp.filter(
        (~F.col("w").isin(*STOPWORDS)) & (F.col("w") != "")
    )
    wn = Window.partitionBy("doc_id").orderBy("p")
    runs = nonstop.select(
        *k, "doc_id", "p", "w",
        (F.col("p") - F.row_number().over(wn)).alias("grp"),
    )
    return runs.groupBy(*k, "doc_id", "grp").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "w"))),
                lambda x: x["w"],
            ),
        ).alias("phrase"),
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
    )


def _rake_word_grid(occ: DataFrame, keys: tuple[str, ...]) -> DataFrame:
    """(keys, w) -> (freq, deg) over candidate occurrences — both
    ADDITIVE in the occurrence rows, which is what makes the grid
    incrementally maintainable batch by batch."""
    k = list(keys)
    return (
        occ.select(
            *k, F.explode(F.split("phrase", " ")).alias("w"), "n_words"
        )
        .groupBy(*k, "w")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("freq"),
            F.sum("n_words").cast("bigint").alias("deg"),
        )
    )


def _rake_phrase_grid(occ: DataFrame, keys: tuple[str, ...]) -> DataFrame:
    """(keys, phrase) -> (n_words, freq): freq ADDITIVE in occurrence
    rows, n_words a constant-per-phrase max lattice."""
    k = list(keys)
    return occ.groupBy(*k, "phrase").agg(
        F.max("n_words").cast("bigint").alias("n_words"),
        F.count(F.lit(1)).cast("bigint").alias("freq"),
    )


def _rake_score_phrases(
    uniq: DataFrame, wordstats: DataFrame, keys: tuple[str, ...]
) -> DataFrame:
    """Score phrases from the two grids: word score = deg/freq (6-dp
    floor-staged, DECIMAL-summed), phrase score = sum of member-word
    scores. Pure derivation — identical whether the grids came from
    one batch pass or from incremental maintenance."""
    k = list(keys)
    wscore = wordstats.select(
        *k, "w",
        fround(F.col("deg").cast("double") / F.col("freq").cast("double"), 6)
        .cast("decimal(25,6)")
        .alias("ws"),
    )
    return (
        uniq.select(*k, "phrase", "n_words", "freq",
                    F.explode(F.split("phrase", " ")).alias("w"))
        .join(wscore, [*k, "w"])
        .groupBy(*k, "phrase", "n_words", "freq")
        .agg(F.sum("ws").cast("double").alias("score"))
    )


def _rake_scored(docs: DataFrame, keys: tuple[str, ...]) -> DataFrame:
    """The RAKE pipeline shared by the corpus-level and per-source
    entries — composed from the stages above. Returns the scored
    phrase grid with columns ``*keys, phrase, n_words, freq, score``."""
    occ = _rake_occ(docs, keys)
    return _rake_score_phrases(
        _rake_phrase_grid(occ, keys), _rake_word_grid(occ, keys), keys
    )


def q_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level RAKE keyword extraction (Rose et al. 2010, "Rapid
    Automatic Keyword Extraction"): candidate phrases are maximal runs
    of consecutive non-stopword tokens (stopwords and word boundaries
    delimit), each word is scored deg(w)/freq(w) over ALL candidate
    occurrences (deg = sum of containing-phrase lengths — co-occurrence
    degree including self; freq = occurrence count), and a phrase
    scores the sum of its member-word scores — multi-word technical
    terms outrank their individual words, the property TF-IDF lacks.
    Output: the corpus's top-``RAKE_TOP_K`` phrases by (score desc,
    phrase) with occurrence counts — the keyword/topic-label signal
    next to ``source_top_terms``'s c-TF-IDF (which characterizes
    SOURCES; this characterizes the corpus's phrase vocabulary).

    Scale shape: phrase segmentation is the gaps-and-islands trick on
    the posexploded token grid — group key = position minus the
    non-stopword run rank, windowed PER DOCUMENT (partition bounded by
    document length, never corpus-wide); phrase assembly is one
    order-restoring array_sort aggregate per (doc, run) (the
    dedup_lines pattern); word stats and phrase stats are two
    map-combinable count/sum aggregates on word/phrase grids (bounded
    by vocabulary and distinct-phrase count); the final top-k is a
    distributed TakeOrdered (orderBy+limit), never a global sort.
    Determinism: per-word scores are 6-dp floor-staged and summed as
    DECIMAL (a float sum over phrase members would be
    partition-order-dependent), ties at the cut broken by the unique
    phrase text.
    """
    docs = load_table(spark, sf_dir, "documents")
    scored = _rake_scored(docs, ())
    return scored.orderBy(F.col("score").desc(), "phrase").limit(RAKE_TOP_K)


QUERIES["rake_keywords"] = q_rake_keywords

ORACLE["rake_keywords"] = f"""
    WITH wp AS (
        SELECT doc_id, w[i] AS w, i AS p
        FROM (SELECT doc_id, string_split(lower(text), ' ') AS w,
                     unnest(generate_series(1,
                         len(string_split(lower(text), ' ')))) AS i
              FROM documents)
    ),
    runs AS (
        SELECT doc_id, p, w,
               p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
        FROM wp
        WHERE w NOT IN {str(tuple(STOPWORDS))} AND w <> ''
    ),
    occ AS (
        SELECT doc_id, grp,
               string_agg(w, ' ' ORDER BY p) AS phrase,
               CAST(count(*) AS BIGINT) AS n_words
        FROM runs GROUP BY 1, 2
    ),
    wordstats AS (
        SELECT w,
               CAST(count(*) AS BIGINT) AS freq,
               CAST(sum(n_words) AS BIGINT) AS deg
        FROM (SELECT unnest(string_split(phrase, ' ')) AS w, n_words
              FROM occ)
        GROUP BY 1
    ),
    wscore AS (
        SELECT w,
               CAST(floor((CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE))
                          * 1e6 + 0.5) / 1e6 AS DECIMAL(25,6)) AS ws
        FROM wordstats
    ),
    uniq AS (
        SELECT phrase,
               CAST(max(n_words) AS BIGINT) AS n_words,
               CAST(count(*) AS BIGINT) AS freq
        FROM occ GROUP BY 1
    ),
    scored AS (
        SELECT u.phrase, u.n_words, u.freq,
               CAST(sum(s.ws) AS DOUBLE) AS score
        FROM (SELECT phrase, n_words, freq,
                     unnest(string_split(phrase, ' ')) AS w
              FROM uniq) u
        JOIN wscore s USING (w)
        GROUP BY 1, 2, 3
    )
    SELECT phrase, n_words, freq, score
    FROM scored
    ORDER BY score DESC, phrase
    LIMIT {RAKE_TOP_K}
"""


# ---------------------------------------------------------------------------
# rake_keywords_by_source — per-source RAKE phrase characterization: the
# keyword profile of each SOURCE, not the corpus (reference parity: the
# per-segment flavor of the corpus-level extraction above)
# ---------------------------------------------------------------------------

RAKE_SRC_TOP_K = 10


def q_rake_keywords_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE RAKE keyword extraction (Rose et al. 2010): the same
    stopword-delimited phrase segmentation and deg/freq word scoring as
    ``rake_keywords``, but with every statistic grouped by the
    document's ``source`` — word degree/frequency are computed within
    each source's own candidate occurrences, so a phrase's score
    reflects that source's phrase vocabulary, and the output is the top
    ``RAKE_SRC_TOP_K`` phrases PER source (the per-segment
    characterization signal next to ``source_top_terms``'s c-TF-IDF:
    that ranks single terms by cross-source contrast; this ranks
    multi-word phrases by within-source co-occurrence).

    Scale shape: identical to ``rake_keywords`` — per-document
    gaps-and-islands segmentation (windows partitioned by doc_id,
    bounded by document length), word/phrase stats as map-combinable
    aggregates on (source, word) / (source, phrase) grids (bounded by
    per-source vocabulary), and the per-source top-k as a row_number
    window over the scored PHRASE GRID partitioned by source — a
    bounded-grid window (distinct phrases per source), never a window
    over raw rows. Determinism: per-word scores 6-dp floor-staged and
    DECIMAL-summed; ties broken by the unique phrase text within a
    source.
    """
    docs = load_table(spark, sf_dir, "documents")
    scored = _rake_scored(docs, ("source",))
    rk = Window.partitionBy("source").orderBy(
        F.col("score").desc(), "phrase"
    )
    return (
        scored.withColumn("rank", F.row_number().over(rk))
        .filter(F.col("rank") <= RAKE_SRC_TOP_K)
        .select("source", "rank", "phrase", "n_words", "freq", "score")
    )


QUERIES["rake_keywords_by_source"] = q_rake_keywords_by_source

ORACLE["rake_keywords_by_source"] = f"""
    WITH wp AS (
        SELECT source, doc_id, w[i] AS w, i AS p
        FROM (SELECT source, doc_id, string_split(lower(text), ' ') AS w,
                     unnest(generate_series(1,
                         len(string_split(lower(text), ' ')))) AS i
              FROM documents)
    ),
    runs AS (
        SELECT source, doc_id, p, w,
               p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
        FROM wp
        WHERE w NOT IN {str(tuple(STOPWORDS))} AND w <> ''
    ),
    occ AS (
        SELECT source, doc_id, grp,
               string_agg(w, ' ' ORDER BY p) AS phrase,
               CAST(count(*) AS BIGINT) AS n_words
        FROM runs GROUP BY 1, 2, 3
    ),
    wordstats AS (
        SELECT source, w,
               CAST(count(*) AS BIGINT) AS freq,
               CAST(sum(n_words) AS BIGINT) AS deg
        FROM (SELECT source, unnest(string_split(phrase, ' ')) AS w,
                     n_words
              FROM occ)
        GROUP BY 1, 2
    ),
    wscore AS (
        SELECT source, w,
               CAST(floor((CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE))
                          * 1e6 + 0.5) / 1e6 AS DECIMAL(25,6)) AS ws
        FROM wordstats
    ),
    uniq AS (
        SELECT source, phrase,
               CAST(max(n_words) AS BIGINT) AS n_words,
               CAST(count(*) AS BIGINT) AS freq
        FROM occ GROUP BY 1, 2
    ),
    scored AS (
        SELECT u.source, u.phrase, u.n_words, u.freq,
               CAST(sum(s.ws) AS DOUBLE) AS score
        FROM (SELECT source, phrase, n_words, freq,
                     unnest(string_split(phrase, ' ')) AS w
              FROM uniq) u
        JOIN wscore s ON u.source = s.source AND u.w = s.w
        GROUP BY 1, 2, 3, 4
    )
    SELECT source,
           CAST(row_number() OVER (PARTITION BY source
                                   ORDER BY score DESC, phrase)
                AS INTEGER) AS rank,
           phrase, n_words, freq, score
    FROM scored
    QUALIFY rank <= {RAKE_SRC_TOP_K}
"""


# ---------------------------------------------------------------------------
# text_mattr — moving-average type-token ratio (Covington & McFall 2010):
# the length-independent lexical-diversity signal
# ---------------------------------------------------------------------------

MATTR_WINDOW = 25


def q_text_mattr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc MATTR (Moving-Average Type-Token Ratio, Covington &
    McFall, J. Quant. Linguistics 2010): the mean type-token ratio
    over every length-``MATTR_WINDOW`` sliding window of the token
    sequence — the standard fix for plain TTR's text-length bias (TTR
    falls as any text grows, so it can't compare docs of different
    lengths; MATTR is length-invariant). Low MATTR = repetitive/
    templated text the entropy gate sees globally but not positionally
    (``text_repetition``'s companion at token grain). Docs shorter
    than the window fall back to plain TTR (the published convention).

    The naive form materializes tokens x windows pairs; this one is
    CLOSED-FORM per token via the first-occurrence trick
    (``text_heaps_fit``'s discipline): token at position p is counted
    as a type in window [s, s+W-1] iff its previous occurrence sits
    before s, so its total contribution over all windows is the length
    of the s-interval [max(p-W+1, prev_occ+1), min(p, n-W+1)] — one
    lag window per (doc, token) and pure arithmetic; Sum(TTR) =
    Sum(contrib) / W. Scale shape: one posexplode, a per-(doc, token)
    lag (partition bounded by within-doc repeats of one token), one
    per-doc max window, one map-combinable doc aggregate — nothing
    corpus-wide. Determinism: the numerator is an exact BIGINT; the
    single final division is 6-dp floor-staged."""
    docs = load_table(spark, sf_dir, "documents")
    W = MATTR_WINDOW
    wp = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), " ")).alias("p0", "w"),
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "w")
    wtok = Window.partitionBy("doc_id", "w").orderBy("p")
    wdoc = Window.partitionBy("doc_id")
    toks = wp.select(
        "doc_id",
        "p",
        F.coalesce(F.lag("p").over(wtok), F.lit(0)).alias("prev"),
        F.max("p").over(wdoc).alias("n"),
    )
    last_start = F.col("n") - F.lit(W - 1)  # n - W + 1
    contrib = F.greatest(
        F.lit(0).cast("bigint"),
        (
            F.least(F.col("p"), last_start)
            - F.greatest(F.col("p") - F.lit(W - 1), F.col("prev") + 1)
            + F.lit(1)
        ).cast("bigint"),
    )
    per_doc = toks.groupBy("doc_id").agg(
        F.max("n").cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("prev") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_types"),
        F.sum(contrib).cast("bigint").alias("_contrib"),
    )
    n = F.col("n_tokens")
    n_windows = F.greatest(n - F.lit(W - 1), F.lit(0).cast("bigint"))
    mattr = F.when(
        n >= W,
        fround(
            F.col("_contrib").cast("double")
            / (F.lit(float(W)) * n_windows.cast("double")),
            6,
        ),
    ).otherwise(
        fround(F.col("n_types").cast("double") / n.cast("double"), 6)
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_types",
        n_windows.alias("n_windows"),
        mattr.alias("mattr"),
    )


QUERIES["text_mattr"] = q_text_mattr

ORACLE["text_mattr"] = f"""
    WITH wp AS (
        SELECT doc_id, w[i] AS w, i AS p
        FROM (SELECT doc_id, string_split(lower(text), ' ') AS w,
                     unnest(generate_series(1,
                         len(string_split(lower(text), ' ')))) AS i
              FROM documents)
    ),
    toks AS (
        SELECT doc_id, p,
               coalesce(lag(p) OVER (PARTITION BY doc_id, w ORDER BY p),
                        0) AS prev,
               max(p) OVER (PARTITION BY doc_id) AS n
        FROM wp
    ),
    per_doc AS (
        SELECT doc_id,
               CAST(max(n) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN prev = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_types,
               CAST(sum(greatest(0,
                   least(p, n - {MATTR_WINDOW - 1})
                   - greatest(p - {MATTR_WINDOW - 1}, prev + 1)
                   + 1)) AS BIGINT) AS contrib
        FROM toks GROUP BY 1
    )
    SELECT doc_id, n_tokens, n_types,
           CAST(greatest(n_tokens - {MATTR_WINDOW - 1}, 0) AS BIGINT)
               AS n_windows,
           CASE WHEN n_tokens >= {MATTR_WINDOW}
                THEN floor((CAST(contrib AS DOUBLE)
                            / ({MATTR_WINDOW}.0
                               * CAST(greatest(n_tokens
                                      - {MATTR_WINDOW - 1}, 0) AS DOUBLE)))
                           * 1e6 + 0.5) / 1e6
                ELSE floor((CAST(n_types AS DOUBLE)
                            / CAST(n_tokens AS DOUBLE)) * 1e6 + 0.5) / 1e6
           END AS mattr
    FROM per_doc
"""


# ---------------------------------------------------------------------------
# text_mtld — Measure of Textual Lexical Diversity (McCarthy & Jarvis,
# Behavior Research Methods 2010): the SEQUENTIAL diversity signal —
# mean factor length at the 0.72 TTR threshold, forward and backward
# ---------------------------------------------------------------------------

MTLD_THRESHOLD_NUM = 18  # 0.72 as the exact rational 18/25: the
MTLD_THRESHOLD_DEN = 25  # factor-close test is pure INTEGER arithmetic
# (types * 25 < 18 * tokens), so no float-division boundary can ever
# disagree across engines.


def _mtld_walk(tokens: list):
    """One direction of the MTLD factor walk, all-integer state:
    token p is a NEW type within the current factor iff its previous
    occurrence sits before the factor start (the first-occurrence
    trick at factor grain — no per-factor set needed, which is what
    makes the walk replayable by a SQL recursive CTE). Returns
    (full_factors, partial_tokens, partial_types)."""
    last: dict = {}
    prev = []
    for p, t in enumerate(tokens, 1):
        prev.append(last.get(t, 0))
        last[t] = p
    start, ft, fy, full = 1, 0, 0, 0
    for p in range(1, len(tokens) + 1):
        ft += 1
        if prev[p - 1] < start:
            fy += 1
        if fy * MTLD_THRESHOLD_DEN < MTLD_THRESHOLD_NUM * ft:
            full += 1
            start = p + 1
            ft = fy = 0
    return full, ft, fy


def _mtld_factors(full: int, ft: int, fy: int) -> float:
    """full factors + the published partial-factor remainder
    (1 - TTR) / (1 - 0.72) — a partial factor never closed, so its
    TTR >= 0.72 and the remainder lies in [0, 1). One double division
    on exact integers: identical IEEE result in any engine."""
    if ft == 0:
        return float(full)
    return full + (25.0 * (ft - fy)) / (7.0 * ft)


def q_text_mtld(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc MTLD (McCarthy & Jarvis 2010): walk the token sequence
    keeping a running type-token ratio; each time TTR drops below
    0.72 a FACTOR completes and the ratio resets; MTLD = n_tokens /
    factors, averaged over the forward and backward walks — the
    SEQUENTIAL lexical-diversity measure (MATTR's companion: MATTR
    averages fixed windows, MTLD measures how far the text travels
    before diversity exhausts, so positional structure matters, not
    just window composition). All-distinct docs never complete a
    factor (remainder 0) and yield NULL.

    This walk is genuinely sequential per document — the documented
    carve-out: an Arrow-batched ``mapInPandas`` over the (doc_id,
    text) scan, one Python pass per doc, ZERO shuffles (the codec
    family's plan shape; at 100 TB this is an embarrassingly parallel
    single scan). Determinism: the factor-close test is exact integer
    arithmetic (types*25 < 18*tokens), the walk state is integers,
    and the three final doubles (remainder, per-direction MTLD, their
    mean) are fixed IEEE expression trees on those integers — the
    oracle replays the SAME walk as a recursive CTE using the
    prev-occurrence-vs-factor-start trick, no per-factor set."""
    import math
    from collections.abc import Iterator

    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def _stage(x: float) -> float:
        return math.floor(x * 1e6 + 0.5) / 1e6

    def _mtld(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": [], "n_tokens": [],
                "factors_fwd": [], "factors_bwd": [], "mtld": [],
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                tokens = text.lower().split(" ")
                n = len(tokens)
                ff = _mtld_factors(*_mtld_walk(tokens))
                fb = _mtld_factors(*_mtld_walk(tokens[::-1]))
                out["doc_id"].append(int(doc_id))
                out["n_tokens"].append(n)
                out["factors_fwd"].append(_stage(ff))
                out["factors_bwd"].append(_stage(fb))
                out["mtld"].append(
                    _stage((n / ff + n / fb) / 2.0)
                    if ff > 0 and fb > 0
                    else None
                )
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        _mtld,
        schema="doc_id long, n_tokens long, factors_fwd double, "
               "factors_bwd double, mtld double",
    )


QUERIES["text_mtld"] = q_text_mtld

# The oracle replays the identical integer-state walk as a recursive
# CTE: all docs advance one token per iteration; "new type in factor"
# is prev_occ < factor_start (forward) / next_occ-as-reversed-prev <
# factor_start (backward) — both plain window precomputes.
ORACLE["text_mtld"] = """
    WITH RECURSIVE wp AS (
        SELECT doc_id, i AS p, w[i] AS t,
               len(w) AS n
        FROM (SELECT doc_id, string_split(lower(text), ' ') AS w
              FROM documents),
             LATERAL (SELECT unnest(generate_series(1, len(w))) AS i)
    ),
    toks AS (
        SELECT doc_id, p, n,
               coalesce(lag(p) OVER (PARTITION BY doc_id, t ORDER BY p),
                        0) AS prev,
               coalesce(n - lead(p) OVER (PARTITION BY doc_id, t
                                          ORDER BY p) + 1,
                        0) AS prev_rev,
               n - p + 1 AS q
        FROM wp
    ),
    fwd AS (
        SELECT doc_id, 0 AS p, 1 AS fstart, 0 AS ft, 0 AS fy, 0 AS f
        FROM (SELECT DISTINCT doc_id FROM toks)
        UNION ALL
        SELECT w.doc_id, w.p,
               CASE WHEN (s.fy + CASE WHEN w.prev < s.fstart
                                      THEN 1 ELSE 0 END) * 25
                         < 18 * (s.ft + 1)
                    THEN w.p + 1 ELSE s.fstart END,
               CASE WHEN (s.fy + CASE WHEN w.prev < s.fstart
                                      THEN 1 ELSE 0 END) * 25
                         < 18 * (s.ft + 1)
                    THEN 0 ELSE s.ft + 1 END,
               CASE WHEN (s.fy + CASE WHEN w.prev < s.fstart
                                      THEN 1 ELSE 0 END) * 25
                         < 18 * (s.ft + 1)
                    THEN 0
                    ELSE s.fy + CASE WHEN w.prev < s.fstart
                                     THEN 1 ELSE 0 END END,
               s.f + CASE WHEN (s.fy + CASE WHEN w.prev < s.fstart
                                            THEN 1 ELSE 0 END) * 25
                               < 18 * (s.ft + 1)
                          THEN 1 ELSE 0 END
        FROM fwd s JOIN toks w ON w.doc_id = s.doc_id AND w.p = s.p + 1
    ),
    bwd AS (
        SELECT doc_id, 0 AS q, 1 AS fstart, 0 AS ft, 0 AS fy, 0 AS f
        FROM (SELECT DISTINCT doc_id FROM toks)
        UNION ALL
        SELECT w.doc_id, w.q,
               CASE WHEN (s.fy + CASE WHEN w.prev_rev < s.fstart
                                      THEN 1 ELSE 0 END) * 25
                         < 18 * (s.ft + 1)
                    THEN w.q + 1 ELSE s.fstart END,
               CASE WHEN (s.fy + CASE WHEN w.prev_rev < s.fstart
                                      THEN 1 ELSE 0 END) * 25
                         < 18 * (s.ft + 1)
                    THEN 0 ELSE s.ft + 1 END,
               CASE WHEN (s.fy + CASE WHEN w.prev_rev < s.fstart
                                      THEN 1 ELSE 0 END) * 25
                         < 18 * (s.ft + 1)
                    THEN 0
                    ELSE s.fy + CASE WHEN w.prev_rev < s.fstart
                                     THEN 1 ELSE 0 END END,
               s.f + CASE WHEN (s.fy + CASE WHEN w.prev_rev < s.fstart
                                            THEN 1 ELSE 0 END) * 25
                               < 18 * (s.ft + 1)
                          THEN 1 ELSE 0 END
        FROM bwd s JOIN toks w ON w.doc_id = s.doc_id AND w.q = s.q + 1
    ),
    nn AS (SELECT doc_id, any_value(n) AS n FROM toks GROUP BY 1),
    fin_f AS (
        SELECT f.doc_id,
               f.f + CASE WHEN f.ft = 0 THEN 0.0
                          ELSE (25.0 * (f.ft - f.fy)) / (7.0 * f.ft)
                     END AS ff
        FROM fwd f JOIN nn ON f.doc_id = nn.doc_id AND f.p = nn.n
    ),
    fin_b AS (
        SELECT b.doc_id,
               b.f + CASE WHEN b.ft = 0 THEN 0.0
                          ELSE (25.0 * (b.ft - b.fy)) / (7.0 * b.ft)
                     END AS fb
        FROM bwd b JOIN nn ON b.doc_id = nn.doc_id AND b.q = nn.n
    )
    SELECT nn.doc_id,
           CAST(nn.n AS BIGINT) AS n_tokens,
           floor(ff * 1e6 + 0.5) / 1e6 AS factors_fwd,
           floor(fb * 1e6 + 0.5) / 1e6 AS factors_bwd,
           CASE WHEN ff > 0 AND fb > 0
                THEN floor(((nn.n / ff + nn.n / fb) / 2.0)
                           * 1e6 + 0.5) / 1e6
                ELSE NULL END AS mtld
    FROM nn JOIN fin_f USING (doc_id) JOIN fin_b USING (doc_id)
"""


# ---------------------------------------------------------------------------
# chi2_source_lang — Pearson chi-squared independence test (+ Cramér's
# V) on the source x lang contingency table: is language mix uniform
# across ingest sources, or does some source skew? The categorical
# drift/QC companion to source_jsd_divergence (which compares word
# DISTRIBUTIONS; this tests categorical independence with a published
# effect size).
# ---------------------------------------------------------------------------


def q_chi2_source_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-squared test of independence between ``source`` and
    ``lang`` over the documents corpus, with Cramér's V effect size:
    chi2 = sum over the DENSE contingency grid of (O - E)^2 / E with
    E = row_total * col_total / N — zero-observed cells contribute E
    (a sparse join would silently understate chi2, so the grid is the
    cross join of the marginals), dof = (|S|-1)(|L|-1), V =
    sqrt(chi2 / (N * min(|S|-1, |L|-1))). The corpus-QC screen for
    "does language mix depend on source?" — V is comparable across
    corpus sizes where raw chi2 is not.

    Scale shape: one scan collapses the corpus to the (source, lang)
    observed grid + two marginal grids (all bounded by categorical
    cardinality, not corpus size); the dense grid is a cross join of
    the TINY marginals. Determinism: all counts exact BIGINTs, each
    cell's term one IEEE expression 6-dp floor-staged then
    DECIMAL-summed over the bounded grid, V a single expression on
    the staged sum."""
    docs = load_table(spark, sf_dir, "documents")
    obs = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("o")
    )
    rows = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("r")
    )
    cols = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    total = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    dense = (
        rows.crossJoin(cols)
        .join(obs, ["source", "lang"], "left")
        .crossJoin(F.broadcast(total))
        .select(
            "source", "lang", "r", "c", "n",
            F.coalesce("o", F.lit(0)).cast("bigint").alias("o"),
        )
    )
    e = F.col("r").cast("double") * F.col("c").cast("double") / F.col(
        "n"
    ).cast("double")
    term = fround(
        (F.col("o").cast("double") - e) * (F.col("o").cast("double") - e)
        / e,
        6,
    ).cast("decimal(25,6)")
    agg = dense.groupBy().agg(
        F.max("n").alias("n_docs"),
        F.count_distinct("source").cast("bigint").alias("n_sources"),
        F.count_distinct("lang").cast("bigint").alias("n_langs"),
        F.sum(term).alias("_chi2"),
    )
    dof = (F.col("n_sources") - 1) * (F.col("n_langs") - 1)
    chi2 = F.col("_chi2").cast("double")
    v = F.sqrt(
        chi2
        / (
            F.col("n_docs").cast("double")
            * F.least(F.col("n_sources") - 1, F.col("n_langs") - 1)
            .cast("double")
        )
    )
    return agg.select(
        "n_docs",
        "n_sources",
        "n_langs",
        dof.cast("bigint").alias("dof"),
        fround(chi2, 6).alias("chi2"),
        F.when(dof > 0, fround(v, 6)).alias("cramers_v"),
    )


QUERIES["chi2_source_lang"] = q_chi2_source_lang

ORACLE["chi2_source_lang"] = """
    WITH obs AS (
        SELECT source, lang, CAST(count(*) AS BIGINT) AS o
        FROM documents GROUP BY 1, 2
    ),
    rows_ AS (
        SELECT source, CAST(count(*) AS BIGINT) AS r
        FROM documents GROUP BY 1
    ),
    cols_ AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS c
        FROM documents GROUP BY 1
    ),
    total AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    dense AS (
        SELECT rows_.source, cols_.lang, r, c, n,
               coalesce(o, 0) AS o
        FROM rows_ CROSS JOIN cols_ CROSS JOIN total
        LEFT JOIN obs ON rows_.source = obs.source
                     AND cols_.lang = obs.lang
    ),
    agg AS (
        SELECT max(n) AS n_docs,
               CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
               sum(CAST(floor(
                   ((CAST(o AS DOUBLE)
                     - CAST(r AS DOUBLE) * CAST(c AS DOUBLE)
                       / CAST(n AS DOUBLE))
                    * (CAST(o AS DOUBLE)
                       - CAST(r AS DOUBLE) * CAST(c AS DOUBLE)
                         / CAST(n AS DOUBLE))
                    / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE)
                       / CAST(n AS DOUBLE)))
                   * 1e6 + 0.5) / 1e6 AS DECIMAL(25,6))) AS chi2_dec
        FROM dense
    )
    SELECT n_docs, n_sources, n_langs,
           CAST((n_sources - 1) * (n_langs - 1) AS BIGINT) AS dof,
           floor(CAST(chi2_dec AS DOUBLE) * 1e6 + 0.5) / 1e6 AS chi2,
           CASE WHEN (n_sources - 1) * (n_langs - 1) > 0
                THEN floor(sqrt(CAST(chi2_dec AS DOUBLE)
                                / (CAST(n_docs AS DOUBLE)
                                   * CAST(least(n_sources - 1,
                                                n_langs - 1) AS DOUBLE)))
                           * 1e6 + 0.5) / 1e6
                ELSE NULL END AS cramers_v
    FROM agg
"""


# ---------------------------------------------------------------------------
# doc_novelty — per-document n-gram novelty against everything ingested
# BEFORE it: the dataset-novelty-decay signal (how much genuinely new
# text does each marginal document contribute?) — the selection-side
# companion to decontamination (which screens against a benchmark) and
# dedup (which screens whole-doc/near-dup identity)
# ---------------------------------------------------------------------------

NOVELTY_NGRAM = 3


def novelty_grams(docs: DataFrame) -> DataFrame:
    """(doc_id, g): each doc's DISTINCT lowercase whitespace 3-grams —
    the shared gram core of ``doc_novelty`` and the streaming novelty
    sink (one expression, so the batch oracle and the maintained grid
    can never drift on tokenization). Docs shorter than the gram
    width contribute NOTHING (``_word_ngrams``' guard); dedup happens
    map-side via array_distinct BEFORE the explode."""
    toks = F.split(F.lower("text"), " ")
    gs = F.array_distinct(_word_ngrams(toks, NOVELTY_NGRAM))
    return docs.select("doc_id", gs.alias("gs")).select(
        "doc_id", F.explode("gs").alias("g")
    )


def _novelty_ratio(per_doc: DataFrame) -> DataFrame:
    """The novelty tail over a (doc_id, n_grams, n_novel) frame of
    exact BIGINT counts — shared by the batch ``doc_novelty`` and
    ``streaming_novelty`` (which serves it off the maintained doc
    counters)."""
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_novel",
        fround(
            F.col("n_novel").cast("double")
            / F.col("n_grams").cast("double"),
            6,
        ).alias("novelty"),
    )


def q_doc_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 3-gram novelty under doc_id ingestion order: a gram is
    NOVEL in the first doc (smallest doc_id) that contains it, so a
    doc's novelty = fraction of its distinct grams whose global first
    occurrence is itself — the curve every data-selection loop watches
    flatten as a source exhausts (novelty ~1 early, decaying toward
    near-dup territory; ``mix_*`` entries decide WHAT to keep, this
    measures what keeping more BUYS). First-occurrence is one min-agg
    over the gram grid — the ``text_heaps_fit`` trick at corpus grain,
    never a pairwise comparison.

    Scale shape: grams dedup map-side per doc (array_distinct before
    the explode), ONE shuffle on the gram key for the global min, and
    one doc-grain rollup; the gram grid is vocabulary-bounded.
    Determinism: counts exact BIGINTs, novelty one staged division."""
    docs = load_table(spark, sf_dir, "documents")
    grams = novelty_grams(docs)
    # first-occurrence via a window min over the gram key: the
    # gram grid is exploded ONCE and shuffled ONCE (the old
    # groupBy-then-self-join shape re-exploded the corpus on the join
    # probe side and paid a second gram-keyed Exchange; identical rows
    # out — r19 plan diff: 3 Exchange + 2 scans -> 2 Exchange + 1 scan)
    per_doc = (
        grams.withColumn(
            "first_doc", F.min("doc_id").over(Window.partitionBy("g"))
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1)
                .otherwise(0)
            ).cast("bigint").alias("n_novel"),
        )
    )
    return _novelty_ratio(per_doc)


QUERIES["doc_novelty"] = q_doc_novelty

ORACLE["doc_novelty"] = f"""
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS w
        FROM documents
    ),
    grams AS (
        SELECT DISTINCT doc_id,
               array_to_string(w[i:i+{NOVELTY_NGRAM - 1}], ' ') AS g
        FROM toks,
             LATERAL (SELECT unnest(generate_series(
                 1, len(w) - {NOVELTY_NGRAM - 1})) AS i)
    ),
    firsts AS (
        SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY 1
    ),
    per_doc AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel
        FROM grams JOIN firsts USING (g)
        GROUP BY 1
    )
    SELECT doc_id, n_grams, n_novel,
           floor((CAST(n_novel AS DOUBLE) / CAST(n_grams AS DOUBLE))
                 * 1e6 + 0.5) / 1e6 AS novelty
    FROM per_doc
"""


# ---------------------------------------------------------------------------
# text_readability — classical readability scores per document: the
# quality-filter heuristics (ARI, Coleman-Liau) every web-corpus
# recipe screens on before a learned classifier exists — both are
# pure surface arithmetic (letters/words/sentences), trig- and
# log-free, so they are exactly cross-engine reproducible
# ---------------------------------------------------------------------------


def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Automated Readability Index (Senter & Smith 1967) and
    Coleman-Liau index (Coleman & Liau 1975): ARI = 4.71·(chars/words)
    + 0.5·(words/sentences) − 21.43 over alphanumeric characters;
    CLI = 0.0588·L − 0.296·S − 15.8 with L = letters per 100 words
    and S = sentences per 100 words. Conventions pinned so both
    engines count identically: words = whitespace-split tokens (the
    corpus ``text_tokens`` convention), chars = [A-Za-z0-9] count via
    regexp_replace-and-length (RE2/Java-compatible class), sentences
    = count of [.!?] clamped to >= 1 (a fragment without terminal
    punctuation is one sentence, not a division by zero).

    Scale shape: one scan, all expressions whole-stage-codegen'd
    JVM-side (regexp_replace + length — no UDF, no shuffle at all:
    doc-grain in, doc-grain out). Determinism: integer counts, two
    single IEEE expressions, 6-dp floored."""
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.split("text", " ")).cast("bigint")
    n_chars = F.length(
        F.regexp_replace("text", "[^A-Za-z0-9]", "")
    ).cast("bigint")
    n_letters = F.length(
        F.regexp_replace("text", "[^A-Za-z]", "")
    ).cast("bigint")
    n_sent = F.greatest(
        F.length(F.regexp_replace("text", "[^.!?]", "")).cast("bigint"),
        F.lit(1).cast("bigint"),
    )
    w = n_words.cast("double")
    ari = (
        F.lit(4.71) * (n_chars.cast("double") / w)
        + F.lit(0.5) * (w / n_sent.cast("double"))
        - F.lit(21.43)
    )
    cli = (
        F.lit(0.0588) * (n_letters.cast("double") * 100.0 / w)
        - F.lit(0.296) * (n_sent.cast("double") * 100.0 / w)
        - F.lit(15.8)
    )
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_chars.alias("n_chars_an"),
        n_sent.alias("n_sentences"),
        fround(ari, 6).alias("ari"),
        fround(cli, 6).alias("coleman_liau"),
    )


QUERIES["text_readability"] = q_text_readability

ORACLE["text_readability"] = """
    WITH m AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
               CAST(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))
                    AS BIGINT) AS n_chars_an,
               CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                    AS BIGINT) AS n_letters,
               greatest(
                   CAST(length(regexp_replace(text, '[^.!?]', '', 'g'))
                        AS BIGINT),
                   CAST(1 AS BIGINT)
               ) AS n_sentences
        FROM documents
    )
    SELECT doc_id, n_words, n_chars_an, n_sentences,
           floor((4.71 * (CAST(n_chars_an AS DOUBLE)
                          / CAST(n_words AS DOUBLE))
                  + 0.5 * (CAST(n_words AS DOUBLE)
                           / CAST(n_sentences AS DOUBLE))
                  - 21.43) * 1e6 + 0.5) / 1e6 AS ari,
           floor((0.0588 * (CAST(n_letters AS DOUBLE) * 100.0
                            / CAST(n_words AS DOUBLE))
                  - 0.296 * (CAST(n_sentences AS DOUBLE) * 100.0
                             / CAST(n_words AS DOUBLE))
                  - 15.8) * 1e6 + 0.5) / 1e6 AS coleman_liau
    FROM m
"""
