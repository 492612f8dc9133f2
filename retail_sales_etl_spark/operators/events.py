"""Event-stream operators (batch form) with DuckDB oracles.

The events table is stream-shaped (ts, user_id, event_type, value,
props-JSON). These operators are the batch expression of the streaming
semantics in ``streaming/`` — same windows, same sessions — so the
correctness gate covers both.

Scale notes: windowed agg shuffles once on (bucket, type); sessionization
shuffles once on user_id then runs window functions within partitions —
the canonical Spark plan for gap-based sessions. Time bucketing uses an
explicit floor(epoch/300) so Spark and DuckDB share one definition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.ols import ols_fit, ols_sums
from ..functions.rounding import fround

SESSION_GAP_SEC = 1800
WINDOW_SEC = 300

_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


def q_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute tumbling window aggregate per event type."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.timestamp_seconds(
        F.floor(F.unix_timestamp("ts") / WINDOW_SEC) * WINDOW_SEC
    )
    return (
        ev.groupBy(
            F.date_format(bucket, _FMT_SPARK).alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast("decimal(25,6)"))
            .cast("double")
            .alias("total_value"),
        )
    )


def q_events_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows hopping every 5 minutes (overlapping/sliding).

    Spark's native window(size, slide) — each event lands in
    size/slide = 2 windows; state and shuffle scale with the overlap
    factor, which is why the slide should never be tiny relative to
    the size at scale.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.date_format("window.start", _FMT_SPARK).alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def q_events_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: minute -> hour -> day.

    The coarser grains re-aggregate the FINER grain's partials (sums of
    sums), never the raw events — at scale this is the difference
    between scanning a fact once and scanning it per resolution. All
    value sums stay DECIMAL until the final projection, so the rollup
    chain is exactly associative.
    """
    ev = load_table(spark, sf_dir, "events")
    epoch = F.unix_timestamp("ts")
    minute = (
        ev.groupBy(
            (F.floor(epoch / 60) * 60).alias("bucket"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,6)")).alias("val_dec"),
        )
    )
    hour = minute.groupBy(
        (F.floor(F.col("bucket") / 3600) * 3600).alias("bucket"), "event_type"
    ).agg(F.sum("n_events").alias("n_events"), F.sum("val_dec").alias("val_dec"))
    day = hour.groupBy(
        (F.floor(F.col("bucket") / 86400) * 86400).alias("bucket"), "event_type"
    ).agg(F.sum("n_events").alias("n_events"), F.sum("val_dec").alias("val_dec"))

    def finish(df: DataFrame, grain: str) -> DataFrame:
        return df.select(
            F.lit(grain).alias("grain"),
            F.date_format(F.timestamp_seconds("bucket"), _FMT_SPARK).alias(
                "bucket_start"
            ),
            "event_type",
            "n_events",
            F.col("val_dec").cast("double").alias("total_value"),
        )

    return finish(minute, "minute").unionAll(finish(hour, "hour")).unionAll(
        finish(day, "day")
    )


def _gap_sessions(ev: DataFrame) -> DataFrame:
    """The gap sessionizer: (user_id, ts, event_id, new_session,
    session_seq), where a whole-second gap > SESSION_GAP_SEC from the
    user's previous event ((ts, event_id) order) flags a new session
    and the running sum of the flags numbers it. Shared by
    ``events_sessionize`` and the Kaplan-Meier core ``_km_curve``."""
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = by_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(by_user))
            > SESSION_GAP_SEC,
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    ).withColumn("session_seq", F.sum("new_session").over(run) + 1)


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a >30-min silence starts a new session."""
    ev = load_table(spark, sf_dir, "events")
    return (
        _gap_sessions(ev)
        .groupBy("user_id", "session_seq")
        .agg(
            F.date_format(F.min("ts"), _FMT_SPARK).alias("session_start"),
            F.date_format(F.max("ts"), _FMT_SPARK).alias("session_end"),
            (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
            .alias("duration_sec"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def q_events_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral rollup with JSON props extraction."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .alias("n_purchases"),
        F.sum(F.col("value").cast("decimal(25,6)")).cast("double")
        .alias("total_value"),
        F.count_distinct("event_type").alias("n_event_types"),
        F.date_format(F.min("ts"), "yyyy-MM-dd").alias("first_day"),
        F.date_format(F.max("ts"), "yyyy-MM-dd").alias("last_day"),
        F.sum(k).alias("sum_k"),
        (F.sum(k).cast("double") / F.count(k)).alias("avg_k"),
    )


def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day retention: users active on day d AND d+1."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(F.to_date("ts").alias("d"), "user_id").distinct()
    nxt = du.select(F.col("d").alias("d2"), F.col("user_id").alias("u2"))
    return (
        du.join(
            nxt,
            (F.col("user_id") == F.col("u2"))
            & (F.col("d2") == F.date_add(F.col("d"), 1)),
        )
        .groupBy(F.col("d").alias("day"))
        .agg(F.count(F.lit(1)).alias("retained_users"))
    )


def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type statistical outliers: events whose value exceeds
    mean + 3*stddev of their type.

    The variance comes from decimal-exact sum and sum-of-squares (the
    two-pass-free parallel formula), so the threshold is identical
    across engines and partition counts — built-in stddev aggregates
    are float-accumulation-order dependent and would not be.
    """
    ev = load_table(spark, sf_dir, "events")
    x = F.col("value").cast("decimal(25,6)")
    x2 = (F.col("value") * F.col("value")).cast("decimal(25,6)")
    stats = ev.groupBy(F.col("event_type").alias("et")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("s"),
        F.sum(x2).cast("double").alias("s2"),
    ).select(
        "et",
        (F.col("s") / F.col("n")).alias("mean_value"),
        F.sqrt(
            (F.col("s2") - F.col("s") * F.col("s") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("std_value"),
    )
    from pyspark.sql.functions import broadcast

    joined = ev.join(broadcast(stats), F.col("event_type") == F.col("et"))
    return (
        joined.filter(
            F.col("value")
            > F.col("mean_value") + F.lit(3.0) * F.col("std_value")
        )
        .select(
            "event_id",
            "event_type",
            "user_id",
            "value",
            "mean_value",
            "std_value",
        )
    )


def q_top_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 word trigrams (content-farm detector food)."""
    from .dedup import _shingles

    docs = load_table(spark, sf_dir, "documents")
    counts = _shingles(docs).groupBy("shingle").agg(
        F.count(F.lit(1)).alias("doc_freq")
    )
    top = counts.orderBy(F.col("doc_freq").desc(), F.col("shingle")).limit(20)
    w = Window.orderBy(F.col("doc_freq").desc(), F.col("shingle"))
    return top.withColumn("rank", F.row_number().over(w))


TOPK_WINDOW = 3


def q_events_topk_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending items: top-k event types per hour by event count.

    Hour rollup then a per-window rank — the rank window partitions on
    the hour, so the heavy agg output (hours x types, already small) is
    the only thing shuffled twice; the raw stream is shuffled once.
    """
    ev = load_table(spark, sf_dir, "events")
    hour = F.date_format(F.date_trunc("hour", F.col("ts")), _FMT_SPARK)
    counts = ev.groupBy(
        hour.alias("window_start"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("total_value"),
    )
    w = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), F.col("event_type")
    )
    return counts.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= TOPK_WINDOW
    )


COHORT_OFFSETS = [0, 1, 2, 3]


def q_events_cohort_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by FIRST-PURCHASE day,
    distinct purchasers again at day offsets 0..3, pivoted wide.

    Two aggs over the (user, day) purchase grid — the grid is tiny
    next to the raw stream (one row per purchaser-day), so the cohort
    pivot costs nothing compared to the single scan that builds it.
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    activity = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", day.alias("d"))
        .distinct()
    )
    first = activity.groupBy("user_id").agg(F.min("d").alias("cohort_d"))
    grid = activity.join(first, "user_id").select(
        "user_id",
        F.date_format("cohort_d", "yyyy-MM-dd").alias("cohort_day"),
        F.datediff(F.col("d"), F.col("cohort_d")).alias("off"),
    )
    pivoted = (
        grid.groupBy("cohort_day")
        .pivot("off", COHORT_OFFSETS)
        .agg(F.count_distinct("user_id"))
    )
    return pivoted.select(
        "cohort_day",
        *[
            F.coalesce(F.col(str(o)), F.lit(0)).alias(f"day{o}")
            for o in COHORT_OFFSETS
        ],
    )


def _native_sessions(ev: DataFrame) -> DataFrame:
    """The native session aggregate: one ``session_window`` group per
    user with the formatted start/end and the event count. Batch
    ``events_session_native`` calls it on the table, the streaming
    twin ``session_windows_native`` on its watermarked stream."""
    return (
        ev.groupBy(
            "user_id", F.session_window("ts", f"{SESSION_GAP_SEC} seconds")
        )
        .agg(
            F.date_format(F.min("ts"), _FMT_SPARK).alias("session_start"),
            F.date_format(F.max("ts"), _FMT_SPARK).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
    )


def q_events_session_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization via Spark's NATIVE ``session_window`` operator
    (the scale path: a single partial-merging aggregate, no window
    functions — session merging happens inside the aggregation operator
    so no per-user sort partition is materialized).

    Semantics differ subtly from the window-function q_events_sessionize:
    session_window splits at microsecond precision (next event at
    exactly start+gap opens a NEW session, i.e. gap >= 30min splits),
    while the window version compares whole-second unix_timestamps. The
    oracle below mirrors the native (epoch_us, >=) semantics.
    """
    return _native_sessions(load_table(spark, sf_dir, "events"))


_SESSION_NATIVE_SESS_SQL = f"""
        WITH flagged AS (
            SELECT user_id, ts,
                   CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w)
                             >= {SESSION_GAP_SEC}000000
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        numbered AS (
            SELECT *, sum(new_session) OVER (
                PARTITION BY user_id ORDER BY ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS session_seq
            FROM flagged
        ),
        sess AS (
            SELECT user_id, session_seq,
                   min(ts) AS s, max(ts) AS e, count(*) AS n
            FROM numbered GROUP BY 1, 2
        )
"""


# 3 * 1.4826 (the normal-consistency constant), precomputed so both
# engines share the literal
MAD_K = round(3 * 1.4826, 6)  # driver-side Python literal, no engine risk

# Scale-path sketch size — the single shared knob (cycle-free import:
# plans.advanced pulls nothing from operators).
from ..plans.advanced import PCTL_ACCURACY as _PCTL_ACCURACY


def q_events_anomaly_mad(
    spark: SparkSession, sf_dir: str, approx: bool = False
) -> DataFrame:
    """Robust per-type outlier screen: median/MAD instead of mean/
    stddev (q_events_anomaly's 3-sigma breaks down when the outliers
    themselves inflate sigma; MAD has a 50% breakdown point).

    Two grouped percentile aggregates (median, then median of
    6-dp-rounded absolute deviations after a broadcast join of the
    tiny per-type medians) and one outlier count. Each aggregate is
    one shuffle on event_type; rounding at every step keeps the
    statistic engine-portable.

    Default medians are exact percentiles — per-group buffers are
    O(group size), so a hot event_type at 100x is an OOM hazard.
    ``approx=True`` is the scale path: approx_percentile's fixed-size
    sketch medians (rank error <= n/accuracy) — a robust screen does
    not need the median to the last ulp."""
    ev = load_table(spark, sf_dir, "events")
    if approx:
        med_of = lambda c: F.expr(
            f"approx_percentile({c}, 0.5, {_PCTL_ACCURACY})"
        )
    else:
        med_of = lambda c: F.expr(f"percentile({c}, 0.5)")
    med = ev.groupBy("event_type").agg(
        fround(med_of("value"), 6).alias("med")
    )
    adev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "med",
        fround(F.abs(F.col("value") - F.col("med")), 6).alias("adev"),
    )
    mad = adev.groupBy("event_type").agg(
        F.first("med").alias("median_value"),
        fround(med_of("adev"), 6).alias("mad"),
    )
    return (
        adev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.first("median_value").alias("median_value"),
            F.first("mad").alias("mad"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(
                    F.col("adev") > F.lit(MAD_K) * F.col("mad"), 1
                ).otherwise(0)
            ).cast("bigint").alias("n_outliers"),
        )
    )


# EWMA decay: alpha = 1/2 so every weight is a power of two — EXACT in
# IEEE doubles, so Spark and DuckDB compute bit-identical terms (libm
# pow() with non-integer exponents is the one thing that varies across
# engines; integer powers of 0.5 never do). Horizon 64: the weight of
# an observation 64 steps back is 2^-64 ~ 5e-20, far below the 6-dp
# output rounding, so truncation is lossless AND bounds the join grid.
EWMA_HORIZON = 64


def q_events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type exponentially-weighted moving average of daily event
    volume (the adjust=True form: s_t = sum w_i x_i / sum w_i with
    w_i = 0.5^(t-i)) — the smoothing baseline every ops dashboard and
    rate-anomaly monitor needs.

    Scale shape: the heavy part is the raw-event daily rollup — one
    map-combinable shuffle on (type, day). Everything after runs on
    the |types| x |days| grid, which is bounded by the calendar, not
    the data: the weighted window is a bounded range self-join
    (<= EWMA_HORIZON rows per output row), never a window over raw
    events. Portability: weights are exact powers of two, weighted
    terms are rounded to 9 dp and summed in DECIMAL
    (order-independent), one double division, final 6-dp round.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    t = F.row_number().over(
        Window.partitionBy("event_type").orderBy("day")
    )
    idx = daily.withColumn("t", t)
    a = idx.select(
        F.col("event_type").alias("et"),
        F.col("day").alias("day"),
        F.col("cnt").alias("cnt"),
        F.col("t").alias("ta"),
    )
    b = idx.select(
        F.col("event_type").alias("etb"),
        F.col("cnt").alias("xi"),
        F.col("t").alias("tb"),
    )
    grid = a.join(
        b,
        (F.col("et") == F.col("etb"))
        & (F.col("tb") <= F.col("ta"))
        & (F.col("tb") > F.col("ta") - EWMA_HORIZON),
    )
    w = F.pow(F.lit(0.5), F.col("ta") - F.col("tb"))
    terms = grid.select(
        "et",
        "day",
        "cnt",
        fround(F.col("xi") * w, 9).cast("decimal(38,9)").alias("tn"),
        fround(w, 9).cast("decimal(38,9)").alias("td"),
    )
    return (
        terms.groupBy(F.col("et").alias("event_type"), "day")
        .agg(
            F.first("cnt").alias("cnt"),
            F.sum("tn").alias("_n"),
            F.sum("td").alias("_d"),
        )
        .select(
            "event_type",
            "day",
            "cnt",
            fround(
                F.col("_n").cast("double") / F.col("_d").cast("double"), 6).alias("ewma"),
        )
    )


# Attribution: clicks within 30 min before a purchase share its value,
# weighted by 0.5^(whole minutes of lead time) — integer exponent, so
# the weights are exact doubles in both engines (same discipline as
# EWMA above). Normalization per purchase, then a per-user rollup.
ATTR_WINDOW_SEC = 1800


def q_attribution_time_decay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multi-touch time-decay attribution: every click in the 30 min
    before a purchase (same user) earns a share of the purchase value
    proportional to 0.5^(minutes of lead time); shares are normalized
    per purchase and rolled up per user. The sibling of
    ``asof_click_before_purchase`` (last-touch) — this one splits
    credit instead of winner-takes-all.

    Scale shape: purchases ⋈ clicks is an equi-join on user_id with a
    map-side time-band residual — per-user fan-out is bounded by the
    30-min window, AQE skew-split covers hot users. The per-purchase
    normalizer is a decimal aggregate (order-independent); attributed
    terms are rounded to 6 dp and decimal-summed per user.
    """
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("c_id"),
    )
    lead_sec = F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts")
    pairs = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") < F.col("p_ts"))
        & (lead_sec <= ATTR_WINDOW_SEC),
    ).select(
        "p_id",
        "p_user",
        "p_value",
        "c_id",
        F.pow(F.lit(0.5), F.floor(lead_sec / 60)).alias("w"),
    )
    norm = pairs.groupBy("p_id").agg(
        F.sum(fround(F.col("w"), 9).cast("decimal(38,9)")).alias("sw")
    )
    attributed = pairs.join(norm, "p_id").select(
        "p_user",
        "p_id",
        "c_id",
        fround(
            F.col("p_value") * F.col("w") / F.col("sw").cast("double"), 6)
        .cast("decimal(25,6)")
        .alias("share"),
    )
    return (
        attributed.groupBy(F.col("p_user").alias("user_id"))
        .agg(
            F.countDistinct("p_id").alias("n_purchases"),
            F.count(F.lit(1)).alias("n_touches"),
            F.sum("share").cast("double").alias("attributed_value"),
        )
        .select(
            "user_id",
            "n_purchases",
            "n_touches",
            fround("attributed_value", 6).alias("attributed_value"),
        )
    )


def q_events_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point screen per event type: the running sum of
    (daily count − overall mean) peaks in magnitude at the most likely
    level-shift day (Page 1954) — the classic "did this event's volume
    step-change, and when?" monitor next to the EWMA smoother.

    Heavy work is the same map-combinable (type, day) rollup as
    events_ewma; the cumulative window and the argmax both run over
    the calendar-bounded daily grid. Portability: deviations are
    6-dp-rounded DECIMALs summed cumulatively (order fixed by the
    window sort), the peak resolves by (|cusum| desc, day) — fully
    deterministic.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    per_type = daily.groupBy(F.col("event_type").alias("et")).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("cnt").alias("total"),
    )
    dev = (
        daily.join(
            F.broadcast(per_type), F.col("event_type") == F.col("et")
        )
        .select(
            "event_type",
            "day",
            "n_days",
            fround(
                F.col("cnt") - F.col("total") / F.col("n_days").cast("double"), 6)
            .cast("decimal(25,6)")
            .alias("d"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cusum = dev.select(
        "event_type",
        "day",
        "n_days",
        F.sum("d").over(w).cast("double").alias("s"),
    )
    rank = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("s")).desc(), F.col("day")
    )
    return (
        cusum.withColumn("rn", F.row_number().over(rank))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            "n_days",
            fround(F.abs(F.col("s")), 6).alias("max_cusum"),
            F.col("day").alias("change_day"),
        )
    )


NGRAM_CTX_MIN_COUNT = 3
NGRAM_CTX_TOP_K = 100


def q_session_ngram_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-event-prediction training examples: for every event, the
    3-gram context of the user's preceding event types and the event
    that followed, aggregated into the (context, next) transition
    table — the dataset-construction step for behavior-sequence
    models (and the classical session n-gram recommender baseline).

    One window pass per user (lag x3 over (ts, event_id) — the
    event_id tiebreak makes colliding timestamps deterministic), one
    map-combinable count aggregate, distributed TakeOrdered for the
    reporting cut. Per-user partitions are bounded by user activity;
    no global window, no self-joins.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.select(
        "event_type",
        F.lag("event_type", 3).over(w).alias("l3"),
        F.lag("event_type", 2).over(w).alias("l2"),
        F.lag("event_type", 1).over(w).alias("l1"),
    ).filter(
        F.col("l3").isNotNull()
        & F.col("l2").isNotNull()
        & F.col("l1").isNotNull()
    )
    counts = (
        lagged.select(
            F.concat_ws(">", "l3", "l2", "l1").alias("context"),
            F.col("event_type").alias("next_event"),
        )
        .groupBy("context", "next_event")
        .agg(F.count(F.lit(1)).alias("n_examples"))
        .filter(F.col("n_examples") >= NGRAM_CTX_MIN_COUNT)
    )
    return counts.orderBy(
        F.col("n_examples").desc(), "context", "next_event"
    ).limit(NGRAM_CTX_TOP_K)


QUERIES = {
    "events_ewma": q_events_ewma,
    "events_cusum": q_events_cusum,
    "session_ngram_examples": q_session_ngram_examples,
    "attribution_time_decay": q_attribution_time_decay,
    "events_session_native": q_events_session_native,
    "events_anomaly_mad": q_events_anomaly_mad,
    "events_cohort_matrix": q_events_cohort_matrix,
    "events_topk_per_window": q_events_topk_per_window,
    "events_anomaly": q_events_anomaly,
    "top_shingles": q_top_shingles,
    "events_windowed": q_events_windowed,
    "events_hopping": q_events_hopping,
    "events_multires_rollup": q_events_multires_rollup,
    "events_sessionize": q_events_sessionize,
    "events_user_stats": q_events_user_stats,
    "events_retention": q_events_retention,
}

from .dedup import _SHINGLES_SQL as _SH_SQL

ORACLE = {
    "events_cusum": """
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS cnt
            FROM events GROUP BY 1, 2
        ),
        per_type AS (
            SELECT event_type AS et, count(*) AS n_days,
                   sum(cnt) AS total
            FROM daily GROUP BY 1
        ),
        dev AS (
            SELECT event_type, day, n_days,
                   CAST(floor((cnt - total / CAST(n_days AS DOUBLE)) * 1e6 + 0.5) / 1e6
                        AS DECIMAL(25,6)) AS d
            FROM daily JOIN per_type ON event_type = et
        ),
        cusum AS (
            SELECT event_type, day, n_days,
                   CAST(sum(d) OVER (
                       PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS DOUBLE) AS s
            FROM dev
        ),
        ranked AS (
            SELECT event_type, n_days, s, day,
                   row_number() OVER (
                       PARTITION BY event_type
                       ORDER BY abs(s) DESC, day
                   ) AS rn
            FROM cusum
        )
        SELECT event_type, n_days,
               floor((abs(s)) * 1e6 + 0.5) / 1e6 AS max_cusum,
               day AS change_day
        FROM ranked WHERE rn = 1
    """,
    "session_ngram_examples": f"""
        WITH lagged AS (
            SELECT event_type,
                   lag(event_type, 3) OVER w AS l3,
                   lag(event_type, 2) OVER w AS l2,
                   lag(event_type, 1) OVER w AS l1
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        counts AS (
            SELECT l3 || '>' || l2 || '>' || l1 AS context,
                   event_type AS next_event,
                   count(*) AS n_examples
            FROM lagged
            WHERE l3 IS NOT NULL AND l2 IS NOT NULL AND l1 IS NOT NULL
            GROUP BY 1, 2
        )
        SELECT context, next_event, n_examples
        FROM counts
        WHERE n_examples >= {NGRAM_CTX_MIN_COUNT}
        ORDER BY n_examples DESC, context, next_event
        LIMIT {NGRAM_CTX_TOP_K}
    """,
    "events_ewma": f"""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS cnt
            FROM events GROUP BY 1, 2
        ),
        idx AS (
            SELECT event_type, day, cnt,
                   row_number() OVER (
                       PARTITION BY event_type ORDER BY day) AS t
            FROM daily
        ),
        grid AS (
            SELECT a.event_type, a.day, a.cnt, b.cnt AS xi,
                   a.t - b.t AS lag
            FROM idx a JOIN idx b
              ON a.event_type = b.event_type
             AND b.t <= a.t AND b.t > a.t - {EWMA_HORIZON}
        ),
        terms AS (
            SELECT event_type, day, cnt,
                   CAST(floor((xi * pow(0.5, lag)) * 1e9 + 0.5) / 1e9
                        AS DECIMAL(38,9)) AS tn,
                   CAST(floor((pow(0.5, lag)) * 1e9 + 0.5) / 1e9
                        AS DECIMAL(38,9)) AS td
            FROM grid
        )
        SELECT event_type, day, cnt,
               floor((CAST(sum(tn) AS DOUBLE)
                     / CAST(sum(td) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS ewma
        FROM terms GROUP BY 1, 2, 3
    """,
    "attribution_time_decay": f"""
        WITH p AS (
            SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts,
                   value AS p_value
            FROM events WHERE event_type = 'purchase'
        ),
        c AS (
            SELECT user_id AS c_user, ts AS c_ts, event_id AS c_id
            FROM events WHERE event_type = 'click'
        ),
        pairs AS (
            SELECT p_id, p_user, p_value, c_id,
                   pow(0.5, floor(
                       (CAST(floor(epoch(p_ts)) AS BIGINT)
                        - CAST(floor(epoch(c_ts)) AS BIGINT)) / 60)) AS w
            FROM p JOIN c
              ON p_user = c_user AND c_ts < p_ts
             AND CAST(floor(epoch(p_ts)) AS BIGINT)
                 - CAST(floor(epoch(c_ts)) AS BIGINT)
                 <= {ATTR_WINDOW_SEC}
        ),
        norm AS (
            SELECT p_id,
                   sum(CAST(floor((w) * 1e9 + 0.5) / 1e9 AS DECIMAL(38,9))) AS sw
            FROM pairs GROUP BY 1
        ),
        att AS (
            SELECT p_user, pr.p_id, c_id,
                   CAST(floor((p_value * w / CAST(sw AS DOUBLE)) * 1e6 + 0.5) / 1e6
                        AS DECIMAL(25,6)) AS share
            FROM pairs pr JOIN norm n ON pr.p_id = n.p_id
        )
        SELECT p_user AS user_id,
               count(DISTINCT p_id) AS n_purchases,
               count(*) AS n_touches,
               floor((CAST(sum(share) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS attributed_value
        FROM att GROUP BY 1
    """,
    "events_anomaly_mad": f"""
        WITH med AS (
            SELECT event_type,
                   floor((quantile_cont(value, 0.5)) * 1e6 + 0.5) / 1e6 AS med
            FROM events GROUP BY 1
        ),
        adev AS (
            SELECT e.event_type, m.med,
                   floor((abs(e.value - m.med)) * 1e6 + 0.5) / 1e6 AS adev
            FROM events e JOIN med m USING (event_type)
        ),
        mad AS (
            SELECT event_type,
                   any_value(med) AS median_value,
                   floor((quantile_cont(adev, 0.5)) * 1e6 + 0.5) / 1e6 AS mad
            FROM adev GROUP BY 1
        )
        SELECT a.event_type,
               any_value(m.median_value) AS median_value,
               any_value(m.mad) AS mad,
               count(*) AS n_events,
               CAST(sum(CASE WHEN a.adev > {MAD_K} * m.mad THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_outliers
        FROM adev a JOIN mad m USING (event_type)
        GROUP BY 1
    """,
    "events_session_native": _SESSION_NATIVE_SESS_SQL
    + f"""
        SELECT user_id,
               strftime(s, '{_FMT_DUCK}') AS session_start,
               strftime(e, '{_FMT_DUCK}') AS session_end,
               n AS n_events
        FROM sess
    """,
    "events_cohort_matrix": """
        WITH activity AS (
            SELECT DISTINCT user_id, date_trunc('day', ts) AS d
            FROM events WHERE event_type = 'purchase'
        ),
        first AS (
            SELECT user_id, min(d) AS cohort_d FROM activity GROUP BY 1
        ),
        grid AS (
            SELECT a.user_id,
                   strftime(cohort_d, '%Y-%m-%d') AS cohort_day,
                   datediff('day', cohort_d, d) AS off
            FROM activity a JOIN first f ON a.user_id = f.user_id
        )
        SELECT cohort_day,
               count(DISTINCT CASE WHEN off = 0 THEN user_id END) AS day0,
               count(DISTINCT CASE WHEN off = 1 THEN user_id END) AS day1,
               count(DISTINCT CASE WHEN off = 2 THEN user_id END) AS day2,
               count(DISTINCT CASE WHEN off = 3 THEN user_id END) AS day3
        FROM grid
        GROUP BY 1
    """,
    "events_topk_per_window": f"""
        SELECT window_start, event_type, n_events, total_value,
               CAST(rank AS INTEGER) AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY window_start
                ORDER BY n_events DESC, event_type
            ) AS rank
            FROM (
                SELECT strftime(date_trunc('hour', ts), '{_FMT_DUCK}') AS window_start,
                       event_type,
                       count(*) AS n_events,
                       CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
                FROM events
                GROUP BY 1, 2
            )
        )
        WHERE rank <= {TOPK_WINDOW}
    """,
    "events_anomaly": """
        WITH stats AS (
            SELECT event_type AS et,
                   CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) / count(*) AS mean_value,
                   sqrt((CAST(sum(CAST(value * value AS DECIMAL(25,6))) AS DOUBLE)
                         - CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE)
                           * CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) / count(*))
                        / (count(*) - 1)) AS std_value
            FROM events
            GROUP BY event_type
        )
        SELECT event_id, event_type, user_id, value, mean_value, std_value
        FROM events
        JOIN stats ON event_type = et
        WHERE value > mean_value + 3.0 * std_value
    """,
    "top_shingles": f"""
        SELECT shingle, doc_freq,
               CAST(row_number() OVER (ORDER BY doc_freq DESC, shingle) AS INTEGER) AS rank
        FROM (
            SELECT shingle, count(*) AS doc_freq
            FROM ({_SH_SQL})
            GROUP BY shingle
            ORDER BY doc_freq DESC, shingle
            LIMIT 20
        )
    """,
    "events_windowed": f"""
        SELECT strftime(to_timestamp(CAST(floor(floor(epoch(ts)) / {WINDOW_SEC}) * {WINDOW_SEC} AS BIGINT)), '{_FMT_DUCK}') AS window_start,
               event_type,
               count(*) AS n_events,
               count(DISTINCT user_id) AS n_users,
               CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY 1, 2
    """,
    "events_hopping": f"""
        SELECT strftime(to_timestamp(CAST(floor(floor(epoch(ts)) / {WINDOW_SEC}) * {WINDOW_SEC} AS BIGINT) - k), '{_FMT_DUCK}') AS window_start,
               event_type,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
        FROM events
        CROSS JOIN (VALUES (0), ({WINDOW_SEC})) AS hops(k)
        GROUP BY 1, 2
    """,
    "events_multires_rollup": f"""
        SELECT 'minute' AS grain,
               strftime(to_timestamp(CAST(floor(floor(epoch(ts)) / 60) * 60 AS BIGINT)), '{_FMT_DUCK}') AS bucket_start,
               event_type, count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
        FROM events GROUP BY 2, 3
        UNION ALL
        SELECT 'hour',
               strftime(to_timestamp(CAST(floor(floor(epoch(ts)) / 3600) * 3600 AS BIGINT)), '{_FMT_DUCK}'),
               event_type, count(*),
               CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE)
        FROM events GROUP BY 2, 3
        UNION ALL
        SELECT 'day',
               strftime(to_timestamp(CAST(floor(floor(epoch(ts)) / 86400) * 86400 AS BIGINT)), '{_FMT_DUCK}'),
               event_type, count(*),
               CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE)
        FROM events GROUP BY 2, 3
    """,
    "events_sessionize": f"""
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                             - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT)
                             > {SESSION_GAP_SEC}
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        numbered AS (
            SELECT *, CAST(sum(new_session) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) + 1 AS BIGINT) AS session_seq
            FROM flagged
        )
        SELECT user_id, session_seq,
               strftime(min(ts), '{_FMT_DUCK}') AS session_start,
               strftime(max(ts), '{_FMT_DUCK}') AS session_end,
               CAST(floor(epoch(max(ts))) AS BIGINT)
                 - CAST(floor(epoch(min(ts))) AS BIGINT) AS duration_sec,
               count(*) AS n_events
        FROM numbered
        GROUP BY user_id, session_seq
    """,
    "events_user_stats": """
        SELECT user_id,
               count(*) AS n_events,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
               CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value,
               count(DISTINCT event_type) AS n_event_types,
               strftime(min(ts), '%Y-%m-%d') AS first_day,
               strftime(max(ts), '%Y-%m-%d') AS last_day,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE)
                 / count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS avg_k
        FROM events
        GROUP BY user_id
    """,
    "events_retention": """
        WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events)
        SELECT a.d AS day, count(*) AS retained_users
        FROM du a
        JOIN du b ON a.user_id = b.user_id AND b.d = a.d + 1
        GROUP BY a.d
    """,
}


# ---------------------------------------------------------------------------
# Sequence-pattern matching (MATCH_RECOGNIZE / CEP shape).

PATTERNS = (
    # a view, later a click, later a purchase, with NO error anywhere
    # between the view and the purchase — the negative condition is
    # what per-stage first-occurrence flags (events_funnel) cannot say
    ("clean_conversion", "v[^e]*c[^e]*p"),
    # an error eventually followed by a purchase (recovery)
    ("error_then_purchase", "e.*p"),
    # signup eventually followed by a purchase (activation)
    ("signup_to_purchase", "s.*p"),
)

_EVENT_CHAR = {
    "view": "v",
    "click": "c",
    "purchase": "p",
    "error": "e",
    "signup": "s",
}


def q_events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence pattern matching — the MATCH_RECOGNIZE / Flink-
    CEP workload expressed relationally: each user's event history
    becomes one ordered symbol string, and each behavioral pattern is
    a regex over it, including NEGATIVE conditions ("no error between
    the view and the purchase") that first-occurrence funnel flags
    cannot express.

    Plan: one shuffle to (user, ordered symbol string) — collect_list
    into an array_sort'd (ts, event_id, char) struct so the string is
    deterministic under timestamp collisions — then every pattern is a
    map-side regex over the per-user string and the report is one
    map-combinable aggregate. Per-user state is bounded by that user's
    event count (the same bound any CEP engine carries); the regexes
    use only portable constructs (char classes, `.` and `*`) so Java
    and RE2 agree.
    """
    ev = load_table(spark, sf_dir, "events")
    ch = None
    for t, c in _EVENT_CHAR.items():
        branch = F.when(F.col("event_type") == t, F.lit(c))
        ch = branch if ch is None else ch.when(
            F.col("event_type") == t, F.lit(c)
        )
    ch = ch.otherwise(F.lit("x"))
    seqs = (
        ev.select(
            "user_id",
            F.struct(F.col("ts"), F.col("event_id"), ch.alias("ch")).alias(
                "s"
            ),
        )
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list("s")), lambda x: x["ch"]
                ),
            ).alias("seq")
        )
    )
    aggs = [F.count(F.lit(1)).alias("n_users")]
    for name, rx in PATTERNS:
        aggs.append(
            F.sum(F.col("seq").rlike(rx).cast("int"))
            .cast("bigint")
            .alias(f"m_{name}")
        )
    agg = seqs.agg(*aggs)
    stack_args = ", ".join(
        f"'{name}', m_{name}" for name, _ in PATTERNS
    )
    return agg.select(
        F.expr(
            f"stack({len(PATTERNS)}, {stack_args}) AS (pattern, n_matched)"
        ),
        "n_users",
    ).select(
        "pattern",
        "n_matched",
        "n_users",
        fround(F.col("n_matched") / F.col("n_users"), 6).alias(
            "match_rate"
        ),
    )


QUERIES["events_pattern_match"] = q_events_pattern_match


def _pattern_oracle() -> str:
    char_case = (
        "CASE "
        + " ".join(
            f"WHEN event_type = '{t}' THEN '{c}'"
            for t, c in _EVENT_CHAR.items()
        )
        + " ELSE 'x' END"
    )
    m_cols = ", ".join(
        f"CAST(sum(CASE WHEN regexp_matches(seq, '{rx}') THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS m_{name}"
        for name, rx in PATTERNS
    )
    unions = " UNION ALL ".join(
        f"SELECT '{name}' AS pattern, m_{name} AS n_matched, n_users"
        f" FROM agg"
        for name, _ in PATTERNS
    )
    return f"""
        WITH seqs AS (
            SELECT user_id,
                   string_agg({char_case}, '' ORDER BY ts, event_id) AS seq
            FROM events GROUP BY user_id
        ),
        agg AS (SELECT count(*) AS n_users, {m_cols} FROM seqs)
        SELECT pattern, n_matched, n_users,
               floor((n_matched / CAST(n_users AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS match_rate
        FROM ({unions})
    """


ORACLE["events_pattern_match"] = _pattern_oracle()


# ---------------------------------------------------------------------------
# Semi-structured (JSON) property processing.


def q_events_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup over a JSON property column: extract ``$.k`` from each
    event's ``props`` payload and aggregate per event type — the
    ubiquitous semi-structured pattern (analytics events carry a JSON
    blob; the pipeline extracts typed fields at scan time). Extraction
    is JVM-side ``get_json_object`` (no Python in the path) and the
    rollup is one map-combinable aggregate; at 100 TB the right
    evolution is materializing hot JSON fields to typed columns at
    ingest — this op IS that materialization expressed as a query.
    Null-safety: events with missing/corrupt payloads count toward
    n_events but not the k stats.
    """
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("k").alias("n_with_k"),
            fround(
                F.sum(F.col("k").cast("decimal(25,6)")).cast("double")
                / F.count("k"), 6).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


QUERIES["events_props_rollup"] = q_events_props_rollup

ORACLE["events_props_rollup"] = """
    SELECT event_type,
           count(*) AS n_events,
           count(k) AS n_with_k,
           floor((CAST(sum(CAST(k AS DECIMAL(25,6))) AS DOUBLE)
                 / count(k)) * 1e6 + 0.5) / 1e6 AS avg_k,
           min(k) AS min_k,
           max(k) AS max_k
    FROM (
        SELECT event_type,
               CASE WHEN json_valid(props)
                    THEN CAST(json_extract(props, '$.k') AS BIGINT)
               END AS k
        FROM events
    )
    GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Activity heatmap + session survival analysis.

HEAT_EPOCH = "2024-01-01"  # a Monday; dow_idx 0 = Monday


def q_events_hour_dow_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour x day-of-week activity heatmap — the load-shape grid behind
    capacity planning and anomaly baselines. Engine-portable weekday
    via ``datediff(day, epoch) % 7`` (weekday_seasonality precedent);
    hour from the UTC-pinned timestamp. One map-combinable aggregate
    onto the fixed <=168-cell grid, shares in doubles from exact
    counts.
    """
    ev = load_table(spark, sf_dir, "events")
    dow = (
        F.datediff(F.to_date("ts"), F.lit(HEAT_EPOCH).cast("date")) % 7
    )
    cells = ev.groupBy(
        ((dow + 7) % 7).cast("bigint").alias("dow_idx"),
        F.hour("ts").cast("bigint").alias("hour"),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    total = cells.agg(F.sum("n_events").alias("n_total"))
    return cells.crossJoin(F.broadcast(total)).select(
        "dow_idx",
        "hour",
        "n_events",
        fround(F.col("n_events") / F.col("n_total"), 6).alias("share"),
    )


QUERIES["events_hour_dow_heatmap"] = q_events_hour_dow_heatmap

ORACLE["events_hour_dow_heatmap"] = f"""
    WITH cells AS (
        SELECT ((datediff('day', DATE '{HEAT_EPOCH}',
                          CAST(ts AS DATE)) % 7) + 7) % 7 AS dow_idx,
               CAST(hour(ts) AS BIGINT) AS hour,
               count(*) AS n_events
        FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT sum(n_events) AS n_total FROM cells)
    SELECT CAST(dow_idx AS BIGINT) AS dow_idx, hour, n_events,
           floor((n_events / CAST(n_total AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS share
    FROM cells, tot
"""


def _km_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared Kaplan-Meier derivation core: sessionize by the
    ``events_sessionize`` gap rule (``_gap_sessions``), censor sessions
    still within one idle gap of the observation end, and build the KM
    curve on the bounded distinct-duration grid — consumed by the curve
    entry (``session_km_survival``) and the parametric fit over it
    (``session_weibull_fit``), so the two can never drift on
    censoring or rounding."""
    ev = load_table(spark, sf_dir, "events")
    sess = _gap_sessions(ev).groupBy("user_id", "session_seq").agg(
        (
            F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
        ).alias("dur"),
        F.unix_timestamp(F.max("ts")).alias("last_s"),
    )
    gmax = ev.agg(F.unix_timestamp(F.max("ts")).alias("gmax"))
    tagged = sess.crossJoin(F.broadcast(gmax)).select(
        "dur",
        # <=, not <: the sessionizer only splits on gap > SESSION_GAP_SEC,
        # so a session whose last event is EXACTLY the gap before the
        # observation end has not provably ended — censor it.
        (F.col("gmax") - F.col("last_s") <= SESSION_GAP_SEC).alias(
            "censored"
        ),
    )
    grid = tagged.groupBy("dur").agg(
        F.sum(F.when(~F.col("censored"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_death"),
        F.sum(F.when(F.col("censored"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_censored"),
    )
    return _km_curve_from_grid(grid)


def _km_curve_from_grid(grid: DataFrame) -> DataFrame:
    """KM curve from a (dur, n_death, n_censored) duration grid — the
    post-sessionization half of ``_km_curve``, split out so the
    streaming serve path (``streaming_weibull``: deaths from the
    maintained closed-duration grid, censoring from the open-session
    tails) runs the IDENTICAL at-risk / ln-product expression chain as
    the batch curve and can never drift on rounding."""
    w_risk = Window.orderBy(F.col("dur").asc()).rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    w_cum = Window.orderBy(F.col("dur").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risky = grid.withColumn(
        "n_risk", F.sum(F.col("n_death") + F.col("n_censored")).over(w_risk)
    )
    term = F.when(
        F.col("n_death") < F.col("n_risk"),
        fround(F.log(1.0 - F.col("n_death") / F.col("n_risk")), 6),
    ).otherwise(F.lit(0.0))
    dead = F.when(F.col("n_death") >= F.col("n_risk"), 1).otherwise(0)
    curve = (
        risky.withColumn(
            "cum",
            F.sum(term.cast("decimal(18,6)")).over(w_cum).cast("double"),
        )
        .withColumn("hit_zero", F.max(dead).over(w_cum))
        .select(
            F.col("dur").alias("duration_sec"),
            "n_risk",
            "n_death",
            "n_censored",
            F.when(F.col("hit_zero") == 1, F.lit(0.0))
            .otherwise(fround(F.exp(F.col("cum")), 6))
            .alias("survival"),
        )
    )
    return curve


def q_session_km_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of session duration (Kaplan &
    Meier, JASA 1958) — how long do sessions live, with CENSORING done
    right: a session whose last event falls within one idle gap of the
    observation end has not provably ended, so it joins the risk sets
    without counting as a death — dropping those sessions (or calling
    them dead) is the classic churn-analysis bias this estimator
    exists to fix.

    Sessions come from ``_gap_sessions``, the ``events_sessionize``
    gap rule. Everything after the per-session rollup lives on the bounded
    distinct-duration grid (``_km_curve``): deaths/censored per
    duration (one aggregate), at-risk via a reverse cumulative sum,
    and the KM product as exp of a cumulative DECIMAL sum of 6-dp ln
    terms — windows over grid rows only, never sessions. After the
    first duration where every at-risk session dies, survival is
    pinned to exactly 0 (the ln term would be -inf; both engines flag
    it instead).
    """
    return _km_curve(spark, sf_dir)


QUERIES["session_km_survival"] = q_session_km_survival


def q_session_weibull_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parametric Weibull fit of session survival — the one-row churn
    model a lifetime analysis publishes next to the KM curve: under
    Weibull, S(t) = exp(-(t/λ)^k), so ln(-ln S(t)) is LINEAR in ln t
    with slope k (shape) and intercept -k·ln λ — the classical
    Weibull probability plot, with the plotting positions taken from
    the CENSORING-CORRECT Kaplan-Meier estimator (the shared
    ``_km_curve``) rather than naive ranks, the standard recipe for
    censored data. k < 1 reads as infant-mortality churn (sessions
    die fast early), k > 1 as wear-out.

    Scale shape: the fit runs entirely on the bounded distinct-
    duration grid — the corpus collapses in ``_km_curve``'s one
    session rollup; the OLS is one aggregate over grid rows.
    Determinism: every transcendental 6-dp floor-staged (ln t; -ln S
    staged before the outer ln), then the shared staged OLS kernel
    (``functions/ols.py``: 9-dp staged products, DECIMAL sums, the
    closed form in mirrored double arithmetic), guarded degenerate
    denominators.
    Fit points exclude dur=0 (ln undefined), survival pinned to 0
    (the all-die tail), and censor-only grid rows (no death at that
    duration ⇒ no plotting position)."""
    return _weibull_fit_from_curve(_km_curve(spark, sf_dir))


def _weibull_fit_from_curve(curve: DataFrame) -> DataFrame:
    """Weibull probability-plot OLS over a KM curve DataFrame — the
    fit tail of ``session_weibull_fit``, split out so the streaming
    serve path regresses over a maintained-state curve through the
    IDENTICAL staged-log / DECIMAL-sum expression chain (the shared
    OLS kernel ``functions/ols.py``)."""
    pts = curve.filter(
        (F.col("n_death") > 0)
        & (F.col("duration_sec") > 0)
        & (F.col("survival") > 0)
        & (F.col("survival") < 1)
    )
    x6 = fround(F.log(F.col("duration_sec").cast("double")), 6)
    y6 = fround(F.log(fround(-F.log(F.col("survival")), 6)), 6)

    sums = pts.select(x6.alias("x6"), y6.alias("y6")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"), *ols_sums()
    )
    cov, varx, vary, slope, intercept = ols_fit("n_points")
    return sums.select(
        "n_points",
        F.when(varx > 0, fround(slope, 6)).otherwise(F.lit(0.0)).alias(
            "weibull_shape"
        ),
        F.when(
            (varx > 0) & (cov != 0),
            fround(F.exp(-intercept / slope), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("weibull_scale"),
        F.when(
            (varx > 0) & (vary > 0), fround((cov * cov) / (varx * vary), 6)
        )
        .otherwise(F.lit(0.0))
        .alias("r2"),
    )


QUERIES["session_weibull_fit"] = q_session_weibull_fit

ORACLE["session_km_survival"] = f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN floor(epoch(ts)) - floor(epoch(lag(ts) OVER w))
                         > {SESSION_GAP_SEC} THEN 1 ELSE 0 END
                   AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    runs AS (
        SELECT user_id, ts,
               sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING
               ) + 1 AS session_seq
        FROM flagged
    ),
    sess AS (
        SELECT CAST(floor(epoch(max(ts))) - floor(epoch(min(ts)))
                    AS BIGINT) AS dur,
               floor(epoch(max(ts))) AS last_s
        FROM runs GROUP BY user_id, session_seq
    ),
    gmax AS (SELECT floor(epoch(max(ts))) AS gmax FROM events),
    tagged AS (
        SELECT dur, (gmax - last_s) <= {SESSION_GAP_SEC} AS censored
        FROM sess, gmax
    ),
    grid AS (
        SELECT dur,
               CAST(sum(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_death,
               CAST(sum(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_censored
        FROM tagged GROUP BY dur
    ),
    risky AS (
        SELECT *, sum(n_death + n_censored) OVER (
                   ORDER BY dur ASC
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
               ) AS n_risk
        FROM grid
    ),
    curve AS (
        SELECT dur, n_risk, n_death, n_censored,
               sum(CAST(CASE WHEN n_death < n_risk
                        THEN floor((ln(1.0 - n_death
                                      / CAST(n_risk AS DOUBLE))) * 1e6 + 0.5) / 1e6
                        ELSE 0.0 END AS DECIMAL(18,6))) OVER (
                   ORDER BY dur ASC ROWS UNBOUNDED PRECEDING
               ) AS cum,
               max(CASE WHEN n_death >= n_risk THEN 1 ELSE 0 END) OVER (
                   ORDER BY dur ASC ROWS UNBOUNDED PRECEDING
               ) AS hit_zero
        FROM risky
    )
    SELECT dur AS duration_sec, CAST(n_risk AS BIGINT) AS n_risk,
           n_death, n_censored,
           CASE WHEN hit_zero = 1 THEN 0.0
                ELSE floor((exp(CAST(cum AS DOUBLE))) * 1e6 + 0.5) / 1e6 END AS survival
    FROM curve
"""

# The Weibull plot regresses ln(-ln S) on ln t over the SAME KM curve
# the standalone oracle derives — composed verbatim so the censoring
# and rounding chain is written once.
ORACLE["session_weibull_fit"] = f"""
    WITH km AS ({ORACLE["session_km_survival"]}),
    pts AS (
        SELECT floor(ln(CAST(duration_sec AS DOUBLE)) * 1e6 + 0.5) / 1e6
                   AS x6,
               floor(ln(floor((-ln(survival)) * 1e6 + 0.5) / 1e6)
                     * 1e6 + 0.5) / 1e6 AS y6
        FROM km
        WHERE n_death > 0 AND duration_sec > 0
          AND survival > 0 AND survival < 1
    ),
    sums AS (
        SELECT CAST(count(*) AS BIGINT) AS n_points,
               CAST(sum(CAST(x6 AS DECIMAL(25,6))) AS DOUBLE) AS sx,
               CAST(sum(CAST(y6 AS DECIMAL(25,6))) AS DOUBLE) AS sy,
               CAST(sum(CAST(floor(x6 * x6 * 1e9 + 0.5) / 1e9
                             AS DECIMAL(28,9))) AS DOUBLE) AS sxx,
               CAST(sum(CAST(floor(x6 * y6 * 1e9 + 0.5) / 1e9
                             AS DECIMAL(28,9))) AS DOUBLE) AS sxy,
               CAST(sum(CAST(floor(y6 * y6 * 1e9 + 0.5) / 1e9
                             AS DECIMAL(28,9))) AS DOUBLE) AS syy
        FROM pts
    ),
    fit AS (
        SELECT n_points,
               CAST(n_points AS DOUBLE) * sxy - sx * sy AS cov,
               CAST(n_points AS DOUBLE) * sxx - sx * sx AS varx,
               CAST(n_points AS DOUBLE) * syy - sy * sy AS vary,
               sx, sy
        FROM sums
    )
    SELECT n_points,
           CASE WHEN varx > 0
                THEN floor((cov / varx) * 1e6 + 0.5) / 1e6
                ELSE 0.0 END AS weibull_shape,
           CASE WHEN varx > 0 AND cov <> 0
                THEN floor(exp(-((sy - (cov / varx) * sx)
                                 / CAST(n_points AS DOUBLE))
                               / (cov / varx)) * 1e6 + 0.5) / 1e6
                ELSE 0.0 END AS weibull_scale,
           CASE WHEN varx > 0 AND vary > 0
                THEN floor(((cov * cov) / (varx * vary)) * 1e6 + 0.5) / 1e6
                ELSE 0.0 END AS r2
    FROM fit
"""


# ---------------------------------------------------------------------------
# Deterministic A/B experiment analysis (Welch's t).

_AB_SALT = "ab|"


def q_events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users split 50/50 into arms by a salted
    hash of user_id (the real-world assignment mechanism — stable
    across sessions and engines, no RNG), then per event type the two
    arms' event values are compared with Welch's unequal-variance t
    statistic (Welch, Biometrika 1947) — the experimentation primitive
    on top of the events stream.

    Everything reduces to the six sufficient statistics per (arm,
    event_type) — count, Σv, Σv² as 9/12-dp DECIMAL sums (the
    repo's variance discipline: float-order-independent, so partial
    aggregation is safe) — and the t statistic is closed-form double
    math on the tiny (type × 2) grid. The report carries means, the
    difference, and |t| ≥ 1.96 as the naive significance flag.
    """
    ev = load_table(spark, sf_dir, "events")
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(_AB_SALT), F.col("user_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
    ) / F.lit(float(0x100000000))
    arm = F.when(u < 0.5, F.lit("A")).otherwise(F.lit("B"))
    vd = fround(F.col("value"), 9).cast("decimal(30,9)")
    v2d = fround(F.col("value") * F.col("value"), 12).cast("decimal(30,12)")
    stats = (
        ev.select("event_type", arm.alias("arm"), "value")
        .groupBy("event_type", "arm")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(vd).cast("double").alias("s"),
            F.sum(v2d).cast("double").alias("s2"),
        )
    )
    a = stats.filter(F.col("arm") == "A").select(
        "event_type",
        F.col("n").alias("n_a"),
        F.col("s").alias("s_a"),
        F.col("s2").alias("s2_a"),
    )
    b = stats.filter(F.col("arm") == "B").select(
        "event_type",
        F.col("n").alias("n_b"),
        F.col("s").alias("s_b"),
        F.col("s2").alias("s2_b"),
    )
    j = a.join(b, "event_type")
    mean_a = F.col("s_a") / F.col("n_a")
    mean_b = F.col("s_b") / F.col("n_b")
    var_a = (F.col("s2_a") - F.col("s_a") * F.col("s_a") / F.col("n_a")) / (
        F.col("n_a") - 1
    )
    var_b = (F.col("s2_b") - F.col("s_b") * F.col("s_b") / F.col("n_b")) / (
        F.col("n_b") - 1
    )
    se = F.sqrt(var_a / F.col("n_a") + var_b / F.col("n_b"))
    t = (mean_a - mean_b) / se
    return j.select(
        "event_type",
        "n_a",
        "n_b",
        fround(mean_a, 6).alias("mean_a"),
        fround(mean_b, 6).alias("mean_b"),
        fround(mean_a - mean_b, 6).alias("diff"),
        fround(t, 6).alias("t_stat"),
        (F.abs(t) >= 1.96).alias("significant"),
    )


QUERIES["events_ab_test"] = q_events_ab_test

ORACLE["events_ab_test"] = f"""
    WITH tagged AS (
        SELECT event_type, value,
               CASE WHEN (CAST(CAST('0x' || substring(
                         md5('{_AB_SALT}' || CAST(user_id AS VARCHAR)), 1, 8)
                         AS UBIGINT) AS DOUBLE)
                     / {float(0x100000000)!r}) < 0.5
                    THEN 'A' ELSE 'B' END AS arm
        FROM events
    ),
    stats AS (
        SELECT event_type, arm, count(*) AS n,
               CAST(sum(CAST(floor((value) * 1e9 + 0.5) / 1e9 AS DECIMAL(30,9)))
                    AS DOUBLE) AS s,
               CAST(sum(CAST(floor((value * value) * 1e12 + 0.5) / 1e12 AS DECIMAL(30,12)))
                    AS DOUBLE) AS s2
        FROM tagged GROUP BY 1, 2
    ),
    j AS (
        SELECT a.event_type,
               a.n AS n_a, a.s AS s_a, a.s2 AS s2_a,
               b.n AS n_b, b.s AS s_b, b.s2 AS s2_b
        FROM (SELECT * FROM stats WHERE arm = 'A') a
        JOIN (SELECT * FROM stats WHERE arm = 'B') b USING (event_type)
    )
    SELECT event_type, n_a, n_b,
           floor((s_a / n_a) * 1e6 + 0.5) / 1e6 AS mean_a,
           floor((s_b / n_b) * 1e6 + 0.5) / 1e6 AS mean_b,
           floor((s_a / n_a - s_b / n_b) * 1e6 + 0.5) / 1e6 AS diff,
           floor(((s_a / n_a - s_b / n_b)
                 / sqrt(((s2_a - s_a * s_a / n_a) / (n_a - 1)) / n_a
                        + ((s2_b - s_b * s_b / n_b) / (n_b - 1)) / n_b)) * 1e6 + 0.5) / 1e6 AS t_stat,
           abs((s_a / n_a - s_b / n_b)
               / sqrt(((s2_a - s_a * s_a / n_a) / (n_a - 1)) / n_a
                      + ((s2_b - s_b * s_b / n_b) / (n_b - 1)) / n_b))
               >= 1.96 AS significant
    FROM j
"""


# ---------------------------------------------------------------------------
# Markov transition matrix over within-session event sequences.


def _transitions(ev: DataFrame, *keep: str) -> DataFrame:
    """The within-session transition pairs (``keep`` columns, from_type,
    to_type): each event and the user's next one ((ts, event_id)
    order) whose whole-second gap keeps them in one session
    (<= SESSION_GAP_SEC, the complement of the sessionizer's > split).
    Shared by ``events_markov_chain``, ``markov_next_event_eval`` (which
    keeps ``user_id`` for its holdout split) and
    ``events_entropy_rate``."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            *keep,
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
            (
                F.lead(F.unix_timestamp("ts")).over(w)
                - F.unix_timestamp("ts")
            ).alias("gap"),
        )
        .filter(
            F.col("to_type").isNotNull() & (F.col("gap") <= SESSION_GAP_SEC)
        )
        .select(*keep, "from_type", "to_type")
    )


def q_events_markov_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types WITHIN
    sessions: P(next_type | type) over adjacent event pairs whose gap
    respects the sessionizer's rule (same session iff the gap is
    <= SESSION_GAP_SEC — the complement of the > gap split), plus the
    raw transition counts. The behavior-model companion of
    ``session_ngram_examples`` (which emits training EXAMPLES; this
    emits the fitted first-order MODEL) — the classic clickstream
    "what follows what" matrix.

    Plan: ONE window pass per user ((ts, event_id) tiebreak — adjacent
    pair emit is map-side after the user shuffle), one map-combinable
    (from, to) count, row totals from a second tiny aggregate over the
    |types|^2 grid (broadcast back), probabilities in the portable
    floor form. No self-joins, no global windows; per-user partitions
    bounded by user activity.
    """
    pairs = _transitions(load_table(spark, sf_dir, "events"))
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_transitions")
    )
    totals = counts.groupBy("from_type").agg(
        F.sum("n_transitions").cast("bigint").alias("_tot")
    )
    return counts.join(F.broadcast(totals), "from_type").select(
        "from_type",
        "to_type",
        "n_transitions",
        fround(
            F.col("n_transitions") / F.col("_tot").cast("double"), 6
        ).alias("p"),
    )


QUERIES["events_markov_chain"] = q_events_markov_chain

ORACLE["events_markov_chain"] = f"""
    WITH pairs AS (
        SELECT event_type AS from_type,
               lead(event_type) OVER w AS to_type,
               floor(epoch(lead(ts) OVER w)) - floor(epoch(ts)) AS gap
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    counts AS (
        SELECT from_type, to_type,
               CAST(count(*) AS BIGINT) AS n_transitions
        FROM pairs
        WHERE to_type IS NOT NULL AND gap <= {SESSION_GAP_SEC}
        GROUP BY 1, 2
    ),
    totals AS (
        SELECT from_type, CAST(sum(n_transitions) AS BIGINT) AS tot
        FROM counts GROUP BY 1
    )
    SELECT c.from_type, c.to_type, c.n_transitions,
           floor((c.n_transitions / CAST(t.tot AS DOUBLE)) * 1e6 + 0.5)
               / 1e6 AS p
    FROM counts c JOIN totals t ON c.from_type = t.from_type
"""


# ---------------------------------------------------------------------------
# Daily-count autocorrelation (the seasonality-detection companion of
# weekday_seasonality: instead of ASSUMING a weekly period, measure it).

AUTOCORR_LAGS = (1, 7)


def q_events_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type, the lag-1 and lag-7 autocorrelation of the daily
    event-count series — the one-number periodicity test (lag-7 high +
    lag-1 low = weekly cycle) a monitoring pipeline runs per metric.

    Exactness: daily counts are INTEGERS on the bounded (type, day)
    grid, so for each lag the Pearson moments over (x_t, x_{t+lag})
    pairs are exact aggregates (the ``graph_assortativity`` recipe).
    The cross-moments accumulate in DECIMAL(38,0), not BIGINT: at
    ~1e9 events/day/type, sum(x*y) passes 1e18 and int64 wraps —
    decimal keeps the moments exact to 1e38. The only float op is the
    final quotient in portable floor form, zero-variance guarded.
    Plan: one fact shuffle to the daily grid, then a per-lag
    self-join + moment rollup entirely on the tiny grid.
    """
    ev = load_table(spark, sf_dir, "events")
    grid = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    out = None
    for lag in AUTOCORR_LAGS:
        g2 = grid.select(
            F.col("event_type").alias("t2"),
            F.date_add("day", -lag).alias("d2"),
            F.col("c").alias("y"),
        )
        pairs = grid.join(
            g2,
            (F.col("event_type") == F.col("t2")) & (F.col("day") == F.col("d2")),
        ).select("event_type", F.col("c").alias("x"), "y")
        xd = F.col("x").cast("decimal(19,0)")
        yd = F.col("y").cast("decimal(19,0)")
        m = pairs.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("decimal(19,0)").alias("n"),
            F.sum(xd).cast("decimal(38,0)").alias("sx"),
            F.sum(yd).cast("decimal(38,0)").alias("sy"),
            F.sum(xd * yd).cast("decimal(38,0)").alias("sxy"),
            F.sum(xd * xd).cast("decimal(38,0)").alias("sxx"),
            F.sum(yd * yd).cast("decimal(38,0)").alias("syy"),
        )
        num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
            "decimal(38,0)"
        )
        denx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
            "decimal(38,0)"
        )
        deny = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
            "decimal(38,0)"
        )
        part = m.select(
            "event_type",
            F.lit(lag).alias("lag"),
            F.col("n").cast("bigint").alias("n_pairs"),
            F.when(
                (denx > 0) & (deny > 0),
                fround(
                    num.cast("double")
                    / F.sqrt(denx.cast("double") * deny.cast("double")),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("autocorr"),
        )
        out = part if out is None else out.unionAll(part)
    return out


QUERIES["events_autocorr"] = q_events_autocorr

ORACLE["events_autocorr"] = f"""
    WITH grid AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    lags AS (SELECT unnest({list(AUTOCORR_LAGS)!r}) AS lag),
    m AS (
        SELECT g1.event_type, l.lag,
               CAST(count(*) AS DECIMAL(19,0)) AS n,
               CAST(sum(CAST(g1.c AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sx,
               CAST(sum(CAST(g2.c AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sy,
               CAST(sum(CAST(g1.c AS DECIMAL(19,0))
                        * CAST(g2.c AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sxy,
               CAST(sum(CAST(g1.c AS DECIMAL(19,0))
                        * CAST(g1.c AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sxx,
               CAST(sum(CAST(g2.c AS DECIMAL(19,0))
                        * CAST(g2.c AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS syy
        FROM lags l, grid g1
        JOIN grid g2 ON g1.event_type = g2.event_type
        WHERE g2.day = g1.day + CAST(l.lag AS INTEGER)
        GROUP BY 1, 2
    )
    SELECT event_type, CAST(lag AS INTEGER) AS lag,
           CAST(n AS BIGINT) AS n_pairs,
           CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                THEN floor((CAST(n * sxy - sx * sy AS DOUBLE)
                            / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                                   * CAST(n * syy - sy * sy AS DOUBLE)))
                           * 1e6 + 0.5) / 1e6
                ELSE 0.0 END AS autocorr
    FROM m
"""


# ---------------------------------------------------------------------------
# Position-based (U-shaped) multi-touch attribution — the third member
# of the attribution family: asof (last-touch) / time-decay / position.


def q_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: within each
    purchase's 30-min touch window, the FIRST and LAST click each earn
    40% of the purchase value and the middle touches split the
    remaining 20% equally (1 touch -> 100%, 2 touches -> 50/50) — the
    standard U-shape that values discovery and closing over the
    middle of the journey.

    Scale shape: the same bounded user-keyed purchase x click join as
    ``attribution_time_decay``; touch ordering is a row_number window
    PARTITIONED BY purchase (fan-out bounded by the 30-min window, no
    global sort). Weights are closed-form in (rank, n) so no
    normalizer pass is needed; shares are 6-dp floor-staged then
    DECIMAL-summed per user (order-independent).
    """
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("c_id"),
    )
    lead_sec = F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts")
    pairs = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") < F.col("p_ts"))
        & (lead_sec <= ATTR_WINDOW_SEC),
    ).select("p_id", "p_user", "p_value", "c_id", "c_ts")
    w_rank = Window.partitionBy("p_id").orderBy("c_ts", "c_id")
    w_cnt = Window.partitionBy("p_id")
    ranked = pairs.select(
        "p_user",
        "p_id",
        "c_id",
        "p_value",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_cnt).alias("n"),
    )
    weight = (
        F.when(F.col("n") == 1, F.lit(1.0))
        .when(F.col("n") == 2, F.lit(0.5))
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("n")), F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("n") - 2))
    )
    attributed = ranked.select(
        "p_user",
        "p_id",
        fround(F.col("p_value") * weight, 6)
        .cast("decimal(25,6)")
        .alias("share"),
    )
    return (
        attributed.groupBy(F.col("p_user").alias("user_id"))
        .agg(
            F.countDistinct("p_id").alias("n_purchases"),
            F.count(F.lit(1)).alias("n_touches"),
            F.sum("share").cast("double").alias("attributed_value"),
        )
        .select(
            "user_id",
            "n_purchases",
            "n_touches",
            fround("attributed_value", 6).alias("attributed_value"),
        )
    )


QUERIES["attribution_position"] = q_attribution_position

ORACLE["attribution_position"] = f"""
    WITH pairs AS (
        SELECT p.event_id AS p_id, p.user_id AS p_user, p.value AS p_value,
               c.event_id AS c_id, c.ts AS c_ts
        FROM events p
        JOIN events c
          ON p.user_id = c.user_id
         AND p.event_type = 'purchase'
         AND c.event_type = 'click'
         AND c.ts < p.ts
         AND floor(epoch(p.ts)) - floor(epoch(c.ts)) <= {ATTR_WINDOW_SEC}
    ),
    ranked AS (
        SELECT p_user, p_id, p_value,
               row_number() OVER (PARTITION BY p_id
                                  ORDER BY c_ts, c_id) AS rn,
               count(*) OVER (PARTITION BY p_id) AS n
        FROM pairs
    ),
    attributed AS (
        SELECT p_user, p_id,
               CAST(floor((p_value * CASE
                    WHEN n = 1 THEN CAST(1.0 AS DOUBLE)
                    WHEN n = 2 THEN CAST(0.5 AS DOUBLE)
                    WHEN rn = 1 OR rn = n THEN CAST(0.4 AS DOUBLE)
                    ELSE CAST(0.2 AS DOUBLE) / (n - 2) END) * 1e6 + 0.5) / 1e6
                    AS DECIMAL(25,6)) AS share
        FROM ranked
    )
    SELECT p_user AS user_id,
           CAST(count(DISTINCT p_id) AS BIGINT) AS n_purchases,
           count(*) AS n_touches,
           floor(CAST(sum(share) AS DOUBLE) * 1e6 + 0.5) / 1e6
               AS attributed_value
    FROM attributed
    GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Next-event prediction eval: the acceptance report for the Markov model.


def q_markov_next_event_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hit-rate@1 of first-order Markov next-event prediction under an
    honest user-level holdout: the transition model fits on EVEN
    user_ids, predicts argmax P(next | current) (ties broken by
    to_type asc), and is scored on ODD users' transitions — the
    train/test discipline that keeps the report from grading the model
    on its own training data. The eval half of
    ``events_markov_chain``'s fitted model.

    Plan: the one per-user window pass of ``_transitions`` emits
    adjacent in-session pairs ONCE; both halves then reduce to
    (from, to) count grids (|types|^2), so training argmax, eval
    totals, and the hit join all run on broadcast-size frames — the
    fact shuffles once regardless of corpus size.
    """
    pairs = _transitions(load_table(spark, sf_dir, "events"), "user_id")
    train = (
        pairs.filter(F.col("user_id") % 2 == 0)
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    # argmax next state per from_type: (n desc, to_type asc) as min_by
    # over the orderable struct (-n, to_type) — map-combinable, no window
    predicted = train.groupBy("from_type").agg(
        F.min_by(
            "to_type", F.struct((-F.col("n")).alias("neg_n"), F.col("to_type"))
        ).alias("predicted_next")
    )
    ev_counts = (
        pairs.filter(F.col("user_id") % 2 == 1)
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_eval"))
    )
    scored = ev_counts.join(F.broadcast(predicted), "from_type", "left")
    return (
        scored.groupBy("from_type")
        .agg(
            F.max("predicted_next").alias("predicted_next"),
            F.sum("n_eval").cast("bigint").alias("n_eval"),
            F.sum(
                F.when(
                    F.col("to_type") == F.col("predicted_next"), F.col("n_eval")
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_hits"),
        )
        .select(
            "from_type",
            "predicted_next",
            "n_eval",
            "n_hits",
            fround(F.col("n_hits") / F.col("n_eval").cast("double"), 6).alias(
                "hit_rate"
            ),
        )
    )


QUERIES["markov_next_event_eval"] = q_markov_next_event_eval

ORACLE["markov_next_event_eval"] = f"""
    WITH pairs AS (
        SELECT user_id, from_type, to_type FROM (
            SELECT user_id, event_type AS from_type,
                   lead(event_type) OVER w AS to_type,
                   floor(epoch(lead(ts) OVER w)) - floor(epoch(ts)) AS gap
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ) WHERE to_type IS NOT NULL AND gap <= {SESSION_GAP_SEC}
    ),
    train AS (
        SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        FROM pairs WHERE user_id % 2 = 0 GROUP BY 1, 2
    ),
    predicted AS (
        SELECT from_type, to_type AS predicted_next
        FROM (
            SELECT from_type, to_type,
                   row_number() OVER (PARTITION BY from_type
                                      ORDER BY n DESC, to_type) AS rk
            FROM train
        ) WHERE rk = 1
    ),
    ev_counts AS (
        SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_eval
        FROM pairs WHERE user_id % 2 = 1 GROUP BY 1, 2
    )
    SELECT e.from_type,
           max(p.predicted_next) AS predicted_next,
           CAST(sum(e.n_eval) AS BIGINT) AS n_eval,
           CAST(sum(CASE WHEN e.to_type = p.predicted_next
                         THEN e.n_eval ELSE 0 END) AS BIGINT) AS n_hits,
           floor((CAST(sum(CASE WHEN e.to_type = p.predicted_next
                                THEN e.n_eval ELSE 0 END) AS DOUBLE)
                  / sum(e.n_eval)) * 1e6 + 0.5) / 1e6 AS hit_rate
    FROM ev_counts e LEFT JOIN predicted p ON e.from_type = p.from_type
    GROUP BY 1
"""


def q_events_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the session behavior chain (Shannon 1948;
    the behavioral-predictability ceiling of Song et al., Science
    2010): H = −Σ_ij (c_ij/N)·ln(c_ij/c_i•) over the fitted first-order
    transition matrix — events_markov_chain emits the MODEL, this
    emits the one-number summary that says how predictable the
    clickstream actually is (0 = deterministic next-event, ln S =
    uniform chaos), plus the normalized form and its complement.

    Plan: the markov operator's pair grid (``_transitions``, one
    window pass), collapsed to the |types|² count grid; every downstream quantity
    lives on that bounded grid — ln terms 6-dp floor-staged into a
    DECIMAL sum (even a 25-row double sum is partition-order-
    dependent), marginals and N exact integers, the normalizing ln S
    staged from the same literal pipeline. No perplexity output on
    purpose: exp() is not correctly-rounded libm and would break
    cross-engine exactness for zero analytic gain.
    """
    pairs = _transitions(load_table(spark, sf_dir, "events"))
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    totals = counts.groupBy("from_type").agg(
        F.sum("c").cast("bigint").alias("tot")
    )
    grid = counts.join(F.broadcast(totals), "from_type")
    # n_states must count the FULL state set (from ∪ to): normalizing
    # by ln(#from-states) lets norm_entropy exceed 1 (and its
    # complement go negative) whenever rare types appear only as
    # transition TARGETS
    states = (
        counts.select(F.col("from_type").alias("t"))
        .union(counts.select(F.col("to_type").alias("t")))
        .distinct()
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_states"))
    )
    gt = totals.agg(
        F.sum("tot").cast("bigint").alias("n_transitions")
    ).crossJoin(F.broadcast(states))
    term = fround(
        (F.col("c") / F.col("n_transitions"))
        * F.log(F.col("c") / F.col("tot")),
        6,
    )
    h = grid.crossJoin(F.broadcast(gt)).agg(
        F.first("n_transitions").alias("n_transitions"),
        F.first("n_states").alias("n_states"),
        F.sum(term.cast("decimal(25,6)")).alias("_s"),
    )
    h_d = -F.col("_s").cast("double")
    ln_s = fround(F.log(F.col("n_states").cast("double")), 6)
    norm = fround(h_d / ln_s, 6)
    return h.select(
        "n_transitions",
        "n_states",
        fround(h_d, 6).alias("entropy_rate_nats"),
        F.when(F.col("n_states") > 1, norm).otherwise(F.lit(0.0)).alias(
            "norm_entropy"
        ),
        F.when(F.col("n_states") > 1, fround(F.lit(1.0) - norm, 6))
        .otherwise(F.lit(1.0))
        .alias("predictability"),
    )


QUERIES["events_entropy_rate"] = q_events_entropy_rate

ORACLE["events_entropy_rate"] = f"""
    WITH seq AS (
        SELECT event_type AS from_type,
               lead(event_type) OVER w AS to_type,
               CAST(floor(epoch(lead(ts) OVER w)) AS BIGINT)
                 - CAST(floor(epoch(ts)) AS BIGINT) AS gap
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    counts AS (
        SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS c
        FROM seq
        WHERE to_type IS NOT NULL AND gap <= {SESSION_GAP_SEC}
        GROUP BY 1, 2
    ),
    totals AS (
        SELECT from_type, CAST(sum(c) AS BIGINT) AS tot
        FROM counts GROUP BY 1
    ),
    states AS (
        SELECT CAST(count(*) AS BIGINT) AS n_states
        FROM (SELECT from_type AS t FROM counts
              UNION SELECT to_type AS t FROM counts)
    ),
    gt AS (
        SELECT CAST(sum(tot) AS BIGINT) AS n_transitions,
               any_value(n_states) AS n_states
        FROM totals CROSS JOIN states
    ),
    h AS (
        SELECT any_value(n_transitions) AS n_transitions,
               any_value(n_states) AS n_states,
               sum(CAST(floor(((c / n_transitions) * ln(c / tot))
                              * 1e6 + 0.5) / 1e6 AS DECIMAL(25,6))) AS s
        FROM counts JOIN totals USING (from_type) CROSS JOIN gt
    )
    SELECT n_transitions, n_states,
           floor((-CAST(s AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS entropy_rate_nats,
           CASE WHEN n_states > 1
                THEN floor(((-CAST(s AS DOUBLE))
                            / (floor((ln(CAST(n_states AS DOUBLE)))
                                     * 1e6 + 0.5) / 1e6))
                           * 1e6 + 0.5) / 1e6
                ELSE 0.0 END AS norm_entropy,
           CASE WHEN n_states > 1
                THEN floor((1.0 - floor(((-CAST(s AS DOUBLE))
                            / (floor((ln(CAST(n_states AS DOUBLE)))
                                     * 1e6 + 0.5) / 1e6))
                           * 1e6 + 0.5) / 1e6) * 1e6 + 0.5) / 1e6
                ELSE 1.0 END AS predictability
    FROM h
"""


# ---------------------------------------------------------------------------
# events_burstiness — Goh & Barabási (EPL 2008) burstiness of per-user
# inter-event gaps: the temporal-texture signal next to entropy_rate
# (symbol order) and autocorr (calendar lag)
# ---------------------------------------------------------------------------


def q_events_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user burstiness B = (sigma - mu) / (sigma + mu) over the
    user's inter-event gaps (Goh & Barabási, EPL 81:48002, 2008):
    B -> -1 for a regular/periodic user (sigma -> 0), ~0 for a Poisson
    user (sigma ~ mu), -> +1 for a bursty one (heavy-tailed gaps) —
    the standard human-dynamics diagnostic, and the feature a bot/
    automation screen keys on (schedulers sit near -1, humans near
    +0.2..0.5).

    Determinism: gaps are INTEGER seconds (floor of the microsecond
    difference — epoch_us on both engines, so sub-second timestamps
    can't round differently), per-user sum and sum-of-squares are
    exact BIGINTs, and mu/sigma/B are single IEEE double expressions
    on those ints (identical in any engine), 6-dp floor-staged at the
    end only. Users need >= 2 gaps for a variance; the all-zero-gap
    degenerate (sigma + mu = 0) yields NULL in both engines.

    Scale shape: one shuffle on user_id, a per-user lag window
    (partition bounded by one user's activity — the sessionize
    discipline), then a map-combinable aggregate on the user grid.
    """
    ev = load_table(spark, sf_dir, "events")
    by_user = Window.partitionBy("user_id").orderBy("ts")
    gaps = ev.select("user_id", _lag_gap_s(by_user).alias("g")).filter(
        F.col("g").isNotNull()
    )
    agg = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.sum("g").cast("bigint").alias("_s"),
        F.sum(F.col("g") * F.col("g")).cast("bigint").alias("_s2"),
    ).filter(F.col("n_gaps") >= 2)
    return _burstiness_from_moments(agg)


def _gap_s(later_us, earlier_us) -> F.Column:
    """The integer-second gap between two epoch-microsecond columns:
    floor of the microsecond difference, so sub-second timestamps
    cannot round differently across engines — the one gap definition
    of ``events_burstiness``, ``events_gap_memory`` and the streaming
    gap-moment sink (within a batch and across its seam)."""
    return F.floor((later_us - earlier_us) / F.lit(1_000_000)).cast("bigint")


def _lag_gap_s(by_user) -> F.Column:
    """Each event's ``_gap_s`` to the previous event in ``by_user``'s
    ts order (NULL for a user's first event). ts is TIMESTAMP_NTZ;
    unix_micros needs TIMESTAMP — the cast is identity under the
    session's pinned UTC zone."""
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    return _gap_s(us(F.col("ts")), us(F.lag("ts").over(by_user)))


def _burstiness_from_moments(agg: DataFrame) -> DataFrame:
    """The (mu, sigma, B) tail over per-user exact BIGINT gap moments:
    ``agg`` holds ``user_id``, ``n_gaps`` (>= 2) and the gap sum /
    sum-of-squares ``_s`` / ``_s2``. Shared by the batch
    ``events_burstiness`` and ``streaming_burstiness`` (which serves it
    off the maintained moments), so both emit the same IEEE double
    expressions on the same integers."""
    n = F.col("n_gaps").cast("double")
    mu = F.col("_s").cast("double") / n
    var = F.greatest(
        F.col("_s2").cast("double") / n - mu * mu, F.lit(0.0)
    )
    sigma = F.sqrt(var)
    b = F.when(sigma + mu > 0, fround((sigma - mu) / (sigma + mu), 6))
    return agg.select(
        "user_id",
        "n_gaps",
        fround(mu, 6).alias("mean_gap_s"),
        fround(sigma, 6).alias("std_gap_s"),
        b.alias("burstiness"),
    )


QUERIES["events_burstiness"] = q_events_burstiness

ORACLE["events_burstiness"] = """
    WITH gaps AS (
        SELECT user_id,
               CAST(floor((epoch_us(ts) - epoch_us(lag(ts) OVER (
                   PARTITION BY user_id ORDER BY ts))) / 1000000.0)
                    AS BIGINT) AS g
        FROM events
        QUALIFY g IS NOT NULL
    ),
    agg AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_gaps,
               CAST(sum(g) AS BIGINT) AS s,
               CAST(sum(g * g) AS BIGINT) AS s2
        FROM gaps GROUP BY 1
        HAVING count(*) >= 2
    )
    SELECT user_id, n_gaps,
           floor((CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                 * 1e6 + 0.5) / 1e6 AS mean_gap_s,
           floor(sqrt(greatest(
                     CAST(s2 AS DOUBLE) / CAST(n_gaps AS DOUBLE)
                     - (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                       * (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE)),
                     0.0)) * 1e6 + 0.5) / 1e6 AS std_gap_s,
           CASE WHEN sqrt(greatest(
                         CAST(s2 AS DOUBLE) / CAST(n_gaps AS DOUBLE)
                         - (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                           * (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE)),
                         0.0))
                     + CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE) > 0
                THEN floor(((sqrt(greatest(
                         CAST(s2 AS DOUBLE) / CAST(n_gaps AS DOUBLE)
                         - (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                           * (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE)),
                         0.0))
                       - CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                      / (sqrt(greatest(
                         CAST(s2 AS DOUBLE) / CAST(n_gaps AS DOUBLE)
                         - (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                           * (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE)),
                         0.0))
                       + CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE)))
                     * 1e6 + 0.5) / 1e6
                ELSE NULL END AS burstiness
    FROM agg
"""


def q_events_gap_memory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user memory coefficient M (Goh & Barabási, EPL 2008 — the
    companion to ``events_burstiness``'s B): the Pearson correlation
    between CONSECUTIVE inter-event gaps — M > 0 means long gaps chain
    (sessions/lulls), M < 0 means alternation, M ~ 0 means renewal; a
    (B, M) pair locates a user on the published burstiness-memory
    phase plane (human activity sits high-B low-M; many schedulers
    low-B high-M).

    Determinism: gaps are the same integer seconds as burstiness;
    the five pair sums (S_a, S_b, S_aa, S_bb, S_ab) are exact BIGINTs
    (gap^2 <= ~1e14 and per-user pair counts keep the sums far from
    the 9.2e18 BIGINT edge), and M is one IEEE double expression on
    them, 6-dp floor-staged; zero variance on either margin yields
    NULL in both engines. Requires >= 2 consecutive pairs.

    Scale shape: one user_id shuffle, two per-user lag windows
    (bounded partitions), one map-combinable user-grid aggregate."""
    ev = load_table(spark, sf_dir, "events")
    by_user = Window.partitionBy("user_id").orderBy("ts")
    gaps = ev.select("user_id", "ts", _lag_gap_s(by_user).alias("b")).filter(
        F.col("b").isNotNull()
    )
    pairs = gaps.select(
        "user_id",
        F.lag("b").over(by_user).alias("a"),
        "b",
    ).filter(F.col("a").isNotNull())
    agg = pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("a").cast("bigint").alias("_sa"),
        F.sum("b").cast("bigint").alias("_sb"),
        F.sum(F.col("a") * F.col("a")).cast("bigint").alias("_saa"),
        F.sum(F.col("b") * F.col("b")).cast("bigint").alias("_sbb"),
        F.sum(F.col("a") * F.col("b")).cast("bigint").alias("_sab"),
    ).filter(F.col("n_pairs") >= 2)
    n = F.col("n_pairs").cast("double")
    sa, sb = F.col("_sa").cast("double"), F.col("_sb").cast("double")
    cov = n * F.col("_sab").cast("double") - sa * sb
    var_a = n * F.col("_saa").cast("double") - sa * sa
    var_b = n * F.col("_sbb").cast("double") - sb * sb
    m = F.when(
        (var_a > 0) & (var_b > 0),
        fround(cov / F.sqrt(var_a * var_b), 6),
    )
    return agg.select("user_id", "n_pairs", m.alias("memory_coeff"))


QUERIES["events_gap_memory"] = q_events_gap_memory

ORACLE["events_gap_memory"] = """
    WITH gaps AS (
        SELECT user_id, ts,
               CAST(floor((epoch_us(ts) - epoch_us(lag(ts) OVER (
                   PARTITION BY user_id ORDER BY ts))) / 1000000.0)
                    AS BIGINT) AS b
        FROM events
        QUALIFY b IS NOT NULL
    ),
    pairs AS (
        SELECT user_id,
               lag(b) OVER (PARTITION BY user_id ORDER BY ts) AS a,
               b
        FROM gaps
        QUALIFY a IS NOT NULL
    ),
    agg AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(a) AS BIGINT) AS sa,
               CAST(sum(b) AS BIGINT) AS sb,
               CAST(sum(a * a) AS BIGINT) AS saa,
               CAST(sum(b * b) AS BIGINT) AS sbb,
               CAST(sum(a * b) AS BIGINT) AS sab
        FROM pairs GROUP BY 1
        HAVING count(*) >= 2
    )
    SELECT user_id, n_pairs,
           CASE WHEN CAST(n_pairs AS DOUBLE) * CAST(saa AS DOUBLE)
                     - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) > 0
                 AND CAST(n_pairs AS DOUBLE) * CAST(sbb AS DOUBLE)
                     - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) > 0
                THEN floor(((CAST(n_pairs AS DOUBLE) * CAST(sab AS DOUBLE)
                             - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                            / sqrt((CAST(n_pairs AS DOUBLE)
                                    * CAST(saa AS DOUBLE)
                                    - CAST(sa AS DOUBLE)
                                      * CAST(sa AS DOUBLE))
                                   * (CAST(n_pairs AS DOUBLE)
                                      * CAST(sbb AS DOUBLE)
                                      - CAST(sb AS DOUBLE)
                                        * CAST(sb AS DOUBLE))))
                           * 1e6 + 0.5) / 1e6
                ELSE NULL END AS memory_coeff
    FROM agg
"""


# ---------------------------------------------------------------------------
# events_hour_uniformity — per-user chi-squared test against a uniform
# hour-of-day profile: the circadian bot screen next to burstiness
# (gap texture) and gap_memory (gap chaining) — schedulers are flat
# across hours, humans are not
# ---------------------------------------------------------------------------

HOUR_CHI2_MIN_EVENTS = 48  # expected count >= 2 per hour bin
HOUR_CHI2_CRIT_DOF23 = 35.172462  # chi2 critical value, dof=23, alpha=0.05


def q_events_hour_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Pearson chi-squared against the uniform 24-bin
    hour-of-day distribution: chi2 = sum over all 24 hours of
    (O_h - n/24)^2 / (n/24), computed through the algebraic identity
    chi2 = 24 * sum(O_h^2) / n - n — the zero-observed hours are
    INCLUDED by construction (their O^2 term is 0), so no dense bin
    grid is ever materialized and the whole statistic is one double
    expression on two exact BIGINTs. ``is_uniform`` compares against
    the dof=23 alpha=0.05 critical value: a user whose activity is
    FLAT across hours (can't reject uniformity) is the scheduler
    signature; humans concentrate in waking hours and reject. Users
    need >= ``HOUR_CHI2_MIN_EVENTS`` events (expected >= 2 per bin).

    Scale shape: one shuffle to the (user, hour) count grid (bounded
    by users x 24), then a map-combinable per-user aggregate."""
    ev = load_table(spark, sf_dir, "events")
    hours = ev.groupBy(
        "user_id", F.hour("ts").alias("h")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    agg = hours.groupBy("user_id").agg(
        F.sum("o").cast("bigint").alias("n_events"),
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.sum(F.col("o") * F.col("o")).cast("bigint").alias("_so2"),
    ).filter(F.col("n_events") >= HOUR_CHI2_MIN_EVENTS)
    chi2 = (
        F.lit(24.0) * F.col("_so2").cast("double")
        / F.col("n_events").cast("double")
        - F.col("n_events").cast("double")
    )
    return agg.select(
        "user_id",
        "n_events",
        "n_hours",
        fround(chi2, 6).alias("chi2"),
        (chi2 <= F.lit(HOUR_CHI2_CRIT_DOF23)).alias("is_uniform"),
    )


QUERIES["events_hour_uniformity"] = q_events_hour_uniformity

ORACLE["events_hour_uniformity"] = f"""
    WITH hours AS (
        SELECT user_id, hour(ts) AS h,
               CAST(count(*) AS BIGINT) AS o
        FROM events GROUP BY 1, 2
    ),
    agg AS (
        SELECT user_id,
               CAST(sum(o) AS BIGINT) AS n_events,
               CAST(count(*) AS BIGINT) AS n_hours,
               CAST(sum(o * o) AS BIGINT) AS so2
        FROM hours GROUP BY 1
        HAVING sum(o) >= {HOUR_CHI2_MIN_EVENTS}
    )
    SELECT user_id, n_events, n_hours,
           floor((24.0 * CAST(so2 AS DOUBLE) / CAST(n_events AS DOUBLE)
                  - CAST(n_events AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS chi2,
           24.0 * CAST(so2 AS DOUBLE) / CAST(n_events AS DOUBLE)
               - CAST(n_events AS DOUBLE) <= {HOUR_CHI2_CRIT_DOF23}
               AS is_uniform
    FROM agg
"""


# ---------------------------------------------------------------------------
# events_daily_peaks — local-maxima peak detection on the daily event
# grid: days strictly above both neighbors AND above the global daily
# mean — the spike-candidate feed for anomaly triage (anomaly/MAD flag
# deviations from a rolling band; this finds the local SHAPE)
# ---------------------------------------------------------------------------


def q_events_daily_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-count peaks: a day is a peak iff its count strictly
    exceeds BOTH calendar neighbors (dense spine — a missing day is a
    zero, so a spike after a gap still has a neighbor to beat) and
    exceeds the global daily mean, tested as the exact INTEGER
    comparison c * n_days > total (no float mean can round differently
    across engines). Emits each peak with its neighbor counts and the
    peak's share of the global mean (6-dp staged). Interior days only
    (edges lack a neighbor).

    Scale shape: the stream collapses to the bounded day grid in one
    scan; the spine is generated from min/max; lag/lead run on ONE
    calendar-bounded window (the documented exempt class — the grid
    is days, not events)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    return _daily_peaks(daily)


def _daily_peaks(daily: DataFrame) -> DataFrame:
    """The peak derivation over a (d, c) daily-count grid — shared by
    the batch entry above and the maintained-grid streaming form
    (``streaming/events.py:q_streaming_daily_peaks``), so the two can
    never drift on the spine/neighbor/mean arithmetic."""
    from pyspark.sql import Window

    bounds = daily.agg(
        F.min("d").alias("lo"), F.max("d").alias("hi"),
        F.sum("c").cast("bigint").alias("total"),
    )
    dense = (
        bounds.select(
            F.explode(F.sequence("lo", "hi")).alias("d"), "total"
        )
        .join(daily, "d", "left")
        .select(
            "d", "total",
            F.coalesce("c", F.lit(0)).cast("bigint").alias("c"),
        )
    )
    w = Window.orderBy("d")
    with_nbrs = dense.select(
        "d", "c", "total",
        F.lag("c").over(w).alias("prev_n"),
        F.lead("c").over(w).alias("next_n"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).cast("bigint").alias("n_days"),
    )
    peaks = with_nbrs.filter(
        F.col("prev_n").isNotNull()
        & F.col("next_n").isNotNull()
        & (F.col("c") > F.col("prev_n"))
        & (F.col("c") > F.col("next_n"))
        & (F.col("c") * F.col("n_days") > F.col("total"))
    )
    return peaks.select(
        F.col("d").alias("peak_date"),
        F.col("c").alias("n_events"),
        F.col("prev_n").cast("bigint").alias("prev_n"),
        F.col("next_n").cast("bigint").alias("next_n"),
        fround(
            F.col("c").cast("double") * F.col("n_days").cast("double")
            / F.col("total").cast("double"),
            6,
        ).alias("vs_mean"),
    )


QUERIES["events_daily_peaks"] = q_events_daily_peaks

ORACLE["events_daily_peaks"] = """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ),
    bounds AS (
        SELECT min(d) AS lo, max(d) AS hi,
               CAST(sum(c) AS BIGINT) AS total
        FROM daily
    ),
    dense AS (
        SELECT spine.d, coalesce(c, 0) AS c, total
        FROM (SELECT unnest(generate_series(lo, hi,
                                            INTERVAL 1 DAY)) AS d,
                     total
              FROM bounds) spine
        LEFT JOIN daily ON spine.d = daily.d
    ),
    nbrs AS (
        SELECT d, c, total,
               lag(c) OVER (ORDER BY d) AS prev_n,
               lead(c) OVER (ORDER BY d) AS next_n,
               CAST(count(*) OVER () AS BIGINT) AS n_days
        FROM dense
    )
    SELECT CAST(d AS DATE) AS peak_date,
           c AS n_events,
           CAST(prev_n AS BIGINT) AS prev_n,
           CAST(next_n AS BIGINT) AS next_n,
           floor((CAST(c AS DOUBLE) * CAST(n_days AS DOUBLE)
                  / CAST(total AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS vs_mean
    FROM nbrs
    WHERE prev_n IS NOT NULL AND next_n IS NOT NULL
      AND c > prev_n AND c > next_n
      AND c * n_days > total
"""
