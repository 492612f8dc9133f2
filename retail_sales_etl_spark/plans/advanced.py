"""Advanced relational operators: as-of join, range join, rolling
windows, grouping-set rollups, percentiles — with DuckDB oracles.

These cover the operator classes a warehouse user reaches for beyond
plain star aggregation, each expressed as the canonical scalable Spark
plan:

- as-of join: union-free running-max window inside the user partition
  (one shuffle on user_id; no per-row point lookups)
- range join: non-equi join against a tiny broadcast bands table
  (nested-loop against a broadcast is the right physical plan when one
  side is a handful of rows)
- rolling window: range frame over integer day numbers, partitioned by
  nation so no global single-partition window exists at scale
- grouping sets: one pass emitting all rollup levels (Spark expands
  grouping sets map-side; no N-pass re-aggregation)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..catalog import load_table
from ..functions.rounding import fround

DEC = "decimal(25,6)"

# (band_name, lo, hi) — hi exclusive; values used verbatim in both engines.
QTY_BANDS = [
    ("B1_SMALL", 0, 10),
    ("B2_MID", 10, 25),
    ("B3_LARGE", 25, 40),
    ("B4_BULK", 40, 1_000_000),
]


def q_asof_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the latest click at-or-before it
    (same user). Running conditional max inside the user partition —
    the scalable as-of pattern (no self-join explosion)."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_ts = F.max(
        F.when(F.col("event_type") == "click", F.col("ts"))
    ).over(w)
    return (
        ev.withColumn("last_click_ts", click_ts)
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
            F.date_format("last_click_ts", "yyyy-MM-dd HH:mm:ss").alias(
                "last_click_ts"
            ),
            (
                F.unix_timestamp("ts") - F.unix_timestamp("last_click_ts")
            ).alias("gap_sec"),
        )
    )


INTERVAL_JOIN_WINDOW_SEC = 1800


def _click_purchase_pairs(
    clicks_src: DataFrame,
    purchases_src: DataFrame,
    watermark: str | None = None,
    outer: bool = False,
) -> DataFrame:
    """The click→purchase interval join: every click by the same user
    at most INTERVAL_JOIN_WINDOW_SEC before a purchase, one
    (purchase, click) row with the formatted times and the gap.

    ``q_events_interval_join`` and both stream-stream twins
    (``streaming/events.py`` ``interval_join_clicks_purchases`` and
    ``_outer``) build their pairs here. The streaming twins add only
    their ``watermark`` (on both projected sides, which bounds join
    state) and, for ``outer``, the join type: the outer join preserves
    purchases, the inner join is clicks ⋈ purchases.
    """
    clicks = clicks_src.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = purchases_src.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    if watermark is not None:
        clicks = clicks.withWatermark("click_ts", watermark)
        purchases = purchases.withWatermark("purchase_ts", watermark)
    band = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts")
            - F.expr(f"INTERVAL {INTERVAL_JOIN_WINDOW_SEC} SECONDS")
        )
    )
    pairs = (
        purchases.join(clicks, band, "leftOuter")
        if outer
        else clicks.join(purchases, band)
    )
    return pairs.select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        (
            F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts")
        ).alias("gap_sec"),
    )


def q_events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time interval join: every click within 30 minutes before a
    purchase by the same user (attribution candidate set — the as-of
    join keeps only the latest, this keeps the window).

    Executes as an equi-join on user_id with the time band as a join
    filter: shuffle is keyed on user, pair volume is bounded by per-user
    activity inside the window, never all-pairs. The pairs come from
    ``_click_purchase_pairs``, which the streaming twin
    (streaming/events.py interval_join_clicks_purchases) also calls
    under its watermarks; tests pin batch == streaming.
    """
    ev = load_table(spark, sf_dir, "events")
    return _click_purchase_pairs(ev, ev)


def q_user_band_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2-style history build (gaps-and-islands run collapse).

    Derives each user's spend-band timeline from raw events: band each
    event, collapse consecutive same-band runs into one validity row
    ``[valid_from, valid_to)`` with ``valid_to`` taken from the next
    run's start (NULL = current row) — exactly the Type-2 slowly
    changing dimension build, from an append-only event log, with no
    self-join: two window row_numbers make the island key, one agg
    per run, one lead() for the interval close. Everything partitions
    by user, so at 100 TB it is one shuffle on user_id.
    """
    ev = load_table(spark, sf_dir, "events")
    band = (
        F.when(F.col("value") < 20.0, F.lit("LOW"))
        .when(F.col("value") < 70.0, F.lit("MID"))
        .otherwise(F.lit("HIGH"))
    )
    w_u = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_ub = Window.partitionBy("user_id", "band").orderBy("ts", "event_id")
    islands = ev.select(
        "user_id", "ts", "event_id", band.alias("band")
    ).withColumn(
        "isl", F.row_number().over(w_u) - F.row_number().over(w_ub)
    )
    runs = islands.groupBy("user_id", "band", "isl").agg(
        F.min("ts").alias("valid_from_ts"),
        F.min("event_id").alias("first_event_id"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w_hist = Window.partitionBy("user_id").orderBy("valid_from_ts", "first_event_id")
    nxt = F.lead("valid_from_ts").over(w_hist)
    return runs.select(
        "user_id",
        "band",
        F.date_format("valid_from_ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format(nxt, "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        nxt.isNull().alias("is_current"),
        "n_events",
    )


def q_range_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (non-equi) join: lineitem quantity against a bands dim.

    The bands side is a literal handful of rows — broadcast nested-loop
    is the correct physical join; output is a per-band rollup.
    """
    li = load_table(spark, sf_dir, "lineitem")
    bands = spark.createDataFrame(QTY_BANDS, ["band_name", "lo", "hi"])
    joined = li.join(
        broadcast(bands),
        (F.col("l_quantity") >= F.col("lo")) & (F.col("l_quantity") < F.col("hi")),
    )
    return joined.groupBy("band_name").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("l_extendedprice").cast(DEC)).cast("double").alias("band_revenue"),
    )


def q_rolling_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling revenue per nation: range frame over day numbers.

    Partitioned by nation (shuffle key), ordered by integer epoch-day —
    a RANGE frame that stays correct across gaps in the date spine.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    daily = (
        orders.join(broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation_name"),
            F.to_date("o_orderdate").alias("day"),
        )
        .agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("rev_dec"))
    )
    day_num = F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
    w = (
        Window.partitionBy("nation_name")
        .orderBy(day_num)
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "nation_name",
        "day",
        F.col("rev_dec").cast("double").alias("daily_revenue"),
        F.sum("rev_dec").over(w).cast("double").alias("rolling_7d_revenue"),
    )


def q_revenue_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup via grouping sets: (region, year), (region), () in one pass."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rev = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(DEC)
    base = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            F.col("r_name"),
            F.year("o_orderdate").alias("yr"),
            rev.alias("rev_dec"),
        )
    )
    rolled = base.rollup("r_name", "yr").agg(
        F.sum("rev_dec").cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )
    return rolled.select(
        F.coalesce(F.col("r_name"), F.lit("ALL")).alias("region_name"),
        F.coalesce(F.col("yr"), F.lit(-1)).alias("order_year"),
        "revenue",
        "n_lineitems",
    )


# approx_percentile accuracy for the scale paths: a GK sketch holds
# O(accuracy) entries per group REGARDLESS of group size — rank error
# <= n/accuracy — where exact percentile buffers every value of the
# group on one reducer (OOM on a fact-sized group at 100x).
PCTL_ACCURACY = 10_000


def q_order_value_percentiles(
    spark: SparkSession, sf_dir: str, approx: bool = False
) -> DataFrame:
    """Percentiles of order value per order priority.

    Exact linear-interpolation percentiles by default (the oracle-
    parity form — cross-engine bit-stable). ``approx=True`` is the
    scale path: fixed-memory approx_percentile sketches replace the
    per-group sort buffer, because an exact per-group percentile holds
    the whole group in one aggregation buffer — fine when groups are
    small, an OOM hazard when one priority holds 20% of a 100 TB fact.
    """
    orders = load_table(spark, sf_dir, "orders")
    if approx:
        pctl = (
            lambda p: F.expr(
                f"approx_percentile(o_totalprice, {p}, {PCTL_ACCURACY})"
            )
        )
    else:
        pctl = lambda p: F.expr(f"percentile(o_totalprice, {p})")
    return orders.groupBy(F.col("o_orderpriority").alias("order_priority")).agg(
        fround(pctl(0.5), 4).alias("p50"),
        fround(pctl(0.9), 4).alias("p90"),
        fround(pctl(0.99), 4).alias("p99"),
        F.count(F.lit(1)).alias("n_orders"),
    )


def q_daily_revenue_gapfilled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-filling: every date in the orders range gets a row,
    zero-revenue days included (time-series need dense axes; a missing
    day is data, not absence).

    The spine is generated from the min/max aggregate (sequence() on a
    1-row frame — no driver loop), then left-joined to the daily
    rollup. The rollup side is small (days), so the join broadcasts.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast(DEC)).alias("rev_dec"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    spine = (
        orders.agg(
            F.min(F.to_date("o_orderdate")).alias("lo"),
            F.max(F.to_date("o_orderdate")).alias("hi"),
        )
        .select(F.explode(F.sequence("lo", "hi")).alias("date"))
    )
    return spine.join(broadcast(daily), spine.date == daily.d, "left").select(
        F.date_format("date", "yyyy-MM-dd").alias("date"),
        F.coalesce(F.col("rev_dec").cast("double"), F.lit(0.0)).alias("revenue"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.col("rev_dec").isNull().alias("is_gap"),
    )


HIST_BIN_WIDTH = 25_000.0
HIST_MAX_BIN = 19


def q_order_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order values (map-side binning, one
    tiny agg — the distribution profile that drives skew decisions)."""
    orders = load_table(spark, sf_dir, "orders")
    bin_idx = F.least(
        F.floor(F.col("o_totalprice") / HIST_BIN_WIDTH).cast("int"),
        F.lit(HIST_MAX_BIN),
    )
    return (
        orders.groupBy(bin_idx.alias("bin_idx"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("min_value"),
            F.max("o_totalprice").alias("max_value"),
        )
        .withColumn("bin_lo", F.col("bin_idx") * HIST_BIN_WIDTH)
    )


def q_revenue_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (region, segment): every margin plus the grand total
    in ONE pass (the grouping-sets expansion happens map-side; the
    fact is scanned and shuffled once, not once per grouping)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = (
        orders.join(broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        joined.cube("r_name", "c_mktsegment")
        .agg(
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("ALL")).alias("region_name"),
            F.coalesce(F.col("c_mktsegment"), F.lit("ALL")).alias("segment"),
            "revenue",
            "n_orders",
        )
    )


SKYLINE_BUCKETS = 64


def q_skyline_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto front) of orders maximizing (o_totalprice,
    o_orderdate): the orders no other order beats on both axes — the
    classic multi-criteria shortlist query.

    Scale shape (two-phase, public grid-pruning design): rows bucket by
    equal-width price cell (one broadcast min/max, map-side after);
    per-bucket max order date aggregates to SKYLINE_BUCKETS rows, whose
    strictly-higher-bucket suffix max broadcasts back. A row with a
    HIGHER-priced bucket containing a strictly later date is dominated
    (price >= by bucket edge, date > strictly) and drops map-side —
    at 100 TB the survivor set is ~(skyline + per-bucket tails), not
    the fact. Survivors then run the exact quadratic dominance
    anti-join, valid because a dropped dominator is itself dominated
    by a survivor (the strictly-later-date chain terminates in the
    survivor set). Tie semantics match SQL NOT EXISTS: equal points
    don't dominate each other.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    rng = orders.agg(
        F.min("o_totalprice").alias("__mn"), F.max("o_totalprice").alias("__mx")
    )
    span = F.col("__mx") - F.col("__mn")
    frac = F.when(span > 0, (F.col("o_totalprice") - F.col("__mn")) / span).otherwise(
        F.lit(0.0)
    )
    bucket = F.least(
        F.floor(frac * SKYLINE_BUCKETS).cast("int"), F.lit(SKYLINE_BUCKETS - 1)
    )
    bucketed = orders.crossJoin(F.broadcast(rng)).withColumn("__b", bucket)
    per_bucket = bucketed.groupBy("__b").agg(F.max("o_orderdate").alias("bmax"))
    # suffix max over STRICTLY higher buckets; the frame is
    # SKYLINE_BUCKETS rows, so the unpartitioned window is constant-size
    w = (
        Window.orderBy(F.col("__b").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    suffix = per_bucket.select(
        "__b", F.max("bmax").over(w).alias("above_max")
    )
    # The survivor set feeds BOTH sides of the dominance anti-join
    # (probe rows and the broadcast build); an eager localCheckpoint
    # materializes the grid-pruned scan once instead of twice — the
    # survivor set is ~(skyline + per-bucket tails), orders of
    # magnitude smaller than the fact it came from.
    survivors = (
        bucketed.join(F.broadcast(suffix), "__b")
        .filter(
            F.col("above_max").isNull()
            | (F.col("above_max") <= F.col("o_orderdate"))
        )
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .localCheckpoint(eager=True)
    )
    dom = survivors.select(
        F.col("o_totalprice").alias("s_price"), F.col("o_orderdate").alias("s_date")
    )
    dominated = (
        (F.col("s_price") >= F.col("o_totalprice"))
        & (F.col("s_date") >= F.col("o_orderdate"))
        & (
            (F.col("s_price") > F.col("o_totalprice"))
            | (F.col("s_date") > F.col("o_orderdate"))
        )
    )
    return (
        survivors.join(F.broadcast(dom), dominated, "left_anti")
        .select(
            "o_orderkey",
            "o_totalprice",
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias(
                "order_date"
            ),
        )
    )


EQUIDEPTH_BUCKETS = 10


def q_equidepth_order_values(
    spark: SparkSession, sf_dir: str, approx: bool = False
) -> DataFrame:
    """Equi-depth (quantile-bucket) histogram of order totals — the
    histogram an optimizer actually wants (equal row mass per bucket,
    tight tails), vs the equi-WIDTH q_order_value_histogram.

    One percentile aggregate computes the NB-1 boundaries (6-dp
    rounded so both engines share the exact cut points), the 1-row
    boundary frame broadcasts, and bucket assignment is a map-side
    CASE — the fact is scanned twice, shuffled never (the 9-group
    count aggregate partial-combines).

    The default (oracle-parity) boundaries are EXACT percentiles — a
    single-group aggregate whose buffer holds every fact value on one
    reducer, fine at test SF and an OOM at 100x. ``approx=True`` is
    the scale path: approx_percentile's fixed-size GK sketch computes
    all NB-1 cut points map-side-combinably (histogram boundaries
    don't need exactness — a cut point off by rank n/accuracy moves a
    ~0.01% sliver of rows one bucket over)."""
    orders = load_table(spark, sf_dir, "orders")
    nb = EQUIDEPTH_BUCKETS
    if approx:
        pcts = ", ".join(str(i / nb) for i in range(1, nb))
        bounds = orders.agg(
            F.expr(
                f"approx_percentile(o_totalprice, array({pcts}), "
                f"{PCTL_ACCURACY})"
            ).alias("__bs")
        ).select(
            *[
                fround(F.element_at("__bs", i), 6).alias(f"b{i}")
                for i in range(1, nb)
            ]
        )
    else:
        bounds = orders.agg(
            *[
                fround(
                    F.expr(f"percentile(o_totalprice, {i / nb})"), 6).alias(f"b{i}")
                for i in range(1, nb)
            ]
        )
    bucket = None
    for i in range(1, nb):
        cond = F.col("o_totalprice") <= F.col(f"b{i}")
        bucket = F.when(cond, i) if bucket is None else bucket.when(cond, i)
    bucket = bucket.otherwise(nb)
    return (
        orders.crossJoin(F.broadcast(bounds))
        .select(bucket.alias("bucket"), "o_totalprice")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            fround(F.min("o_totalprice"), 6).alias("min_price"),
            fround(F.max("o_totalprice"), 6).alias("max_price"),
        )
    )


QUERIES = {
    "equidepth_order_values": q_equidepth_order_values,
    "skyline_orders": q_skyline_orders,
    "events_interval_join": q_events_interval_join,
    "user_band_history": q_user_band_history,
    "daily_revenue_gapfilled": q_daily_revenue_gapfilled,
    "order_value_histogram": q_order_value_histogram,
    "revenue_cube": q_revenue_cube,
    "asof_click_before_purchase": q_asof_click_before_purchase,
    "range_band_join": q_range_band_join,
    "rolling_daily_revenue": q_rolling_daily_revenue,
    "revenue_grouping_sets": q_revenue_grouping_sets,
    "order_value_percentiles": q_order_value_percentiles,
}

_BANDS_VALUES = ", ".join(f"('{n}', {lo}, {hi})" for n, lo, hi in QTY_BANDS)

def _equidepth_oracle() -> str:
    nb = EQUIDEPTH_BUCKETS
    bound_cols = ", ".join(
        f"floor((quantile_cont(o_totalprice, {i / nb})) * 1e6 + 0.5) / 1e6 AS b{i}"
        for i in range(1, nb)
    )
    case = "CASE " + " ".join(
        f"WHEN o_totalprice <= b{i} THEN {i}" for i in range(1, nb)
    ) + f" ELSE {nb} END"
    return f"""
        WITH bounds AS (SELECT {bound_cols} FROM orders)
        SELECT {case} AS bucket,
               count(*) AS n_orders,
               floor((min(o_totalprice)) * 1e6 + 0.5) / 1e6 AS min_price,
               floor((max(o_totalprice)) * 1e6 + 0.5) / 1e6 AS max_price
        FROM orders, bounds
        GROUP BY 1
    """


ORACLE = {
    "equidepth_order_values": _equidepth_oracle(),
    "skyline_orders": """
        SELECT o_orderkey, o_totalprice,
               strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_date
        FROM orders r
        WHERE NOT EXISTS (
            SELECT 1 FROM orders s
            WHERE s.o_totalprice >= r.o_totalprice
              AND s.o_orderdate >= r.o_orderdate
              AND (s.o_totalprice > r.o_totalprice
                   OR s.o_orderdate > r.o_orderdate)
        )
    """,
    "events_interval_join": f"""
        SELECT p.event_id AS purchase_id,
               c.event_id AS click_id,
               p.user_id AS user_id,
               strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
               strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
               CAST(floor(epoch(p.ts)) AS BIGINT)
                 - CAST(floor(epoch(c.ts)) AS BIGINT) AS gap_sec
        FROM events p
        JOIN events c
          ON p.user_id = c.user_id
         AND p.event_type = 'purchase'
         AND c.event_type = 'click'
         AND c.ts <= p.ts
         AND c.ts >= p.ts - INTERVAL {INTERVAL_JOIN_WINDOW_SEC} SECOND
    """,
    "revenue_cube": """
        SELECT coalesce(r_name, 'ALL') AS region_name,
               coalesce(c_mktsegment, 'ALL') AS segment,
               CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
               count(*) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY CUBE (r_name, c_mktsegment)
    """,
    "daily_revenue_gapfilled": """
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   sum(CAST(o_totalprice AS DECIMAL(25,6))) AS rev_dec,
                   count(*) AS n_orders
            FROM orders GROUP BY 1
        ),
        spine AS (
            SELECT unnest(generate_series(
                (SELECT CAST(min(o_orderdate) AS DATE) FROM orders),
                (SELECT CAST(max(o_orderdate) AS DATE) FROM orders),
                INTERVAL 1 DAY)) AS date
        )
        SELECT strftime(spine.date, '%Y-%m-%d') AS date,
               coalesce(CAST(rev_dec AS DOUBLE), 0.0) AS revenue,
               coalesce(n_orders, 0) AS n_orders,
               rev_dec IS NULL AS is_gap
        FROM spine
        LEFT JOIN daily ON CAST(spine.date AS DATE) = daily.d
    """,
    "order_value_histogram": f"""
        SELECT bin_idx,
               count(*) AS n_orders,
               min(o_totalprice) AS min_value,
               max(o_totalprice) AS max_value,
               CAST(bin_idx * {HIST_BIN_WIDTH} AS DOUBLE) AS bin_lo
        FROM (
            SELECT *,
                   CAST(least(floor(o_totalprice / {HIST_BIN_WIDTH}),
                              {HIST_MAX_BIN}) AS INTEGER) AS bin_idx
            FROM orders
        )
        GROUP BY bin_idx
    """,
    "user_band_history": """
        WITH ev AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN value < 20.0 THEN 'LOW'
                        WHEN value < 70.0 THEN 'MID'
                        ELSE 'HIGH' END AS band
            FROM events
        ),
        isl AS (
            SELECT *,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 - row_number() OVER (PARTITION BY user_id, band ORDER BY ts, event_id)
                       AS isl
            FROM ev
        ),
        runs AS (
            SELECT user_id, band, isl,
                   min(ts) AS valid_from_ts,
                   min(event_id) AS first_event_id,
                   count(*) AS n_events
            FROM isl GROUP BY 1, 2, 3
        )
        SELECT user_id, band,
               strftime(valid_from_ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
               strftime(lead(valid_from_ts) OVER w, '%Y-%m-%d %H:%M:%S') AS valid_to,
               lead(valid_from_ts) OVER w IS NULL AS is_current,
               n_events
        FROM runs
        WINDOW w AS (PARTITION BY user_id ORDER BY valid_from_ts, first_event_id)
    """,
    "asof_click_before_purchase": """
        SELECT event_id, user_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
               strftime(last_click_ts, '%Y-%m-%d %H:%M:%S') AS last_click_ts,
               CAST(floor(epoch(ts)) AS BIGINT)
                 - CAST(floor(epoch(last_click_ts)) AS BIGINT) AS gap_sec
        FROM (
            SELECT event_id, user_id, event_type, ts,
                   max(CASE WHEN event_type = 'click' THEN ts END) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS last_click_ts
            FROM events
        )
        WHERE event_type = 'purchase'
    """,
    "range_band_join": f"""
        SELECT band_name,
               count(*) AS n_lines,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS band_revenue
        FROM lineitem
        JOIN (VALUES {_BANDS_VALUES}) AS bands(band_name, lo, hi)
          ON l_quantity >= lo AND l_quantity < hi
        GROUP BY band_name
    """,
    "rolling_daily_revenue": """
        WITH daily AS (
            SELECT n_name AS nation_name,
                   CAST(o_orderdate AS DATE) AS day,
                   sum(CAST(o_totalprice AS DECIMAL(25,6))) AS rev_dec
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY 1, 2
        )
        SELECT nation_name, day,
               CAST(rev_dec AS DOUBLE) AS daily_revenue,
               CAST(sum(rev_dec) OVER (
                   PARTITION BY nation_name
                   ORDER BY datediff('day', DATE '1970-01-01', day)
                   RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
               ) AS DOUBLE) AS rolling_7d_revenue
        FROM daily
    """,
    "revenue_grouping_sets": """
        SELECT coalesce(r_name, 'ALL') AS region_name,
               coalesce(yr, -1) AS order_year,
               CAST(sum(rev_dec) AS DOUBLE) AS revenue,
               count(*) AS n_lineitems
        FROM (
            SELECT r_name,
                   year(o_orderdate) AS yr,
                   CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6)) AS rev_dec
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
        )
        GROUP BY ROLLUP (r_name, yr)
    """,
    "order_value_percentiles": """
        SELECT o_orderpriority AS order_priority,
               floor((quantile_cont(o_totalprice, 0.5)) * 1e4 + 0.5) / 1e4 AS p50,
               floor((quantile_cont(o_totalprice, 0.9)) * 1e4 + 0.5) / 1e4 AS p90,
               floor((quantile_cont(o_totalprice, 0.99)) * 1e4 + 0.5) / 1e4 AS p99,
               count(*) AS n_orders
        FROM orders
        GROUP BY 1
    """,
}
