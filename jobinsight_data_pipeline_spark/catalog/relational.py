"""Relational operator coverage over the TPC-H-ish testdata.

Maps SURVEY §2's join/agg/window/set-op inventory onto the driver's
tables. Every query is written the way the engine would run it at 100 TB:
dims broadcast, aggregations partial-by-default, top-k via
TakeOrderedAndProject, dedup via window — no collects, no loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from jobinsight_data_pipeline_spark.catalog import (
    load,
    memo,
    scratch_dir,
    streamed_state,
)

def REVENUE():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def q_star_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: multi-way star equi-join + grouped aggregation (broadcast
    dims). r12 optimization (guide §2.3 — aggregate before you
    shuffle/join): lineitem partial-aggregates to the ORDER grain
    first, so the join input shrinks by the lines-per-order factor and
    the COUNT DISTINCT (and its Expand double-scan) disappears — after
    the pre-agg each order is one row, so order_count is a plain
    count(*). Results identical (pre-agg re-associates the double sum;
    the per-region totals sit ≥0.04 cents from the nearest rounding
    boundary — probed at all 3 SFs, and verified equal old-vs-new and
    vs DuckDB)."""
    t = load(spark, sf_dir, "lineitem", "orders", "customer", "nation", "region")
    lagg = t["lineitem"].groupBy("l_orderkey").agg(
        F.sum(REVENUE()).alias("_rev"), F.count("*").alias("_lines")
    )
    return (
        lagg
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.round(F.sum("_rev"), 2).alias("revenue"),
            F.count("*").alias("order_count"),
            F.sum("_lines").alias("line_count"),
        )
    )


O_STAR_REVENUE = """
SELECT r_name AS region_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(DISTINCT o_orderkey) AS order_count,
       count(*) AS line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_monthly_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: calendar-bucketed group-by with COUNT(DISTINCT) + AVG
    (the vw_monthly_jobs shape)."""
    t = load(spark, sf_dir, "orders")
    return (
        t["orders"]
        .groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
        )
        .agg(
            F.count("*").alias("order_count"),
            F.countDistinct("o_custkey").alias("customer_count"),
            F.round(F.avg("o_totalprice"), 2).alias("avg_total"),
        )
    )


O_MONTHLY_ORDERS = """
SELECT year(o_orderdate) AS order_year,
       month(o_orderdate) AS order_month,
       count(*) AS order_count,
       count(DISTINCT o_custkey) AS customer_count,
       round(avg(o_totalprice), 2) AS avg_total
FROM orders
GROUP BY 1, 2
"""


def q_top10_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/O1: top-N by aggregate — plans as TakeOrderedAndProject (true
    top-k, no global sort). Deterministic tie-break on c_custkey.
    Same order-grain pre-aggregation as q_star_revenue (r12, guide
    §2.3): the orderkey join consumes orders-many rows instead of
    lineitem-many; results verified identical at all 3 SFs."""
    t = load(spark, sf_dir, "lineitem", "orders", "customer")
    lagg = t["lineitem"].groupBy("l_orderkey").agg(
        F.sum(REVENUE()).alias("_rev")
    )
    return (
        lagg
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(F.round(F.sum("_rev"), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(10)
    )


O_TOP10_CUSTOMERS = """
SELECT c_custkey, c_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 10
"""


def q_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6/J7: anti-join (insert-if-absent / orphan-detection shape)."""
    t = load(spark, sf_dir, "customer", "orders")
    return t["customer"].join(
        t["orders"], t["customer"]["c_custkey"] == t["orders"]["o_custkey"], "left_anti"
    ).select("c_custkey", "c_name")


O_CUSTOMERS_NO_ORDERS = """
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_big_spenders_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: existence check as a semi-join (never row-wise EXISTS)."""
    t = load(spark, sf_dir, "customer", "orders")
    big = t["orders"].filter(F.col("o_totalprice") > 100_000)
    return t["customer"].join(
        big, t["customer"]["c_custkey"] == big["o_custkey"], "left_semi"
    ).select("c_custkey", "c_name")


O_BIG_SPENDERS_SEMI = """
SELECT c_custkey, c_name
FROM customer
WHERE EXISTS (
    SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000
)
"""


def q_dedup_keepmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: keep the min-id row per group via row_number window (the
    fact-grain dedup shape, whole surviving row retained)."""
    t = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("event_id")
    return (
        t["events"]
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type", F.round("value", 4).alias("value"))
    )


O_DEDUP_KEEPMIN = """
SELECT event_id, user_id, event_type, round(value, 4) AS value
FROM (
    SELECT event_id, user_id, event_type, value,
           row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id) AS rn
    FROM events
)
WHERE rn = 1
"""


def q_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: null-safe equality join on a nullable key (<=> / IS NOT
    DISTINCT FROM) — the DimLocation composite-key shape."""
    t = load(spark, sf_dir, "events")
    left = t["events"].select(
        "event_id", F.nullif("event_type", F.lit("click")).alias("k")
    )
    right = (
        t["events"]
        .groupBy(F.nullif("event_type", F.lit("click")).alias("k"))
        .agg(F.count("*").alias("n"))
    )
    return (
        left.join(right, left["k"].eqNullSafe(right["k"]), "left")
        .groupBy(left["k"].alias("key"), right["n"].alias("n"))
        .agg(F.count("*").alias("matched_rows"))
    )


O_NULLSAFE_JOIN = """
WITH a AS (SELECT event_id, nullif(event_type, 'click') AS k FROM events),
     b AS (SELECT nullif(event_type, 'click') AS k, count(*) AS n
           FROM events GROUP BY 1)
SELECT a.k AS key, b.n AS n, count(*) AS matched_rows
FROM a LEFT JOIN b ON a.k IS NOT DISTINCT FROM b.k
GROUP BY a.k, b.n
"""


def q_scd2_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SC1 in bulk: rebuild an SCD2 history (effective ranges + is_current)
    from an event stream with lag/lead windows — the set-based form of the
    reference's per-row dimension versioning."""
    t = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        t["events"]
        .select("user_id", "event_type", "ts", "event_id")
        .withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # effective bounds emitted as integer epoch-micros, not timestamps —
    # the CLAUDE.md fractional-second invariant (same class as sessionize:
    # event ts has sub-second precision, and rendered fractional
    # timestamps are non-portable across DuckDB builds)
    epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
    return changes.select(
        "user_id",
        "event_type",
        F.expr(f"timestampdiff(MICROSECOND, {epoch}, ts)").alias(
            "effective_from_us"
        ),
        F.expr(
            f"timestampdiff(MICROSECOND, {epoch}, lead(ts) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id))"
        ).alias("effective_to_us"),
    ).withColumn("is_current", F.col("effective_to_us").isNull())


O_SCD2_REBUILD = """
WITH ordered AS (
    SELECT user_id, event_type, ts, event_id,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
    FROM events
),
changes AS (
    SELECT user_id, event_type, ts, event_id FROM ordered
    WHERE prev IS NULL OR prev <> event_type
),
bounded AS (
    SELECT user_id, event_type, ts,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ts_to
    FROM changes
)
SELECT user_id, event_type,
       date_diff('microseconds', TIMESTAMP '1970-01-01 00:00:00', ts)
           AS effective_from_us,
       date_diff('microseconds', TIMESTAMP '1970-01-01 00:00:00', ts_to)
           AS effective_to_us,
       (ts_to IS NULL) AS is_current
FROM bounded
"""


def q_dup_grain_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/V1: duplicate-grain detection (GROUP BY … HAVING count>1 with
    MIN as survivor) — the validation-suite shape."""
    t = load(spark, sf_dir, "orders")
    return (
        t["orders"]
        .groupBy(
            F.col("o_custkey"), F.col("o_orderdate").cast("date").alias("order_date")
        )
        .agg(F.count("*").alias("n"), F.min("o_orderkey").alias("survivor"))
        .filter(F.col("n") > 1)
    )


O_DUP_GRAIN_CHECK = """
SELECT o_custkey, CAST(o_orderdate AS DATE) AS order_date,
       count(*) AS n, min(o_orderkey) AS survivor
FROM orders
GROUP BY 1, 2
HAVING count(*) > 1
"""


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 + W1 composition: top-3 orders per priority class by total —
    rank window, no global sort."""
    t = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        t["orders"]
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "o_orderpriority",
            "rk",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total"),
        )
    )


O_TOPK_PER_GROUP = """
SELECT o_orderpriority, rk, o_orderkey, round(o_totalprice, 2) AS total
FROM (
    SELECT o_orderpriority, o_orderkey, o_totalprice,
           row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey ASC
           ) AS rk
    FROM orders
)
WHERE rk <= 3
"""


def q_monthly_orders_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1's 100 TB upgrade: HyperLogLog++ approx_count_distinct replaces
    the exact distinct (which shuffles every (month, custkey) pair).

    Bounded-error containment gate: the sketch has no bit-for-bit DuckDB
    twin, so the query emits |approx − exact| / exact ≤ 3·rsd as a
    boolean next to the exact aggregates, and the oracle emits TRUE —
    the driver's value hash then fails iff the estimate leaves its
    published 3σ envelope (the exact-count columns keep the rest of the
    row honest)."""
    t = load(spark, sf_dir, "orders")
    return (
        t["orders"]
        .groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
        )
        .agg(
            F.count("*").alias("order_count"),
            F.countDistinct("o_custkey").alias("customer_count"),
            F.approx_count_distinct("o_custkey", rsd=0.02).alias("_approx"),
        )
        .select(
            "order_year",
            "order_month",
            "order_count",
            "customer_count",
            (
                F.abs(F.col("_approx") - F.col("customer_count"))
                # 3σ relative envelope, with a ±2 absolute floor: Spark's
                # HLL++ has no sparse mode, so tiny cardinalities carry a
                # small constant bias (measured ±1 at n≈15)
                <= F.greatest(
                    3 * 0.02 * F.col("customer_count"), F.lit(2.0)
                )
            ).alias("approx_within_3rsd"),
        )
    )


O_MONTHLY_ORDERS_APPROX = """
SELECT year(o_orderdate) AS order_year,
       month(o_orderdate) AS order_month,
       count(*) AS order_count,
       count(DISTINCT o_custkey) AS customer_count,
       TRUE AS approx_within_3rsd
FROM orders
GROUP BY 1, 2
"""


def q_windowed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10: tumbling event-time window aggregation — the streaming
    primitive (same code path handles a readStream frame with a
    watermark; here it runs on the static events table)."""
    from jobinsight_data_pipeline_spark.streaming.incremental import (
        windowed_event_counts,
    )

    t = load(spark, sf_dir, "events")
    return windowed_event_counts(t["events"], window="10 minutes")


O_WINDOWED_EVENTS = """
SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
       time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes' AS window_end,
       event_type,
       count(*) AS n,
       round(sum(value), 4) AS total_value
FROM events
GROUP BY 1, 2, 3
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (gaps-and-islands): per-user event sessions split at
    >30-minute inactivity gaps — the batch-exact counterpart of
    Structured Streaming's session_window (same gap semantics)."""
    t = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact microsecond gap arithmetic: second-truncation would disagree
    # with the oracle on fractional boundary gaps
    gapped = t["events"].withColumn("prev_ts", F.lag("ts").over(w)).withColumn(
        "new_session",
        (F.expr("timestampdiff(MICROSECOND, prev_ts, ts)") > 1800 * 1_000_000).cast(
            "int"
        ),
    ).withColumn(
        "session_no",
        F.sum(F.coalesce("new_session", F.lit(1))).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    # session bounds are emitted as INTEGER epoch-micros, not timestamps:
    # these are the only gate values with sub-second precision, and rendered
    # fractional timestamps proved non-portable across DuckDB builds (the
    # driver's ns rendering differs from local 1.0.0, which truncates
    # TIMESTAMP(NANOS) to µs on read — failed the hash two rounds running
    # while passing locally). Integer µs sidestep every cast/rounding/
    # rendering semantic. CLAUDE.md invariant + test_no_fractional_timestamps
    # police the class.
    epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
    return (
        gapped.groupBy("user_id", "session_no")
        .agg(
            F.min("ts").alias("_start"),
            F.max("ts").alias("_end"),
            F.count("*").alias("n_events"),
        )
        .select(
            "user_id",
            "session_no",
            F.expr(f"timestampdiff(MICROSECOND, {epoch}, _start)").alias(
                "session_start_us"
            ),
            F.expr(f"timestampdiff(MICROSECOND, {epoch}, _end)").alias(
                "session_end_us"
            ),
            "n_events",
        )
    )


O_SESSIONIZE = """
WITH gapped AS (
    SELECT user_id, ts, event_id,
           CASE WHEN lag(ts) OVER w IS NULL THEN 1
                WHEN date_diff('microseconds', lag(ts) OVER w, ts) > 1800000000 THEN 1
                ELSE 0 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
    -- CAST: DuckDB integer window-sum is HUGEINT, which crosses the
    -- Arrow/pandas bridge as float64 (7.0 vs Spark's 7) and fails the
    -- driver's value hash. BIGINT keeps it int64 end-to-end.
    SELECT user_id, ts,
           CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT)
               AS session_no
    FROM gapped
),
sessions AS (
    -- integer epoch-micros on both sides (see q_sessionize): date_diff in
    -- microseconds floors the nanos exactly like Spark's nanos→µs read
    SELECT user_id, session_no,
           date_diff('microseconds', TIMESTAMP '1970-01-01 00:00:00', min(ts))
               AS session_start_us,
           date_diff('microseconds', TIMESTAMP '1970-01-01 00:00:00', max(ts))
               AS session_end_us,
           count(*) AS n_events
    FROM numbered GROUP BY user_id, session_no
)
SELECT * FROM sessions
"""


def q_event_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event type (Spark `percentile` ≡
    DuckDB `quantile_cont`); the sketch-based scale path is
    approx_percentile over the same plan (see monthly_orders_approx for
    the rows-only sketch pattern)."""
    t = load(spark, sf_dir, "events")
    return t["events"].groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
        F.count("*").alias("n"),
    )


O_EVENT_PERCENTILES = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.9), 4) AS p90,
       round(quantile_cont(value, 0.99), 4) AS p99,
       count(*) AS n
FROM events
GROUP BY event_type
"""


def q_rolling_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: time-RANGE window frame — per-customer 30-day trailing average
    order value. Value-based frames (rangeBetween on epoch seconds — the
    NTZ-safe arithmetic) stay deterministic under order-date ties, where
    a ROWS frame would not be."""
    t = load(spark, sf_dir, "orders")
    day = 86_400
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-30 * day, 0)
    )
    return t["orders"].select(
        "o_custkey",
        "o_orderkey",
        F.round(F.avg("o_totalprice").over(w), 4).alias("trailing_avg_30d"),
    )


O_ROLLING_AVG = """
SELECT o_custkey, o_orderkey,
       round(avg(o_totalprice) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate
           RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW), 4)
           AS trailing_avg_30d
FROM orders
"""


def q_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially weighted moving average over the event
    value series (operators/timeseries.ewma_smooth): α = 1/2 dyadic
    weights truncated at 8 observations, normalized over present
    weights, all-BIGINT arithmetic (cents in, milli-cents out) — the
    float EWMA recurrence is order-sensitive and engine-divergent; this
    one is bit-exact, and the oracle replays it lag-for-lag. Ordering
    is (epoch-micros, event_id) so ties are impossible."""
    from jobinsight_data_pipeline_spark.operators.timeseries import (
        epoch_micros,
        ewma_smooth,
    )

    t = load(spark, sf_dir, "events")
    ev = t["events"].select(
        "user_id",
        "event_id",
        epoch_micros("ts").alias("ts_us"),
        F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("v_cents"),
    )
    return ewma_smooth(
        ev, ["user_id"], ["ts_us", "event_id"], "v_cents", window=8
    )


O_EWMA_SMOOTH = """
WITH v AS (
    SELECT user_id, event_id,
           date_diff('microseconds', TIMESTAMP '1970-01-01 00:00:00', ts)
               AS ts_us,
           CAST(round(value * 100, 0) AS BIGINT) AS v_cents
    FROM events
)
SELECT user_id, event_id, ts_us, v_cents,
       ((  coalesce(lag(v_cents, 0) OVER w, 0) * 128
         + coalesce(lag(v_cents, 1) OVER w, 0) * 64
         + coalesce(lag(v_cents, 2) OVER w, 0) * 32
         + coalesce(lag(v_cents, 3) OVER w, 0) * 16
         + coalesce(lag(v_cents, 4) OVER w, 0) * 8
         + coalesce(lag(v_cents, 5) OVER w, 0) * 4
         + coalesce(lag(v_cents, 6) OVER w, 0) * 2
         + coalesce(lag(v_cents, 7) OVER w, 0) * 1) * 1000)
       // (256 - (1 << (8 - least(row_number() OVER w, 8)))) AS ewma_milli
FROM v
WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
"""


def q_pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: pivot — events per (user bucket, event_type) widened to one
    column per type. The explicit value list keeps the plan one pass
    (no distinct-scan) and the schema stable at any scale."""
    t = load(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        t["events"]
        .groupBy((F.col("user_id") % 10).alias("user_bucket"))
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )


O_PIVOT_EVENTS = """
SELECT mod(user_id, 10) AS user_bucket,
       count(*) FILTER (event_type = 'click')    AS click,
       count(*) FILTER (event_type = 'error')    AS error,
       count(*) FILTER (event_type = 'purchase') AS purchase,
       count(*) FILTER (event_type = 'signup')   AS signup,
       count(*) FILTER (event_type = 'view')     AS view
FROM events
GROUP BY 1
"""


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: grouping sets — revenue at (region, nation), per-region, and
    grand-total levels in ONE pass (partial aggs feed every level; no
    three-scan union)."""
    t = load(spark, sf_dir, "lineitem", "orders", "customer", "nation", "region")
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .rollup("r_name", "n_name")
        .agg(
            F.round(F.sum(REVENUE()), 2).alias("revenue"),
            F.count(F.lit(1)).alias("line_count"),
        )
    )


O_ROLLUP_REVENUE = """
SELECT r_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS line_count
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def q_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 completion: full CUBE over (priority, status) — all four
    grouping-set levels in one pass (rollup_revenue covers the
    hierarchy form; CUBE is the cross-product form dashboards slice).
    Values quantize to integer cents before summation — exact on any
    partitioning."""
    t = load(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long")
    return (
        t["orders"]
        .withColumn("_cents", cents)
        .cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("_cents").alias("sum_cents"),
        )
    )


O_CUBE_ORDERS = """
SELECT o_orderpriority, o_orderstatus,
       count(*) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
           AS sum_cents
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
"""


def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long UNPIVOT (melt) — the reporting-table reshape that
    pairs with pivot_events' long→wide: monthly order metrics unpivot
    into (year, month, metric, value) rows. All values BIGINT so the
    melted column is one type."""
    t = load(spark, sf_dir, "orders")
    wide = (
        t["orders"]
        .groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.sum(
                F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long")
            ).alias("sum_cents"),
        )
    )
    return wide.unpivot(
        ["order_year", "order_month"],
        ["n_orders", "n_customers", "sum_cents"],
        "metric",
        "value",
    )


O_UNPIVOT_METRICS = """
WITH wide AS (
    SELECT year(o_orderdate) AS order_year,
           month(o_orderdate) AS order_month,
           count(*) AS n_orders,
           count(DISTINCT o_custkey) AS n_customers,
           CAST(sum(CAST(floor(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM orders GROUP BY 1, 2
)
UNPIVOT wide ON n_orders, n_customers, sum_cents
INTO NAME metric VALUE value
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 explicit set semantics in one frame: customers ordering in
    both 1995 and 1998 (INTERSECT), 1995-only (EXCEPT), either (UNION)
    — each tagged with its cardinality."""
    t = load(spark, sf_dir, "orders")
    def buyers(year: int) -> DataFrame:
        return (
            t["orders"]
            .filter(F.year("o_orderdate") == year)
            .select("o_custkey")
        )
    y95, y98 = buyers(1995), buyers(1998)
    tagged = [
        ("both_years", y95.intersect(y98)),
        ("only_1995", y95.distinct().exceptAll(y98.distinct())),
        ("either_year", y95.union(y98).distinct()),
    ]
    out = None
    for tag, frame in tagged:
        row = frame.agg(F.count(F.lit(1)).alias("n_customers")).select(
            F.lit(tag).alias("set_op"), "n_customers"
        )
        out = row if out is None else out.unionByName(row)
    return out


O_SET_OPS = """
WITH y95 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
y98 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998)
SELECT 'both_years' AS set_op,
       (SELECT count(*) FROM (SELECT o_custkey FROM y95 INTERSECT SELECT o_custkey FROM y98)) AS n_customers
UNION ALL
SELECT 'only_1995',
       (SELECT count(*) FROM (SELECT o_custkey FROM y95 EXCEPT SELECT o_custkey FROM y98))
UNION ALL
SELECT 'either_year',
       (SELECT count(*) FROM (SELECT o_custkey FROM y95 UNION SELECT o_custkey FROM y98))
"""


def q_profile_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V-family data profiling: per-column row/null/exact-distinct
    counts in ONE scan (expand + partial agg; operators/profiling.py)."""
    from jobinsight_data_pipeline_spark.operators.profiling import profile_columns

    t = load(spark, sf_dir, "customer")
    return profile_columns(
        t["customer"], ["c_custkey", "c_name", "c_nationkey", "c_mktsegment"]
    )


O_PROFILE_CUSTOMER = """
SELECT 'c_custkey' AS column, count(*) AS n_rows,
       count(*) FILTER (c_custkey IS NULL) AS n_null,
       count(DISTINCT c_custkey) AS n_distinct
FROM customer
UNION ALL
SELECT 'c_name', count(*), count(*) FILTER (c_name IS NULL),
       count(DISTINCT c_name) FROM customer
UNION ALL
SELECT 'c_nationkey', count(*), count(*) FILTER (c_nationkey IS NULL),
       count(DISTINCT c_nationkey) FROM customer
UNION ALL
SELECT 'c_mktsegment', count(*), count(*) FILTER (c_mktsegment IS NULL),
       count(DISTINCT c_mktsegment) FROM customer
"""


def q_asof_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (point-in-time) join: each order picks the discount version
    in effect at o_orderdate from a deterministic 3-version-per-customer
    history — union + forward-fill, one shuffle, no fan-out
    (operators/asof.py). Early orders precede every version → NULL
    payload (left semantics). Oracle: DuckDB's native ASOF LEFT JOIN."""
    from jobinsight_data_pipeline_spark.operators.asof import asof_join

    t = load(spark, sf_dir, "orders", "customer")
    versions = spark.sql(
        """
        SELECT c_custkey AS o_custkey, v AS version_no,
               timestampadd(DAY, cast((v * 900) + (c_custkey % 600) AS int),
                            TIMESTAMP_NTZ '1994-01-01 00:00:00') AS valid_from,
               round(0.5D + v * 0.25D + (c_custkey % 10) / 100.0D, 4) AS discount_rate
        FROM customer LATERAL VIEW explode(array(0, 1, 2)) AS v
        """
    )
    probes = t["orders"].select("o_orderkey", "o_custkey", "o_orderdate")
    return asof_join(
        probes, versions, "o_custkey", "o_orderdate", "valid_from",
        ["version_no", "discount_rate"],
    )


O_ASOF_DISCOUNT = """
WITH v AS (
  SELECT c_custkey AS custkey, v.v AS version_no,
         TIMESTAMP '1994-01-01' + ((v.v * 900) + (c_custkey % 600)) * INTERVAL 1 DAY
             AS valid_from,
         round(0.5 + v.v * 0.25 + (c_custkey % 10) / 100.0, 4) AS discount_rate
  FROM customer CROSS JOIN (VALUES (0), (1), (2)) v(v)
)
SELECT o_orderkey, o_custkey, o_orderdate, version_no, discount_rate
FROM orders o
ASOF LEFT JOIN v ON o.o_custkey = v.custkey AND o.o_orderdate >= v.valid_from
"""


def q_interval_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join via banding (operators/asof.interval_join):
    each high-quantity lineitem opens a deterministic shipment window
    [shipdate, shipdate + 1 + orderkey%45 days]; per-day order
    aggregates are the points. The banded equi-join must reproduce the
    textbook BETWEEN theta-join (the oracle) exactly — matched-day
    count, order count, and an orderkey sum per interval. Dates become
    epoch days (exact integers) on both sides."""
    from jobinsight_data_pipeline_spark.operators.asof import interval_join

    t = load(spark, sf_dir, "lineitem", "orders")
    iv = (
        t["lineitem"]
        .filter(F.col("l_quantity") == 50)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.expr("datediff(l_shipdate, DATE '1970-01-01')")
            .cast("long")
            .alias("s_day"),
        )
        .withColumn(
            "e_day", F.expr("s_day + 1 + l_orderkey % 45").cast("long")
        )
    )
    pts = (
        t["orders"]
        .groupBy(
            F.expr("datediff(o_orderdate, DATE '1970-01-01')")
            .cast("long")
            .alias("p_day")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").alias("ksum"),
        )
    )
    joined = interval_join(
        pts, iv, "p_day", "s_day", "e_day", band_width=32
    )
    return joined.groupBy("l_orderkey", "l_linenumber").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("n").cast("long").alias("n_orders"),
        F.sum("ksum").cast("long").alias("key_sum"),
    )


O_INTERVAL_ORDERS = """
WITH iv AS (
  SELECT l_orderkey, l_linenumber,
         date_diff('day', TIMESTAMP '1970-01-01 00:00:00', l_shipdate)
             AS s_day,
         date_diff('day', TIMESTAMP '1970-01-01 00:00:00', l_shipdate)
             + 1 + l_orderkey % 45 AS e_day
  FROM lineitem WHERE l_quantity = 50
),
pts AS (
  SELECT date_diff('day', TIMESTAMP '1970-01-01 00:00:00', o_orderdate)
             AS p_day,
         count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS ksum
  FROM orders GROUP BY 1
)
SELECT l_orderkey, l_linenumber,
       count(*) AS n_days,
       CAST(sum(n) AS BIGINT) AS n_orders,
       CAST(sum(ksum) AS BIGINT) AS key_sum
FROM iv JOIN pts ON pts.p_day BETWEEN iv.s_day AND iv.e_day
GROUP BY l_orderkey, l_linenumber
"""


def q_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable continuous-aggregate cascade
    (operators/timeseries.py): raw events → minute buckets → 10-minute
    → hourly, each level re-aggregated FROM the previous (count/sum
    re-sum, min/max re-extremize) — never a second raw scan. The gate
    emits the hourly level beside a ``cascade_consistent`` boolean
    comparing every measure against a DIRECT hourly aggregation of the
    raw rows; the oracle computes the direct form and pins TRUE — the
    re-aggregation-invariance claim under one hash. Values are integer
    cents, buckets epoch-hour BIGINTs."""
    from jobinsight_data_pipeline_spark.operators.timeseries import (
        bucket_rollup,
        cascade_level,
        epoch_micros,
    )

    t = load(spark, sf_dir, "events")
    raw = t["events"].select(
        epoch_micros("ts").alias("m"),
        "event_type",
        F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("cents"),
    )
    minute = bucket_rollup(raw, "m", ["event_type"], "cents", 60_000_000)
    hour = cascade_level(
        cascade_level(minute, ["event_type"], 10), ["event_type"], 6
    )
    direct = bucket_rollup(
        raw, "m", ["event_type"], "cents", 3_600_000_000
    ).select(
        "bucket", "event_type",
        F.col("n").alias("_dn"), F.col("sum_cents").alias("_ds"),
        F.col("min_cents").alias("_dmin"), F.col("max_cents").alias("_dmax"),
    )
    return hour.join(direct, ["bucket", "event_type"]).select(
        "bucket", "event_type", "n", "sum_cents", "min_cents", "max_cents",
        (
            (F.col("n") == F.col("_dn"))
            & (F.col("sum_cents") == F.col("_ds"))
            & (F.col("min_cents") == F.col("_dmin"))
            & (F.col("max_cents") == F.col("_dmax"))
        ).alias("cascade_consistent"),
    )


O_HYPERTABLE_ROLLUP = """
WITH raw AS (
    SELECT date_diff('microseconds', TIMESTAMP '1970-01-01 00:00:00', ts)
               AS m,
           event_type,
           CAST(round(value * 100, 0) AS BIGINT) AS cents
    FROM events
)
SELECT m // 3600000000 AS bucket, event_type, count(*) AS n,
       CAST(sum(cents) AS BIGINT) AS sum_cents,
       min(cents) AS min_cents, max(cents) AS max_cents,
       TRUE AS cascade_consistent
FROM raw GROUP BY 1, 2
"""


def q_resample_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill resampling (operators/timeseries.resample_ffill): each
    user's value series re-sampled onto a 5-minute grid between their
    first and last event, latest-at-or-before value carried forward
    (highest event_id wins timestamp ties). The fill is the asof
    union+forward-window — one shuffle, no per-grid-point range join;
    the oracle replays it with DuckDB's native ASOF JOIN over the same
    deduplicated versions. The user subset + 15-minute step bound the
    grid to ~10^5 rows at sf0.1 (the month-long span is fixed; users
    grow with SF — an unbounded per-user 5-min grid reached 1.3M rows
    at sf0.01 and would hash 13M at sf0.1)."""
    from jobinsight_data_pipeline_spark.operators.timeseries import (
        epoch_micros,
        resample_ffill,
    )

    t = load(spark, sf_dir, "events")
    raw = t["events"].filter("user_id % 25 = 0").select(
        "user_id",
        epoch_micros("ts").alias("m"),
        F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("cents"),
        "event_id",
    )
    return resample_ffill(
        raw, "m", "user_id", "cents", 900_000_000, "event_id"
    ).select("user_id", "grid_micros", "cents")


O_RESAMPLE_GRID = """
WITH e AS (
    SELECT user_id,
           date_diff('microseconds', TIMESTAMP '1970-01-01 00:00:00', ts)
               AS m,
           CAST(round(value * 100, 0) AS BIGINT) AS cents,
           event_id
    FROM events WHERE user_id % 25 = 0
),
v AS (
    SELECT user_id, m, cents FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id, m ORDER BY event_id DESC) AS rn
        FROM e)
    WHERE rn = 1
),
b AS (
    SELECT user_id,
           ((min(m) + 899999999) // 900000000) * 900000000 AS s_lo,
           max(m) AS s_hi
    FROM e GROUP BY user_id
),
grid AS (
    SELECT user_id, g AS grid_micros
    FROM b, LATERAL (SELECT unnest(range(s_lo, s_hi + 1, 900000000)) AS g) t
    WHERE s_lo <= s_hi
)
SELECT grid.user_id, grid_micros, v.cents
FROM grid ASOF JOIN v
  ON grid.user_id = v.user_id AND grid.grid_micros >= v.m
"""


def q_sketch_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-dataset overlap audit via mergeable theta sketches
    (operators/sketches.theta_overlap): the user sets of two event
    streams (split by event_id parity) measured as |A|, |B|, |A∪B|,
    |A∩B|, |A\\B| WITHOUT a key join. Containment gate in the
    monthly_orders_approx pattern: the exact set cardinalities ride in
    the row, the sketch estimates are asserted inside a ±2% (floor ±2)
    envelope as booleans the oracle pins TRUE. Below the sketch's 2^12
    nominal entries the estimates are exact, so the booleans are
    deterministic statements, not probabilistic hopes."""
    from jobinsight_data_pipeline_spark.operators.sketches import (
        theta_overlap,
    )

    t = load(spark, sf_dir, "events")
    base = t["events"].select(
        "user_id", (F.col("event_id") % 2 == 0).alias("_e")
    )
    est = theta_overlap(
        base.filter("_e").select("user_id"),
        base.filter("NOT _e").select("user_id"),
        "user_id",
    )
    exact = (
        base.groupBy("user_id")
        .agg(
            F.max(F.col("_e")).alias("e"),
            F.max(~F.col("_e")).alias("o"),
        )
        .agg(
            F.count(F.when(F.col("e"), 1)).alias("n_a"),
            F.count(F.when(F.col("o"), 1)).alias("n_b"),
            F.count(F.lit(1)).alias("n_union"),
            F.count(F.when(F.col("e") & F.col("o"), 1)).alias("n_inter"),
            F.count(F.when(F.col("e") & ~F.col("o"), 1)).alias("n_diff"),
        )
    )

    def ok(est_col: str, exact_col: str) -> F.Column:
        return (
            F.abs(F.col(est_col) - F.col(exact_col))
            <= F.greatest(0.02 * F.col(exact_col), F.lit(2.0))
        ).alias(f"{est_col}_ok")

    return exact.crossJoin(broadcast(est)).select(
        "n_a", "n_b", "n_union", "n_inter", "n_diff",
        ok("est_a", "n_a"), ok("est_b", "n_b"),
        ok("est_union", "n_union"), ok("est_intersect", "n_inter"),
        ok("est_diff", "n_diff"),
    )


O_SKETCH_OVERLAP = """
WITH per_user AS (
    SELECT user_id,
           bool_or(event_id % 2 = 0) AS e,
           bool_or(event_id % 2 = 1) AS o
    FROM events GROUP BY user_id
)
SELECT count(*) FILTER (e) AS n_a,
       count(*) FILTER (o) AS n_b,
       count(*) AS n_union,
       count(*) FILTER (e AND o) AS n_inter,
       count(*) FILTER (e AND NOT o) AS n_diff,
       TRUE AS est_a_ok, TRUE AS est_b_ok, TRUE AS est_union_ok,
       TRUE AS est_intersect_ok, TRUE AS est_diff_ok
FROM per_user
"""


def q_event_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile SKETCH path — approx_percentile (Greenwald-Khanna) per
    event type; `event_percentiles` pins the exact interpolated
    semantics this approximates.

    Bounded-error containment gate: GK at accuracy=10000 guarantees rank
    error ≤ 1/accuracy, so each sketch value must lie within the exact
    quantile envelope at p ± 0.01 (the guarantee is 100× tighter, but the
    envelope needs ≥1-rank width at the small test n, and a broken sketch
    misses ±1% rank by orders of magnitude). The query emits containment
    booleans beside the exact row count; the oracle emits TRUE — the
    hash fails iff the sketch leaves the envelope (DuckDB has no
    bit-for-bit GK twin)."""
    t = load(spark, sf_dir, "events")
    pct = F.percentile_approx(
        "value", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)), 10_000
    )
    lo = F.expr("percentile(value, array(0.49, 0.89, 0.98))")
    hi = F.expr("percentile(value, array(0.51, 0.91, 1.0))")
    return (
        t["events"]
        .groupBy("event_type")
        .agg(pct.alias("p"), lo.alias("lo"), hi.alias("hi"), F.count("*").alias("n"))
        .select(
            "event_type",
            "n",
            *[
                (
                    (F.col("p")[i] >= F.col("lo")[i])
                    & (F.col("p")[i] <= F.col("hi")[i])
                ).alias(name)
                for i, name in enumerate(
                    ["p50_in_bounds", "p90_in_bounds", "p99_in_bounds"]
                )
            ],
        )
    )


O_EVENT_PERCENTILES_APPROX = """
SELECT event_type, count(*) AS n,
       TRUE AS p50_in_bounds, TRUE AS p90_in_bounds, TRUE AS p99_in_bounds
FROM events
GROUP BY event_type
"""


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10: exactly-once streaming dedup with bounded state
    (streaming/incremental.stream_dedup). Two overlapping event drops
    (event_id mod 3 ∈ {0,1} and ∈ {1,2} — the middle third lands twice,
    in different micro-batches, one file per batch) drain through
    dropDuplicatesWithinWatermark into a checkpointed native parquet
    file sink, built once per (session, sf_dir) through the memo. The
    oracle re-derives the sink from the drop definition with UNION ALL
    + DISTINCT: any duplicate that survives cross-batch state, or any
    row the sink loses, shifts the per-type counts and fails the
    hash."""
    from jobinsight_data_pipeline_spark.streaming.incremental import stream_dedup

    t = load(spark, sf_dir, "events")
    # Spark event-time (watermarks) requires TIMESTAMP, not TIMESTAMP_NTZ
    # (verified: EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE on NTZ) — cast for
    # the stream only; the gate output carries no timestamps, so the
    # session-TZ-dependent instant never reaches the hash.
    ev = t["events"].withColumn("ts", F.col("ts").cast("timestamp"))

    def build() -> str:
        base = scratch_dir("streamdedup-gate-")
        raw = f"{base}/drops"
        for mods in ((0, 1), (1, 2)):
            ev.filter((F.col("event_id") % 3).isin(*mods)).coalesce(1).write.mode(
                "append"
            ).parquet(raw)
        stream_dedup(
            spark, raw, ev.schema, f"{base}/sink", f"{base}/ckpt", ["event_id"]
        ).awaitTermination()
        return base

    base = memo(spark, "stream_dedup", sf_dir, build)
    return (
        spark.read.parquet(f"{base}/sink")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_id").alias("n_ids"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        )
    )


O_STREAM_DEDUP = """
WITH uni AS (
    SELECT * FROM events WHERE mod(event_id, 3) IN (0, 1)
    UNION ALL
    SELECT * FROM events WHERE mod(event_id, 3) IN (1, 2)
),
ded AS (SELECT DISTINCT * FROM uni)
SELECT event_type, count(*) AS n_events, count(DISTINCT event_id) AS n_ids,
       round(sum(value), 2) AS total_value,
       min(event_id) AS min_id, max(event_id) AS max_id
FROM ded
GROUP BY event_type
"""


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/Z-order clustering keys (operators/zorder.py): interleave
    customer id and order date (days) so a sort on one key gives BOTH
    dimensions parquet min/max locality. The oracle reproduces the bit
    interleave exactly (list_transform over the 16 bit positions)."""
    from jobinsight_data_pipeline_spark.operators.zorder import zorder_key

    t = load(spark, sf_dir, "orders")
    o = t["orders"].select(
        "o_orderkey",
        F.col("o_custkey").alias("x"),
        F.datediff("o_orderdate", F.lit("1970-01-01")).alias("y"),
    )
    return o.select(
        "o_orderkey", zorder_key(["x", "y"], bits=16).alias("zkey")
    )


O_ZORDER_LAYOUT = """
SELECT o_orderkey,
       CAST(list_sum(list_transform(range(0, 16), b ->
           (((o_custkey >> b) & 1) << (b * 2))
         + (((date_diff('day', DATE '1970-01-01', o_orderdate) >> b) & 1)
            << (b * 2 + 1))
       )) AS BIGINT) AS zkey
FROM orders
"""


def _revenue_units() -> F.Column:
    """Line revenue in EXACT integer 10^-4 units: price and discount are
    2-decimal quantized doubles, so round(x*100) recovers the exact
    integers and the product/sum never touches float summation — immune
    to the round(sum(double), 2) order-dependence flake (the q14-style
    MEDIUM group lands exactly on a .5 cent boundary at sf0.01)."""
    return F.round(F.col("l_extendedprice") * 100).cast("long") * (
        100 - F.round(F.col("l_discount") * 100).cast("long")
    )


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join with the correlated local-supplier
    predicate (customer and supplier share a nation), date-windowed,
    revenue per nation in exact integer cents (HALF_UP from 10^-4
    units)."""
    t = load(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier",
        "nation", "region",
    )
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            t["supplier"],
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(
            (F.col("r_name") == "ASIA")
            & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1999-01-01").cast("date"))
        )
        .withColumn("_units", _revenue_units())
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            F.expr("(sum(_units) + 50) div 100").alias("revenue_cents"),
            F.count(F.lit(1)).alias("line_count"),
        )
        .withColumn("revenue_cents", F.col("revenue_cents").cast("long"))
    )


def q_promo_type_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: lineitem x part with a ship-date window, revenue
    and volume per part type (PROMO vs the rest) in exact integer
    cents."""
    t = load(spark, sf_dir, "lineitem", "part")
    return (
        t["lineitem"]
        .join(broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("date"))
        )
        .withColumn("_units", _revenue_units())
        .groupBy("p_type")
        .agg(
            F.expr("(sum(_units) + 50) div 100").alias("revenue_cents"),
            F.count(F.lit(1)).alias("line_count"),
        )
        .withColumn("revenue_cents", F.col("revenue_cents").cast("long"))
    )


O_LOCAL_SUPPLIER_VOLUME = """
SELECT n_name AS nation_name,
       CAST((sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l_discount * 100) AS BIGINT))) + 50) // 100
            AS BIGINT) AS revenue_cents,
       count(*) AS line_count
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1999-01-01'
GROUP BY n_name
"""

O_PROMO_TYPE_REVENUE = """
SELECT p_type,
       CAST((sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l_discount * 100) AS BIGINT))) + 50) // 100
            AS BIGINT) AS revenue_cents,
       count(*) AS line_count
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1998-01-01'
GROUP BY p_type
"""


def _funnel_oracle(r1: str, within_us: int, n_users: str) -> str:
    """The view → click → purchase funnel replay: `r1` selects the
    step-1 anchors (user_id, at, anchor) from the (ts, event_id)-keyed
    `ev`, each later step takes the first matching event after the
    previous step within `within_us` of its anchor, and `n_users`
    counts each step's users."""
    return f"""
WITH ev AS (
    SELECT user_id, event_type,
           lpad(CAST(date_diff('microseconds',
                               TIMESTAMP '1970-01-01 00:00:00', ts)
                     AS VARCHAR), 20, '0')
             || ':' || lpad(CAST(event_id AS VARCHAR), 20, '0') AS okey
    FROM events
    WHERE event_type IN ('view', 'click', 'purchase')
),
r1 AS (
    {r1}
),
r2 AS (
    SELECT e.user_id, r.anchor, min(e.okey) AS at
    FROM ev e JOIN r1 r ON e.user_id = r.user_id
    WHERE e.event_type = 'click' AND e.okey > r.at
      AND CAST(substring(e.okey, 1, 20) AS BIGINT)
          - CAST(substring(r.anchor, 1, 20) AS BIGINT) <= {within_us}
    GROUP BY e.user_id, r.anchor
),
r3 AS (
    SELECT e.user_id, r.anchor, min(e.okey) AS at
    FROM ev e JOIN r2 r ON e.user_id = r.user_id
    WHERE e.event_type = 'purchase' AND e.okey > r.at
      AND CAST(substring(e.okey, 1, 20) AS BIGINT)
          - CAST(substring(r.anchor, 1, 20) AS BIGINT) <= {within_us}
    GROUP BY e.user_id, r.anchor
),
counts AS (
    SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type,
           {n_users} AS n_users FROM r1
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'click', {n_users} FROM r2
    UNION ALL
    SELECT CAST(3 AS BIGINT), 'purchase', {n_users} FROM r3
)
SELECT step, event_type, n_users,
       CAST((n_users * 1000000)
            // nullif(max(CASE WHEN step = 1 THEN n_users END) OVER (), 0)
            AS BIGINT) AS conv_ppm,
       CAST((n_users * 1000000)
            // nullif(lag(n_users) OVER (ORDER BY step), 0)
            AS BIGINT) AS step_ppm
FROM counts
"""


def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel over the event stream
    (operators/behavior.funnel_counts): view → click → purchase with a
    72-hour conversion window, greedy-from-first-occurrence matching on
    the deterministic (ts, event_id) order key. All shuffles key on
    user_id (exchange reuse); per-step counts are 1-row aggregates."""
    from jobinsight_data_pipeline_spark.operators.behavior import (
        funnel_counts,
    )

    t = load(spark, sf_dir, "events")
    return funnel_counts(
        t["events"], ["view", "click", "purchase"], within_hours=72
    )


O_FUNNEL_STEPS = _funnel_oracle(
    "SELECT user_id, min(okey) AS at, min(okey) AS anchor\n"
    "    FROM ev WHERE event_type = 'view' GROUP BY user_id",
    within_us=72 * 3_600_000_000,
    n_users="count(*)",
)


def q_funnel_reanchor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The windowed RE-ENTRY funnel (operators/behavior.funnel_counts
    with anchor='all', r6 verdict item 8): every step-1 event anchors
    its own greedy chain inside a TIGHT 12-hour window, and a user
    reaches step k if ANY anchor's chain does — the other standard
    product-analytics mode, and an adversarial test of the
    frontier-join design (the frontier keys on (user, anchor), so
    within-window re-entry is pure join fan-out, no per-user sequence
    scan). At sf0.01 the semantics visibly diverge from the driver
    `funnel_steps` gate's first-anchor mode (step 2: 136 vs 37 users).
    The oracle replays every anchor's chain and the distinct-user
    rollup."""
    from jobinsight_data_pipeline_spark.operators.behavior import (
        funnel_counts,
    )

    t = load(spark, sf_dir, "events")
    return funnel_counts(
        t["events"],
        ["view", "click", "purchase"],
        within_hours=12,
        anchor="all",
    )


O_FUNNEL_REANCHOR = _funnel_oracle(
    "SELECT user_id, okey AS at, okey AS anchor\n"
    "    FROM ev WHERE event_type = 'view'",
    within_us=12 * 3_600_000_000,
    n_users="count(DISTINCT user_id)",
)


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly acquisition-cohort retention triangle
    (operators/behavior.cohort_retention): users cohorted by the Monday
    of their first event's ISO week; per (cohort, weeks-since) cell the
    distinct-active count and exact integer ppm of the cohort (derived
    from the k=0 diagonal — no extra cohort-size join)."""
    from jobinsight_data_pipeline_spark.operators.behavior import (
        cohort_retention,
    )

    t = load(spark, sf_dir, "events")
    return cohort_retention(t["events"])


O_COHORT_RETENTION = """
WITH first AS (
    SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
    FROM events GROUP BY user_id
),
active AS (
    SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
    FROM events
),
cells AS (
    SELECT f.cohort_week,
           CAST((a.week - f.cohort_week) // 7 AS BIGINT) AS period_weeks,
           count(*) AS n_active
    FROM active a JOIN first f USING (user_id)
    GROUP BY 1, 2
)
SELECT cohort_week, period_weeks, n_active,
       CAST((n_active * 1000000)
            // nullif(max(CASE WHEN period_weeks = 0 THEN n_active END)
                      OVER (PARTITION BY cohort_week), 0)
            AS BIGINT) AS retention_ppm
FROM cells
"""


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity release audit (operators/profiling.k_anonymity_audit)
    on the customer table with (nation, market segment) as the quasi-
    identifier: per equivalence class its size, a k=10 verdict, and the
    integer-ppm suppression cost. At sf0.01 class sizes straddle k, so
    both verdict branches hash-check."""
    from jobinsight_data_pipeline_spark.operators.profiling import (
        k_anonymity_audit,
    )

    t = load(spark, sf_dir, "customer")
    return k_anonymity_audit(
        t["customer"], ["c_nationkey", "c_mktsegment"], k=10
    )


O_K_ANONYMITY = """
WITH t AS (SELECT count(*) AS total FROM customer),
classes AS (
    SELECT c_nationkey, c_mktsegment, count(*) AS class_n
    FROM customer GROUP BY 1, 2
)
SELECT c_nationkey, c_mktsegment, class_n,
       class_n >= 10 AS meets_k,
       CAST((class_n * 1000000) // greatest(total, 1) AS BIGINT)
           AS share_ppm
FROM classes, t
"""


def q_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew report (operators/skew.skew_audit) on lineitem's
    supplier key: the 10 hottest keys with exact integer share and
    load-multiple-vs-uniform ppm — the detection step that decides
    between AQE, salting, and hot-key isolation."""
    from jobinsight_data_pipeline_spark.operators.skew import skew_audit

    t = load(spark, sf_dir, "lineitem")
    return skew_audit(t["lineitem"], ["l_suppkey"], top_k=10)


O_SKEW_AUDIT = """
WITH t AS (
    SELECT count(*) AS total, count(DISTINCT l_suppkey) AS n_keys
    FROM lineitem
),
per AS (
    SELECT l_suppkey, count(*) AS n FROM lineitem GROUP BY 1
)
SELECT l_suppkey, n,
       CAST((n * 1000000) // greatest(total, 1) AS BIGINT) AS share_ppm,
       CAST((n * n_keys * 1000000) // greatest(total, 1) AS BIGINT)
           AS x_uniform_ppm
FROM per, t
ORDER BY n DESC, l_suppkey ASC
LIMIT 10
"""


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution (operators/behavior.
    last_touch_attribution): every purchase credits the user's latest
    preceding view/click via the engine's as-of join; revenue sums as
    quantized integers (floor(value·10⁴) then BIGINT sum — immune to
    float summation order). The oracle replays with DuckDB's native
    ASOF JOIN — the resample_grid discipline."""
    from jobinsight_data_pipeline_spark.operators.behavior import (
        last_touch_attribution,
    )

    t = load(spark, sf_dir, "events")
    return last_touch_attribution(
        t["events"], "purchase", ["view", "click"]
    )


O_ATTRIBUTION = """
WITH touches AS (
    SELECT user_id, ts, event_type AS touch_type, event_id AS touch_id,
           row_number() OVER (PARTITION BY user_id, ts
                              ORDER BY event_id DESC) AS rn
    FROM events WHERE event_type IN ('view', 'click')
),
tt AS (SELECT user_id, ts, touch_type FROM touches WHERE rn = 1),
purch AS (
    SELECT user_id, ts, event_id, value
    FROM events WHERE event_type = 'purchase'
),
att AS (
    SELECT p.user_id, p.value, t.touch_type
    FROM purch p
    ASOF LEFT JOIN tt t
      ON p.user_id = t.user_id AND t.ts <= p.ts
)
SELECT coalesce(touch_type, 'none') AS touch_type,
       count(*) AS n_conversions,
       count(DISTINCT user_id) AS n_users,
       CAST(sum(CAST(floor(value * 10000.0) AS BIGINT)) AS BIGINT)
           AS value_q4
FROM att GROUP BY 1
"""


def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC candles per event type (operators/timeseries.
    ohlc_bars): open/high/low/close of the quantized value with
    (micros, event_id) argmin/argmax riding inside ONE partial-agg
    groupBy as struct min/max — no window over the event stream. All
    integers (epoch-micros, floor(value·10⁴) cents)."""
    from jobinsight_data_pipeline_spark.operators.timeseries import (
        epoch_micros,
        ohlc_bars,
    )

    t = load(spark, sf_dir, "events")
    base = t["events"].select(
        "event_type",
        epoch_micros("ts").alias("m"),
        F.col("event_id").alias("tb"),
        F.floor(F.col("value") * F.lit(10000.0)).cast("long").alias("cents"),
    )
    return ohlc_bars(base, "m", ["event_type"], "cents", "tb", 3_600_000_000)


O_OHLC_BARS = """
WITH q AS (
    SELECT event_type,
           date_diff('microseconds', TIMESTAMP '1970-01-01 00:00:00', ts)
               AS m,
           event_id AS t,
           CAST(floor(value * 10000.0) AS BIGINT) AS v
    FROM events
),
b AS (SELECT event_type, m // 3600000000 AS bucket, m, t, v FROM q),
r AS (
    SELECT *,
           row_number() OVER (PARTITION BY bucket, event_type
                              ORDER BY m, t) AS rf,
           row_number() OVER (PARTITION BY bucket, event_type
                              ORDER BY m DESC, t DESC) AS rl
    FROM b
)
SELECT bucket, event_type, count(*) AS n,
       max(CASE WHEN rf = 1 THEN v END) AS open_cents,
       max(v) AS high_cents,
       min(v) AS low_cents,
       max(CASE WHEN rl = 1 THEN v END) AS close_cents
FROM r GROUP BY 1, 2
"""


def _event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events as (sid, ts, event_type, event_id), sid naming each
    user's 30-minute-gap session as 'user_id:session_no'."""
    t = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        t["events"]
        .withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            (
                F.expr("timestampdiff(MICROSECOND, prev_ts, ts)")
                > 1800 * 1_000_000
            ).cast("int"),
        )
        .withColumn(
            "session_no",
            F.sum(F.coalesce("new_session", F.lit(1))).over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .select(
            F.concat_ws(":", "user_id", "session_no").alias("sid"),
            "ts",
            "event_type",
            "event_id",
        )
    )


#: `_event_sessions` in DuckDB: opens a WITH whose `sess` CTE holds
#: (sid, ts, event_id, event_type)
_SESSIONS_SQL = """WITH gapped AS (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN lag(ts) OVER w IS NULL THEN 1
                WHEN date_diff('microseconds', lag(ts) OVER w, ts)
                     > 1800000000 THEN 1
                ELSE 0 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
    SELECT user_id || ':' || CAST(CAST(sum(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS VARCHAR) AS sid,
           ts, event_id, event_type
    FROM gapped
)"""


def q_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed session-scoped funnel: the sessionize gate's 30-minute
    gaps-and-islands assignment feeds operators/behavior.funnel_counts
    with the (user, session) composite as the funnel subject — how many
    SESSIONS progress view → click → purchase (the within-visit
    conversion report; no conversion window needed, the session bounds
    it). Two driver-proven families under one composed hash."""
    from jobinsight_data_pipeline_spark.operators.behavior import (
        funnel_counts,
    )

    out = funnel_counts(
        _event_sessions(spark, sf_dir),
        ["view", "click", "purchase"],
        id_col="sid",
    )
    return out.select(
        "step",
        "event_type",
        F.col("n_users").alias("n_sessions"),
        "conv_ppm",
        "step_ppm",
    )


O_SESSION_FUNNEL = f"""
{_SESSIONS_SQL},
ev AS (
    SELECT sid, event_type,
           lpad(CAST(date_diff('microseconds',
                               TIMESTAMP '1970-01-01 00:00:00', ts)
                     AS VARCHAR), 20, '0')
             || ':' || lpad(CAST(event_id AS VARCHAR), 20, '0') AS okey
    FROM sess
    WHERE event_type IN ('view', 'click', 'purchase')
),
r1 AS (
    SELECT sid, min(okey) AS at
    FROM ev WHERE event_type = 'view' GROUP BY sid
),
r2 AS (
    SELECT e.sid, min(e.okey) AS at
    FROM ev e JOIN r1 r ON e.sid = r.sid
    WHERE e.event_type = 'click' AND e.okey > r.at
    GROUP BY e.sid
),
r3 AS (
    SELECT e.sid, min(e.okey) AS at
    FROM ev e JOIN r2 r ON e.sid = r.sid
    WHERE e.event_type = 'purchase' AND e.okey > r.at
    GROUP BY e.sid
),
counts AS (
    SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type,
           count(*) AS n_sessions FROM r1
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'click', count(*) FROM r2
    UNION ALL
    SELECT CAST(3 AS BIGINT), 'purchase', count(*) FROM r3
)
SELECT step, event_type, n_sessions,
       CAST((n_sessions * 1000000)
            // nullif(max(CASE WHEN step = 1 THEN n_sessions END)
                      OVER (), 0) AS BIGINT) AS conv_ppm,
       CAST((n_sessions * 1000000)
            // nullif(lag(n_sessions) OVER (ORDER BY step), 0)
            AS BIGINT) AS step_ppm
FROM counts
"""


def q_attribution_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution (operators/behavior.
    first_touch_attribution): every purchase credits the user's earliest
    view/click when it precedes the purchase in (ts, event_id) order —
    the acquisition-channel complement of the as-of last-touch gate;
    one user-key partial agg + one reduced join."""
    from jobinsight_data_pipeline_spark.operators.behavior import (
        first_touch_attribution,
    )

    t = load(spark, sf_dir, "events")
    return first_touch_attribution(
        t["events"], "purchase", ["view", "click"]
    )


O_ATTRIBUTION_FIRST = """
WITH ok AS (
    SELECT user_id, event_type, value,
           lpad(CAST(date_diff('microseconds',
                               TIMESTAMP '1970-01-01 00:00:00', ts)
                     AS VARCHAR), 20, '0')
             || ':' || lpad(CAST(event_id AS VARCHAR), 20, '0') AS okey
    FROM events
),
first AS (
    SELECT user_id, min(okey) AS fk,
           arg_min(event_type, okey) AS ft
    FROM ok WHERE event_type IN ('view', 'click')
    GROUP BY user_id
),
att AS (
    SELECT p.user_id, p.value,
           CASE WHEN f.fk IS NOT NULL AND f.fk <= p.okey THEN f.ft
                ELSE 'none' END AS touch_type
    FROM ok p LEFT JOIN first f USING (user_id)
    WHERE p.event_type = 'purchase'
)
SELECT touch_type, count(*) AS n_conversions,
       count(DISTINCT user_id) AS n_users,
       CAST(sum(CAST(floor(value * 10000.0) AS BIGINT)) AS BIGINT)
           AS value_q4
FROM att GROUP BY 1
"""


def q_stream_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME weekly retention triangle as `cohort_retention`, with
    the per-user first-seen side maintained by a Structured Streaming
    loop (streaming/incremental.stream_state reducing each batch to
    per-user min ts) over four micro-batch event drops: per-batch
    (user, min ts) rows land in batch=<epoch> partitions (overwrite →
    replay-idempotent) and merge by per-user min — min commutes, so
    streaming ≡ batch exactly and this gate shares O_COHORT_RETENTION
    verbatim (the stream_cms mergeability discipline)."""
    from jobinsight_data_pipeline_spark.operators.behavior import (
        cohort_retention,
    )
    from jobinsight_data_pipeline_spark.streaming.incremental import (
        read_first_seen,
    )

    t = load(spark, sf_dir, "events")
    ev = t["events"].select("user_id", "ts", "event_id")
    state = streamed_state(
        spark, "stream_cohort", sf_dir, ev, "event_id",
        lambda b: b.groupBy("user_id").agg(F.min("ts").alias("ts")),
    )
    first = read_first_seen(spark, state)
    return cohort_retention(t["events"], first_seen=first)


def q_outlier_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence anomaly screen (operators/profiling.
    iqr_outlier_fences) per event type over quantized values, with a
    planted inflation (every 97th event's value ×20) so the high fence
    actually fires. Exact discrete quartiles via the grouped
    histogram-CDF rank — the oracle is the textbook window form; every
    quantity integer (×10 fences, no fraction materializes)."""
    from jobinsight_data_pipeline_spark.operators.profiling import (
        iqr_outlier_fences,
    )

    t = load(spark, sf_dir, "events")
    base = t["events"].select(
        "event_type",
        "event_id",
        F.floor(
            F.col("value")
            * F.when(F.col("event_id") % 97 == 0, F.lit(200000.0)).otherwise(
                F.lit(10000.0)
            )
        ).cast("long").alias("cents"),
    )
    return iqr_outlier_fences(base, "cents", ["event_type"], ["event_id"])


O_OUTLIER_FENCES = """
WITH base AS (
    SELECT event_type, event_id,
           CAST(floor(value * CASE WHEN event_id % 97 = 0
                                   THEN 200000.0 ELSE 10000.0 END)
                AS BIGINT) AS cents
    FROM events
),
ranked AS (
    SELECT event_type, cents,
           CAST(row_number() OVER (PARTITION BY event_type
                                   ORDER BY cents, event_id) AS BIGINT)
               AS rk,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM base
),
q AS (
    SELECT event_type, CAST(max(n) AS BIGINT) AS n,
           max(CASE WHEN rk = (n + 3) // 4 THEN cents END) AS q1,
           max(CASE WHEN rk = (3 * n + 3) // 4 THEN cents END) AS q3
    FROM ranked GROUP BY event_type
),
fences AS (
    SELECT event_type, n, q1, q3, q3 - q1 AS iqr,
           q1 * 10 - 15 * (q3 - q1) AS lo_fence_x10,
           q3 * 10 + 15 * (q3 - q1) AS hi_fence_x10
    FROM q
)
SELECT f.event_type, f.n, f.q1, f.q3, f.iqr,
       f.lo_fence_x10, f.hi_fence_x10,
       CAST(sum(CASE WHEN b.cents * 10 < f.lo_fence_x10 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_low,
       CAST(sum(CASE WHEN b.cents * 10 > f.hi_fence_x10 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_high
FROM base b JOIN fences f USING (event_type)
GROUP BY 1, 2, 3, 4, 5, 6, 7
"""


def q_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME hourly candles as `ohlc_bars`, with the bar state
    maintained by a Structured Streaming loop (streaming/incremental.
    stream_state reducing each batch to its ohlc_partials) over four
    micro-batch event drops: per-batch OHLC partials land in
    batch=<epoch> partitions (overwrite → replay-idempotent) and merge
    by min/max/sum — the argmin structs commute, so streaming ≡ batch
    exactly and this gate shares O_OHLC_BARS verbatim (the stream_cms /
    stream_cohort mergeable-state discipline)."""
    from jobinsight_data_pipeline_spark.operators.timeseries import (
        merge_ohlc_partials,
        ohlc_partials,
    )

    t = load(spark, sf_dir, "events")
    ev = t["events"].select("event_type", "ts", "event_id", "value")

    def reduce(batch: DataFrame) -> DataFrame:
        bars = batch.selectExpr(
            "timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) AS m",
            "event_type",
            "CAST(floor(value * 10000.0) AS LONG) AS cents",
            "event_id",
        )
        return ohlc_partials(
            bars, "m", ["event_type"], "cents", "event_id", 3_600_000_000
        )

    state = streamed_state(spark, "stream_ohlc", sf_dir, ev, "event_id", reduce)
    return merge_ohlc_partials(spark.read.parquet(state), ["event_type"])


def q_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session path analysis (operators/behavior.top_session_paths):
    the 20 most common first-5-event type sequences across the
    30-minute sessions — funnels test one hypothesized order, paths
    DISCOVER the orders that actually happen. Per-session assembly
    sorts inside the aggregate row (no event-stream window); ties cut
    on (count desc, path asc)."""
    from jobinsight_data_pipeline_spark.operators.behavior import (
        top_session_paths,
    )

    return top_session_paths(
        _event_sessions(spark, sf_dir), "sid", max_steps=5, k=20
    )


O_TOP_PATHS = f"""
{_SESSIONS_SQL},
numbered AS (
    SELECT sid, event_type,
           row_number() OVER (PARTITION BY sid ORDER BY ts, event_id)
               AS rn
    FROM sess
),
paths AS (
    SELECT sid, string_agg(event_type, '>' ORDER BY rn) AS path
    FROM numbered WHERE rn <= 5 GROUP BY sid
)
SELECT path, count(*) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path ASC
LIMIT 20
"""


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F17/F18 JSON surface on a raw column: parse the events `props`
    JSON with the native from_json path (schema'd, codegen'd — never a
    UDF) and aggregate the extracted field per event type. try-parse
    semantics: a malformed document yields NULL, not an error."""
    t = load(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k INT")["k"]
    return (
        t["events"]
        .withColumn("_k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("_k").alias("n_parsed"),
            F.sum("_k").cast("long").alias("sum_k"),
            F.min("_k").alias("min_k"),
            F.max("_k").alias("max_k"),
        )
    )


O_JSON_PROPS = """
SELECT event_type,
       count(*) AS n_events,
       count(k) AS n_parsed,
       CAST(sum(k) AS BIGINT) AS sum_k,
       min(k) AS min_k,
       max(k) AS max_k
FROM (
    -- mirror from_json's try-parse + strict typing: malformed JSON,
    -- a missing key, or a non-integer value all yield NULL instead of
    -- erroring (plain json_extract + CAST raises on both)
    SELECT event_type,
           CASE WHEN json_valid(props)
                 AND json_type(json(props), '$.k') IN ('BIGINT', 'UBIGINT')
                THEN TRY_CAST(json_extract(props, '$.k') AS INTEGER)
           END AS k
    FROM events
)
GROUP BY event_type
"""


QUERIES = {
    "star_revenue": q_star_revenue,
    "local_supplier_volume": q_local_supplier_volume,
    "promo_type_revenue": q_promo_type_revenue,
    "json_props": q_json_props,
    "funnel_steps": q_funnel_steps,
    "funnel_reanchor": q_funnel_reanchor,
    "k_anonymity": q_k_anonymity,
    "skew_audit": q_skew_audit,
    "outlier_fences": q_outlier_fences,
    "attribution": q_attribution,
    "attribution_first": q_attribution_first,
    "ohlc_bars": q_ohlc_bars,
    "stream_ohlc": q_stream_ohlc,
    "session_funnel": q_session_funnel,
    "top_paths": q_top_paths,
    "cohort_retention": q_cohort_retention,
    "stream_cohort": q_stream_cohort,
    "asof_discount": q_asof_discount,
    "interval_orders": q_interval_orders,
    "sketch_overlap": q_sketch_overlap,
    "hypertable_rollup": q_hypertable_rollup,
    "resample_grid": q_resample_grid,
    "event_percentiles_approx": q_event_percentiles_approx,
    "rolling_avg": q_rolling_avg,
    "ewma_smooth": q_ewma_smooth,
    "pivot_events": q_pivot_events,
    "rollup_revenue": q_rollup_revenue,
    "cube_orders": q_cube_orders,
    "unpivot_metrics": q_unpivot_metrics,
    "set_ops": q_set_ops,
    "profile_customer": q_profile_customer,
    "monthly_orders_approx": q_monthly_orders_approx,
    "windowed_events": q_windowed_events,
    "stream_dedup": q_stream_dedup,
    "zorder_layout": q_zorder_layout,
    "sessionize": q_sessionize,
    "event_percentiles": q_event_percentiles,
    "monthly_orders": q_monthly_orders,
    "top10_customers": q_top10_customers,
    "customers_no_orders": q_customers_no_orders,
    "big_spenders_semi": q_big_spenders_semi,
    "dedup_keepmin": q_dedup_keepmin,
    "nullsafe_join": q_nullsafe_join,
    "scd2_rebuild": q_scd2_rebuild,
    "dup_grain_check": q_dup_grain_check,
    "topk_per_group": q_topk_per_group,
}

ORACLES = {
    "star_revenue": O_STAR_REVENUE,
    "local_supplier_volume": O_LOCAL_SUPPLIER_VOLUME,
    "promo_type_revenue": O_PROMO_TYPE_REVENUE,
    "json_props": O_JSON_PROPS,
    "funnel_steps": O_FUNNEL_STEPS,
    "funnel_reanchor": O_FUNNEL_REANCHOR,
    "k_anonymity": O_K_ANONYMITY,
    "skew_audit": O_SKEW_AUDIT,
    "outlier_fences": O_OUTLIER_FENCES,
    "attribution": O_ATTRIBUTION,
    "attribution_first": O_ATTRIBUTION_FIRST,
    "ohlc_bars": O_OHLC_BARS,
    "stream_ohlc": O_OHLC_BARS,
    "session_funnel": O_SESSION_FUNNEL,
    "top_paths": O_TOP_PATHS,
    "cohort_retention": O_COHORT_RETENTION,
    "stream_cohort": O_COHORT_RETENTION,
    "asof_discount": O_ASOF_DISCOUNT,
    "interval_orders": O_INTERVAL_ORDERS,
    "sketch_overlap": O_SKETCH_OVERLAP,
    "hypertable_rollup": O_HYPERTABLE_ROLLUP,
    "resample_grid": O_RESAMPLE_GRID,
    "event_percentiles_approx": O_EVENT_PERCENTILES_APPROX,
    "monthly_orders_approx": O_MONTHLY_ORDERS_APPROX,
    "rolling_avg": O_ROLLING_AVG,
    "ewma_smooth": O_EWMA_SMOOTH,
    "pivot_events": O_PIVOT_EVENTS,
    "rollup_revenue": O_ROLLUP_REVENUE,
    "cube_orders": O_CUBE_ORDERS,
    "unpivot_metrics": O_UNPIVOT_METRICS,
    "set_ops": O_SET_OPS,
    "profile_customer": O_PROFILE_CUSTOMER,
    "windowed_events": O_WINDOWED_EVENTS,
    "stream_dedup": O_STREAM_DEDUP,
    "zorder_layout": O_ZORDER_LAYOUT,
    "sessionize": O_SESSIONIZE,
    "event_percentiles": O_EVENT_PERCENTILES,
    "monthly_orders": O_MONTHLY_ORDERS,
    "top10_customers": O_TOP10_CUSTOMERS,
    "customers_no_orders": O_CUSTOMERS_NO_ORDERS,
    "big_spenders_semi": O_BIG_SPENDERS_SEMI,
    "dedup_keepmin": O_DEDUP_KEEPMIN,
    "nullsafe_join": O_NULLSAFE_JOIN,
    "scd2_rebuild": O_SCD2_REBUILD,
    "dup_grain_check": O_DUP_GRAIN_CHECK,
    "topk_per_group": O_TOPK_PER_GROUP,
}
