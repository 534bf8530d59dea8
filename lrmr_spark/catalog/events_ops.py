"""Event-time analytics over the ``events`` table — the batch mirrors of
the Structured Streaming surface (lrmr_spark.streaming). Tumbling /
sliding windows, sessionization, JSON extraction.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources import parallelize
from ..tables import load
from . import query


@query(
    "events_tumbling_counts",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start, event_type,
           count(*) AS cnt,
           round(CAST(sum(value) AS DOUBLE), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def events_tumbling_counts(spark, sf_dir):
    """1-hour tumbling window per event type. Spark's window() is
    epoch-aligned exactly like DuckDB's time_bucket. In streaming mode
    the same expression runs incrementally with a watermark
    (lrmr_spark.streaming.tumbling_counts)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(F.col("w.start").alias("w_start"), "event_type", "cnt", "total_value")
    )


@query(
    "events_sliding_window",
    oracle="""
    WITH exploded AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start, value FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '1 hour', ts, INTERVAL '30 minutes') AS w_start, value
      FROM events
    )
    SELECT w_start, count(*) AS cnt,
           round(CAST(sum(value) AS DOUBLE), 2) AS total_value
    FROM exploded GROUP BY w_start
    """,
)
def events_sliding_window(spark, sf_dir):
    """1-hour window sliding every 30 minutes: each event lands in two
    overlapping windows (Spark window(ts, len, slide) expands rows
    JVM-side; the oracle reproduces the expansion with a UNION ALL of
    two bucketings)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(F.col("w.start").alias("w_start"), "cnt", "total_value")
    )


@query(
    "events_sessionization",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '30 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ), sess AS (
      SELECT user_id, ts, value,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sess_id
      FROM flagged
    )
    SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id, count(*) AS n_events,
           round(CAST(sum(value) AS DOUBLE), 2) AS total_value,
           min(ts) AS sess_start, max(ts) AS sess_end
    FROM sess GROUP BY user_id, sess_id
    """,
)
def events_sessionization(spark, sf_dir):
    """Batch sessionization: 30-minute inactivity gap → session id via
    lag + running sum (the classic gaps-and-islands plan; one shuffle on
    user_id, bounded per-user state). Streaming variant:
    lrmr_spark.streaming.session_counts uses session_window()."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    prev_ts = F.lag("ts").over(w)
    # microsecond-exact gap comparison to match the oracle's interval math
    new_sess = F.when(
        prev_ts.isNull()
        | (F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts) > 30 * 60 * 1_000_000),
        1,
    ).otherwise(0)
    return (
        ev.withColumn("new_sess", new_sess)
        .withColumn("sess_id", F.sum("new_sess").over(wsum))
        .groupBy("user_id", "sess_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.min("ts").alias("sess_start"),
            F.max("ts").alias("sess_end"),
        )
    )


@query(
    "events_hypertable_rollup",
    oracle="""
    SELECT CAST(time_bucket(INTERVAL '1 day', ts) AS TIMESTAMP) AS day_start,
           event_type,
           count(*) AS cnt,
           round(CAST(sum(value) AS DOUBLE), 2) AS total_value
    FROM events
    GROUP BY ROLLUP (day_start, event_type)
    """,
)
def events_hypertable_rollup(spark, sf_dir):
    """Hypertable-style continuous-aggregate rollup: time-bucketed
    (daily) aggregates with a ROLLUP hierarchy over (bucket, type) —
    per-type per-day, per-day subtotals, and the grand total in one
    pass (a timescale-style materialized rollup re-expressed as a
    grouping-set aggregation; at scale this materializes incrementally
    via the streaming twin + foreachBatch)."""
    ev = load(spark, sf_dir, "events")
    bucketed = ev.select(
        F.window("ts", "1 day").start.alias("day_start"), "event_type", "value"
    )
    return bucketed.rollup("day_start", "event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@query(
    "events_value_quantiles",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.9), 4) AS p90,
           round(quantile_cont(value, 0.99), 4) AS p99
    FROM events GROUP BY event_type
    """,
)
def events_value_quantiles(spark, sf_dir):
    """Latency-style per-type quantiles (exact interpolated)."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("value", F.lit(0.99)), 4).alias("p99"),
    )


@query(
    "funnel_conversion",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT count(*) AS n_users,
           CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_viewed,
           CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clicked_after_view,
           CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                          AND t_purchase > t_click
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
    FROM per_user
    """,
)
def funnel_conversion(spark, sf_dir):
    """Conversion funnel (view → click → purchase, strictly ordered
    first-occurrence times per user): one conditional-min aggregation
    per user then a global rollup — two cheap aggregations, no
    self-joins, the funnel shape that scales."""
    ev = load(spark, sf_dir, "events")

    def first_ts(t):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    per_user = ev.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & (F.col("t_click") > F.col("t_view"))
    full = clicked & (F.col("t_purchase") > F.col("t_click"))
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(viewed, 1).otherwise(0)).cast("bigint").alias("n_viewed"),
        F.sum(F.when(clicked, 1).otherwise(0)).cast("bigint").alias("n_clicked_after_view"),
        F.sum(F.when(full, 1).otherwise(0)).cast("bigint").alias("n_full_funnel"),
    )


@query(
    "retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, CAST(min(date_trunc('day', ts)) AS TIMESTAMP) AS cohort_day
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT e.user_id, f.cohort_day,
             date_diff('day', f.cohort_day, date_trunc('day', e.ts)) AS day_offset
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT cohort_day, CAST(day_offset AS BIGINT) AS day_offset,
           count(*) AS n_active_users
    FROM activity WHERE day_offset <= 7
    GROUP BY cohort_day, day_offset
    """,
)
def retention_cohorts(spark, sf_dir):
    """Retention cohort matrix: users grouped by first-activity day,
    counted by day-offset of subsequent activity (first week). Shape:
    one agg for cohort assignment, one distinct + agg — no row
    explosion. The per-user firsts table grows linearly with data
    (hundreds of millions of rows at 100 TB), so it must NOT be
    broadcast — AQE picks a shuffle join on user_id, which co-partitions
    with the groupBy's own exchange (plan-pinned in tests/test_plans.py)."""
    ev = load(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("cohort_day")
    )
    joined = ev.join(firsts, "user_id").select(
        "user_id",
        "cohort_day",
        F.datediff(
            F.date_trunc("day", "ts").cast("date"), F.col("cohort_day").cast("date")
        ).cast("bigint").alias("day_offset"),
    )
    return (
        joined.distinct()
        .filter(F.col("day_offset") <= 7)
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_active_users"))
    )


@query(
    "events_json_props",
    oracle="""
    SELECT event_type,
           count(*) AS cnt,
           round(CAST(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS DOUBLE), 2)
             AS avg_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k
    FROM events GROUP BY event_type
    """,
)
def events_json_props(spark, sf_dir):
    """Semi-structured JSON column extraction (get_json_object) + agg."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.avg(k), 2).alias("avg_k"),
        F.max(k).alias("max_k"),
    )


@query(
    "events_ewma_value",
    oracle="""
    WITH c AS (
      SELECT user_id, event_id, ts,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    framed AS (
      SELECT user_id, event_id, cents,
             list(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS arr
      FROM c)
    SELECT user_id, event_id,
           CAST(len(arr) AS BIGINT) AS n_window,
           CAST(list_aggregate(
             list_transform(arr, (x, i) -> x * CAST(pow(2, i - 1) AS BIGINT)),
             'sum')
             // (CAST(pow(2, len(arr)) AS BIGINT) - 1) AS BIGINT) AS ewma_cents
    FROM framed ORDER BY user_id, event_id
    """,
)
def events_ewma_value(spark, sf_dir):
    """Per-event exponentially-weighted moving average of the value
    column over the user's last 10 events (alpha = 1/2) — the streaming
    feature every fraud/engagement model wants, computed batch-side.

    Exact-integer formulation (pitfall 5): values go to cents, weights
    are powers of two (newest = 2^(n-1)), and the normalized average is
    a single integer division — no float accumulation order can flip a
    bit cross-engine. The frame is a 10-row window per user, so state
    is bounded; one shuffle on user_id. (The windowed collect_list
    carries ≤10 longs per row; at 100 TB the same feature runs
    incrementally in the streaming twin — acc' = acc DIV 2 + cents —
    with applyInPandasWithState.)"""
    ev = load(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    w9 = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, W.currentRow)
    )
    return (
        ev.select("user_id", "event_id", "ts", cents.alias("cents"))
        .withColumn("arr", F.collect_list("cents").over(w9))
        .select(
            "user_id",
            "event_id",
            F.size("arr").cast("bigint").alias("n_window"),
            F.expr(
                "aggregate(transform(arr, (x, i) -> x * CAST(pow(2, i) AS BIGINT)),"
                " CAST(0 AS BIGINT), (a, b) -> a + b)"
                " DIV (CAST(pow(2, size(arr)) AS BIGINT) - 1)"
            ).alias("ewma_cents"),
        )
        .orderBy("user_id", "event_id")
    )


@query(
    "events_scd2_intervals",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn_t
      FROM events),
    runs AS (
      SELECT user_id, event_type, rn - rn_t AS grp,
             min(ts) AS valid_from, max(ts) AS last_seen, count(*) AS n_events
      FROM ordered GROUP BY user_id, event_type, rn - rn_t)
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
             AS valid_to,
           n_events
    FROM runs ORDER BY user_id, valid_from
    """,
)
def events_scd2_intervals(spark, sf_dir):
    """SCD-type-2 interval build: collapse each user's event stream into
    runs of consecutive identical event_type and emit validity intervals
    [valid_from, valid_to) — valid_to is the next run's start, NULL for
    the current (open) run. The dimension-history table every warehouse
    maintains, built with the rn − rn_by_type gaps-and-islands identity
    (zero joins: two window passes + one bounded aggregation, all
    hash-partitioned by user_id)."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    w_t = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    runs = (
        ev.withColumn("grp", F.row_number().over(w) - F.row_number().over(w_t))
        .groupBy("user_id", "event_type", "grp")
        .agg(
            F.min("ts").alias("valid_from"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    w_lead = W.partitionBy("user_id").orderBy("valid_from")
    return (
        runs.select(
            "user_id",
            "event_type",
            "valid_from",
            F.lead("valid_from").over(w_lead).alias("valid_to"),
            "n_events",
        )
        .orderBy("user_id", "valid_from")
    )


@query(
    "events_value_moments",
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events)
    SELECT event_type,
           count(*) AS n,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           CAST(sum(cents * cents) AS BIGINT) AS sumsq_cents,
           CAST(sum(cents) AS BIGINT) // count(*) AS mean_cents,
           (count(*) * CAST(sum(cents * cents) AS BIGINT)
            - CAST(sum(cents) AS BIGINT) * CAST(sum(cents) AS BIGINT))
             // (count(*) * count(*)) AS var_cents2
    FROM c GROUP BY event_type ORDER BY event_type
    """,
)
def events_value_moments(spark, sf_dir):
    """Exact-integer distribution moments per event type: count, sum,
    sum-of-squares in cents, plus derived mean and population variance
    via the n·Σx² − (Σx)² identity — all integer arithmetic, so the
    result is bit-identical across engines (float avg/var_pop differ in
    the last ulp with aggregation order and can't be hash-compared).

    One scan, map-side-combinable sums, bounded key space. Range note:
    the bigint identity holds to ~10^9 rows × 10^4-cent values; past
    that, switch the sums to DECIMAL(38) — same plan shape."""
    ev = load(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        ev.select("event_type", cents.alias("cents"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("sum_cents"),
            F.sum(F.col("cents") * F.col("cents")).alias("sumsq_cents"),
        )
        .select(
            "event_type",
            "n",
            "sum_cents",
            "sumsq_cents",
            F.expr("sum_cents DIV n").alias("mean_cents"),
            F.expr(
                "(n * sumsq_cents - sum_cents * sum_cents) DIV (n * n)"
            ).alias("var_cents2"),
        )
        .orderBy("event_type")
    )


@query(
    "events_outliers_zscore",
    oracle="""
    WITH c AS (
      SELECT event_type, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    m AS (
      SELECT event_type, count(*) AS n,
             CAST(sum(cents) AS BIGINT) AS s,
             CAST(sum(cents * cents) AS BIGINT) AS sq
      FROM c GROUP BY event_type)
    SELECT c.event_type,
           count(*) AS n_outliers,
           CAST(min(c.cents) AS BIGINT) AS min_outlier_cents,
           CAST(max(c.cents) AS BIGINT) AS max_outlier_cents
    FROM c JOIN m ON c.event_type = m.event_type
    WHERE (m.n * c.cents - m.s) * (m.n * c.cents - m.s)
          > 4 * (m.n * m.sq - m.s * m.s)
    GROUP BY c.event_type ORDER BY c.event_type
    """,
)
def events_outliers_zscore(spark, sf_dir):
    """Outlier detection: events more than 2 population standard
    deviations from their type's mean — with the z² > 4 predicate
    cross-multiplied into pure integer form
    ((n·x − Σx)² > 4·(n·Σx² − (Σx)²)), so the DECISION BOUNDARY is
    exact: no float threshold can classify a point differently across
    engines (the usual flakiness of float z-score filters).

    Plan: one moments aggregation (bounded keys) joined back to the
    events — AQE broadcasts the tiny moments side; the predicate is a
    pure projection, so at 100 TB this is scan → broadcast-join →
    filter with a single corpus-wide shuffle-free pass after the
    moments agg."""
    ev = load(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    c = ev.select("event_type", "event_id", cents.alias("cents"))
    m = c.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).alias("sq"),
    )
    joined = c.join(m, "event_type")
    dev = F.col("n") * F.col("cents") - F.col("s")
    return (
        joined.filter(
            dev * dev > 4 * (F.col("n") * F.col("sq") - F.col("s") * F.col("s"))
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_outliers"),
            F.min("cents").cast("bigint").alias("min_outlier_cents"),
            F.max("cents").cast("bigint").alias("max_outlier_cents"),
        )
        .orderBy("event_type")
    )


@query(
    "events_gapfill_daily",
    oracle="""
    WITH b AS (
      SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
      FROM events),
    days AS (
      SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
        AS day FROM b),
    t AS (SELECT DISTINCT event_type FROM events),
    daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS cnt
      FROM events GROUP BY event_type, CAST(ts AS DATE))
    SELECT t.event_type, days.day, coalesce(daily.cnt, 0) AS cnt
    FROM t CROSS JOIN days
    LEFT JOIN daily ON daily.event_type = t.event_type AND daily.day = days.day
    ORDER BY t.event_type, days.day
    """,
)
def events_gapfill_daily(spark, sf_dir):
    """Gap-filling / densification: a complete (event_type × day) date
    spine over the observed range with zero-filled counts for missing
    days — what every time-series dashboard and forecasting feed needs
    (missing rows, not NULLs, are the silent bug).

    The date spine is generated (sequence + explode from a 1-row
    min/max aggregate), so the only cross join is (types × days) —
    schema-bounded, thousands of rows at any data scale. The daily
    counts aggregate is the corpus-scale side; the spine joins against
    it LEFT so zeros survive. At 100 TB this is one scan + one bounded
    broadcast join."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    days = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    types = ev.select("event_type").distinct()
    return (
        types.crossJoin(days)
        .join(daily, ["event_type", "day"], "left")
        .select("event_type", "day", F.coalesce("cnt", F.lit(0)).alias("cnt"))
        .orderBy("event_type", "day")
    )


@query(
    "events_time_weighted_avg",
    oracle="""
    WITH c AS (
      SELECT user_id, ts,
             CAST(round(value * 100) AS BIGINT) AS cents,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id)
               - epoch_us(ts) AS dt_us
      FROM events)
    SELECT user_id,
           count(*) AS n_intervals,
           CAST(sum(dt_us) AS BIGINT) AS span_us,
           CAST(sum(cents * dt_us) AS BIGINT) // CAST(sum(dt_us) AS BIGINT)
             AS twa_cents
    FROM c WHERE dt_us IS NOT NULL
    GROUP BY user_id HAVING sum(dt_us) > 0
    ORDER BY user_id
    """,
)
def events_time_weighted_avg(spark, sf_dir):
    """Time-weighted average value per user — each reading weighted by
    how long it was current (the TSDB aggregate plain avg silently gets
    wrong on irregular sampling). Weights are exact microsecond
    durations from lead(); the average is one integer division of two
    bigint sums, so the result is engine-exact (Σ dt per user is the
    user's span, which bounds Σ cents·dt well inside int64).

    One window pass (lead over user_id) + one bounded-key aggregation;
    single shuffle on user_id."""
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    c = ev.select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (F.lead(F.unix_micros("ts")).over(w) - F.unix_micros("ts")).alias("dt_us"),
    )
    return (
        c.filter(F.col("dt_us").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum("dt_us").alias("span_us"),
            F.expr(
                "CAST(sum(cents * dt_us) AS BIGINT) DIV CAST(sum(dt_us) AS BIGINT)"
            ).alias("twa_cents"),
        )
        .filter(F.col("span_us") > 0)
        .orderBy("user_id")
    )


@query(
    "events_heatmap_dow_hour",
    oracle="""
    SELECT CAST(isodow(ts) - 1 AS INTEGER) AS dow,
           CAST(hour(ts) AS INTEGER) AS hour,
           count(*) AS cnt,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def events_heatmap_dow_hour(spark, sf_dir):
    """Activity heatmap: event counts and exact-cents totals per
    (day-of-week × hour-of-day) cell — the canonical traffic-pattern
    rollup behind every ops dashboard. Monday = 0 (Spark weekday() ≡
    DuckDB isodow()−1, pinned here). One scan into a ≤168-key
    aggregation; fully map-side-combinable."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.expr("weekday(ts)").cast("int").alias("dow"),
            F.hour("ts").cast("int").alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_cents"),
        )
        .orderBy("dow", "hour")
    )


@query(
    "events_rolling_weekly_active",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
    days AS (SELECT DISTINCT day FROM pairs)
    SELECT d.day, count(DISTINCT p.user_id) AS wau
    FROM days d
    JOIN pairs p ON p.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
    GROUP BY d.day ORDER BY d.day
    """,
)
def events_rolling_weekly_active(spark, sf_dir):
    """Rolling 7-day active users per day (WAU) — THE engagement metric.
    COUNT(DISTINCT) can't ride a window frame, so the standard shape is:
    dedupe to (day, user) pairs (corpus-scale work, one shuffle), build
    the day spine (bounded), band-join pairs into each trailing window,
    and count distinct per day. The join fan-out is ≤7× the PAIR table
    (already user-deduped per day), never 7× the raw events; the final
    distinct-count shuffles (day, user) keys only. At billions of users
    swap the exact distinct for HLL sketch merge (approx_stats shows the
    sketch path) with the same spine-join shape."""
    ev = load(spark, sf_dir, "events")
    pairs = ev.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    days = pairs.select("day").distinct().select(F.col("day").alias("d"))
    return (
        days.join(
            pairs,
            (F.col("day") >= F.date_sub(F.col("d"), 6)) & (F.col("day") <= F.col("d")),
        )
        .groupBy("d")
        .agg(F.countDistinct("user_id").alias("wau"))
        .select(F.col("d").alias("day"), "wau")
        .orderBy("day")
    )


@query(
    "events_funnel_conversion",
    oracle="""
    WITH s AS (
      SELECT user_id, min(ts) AS t_signup
      FROM events WHERE event_type = 'signup' GROUP BY user_id),
    c AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN s USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s.t_signup
        AND e.ts <= s.t_signup + INTERVAL '7 days'
      GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        AND e.ts <= c.t_click + INTERVAL '7 days'
      GROUP BY e.user_id)
    SELECT CAST(s.t_signup AS DATE) AS cohort_day,
           count(*) AS n_signup,
           count(c.t_click) AS n_click,
           count(p.t_purchase) AS n_purchase,
           count(p.t_purchase) * 1000000 // count(*) AS conv_ppm
    FROM s LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
    GROUP BY 1 ORDER BY 1
    """,
)
def events_funnel_conversion(spark, sf_dir):
    """Ordered 3-step funnel (signup -> click -> purchase, each step
    strictly after the previous and within 7 days): the product-
    analytics sequence-match primitive, grouped into daily signup
    cohorts with an exact-integer conversion ppm.

    Scale shape: ONE scan of the 3 relevant event types and ONE
    user_id exchange. The step chain (click window depends on
    t_signup, purchase window on t_click) is expressed as three
    sequential partition-wide conditional minima over the SAME
    Window.partitionBy(user_id) — Catalyst plans one hash exchange and
    chains the window operators on it. The naive formulation (each
    step a groupBy joined to the previous step's table, the previous
    step referenced twice) re-evaluated the events scan 12× because
    every re-reference duplicates the whole subtree; per-user state
    here is three timestamps, never the event list. Strictly-after +
    min() semantics make the result order-insensitive and tie-proof."""
    ev = load(spark, sf_dir, "events")
    week = F.expr("INTERVAL 7 DAYS")
    w = W.partitionBy("user_id")
    base = ev.filter(
        F.col("event_type").isin("signup", "click", "purchase")
    ).select("user_id", "event_type", "ts")
    t_signup = F.min(
        F.when(F.col("event_type") == "signup", F.col("ts"))
    ).over(w)
    staged = base.withColumn("t_signup", t_signup)
    t_click = F.min(
        F.when(
            (F.col("event_type") == "click")
            & (F.col("ts") > F.col("t_signup"))
            & (F.col("ts") <= F.col("t_signup") + week),
            F.col("ts"),
        )
    ).over(w)
    staged = staged.withColumn("t_click", t_click)
    t_purchase = F.min(
        F.when(
            (F.col("event_type") == "purchase")
            & (F.col("ts") > F.col("t_click"))
            & (F.col("ts") <= F.col("t_click") + week),
            F.col("ts"),
        )
    ).over(w)
    per_user = (
        staged.withColumn("t_purchase", t_purchase)
        .filter(F.col("t_signup").isNotNull())
        .groupBy("user_id")
        .agg(
            F.max("t_signup").alias("t_signup"),
            F.max("t_click").alias("t_click"),
            F.max("t_purchase").alias("t_purchase"),
        )
    )
    return (
        per_user.groupBy(F.col("t_signup").cast("date").alias("cohort_day"))
        .agg(
            F.count(F.lit(1)).alias("n_signup"),
            F.count("t_click").alias("n_click"),
            F.count("t_purchase").alias("n_purchase"),
            F.expr(
                "count(t_purchase) * 1000000 DIV count(1)"
            ).alias("conv_ppm"),
        )
        .orderBy("cohort_day")
    )


@query(
    "events_bitmap_distinct_rollup",
    oracle="""
    WITH bm AS (
      SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
             CAST(date_trunc('day', ts) AS DATE) AS day,
             user_id // 32 AS bucket,
             bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INTEGER)) AS bitset
      FROM events GROUP BY 1, 2, 3),
    daily AS (
      SELECT week, day, CAST(sum(bit_count(bitset)) AS BIGINT) AS daily_users
      FROM bm GROUP BY week, day),
    weekly AS (
      SELECT week, CAST(sum(bit_count(merged)) AS BIGINT) AS weekly_users FROM (
        SELECT week, bucket, bit_or(bitset) AS merged
        FROM bm GROUP BY week, bucket)
      GROUP BY week)
    SELECT d.day, d.daily_users, w.weekly_users
    FROM daily d JOIN weekly w USING (week)
    ORDER BY d.day
    """,
)
def events_bitmap_distinct_rollup(spark, sf_dir):
    """Exact distinct-user counts via re-aggregable bitmaps: user ids
    packed into per-(day, bucket) 32-bit bitsets (bucket = id DIV 32,
    bit = id MOD 32, bit_or aggregate), daily distinct = sum of
    popcounts, and weekly distinct computed by OR-merging the DAILY
    bitmaps — never rescanning raw events.

    This is the 100 TB answer to repeated COUNT(DISTINCT): distinct
    counts don't re-aggregate (sum of daily distincts != weekly
    distinct), so every rollup normally pays a full shuffle of raw
    ids. Bitmaps make distinct states mergeable and EXACT (the
    RoaringBitmap / ClickHouse groupBitmap pattern): the per-day
    bitmap table is ~|users|/32 rows, any coarser period ORs it in a
    narrow second-stage agg, and popcount (bit_count) is JVM codegen.
    The oracle reproduces the identical packing in DuckDB — exact
    integers end to end."""
    ev = load(spark, sf_dir, "events")
    bm = (
        ev.select(
            F.date_trunc("week", "ts").cast("date").alias("week"),
            F.date_trunc("day", "ts").cast("date").alias("day"),
            F.expr("user_id DIV 32").alias("bucket"),
            F.expr(
                "shiftleft(cast(1 as bigint), cast(user_id % 32 as int))"
            ).alias("bit"),
        )
        .groupBy("week", "day", "bucket")
        .agg(F.bit_or("bit").alias("bitset"))
    )
    daily = bm.groupBy("week", "day").agg(
        F.sum(F.bit_count("bitset")).alias("daily_users")
    )
    weekly = (
        bm.groupBy("week", "bucket")
        .agg(F.bit_or("bitset").alias("merged"))
        .groupBy("week")
        .agg(F.sum(F.bit_count("merged")).alias("weekly_users"))
    )
    return (
        daily.join(weekly, "week")
        .select("day", "daily_users", "weekly_users")
        .orderBy("day")
    )


@query(
    "events_active_time_union",
    oracle="""
    WITH iv AS (
      SELECT user_id, ts AS s, ts + INTERVAL '5 minutes' AS e FROM events),
    ord AS (
      SELECT user_id, s, e,
             max(e) OVER (PARTITION BY user_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max
      FROM iv),
    isl AS (
      SELECT user_id, s, e,
             sum(CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY s, e
                     ROWS UNBOUNDED PRECEDING) AS island
      FROM ord),
    m AS (
      SELECT user_id, island, min(s) AS st, max(e) AS en
      FROM isl GROUP BY user_id, island)
    SELECT user_id, count(*) AS n_intervals,
           CAST(sum(epoch_us(en) - epoch_us(st)) // 1000000 AS BIGINT) AS active_seconds
    FROM m GROUP BY user_id ORDER BY user_id
    """,
)
def events_active_time_union(spark, sf_dir):
    """Interval-union 'active time': each event opens a 5-minute
    activity interval; overlapping intervals per user are merged
    (gaps-and-islands via running-max-of-ends) and the TOTAL covered
    time is the sum of merged-interval lengths — the dedup-by-overlap
    aggregation behind billable-minutes, uptime, and watch-time
    metrics, where naive sum() double-counts overlap.

    Scale shape: ONE shuffle on user_id, then two window passes and an
    aggregate inside each partition; per-user state is a sort of that
    user's events, never a cross join of intervals. Lengths are summed
    in exact integer microseconds (unix_micros) and divided once at
    the end — no float accumulation to drift against the oracle."""
    ev = load(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("e"),
    )
    w_ord = W.partitionBy("user_id").orderBy("s", "e")
    prev_max = F.max("e").over(w_ord.rowsBetween(W.unboundedPreceding, -1))
    flagged = iv.withColumn(
        "new_island",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0),
    )
    islands = flagged.withColumn(
        "island", F.sum("new_island").over(w_ord.rowsBetween(W.unboundedPreceding, 0))
    )
    merged = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("st"), F.max("e").alias("en")
    )
    return (
        merged.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.expr(
                "sum(unix_micros(en) - unix_micros(st)) DIV 1000000"
            ).alias("active_seconds"),
        )
        .orderBy("user_id")
    )


@query(
    "events_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events),
    t AS (
      SELECT src, dst, count(*) AS n_transitions
      FROM seq WHERE dst IS NOT NULL GROUP BY src, dst)
    SELECT src, dst, n_transitions,
           CAST(n_transitions * 1000000
             // sum(n_transitions) OVER (PARTITION BY src) AS BIGINT) AS p_ppm
    FROM t ORDER BY src, dst
    """,
)
def events_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences: for every consecutive (event, next-event) pair in a
    user's timeline, count transitions and the per-source transition
    probability — the behavioral model behind next-action prediction
    and anomalous-flow detection.

    Scale shape: one shuffle on user_id for the lead() window (per-
    user state = a sort of that user's events), then a 25-cell
    aggregate (event-type × event-type is bounded) that partial-
    aggregates map-side; the probability normalization is a window
    over the tiny result, not the data. Sequence order is pinned by
    (ts, event_id) so ties can't flip a transition between engines;
    probabilities are exact-integer ppm."""
    ev = load(spark, sf_dir, "events")
    seq = ev.select(
        "user_id",
        F.col("event_type").alias("src"),
        F.lead("event_type")
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("dst"),
    )
    t = (
        seq.filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    return t.select(
        "src",
        "dst",
        "n_transitions",
        F.expr(
            "n_transitions * 1000000 DIV sum(n_transitions) OVER (PARTITION BY src)"
        ).alias("p_ppm"),
    ).orderBy("src", "dst")


@query(
    "events_growth_accounting",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events),
    seq AS (
      SELECT user_id, day,
             lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev_day,
             lead(day) OVER (PARTITION BY user_id ORDER BY day) AS next_day
      FROM ud)
    SELECT day,
           CAST(count(*) AS BIGINT) AS n_active,
           CAST(sum(CASE WHEN prev_day IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_new,
           CAST(sum(CASE WHEN prev_day = day - 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_retained,
           CAST(sum(CASE WHEN prev_day < day - 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_resurrected,
           CAST(sum(CASE WHEN next_day IS NULL OR next_day > day + 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_churned_after
    FROM seq GROUP BY day ORDER BY day
    """,
)
def events_growth_accounting(spark, sf_dir):
    """Growth accounting (the new/retained/resurrected/churned DAU
    decomposition): each active (user, day) is classified by that
    user's previous active day — first ever = new, yesterday =
    retained, earlier = resurrected — plus the forward-looking churn
    flag (no activity tomorrow). The standard product-health
    decomposition where the four counts must exactly sum/balance
    (n_active = new + retained + resurrected).

    Scale shape: events collapse to distinct (user, day) FIRST (the
    only pass over raw data), then one user-keyed window gives
    lag/lead over each user's ~bounded day list, then a bounded
    per-day aggregate. No day-over-day self-join (the naive
    formulation joins the activity table to itself per day — 365
    joins/year); the window form is one shuffle."""
    ev = load(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).distinct()
    w = W.partitionBy("user_id").orderBy("day")
    seq = ud.select(
        "user_id",
        "day",
        F.lag("day").over(w).alias("prev_day"),
        F.lead("day").over(w).alias("next_day"),
    )
    day_m1 = F.date_sub(F.col("day"), 1)
    day_p1 = F.date_add(F.col("day"), 1)
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("bigint")  # noqa: E731
    return (
        seq.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            cnt(F.col("prev_day").isNull()).alias("n_new"),
            cnt(F.col("prev_day") == day_m1).alias("n_retained"),
            cnt(F.col("prev_day") < day_m1).alias("n_resurrected"),
            cnt(
                F.col("next_day").isNull() | (F.col("next_day") > day_p1)
            ).alias("n_churned_after"),
        )
        .orderBy("day")
    )


@query(
    "events_value_histogram_log2",
    oracle="""
    WITH c AS (
      SELECT greatest(CAST(round(value * 100) AS BIGINT), 1) AS cents
      FROM events)
    SELECT CAST(length(bin(cents)) AS BIGINT) AS bucket_log2,
           count(*) AS n,
           min(cents) AS min_cents,
           max(cents) AS max_cents
    FROM c GROUP BY 1 ORDER BY 1
    """,
)
def events_value_histogram_log2(spark, sf_dir):
    """Log2-bucketed value histogram (the HdrHistogram / Prometheus
    exponential-bucket shape): each value lands in bucket
    floor(log2(v))+1, computed EXACTLY as the bit-width of the integer
    cents (length of its binary representation) — no float log whose
    last-ulp rounding could flip a boundary value between engines.

    Log buckets are the scale answer to latency/value distributions:
    fixed bucket count regardless of range, mergeable across
    days/shards by summing counts (unlike exact quantiles), constant
    memory. One scan, one bounded aggregate, map-side combinable."""
    ev = load(spark, sf_dir, "events")
    cents = F.expr("greatest(cast(round(value * 100) as bigint), 1)")
    return (
        ev.select(cents.alias("cents"))
        .groupBy(
            F.length(F.conv(F.col("cents"), 10, 2)).cast("bigint").alias("bucket_log2")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
        .orderBy("bucket_log2")
    )


@query(
    "events_multi_grain_rollup",
    oracle="""
    WITH e AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(date_trunc('week', ts) AS DATE) AS week,
             CAST(date_trunc('month', ts) AS DATE) AS month,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events)
    SELECT CAST(grouping(day) + 2 * grouping(week) + 4 * grouping(month)
                AS BIGINT) AS gid,
           day, week, month,
           count(*) AS n, CAST(sum(cents) AS BIGINT) AS total_cents
    FROM e GROUP BY GROUPING SETS ((day), (week), (month))
    ORDER BY gid, day, week, month
    """,
)
def events_multi_grain_rollup(spark, sf_dir):
    """Multi-granularity rollup in ONE pass: daily, weekly, and
    monthly aggregates emitted from a single GROUPING SETS scan —
    the TSDB continuous-aggregate cascade (day → week → month)
    collapsed into one job instead of three.

    At 100 TB this is 1 scan + 1 expanded aggregate instead of 3
    scans; Spark plans grouping sets as an Expand (3 rows per input)
    feeding one hash aggregate — the expansion is map-side and partial
    aggregation still applies, so the shuffle carries ~3×|distinct
    grains| rows, not 3× data. grouping() bits disambiguate the grain
    of each output row exactly as in the oracle."""
    ev = load(spark, sf_dir, "events")
    e = ev.select(
        F.date_trunc("day", "ts").cast("date").alias("day"),
        F.date_trunc("week", "ts").cast("date").alias("week"),
        F.date_trunc("month", "ts").cast("date").alias("month"),
        F.expr("cast(round(value * 100) as bigint)").alias("cents"),
    )
    e.createOrReplaceTempView("mg_events")
    return spark.sql(
        """
        SELECT CAST(grouping(day) + 2 * grouping(week) + 4 * grouping(month)
                    AS BIGINT) AS gid,
               day, week, month,
               count(*) AS n, CAST(sum(cents) AS BIGINT) AS total_cents
        FROM mg_events GROUP BY GROUPING SETS ((day), (week), (month))
        ORDER BY gid, day, week, month
        """
    )


@query(
    "events_lttb_downsample",
    oracle="""
    WITH base AS (
      SELECT event_type, event_id,
             epoch_us(ts) AS x_us,
             CAST(round(value * 100) AS BIGINT) AS cents,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n,
             min(epoch_us(ts)) OVER (PARTITION BY event_type) AS x0
      FROM events),
    pts AS (
      SELECT event_type, event_id, cents, rn, n,
             (x_us - x0) // 1000000 AS x_sec,
             (rn - 1) * 20 // n AS bucket
      FROM base),
    bs AS (
      SELECT event_type, bucket,
             sum(x_sec) // count(*) AS ax,
             sum(cents) // count(*) AS ay
      FROM pts GROUP BY event_type, bucket),
    scored AS (
      SELECT p.event_type, p.bucket, p.event_id, p.x_sec, p.cents, p.rn, p.n,
             abs((prev.ax - nxt.ax) * (p.cents - prev.ay)
                 - (prev.ax - p.x_sec) * (nxt.ay - prev.ay)) AS area2
      FROM pts p
      JOIN bs prev ON prev.event_type = p.event_type
                   AND prev.bucket = p.bucket - 1
      JOIN bs nxt ON nxt.event_type = p.event_type
                  AND nxt.bucket = p.bucket + 1
      WHERE p.bucket BETWEEN 1 AND 18),
    picked AS (
      SELECT event_type, bucket, event_id, x_sec, cents
      FROM (SELECT *, row_number() OVER (PARTITION BY event_type, bucket
                        ORDER BY area2 DESC, event_id) AS pick
            FROM scored)
      WHERE pick = 1
      UNION ALL
      SELECT event_type, bucket, event_id, x_sec, cents
      FROM pts WHERE rn = 1 OR rn = n)
    SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
           event_id, x_sec, cents
    FROM picked ORDER BY event_type, bucket, event_id
    """,
)
def events_lttb_downsample(spark, sf_dir):
    """LTTB (largest-triangle-three-buckets) time-series downsampling,
    parallel variant: each per-type series is rank-bucketed into 20
    buckets; every interior bucket keeps the single point forming the
    largest triangle with the NEIGHBOR BUCKETS' average points, plus
    the series endpoints — the shape-preserving 'what to draw on a
    dashboard' reduction of a billion-point series to a fixed budget.

    Two deliberate deviations from textbook sequential LTTB, both for
    scale + exactness: (1) the left anchor is the previous bucket's
    AVERAGE, not its selected point — removing the bucket-to-bucket
    sequential dependency makes every bucket's argmax independent
    (one window + one bounded join, fully parallel; sequential LTTB
    cannot be expressed without a serial pass); (2) anchors use
    FLOOR-averages (integer DIV) so the triangle area doubles as an
    exact integer — no float area whose last-ulp could flip an argmax
    between engines; ties broken by event_id. Per-series state is the
    20-row bucket table; the only data-sized passes are one
    series-keyed window and one join against that 20-row table."""
    ev = load(spark, sf_dir, "events")
    wseries = W.partitionBy("event_type")
    base = ev.select(
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("x_us"),
        F.expr("cast(round(value * 100) as bigint)").alias("cents"),
        F.row_number().over(wseries.orderBy("ts", "event_id")).alias("rn"),
        F.count(F.lit(1)).over(wseries).alias("n"),
        F.min(F.unix_micros("ts")).over(wseries).alias("x0"),
    )
    pts = base.select(
        "event_type",
        "event_id",
        "cents",
        "rn",
        "n",
        F.expr("(x_us - x0) DIV 1000000").alias("x_sec"),
        F.expr("(rn - 1) * 20 DIV n").alias("bucket"),
    )
    # bucket-anchor table: ≤20 rows per series — checkpoint so its two
    # broadcast references don't re-evaluate the pts pipeline, then run
    # everything (area scoring, per-bucket argmax, endpoint keep) in
    # ONE pts pass: the old scored/ends formulation referenced pts 4×,
    # planning 8 events scans.
    bs = (
        pts.groupBy("event_type", "bucket")
        .agg(
            F.expr("sum(x_sec) DIV count(1)").alias("ax"),
            F.expr("sum(cents) DIV count(1)").alias("ay"),
        )
        .localCheckpoint(eager=True)
    )
    prev = bs.select(
        "event_type",
        (F.col("bucket") + 1).alias("bucket"),
        F.col("ax").alias("pax"),
        F.col("ay").alias("pay"),
    )
    nxt = bs.select(
        "event_type",
        (F.col("bucket") - 1).alias("bucket"),
        F.col("ax").alias("nax"),
        F.col("ay").alias("nay"),
    )
    wpick = W.partitionBy("event_type", "bucket").orderBy(
        F.col("area2").desc(), "event_id"
    )
    out = (
        pts.join(F.broadcast(prev), ["event_type", "bucket"], "left")
        .join(F.broadcast(nxt), ["event_type", "bucket"], "left")
        .withColumn(
            "area2",
            F.abs(
                (F.col("pax") - F.col("nax")) * (F.col("cents") - F.col("pay"))
                - (F.col("pax") - F.col("x_sec")) * (F.col("nay") - F.col("pay"))
            ),
        )
        .withColumn("pick", F.row_number().over(wpick))
        # both anchors must exist: on a sparse series (< ~21 points) a
        # neighbor bucket can be empty, leaving area2 NULL for the whole
        # bucket — emitting an arbitrary row there would silently diverge
        # from the inner-join semantics the oracle encodes
        .filter(
            (
                F.col("bucket").between(1, 18)
                & (F.col("pick") == 1)
                & F.col("pax").isNotNull()
                & F.col("nax").isNotNull()
            )
            | (F.col("rn") == 1)
            | (F.col("rn") == F.col("n"))
        )
    )
    return (
        out.select(
            "event_type",
            F.col("bucket").cast("bigint").alias("bucket"),
            "event_id",
            "x_sec",
            "cents",
        )
        .orderBy("event_type", "bucket", "event_id")
    )


@query(
    "events_variant_shredding",
    oracle="""
    WITH x AS (
      SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events)
    SELECT event_type, k // 10 AS k_decade,
           count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
           CAST(min(k) AS BIGINT) AS min_k, CAST(max(k) AS BIGINT) AS max_k
    FROM x GROUP BY event_type, k_decade
    ORDER BY event_type, k_decade
    """,
)
def events_variant_shredding(spark, sf_dir):
    """Semi-structured analytics through the VARIANT type (Spark 4):
    props parses ONCE into the binary Variant encoding and fields are
    extracted with variant_get — unlike get_json_object, which
    re-parses the JSON text per extraction. At 100 TB the difference
    compounds: Variant columns shred into parquet (typed subcolumns +
    pushdown in newer readers), so repeated extraction of a hot field
    costs a columnar read, not a string parse.

    The extraction result is cast to plain BIGINT before aggregation,
    so the gate compares ordinary integers while the Spark plan
    exercises parse_json → variant_get; events_json_props is the
    string-path twin (get_json_object) for comparison."""
    ev = load(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type", F.expr("k DIV 10").alias("k_decade"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.min("k").cast("bigint").alias("min_k"),
            F.max("k").cast("bigint").alias("max_k"),
        )
        .orderBy("event_type", "k_decade")
    )


@query(
    "events_error_spike",
    oracle="""
    WITH d AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_err,
             count(*) AS n_total
      FROM events GROUP BY 1),
    w AS (
      SELECT day, n_err, n_total,
             sum(n_err) OVER (ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS base_err,
             sum(n_total) OVER (ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS base_total
      FROM d)
    SELECT day, n_err, n_total,
           n_err * 1000000 // n_total AS err_ppm,
           CAST(CASE WHEN base_total IS NOT NULL
                      AND n_err * base_total * 10 > 15 * n_total * base_err
                     THEN 1 ELSE 0 END AS BIGINT) AS spike
    FROM w ORDER BY day
    """,
)
def events_error_spike(spark, sf_dir):
    """Error-rate spike detection against a trailing baseline: each
    day's error rate is compared to the pooled rate of the prior 7
    days, and flagged when it exceeds 1.5× — the SLO burn-rate /
    canary-regression alert shape.

    The comparison is CROSS-MULTIPLIED into integers (err·base_total·
    10 > 15·total·base_err) — no float rate ever decides an alert,
    so engines and reruns agree on boundary days. The window runs over
    the per-day aggregate (365 rows/year after one scan + one bounded
    agg); 'pooled prior counts' rather than 'average of daily rates'
    weights the baseline by traffic, which is what burn-rate alerts
    want. The unpartitioned window is over days — bounded; shard by
    service key at scale."""
    ev = load(spark, sf_dir, "events")
    d = ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("n_err"),
        F.count(F.lit(1)).alias("n_total"),
    )
    wtrail = W.orderBy("day").rowsBetween(-7, -1)
    w = d.select(
        "day",
        "n_err",
        "n_total",
        F.sum("n_err").over(wtrail).alias("base_err"),
        F.sum("n_total").over(wtrail).alias("base_total"),
    )
    return w.select(
        "day",
        "n_err",
        "n_total",
        F.expr("n_err * 1000000 DIV n_total").alias("err_ppm"),
        F.when(
            F.col("base_total").isNotNull()
            & F.expr("n_err * base_total * 10 > 15 * n_total * base_err"),
            1,
        )
        .otherwise(0)
        .cast("bigint")
        .alias("spike"),
    ).orderBy("day")


@query(
    "events_watermark_lateness_audit",
    oracle="""
    WITH arr AS (
      SELECT ts,
             max(ts) OVER (ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
                           ROWS UNBOUNDED PRECEDING) AS frontier
      FROM events),
    lat AS (
      SELECT (epoch_us(frontier) - epoch_us(ts)) // 60000000 AS late_min
      FROM arr),
    b AS (
      SELECT CASE WHEN late_min = 0 THEN '0:on-time'
                  WHEN late_min <= 5 THEN '1:<=5m'
                  WHEN late_min <= 30 THEN '2:<=30m'
                  WHEN late_min <= 60 THEN '3:<=1h'
                  ELSE '4:>1h' END AS lateness
      FROM lat)
    SELECT lateness, count(*) AS n,
           count(*) * 1000000 // (SELECT count(*) FROM b) AS share_ppm
    FROM b GROUP BY lateness ORDER BY lateness
    """,
)
def events_watermark_lateness_audit(spark, sf_dir):
    """Watermark-policy audit: how late does each event arrive behind
    the event-time frontier (the running max event time in ARRIVAL
    order, which is exactly what a streaming watermark tracks)?
    Bucketed lateness shares tell you what a '5 minutes' vs '1 hour'
    watermark would actually drop — the empirical basis for choosing
    withWatermark() before deploying any streaming job in this repo.

    Arrival order here is a deterministic hash shuffle of event_id —
    the testdata arrives perfectly time-ordered, so the hash models a
    multi-source ingest where producers interleave arbitrarily (the
    worst case a watermark must absorb); the frontier is a running max
    over that arrival sequence, reproducible in both engines. The
    frontier is computed with the TWO-PHASE prefix max
    (operators/ranks.py:with_global_cummax): arrival keys bucket by
    their first hex character (16 ordered buckets, lexicographically
    aligned with the md5 ordering), earlier-bucket maxima merge through
    the bounded bucket table, and the within-bucket running max is
    hash-partitioned -- no single-partition pass over the event frame,
    identical frontier values. Shares are exact-integer ppm."""
    from ..operators.ranks import with_global_cummax

    ev = load(spark, sf_dir, "events")
    akey = F.md5(F.col("event_id").cast("string"))
    arr = with_global_cummax(
        ev.select("ts", "event_id"),
        "ts",
        bucket=F.conv(F.substring(akey, 1, 1), 16, 10).cast("bigint"),
        order_cols=[akey, F.col("event_id")],
        out_col="frontier",
    )
    lat = arr.select(
        F.expr(
            "(unix_micros(frontier) - unix_micros(ts)) DIV 60000000"
        ).alias("late_min")
    )
    b = lat.select(
        F.when(F.col("late_min") == 0, "0:on-time")
        .when(F.col("late_min") <= 5, "1:<=5m")
        .when(F.col("late_min") <= 30, "2:<=30m")
        .when(F.col("late_min") <= 60, "3:<=1h")
        .otherwise("4:>1h")
        .alias("lateness")
    )
    counts = b.groupBy("lateness").agg(F.count(F.lit(1)).alias("n"))
    # total = sum over the ≤5-row bucketed counts — a separate count()
    # over b would re-evaluate the whole frontier pipeline (and its
    # events scans) a second time
    w_all = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return (
        counts.withColumn("tot", F.sum("n").over(w_all))
        .select(
            "lateness",
            "n",
            F.expr("n * 1000000 DIV tot").alias("share_ppm"),
        )
        .orderBy("lateness")
    )


@query(
    "events_attribution_last_touch",
    oracle="""
    WITH u AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS kind,
             CASE WHEN event_type IN ('click', 'view')
                  THEN lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                       || '|' || event_type
             END AS touch
      FROM events WHERE event_type IN ('click', 'view', 'purchase')),
    c AS (
      SELECT user_id, ts, value, kind,
             last_value(touch IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, kind, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carry
      FROM u),
    p AS (
      SELECT CASE
               WHEN carry IS NOT NULL
                    AND epoch_us(ts) - CAST(substr(carry, 1, 20) AS BIGINT)
                        <= 604800000000
               THEN substr(carry, 22)
               ELSE 'unattributed' END AS channel,
             value
      FROM c WHERE kind = 1)
    SELECT channel, count(*) AS n_purchases,
           round(CAST(sum(value) AS DOUBLE), 2) AS total_value
    FROM p GROUP BY channel ORDER BY channel
    """,
)
def events_attribution_last_touch(spark, sf_dir):
    """Marketing last-touch attribution: every purchase is credited to
    the same user's most recent click/view within a 7-day window, else
    'unattributed' — the union-and-carry shape (one user-keyed shuffle,
    no self-join, no interval explosion).

    Touches and conversions ride ONE window pass: the carried touch is
    packed as a fixed-width (epoch_us, channel) string so a single
    last(ignorenulls) carries both fields; ties at equal ts are pinned
    (touch sorts before purchase, then event_id). At 100 TB this is one
    hash exchange on user_id with bounded per-row state — the same plan
    as the as-of join family (operators/asof.py)."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view", "purchase")
    )
    kind = F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(F.lit(0))
    touch = F.when(
        F.col("event_type").isin("click", "view"),
        F.concat(
            F.lpad(F.unix_micros(F.col("ts")).cast("string"), 20, "0"),
            F.lit("|"),
            F.col("event_type"),
        ),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = (
        ev.select(
            "user_id", "ts", "event_id", "value",
            kind.alias("kind"), touch.alias("touch"),
        )
        .withColumn("carry", F.last("touch", ignorenulls=True).over(w))
        .filter(F.col("kind") == 1)
    )
    week_us = 7 * 24 * 3600 * 1000000
    channel = F.when(
        F.col("carry").isNotNull()
        & (
            F.unix_micros(F.col("ts")) - F.substring("carry", 1, 20).cast("bigint")
            <= F.lit(week_us)
        ),
        F.expr("substring(carry, 22)"),
    ).otherwise(F.lit("unattributed"))
    return (
        carried.select(channel.alias("channel"), "value")
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("channel")
    )


@query(
    "events_histogram_quantiles",
    oracle="""
    WITH c AS (
      SELECT event_type,
             greatest(CAST(round(value * 100) AS BIGINT), 1) AS cents
      FROM events),
    h AS (
      SELECT event_type, CAST(length(bin(cents)) AS BIGINT) AS bucket,
             count(*) AS n
      FROM c GROUP BY 1, 2),
    cum AS (
      SELECT event_type, bucket,
             sum(n) OVER (PARTITION BY event_type ORDER BY bucket) AS cum_n,
             sum(n) OVER (PARTITION BY event_type) AS total_n
      FROM h),
    q AS (SELECT CAST(unnest([50, 95, 99]) AS BIGINT) AS q)
    SELECT event_type, q,
           min(bucket) AS q_bucket,
           (CAST(1 AS BIGINT) << CAST(min(bucket) AS INTEGER)) - 1
             AS q_upper_cents
    FROM cum, q
    WHERE cum_n * 100 >= q * total_n
    GROUP BY event_type, q
    ORDER BY event_type, q
    """,
)
def events_histogram_quantiles(spark, sf_dir):
    """Quantiles FROM the mergeable log2 histogram (p50/p95/p99 upper
    bounds per event type) — how a TSDB answers percentile queries over
    pre-aggregated shards: sketches merge by summing bucket counts
    (events_value_histogram_log2), then the quantile is the first
    bucket whose cumulative count crosses ceil(q·total).

    Everything is exact integer arithmetic (bit-width buckets, shifted
    powers of two, cross-multiplied rank threshold), so the result is
    deterministic and cross-engine identical — no float log or
    interpolation at boundaries. Plan: one bounded histogram aggregate
    (map-side combinable), a window over ≤64 bucket rows per type, a
    broadcast of 3 quantile constants — nothing here grows with data
    volume except the first scan."""
    ev = load(spark, sf_dir, "events")
    cents = F.expr("greatest(cast(round(value * 100) as bigint), 1)")
    h = (
        ev.select("event_type", cents.alias("cents"))
        .groupBy(
            "event_type",
            F.length(F.conv(F.col("cents"), 10, 2)).cast("bigint").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_cum = W.partitionBy("event_type").orderBy("bucket")
    w_tot = W.partitionBy("event_type")
    cum = h.select(
        "event_type",
        "bucket",
        F.sum("n").over(w_cum).alias("cum_n"),
        F.sum("n").over(w_tot).alias("total_n"),
    )
    qs = parallelize(spark, [(50,), (95,), (99,)], "q bigint not null")
    return (
        cum.crossJoin(F.broadcast(qs))  # 3 bounded quantile constants
        .filter(F.col("cum_n") * 100 >= F.col("q") * F.col("total_n"))
        .groupBy("event_type", "q")
        .agg(
            F.min("bucket").alias("q_bucket"),
            F.expr(
                "shiftleft(cast(1 as bigint), cast(min(bucket) as int)) - 1"
            ).alias("q_upper_cents"),
        )
        .orderBy("event_type", "q")
    )


@query(
    "events_entry_paths",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type, row_number() OVER (
        PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events),
    paths AS (
      SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
      FROM ranked WHERE rn <= 3 GROUP BY user_id)
    SELECT path, count(*) AS n_users FROM paths GROUP BY path
    ORDER BY n_users DESC, path LIMIT 20
    """,
)
def events_entry_paths(spark, sf_dir):
    """Entry-path mining: each user's FIRST THREE events joined into an
    ordered path string, top-20 paths by user count — the onboarding
    funnel-discovery query (which journeys actually happen, vs the
    funnel you assumed).

    Scale shape: rank-then-filter caps per-user state at 3 rows BEFORE
    any aggregation — the path column never sees a user's full history,
    so a 10-million-event bot costs the same as a 3-event user. One
    user-keyed shuffle (window + groupBy co-partitioned), then a
    bounded path-key aggregate (≤|event_types|³ paths) and top-20."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = (
        ev.select("user_id", "event_type", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
    )
    paths = ranked.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s.event_type,
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(20)
    )


@query(
    "events_drift_report",
    oracle="""
    WITH b AS (
      SELECT CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                  THEN 'a' ELSE 'b' END AS period,
             CAST(length(bin(greatest(CAST(round(value * 100) AS BIGINT), 1)))
                  AS BIGINT) AS bucket
      FROM events),
    c AS (SELECT period, bucket, count(*) AS n FROM b GROUP BY 1, 2),
    t AS (SELECT period, sum(n) AS tot FROM c GROUP BY period),
    s AS (SELECT bucket,
                 coalesce(max(CASE WHEN c.period = 'a'
                                   THEN n * 1000000 // tot END), 0) AS share_a_ppm,
                 coalesce(max(CASE WHEN c.period = 'b'
                                   THEN n * 1000000 // tot END), 0) AS share_b_ppm
          FROM c JOIN t ON c.period = t.period GROUP BY bucket)
    SELECT bucket, CAST(share_a_ppm AS BIGINT) AS share_a_ppm,
           CAST(share_b_ppm AS BIGINT) AS share_b_ppm,
           CAST(abs(share_a_ppm - share_b_ppm) AS BIGINT) AS drift_ppm
    FROM s ORDER BY bucket
    """,
)
def events_drift_report(spark, sf_dir):
    """Distribution-drift report (the ML-ops data-drift check, PSI's
    exact-integer cousin): the value distribution of period A
    (first half-month) vs period B (second half) over the mergeable
    log2 buckets, with per-bucket shares and absolute drift in ppm.
    Integer shares sidestep PSI's ln() — the ranking of drifting
    buckets is identical, and the report is engine-exact.

    Scale shape: one scan → bounded (period × ≤64 bucket) aggregate
    with map-side partials; totals join on the 2-row period table.
    At 100 TB the same report runs per feature column from the same
    histogram pass."""
    ev = load(spark, sf_dir, "events")
    period = F.when(
        F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp"), "a"
    ).otherwise("b")
    bucket = (
        F.length(
            F.conv(
                F.expr("greatest(cast(round(value * 100) as bigint), 1)"), 10, 2
            )
        ).cast("bigint")
    )
    c = (
        ev.select(period.alias("period"), bucket.alias("bucket"))
        .groupBy("period", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    t = c.groupBy("period").agg(F.sum("n").alias("tot"))
    s = (
        c.join(F.broadcast(t), "period")  # 2-row period totals
        .groupBy("bucket")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("period") == "a", F.expr("n * 1000000 div tot"))),
                F.lit(0),
            ).alias("share_a_ppm"),
            F.coalesce(
                F.max(F.when(F.col("period") == "b", F.expr("n * 1000000 div tot"))),
                F.lit(0),
            ).alias("share_b_ppm"),
        )
    )
    return s.select(
        "bucket",
        "share_a_ppm",
        "share_b_ppm",
        F.abs(F.col("share_a_ppm") - F.col("share_b_ppm")).alias("drift_ppm"),
    ).orderBy("bucket")
