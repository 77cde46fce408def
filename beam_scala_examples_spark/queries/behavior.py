"""User-behavior OLAP over the events table: funnel, cohort retention,
running/moving window analytics, pivot, exact percentiles.

Beyond the reference's surface (its event pipelines stop at windowed
sums, SURVEY §2.12 Q11-Q15); this is the product-analytics workload a
user of a general engine runs daily.  Every query is ANSI-expressible
and oracle-checked.

Determinism: money/value maths in exact cents; week truncation uses
``date_trunc('week', ...)`` (ISO Monday start in both engines); the
percentile query interpolates over exact integer cents so both engines
interpolate between the same two integers.

Scale posture: funnel and cohorts aggregate per user first (high
cardinality — a real shuffle key) and only then reduce to the tiny
output; the daily window query aggregates to one row per day *before*
its unpartitioned window (30 rows here; at 100 TB the same plan holds
because the window input is O(days), not O(events) — documented trap:
never window over the raw fact table without partitioning).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.agg import cents
from ..operators.sketches import DUCK_H, SPARK_H
from ..operators.windows import epoch_us
from ..tables import load

FUNNEL_STAGES = ("signup", "view", "purchase")
PIVOT_TYPES = ("click", "error", "purchase", "signup", "view")
PERCENTILES = (0.5, 0.9, 0.99)
MOVING_DAYS = 7


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users whose first signup precedes a later view
    precedes a later purchase.  Three per-user conditional aggregates —
    each stage's timestamp is the min event time strictly after the
    previous stage — then one global count.  Single shuffle on user_id;
    the stage logic is conditional aggregation, not three self-joins.
    """
    s1, s2, s3 = FUNNEL_STAGES
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == s1, F.col("ts"))).alias("t1"),
        F.collect_list(
            F.when(
                F.col("event_type").isin(s2, s3),
                F.struct("ts", "event_type"),
            )
        ).alias("later"),
    )
    # second stage: min ts of s2 strictly after t1; third: min ts of s3
    # strictly after t2 — computed over the per-user event list (bounded
    # by that user's event count) with array expressions, JVM-side.
    def _next_after(prev_col: str, etype: str) -> F.Column:
        return F.array_min(
            F.transform(
                F.filter(
                    F.col("later"),
                    lambda e: (e["event_type"] == etype)
                    & F.col(prev_col).isNotNull()
                    & (e["ts"] > F.col(prev_col)),
                ),
                lambda e: e["ts"],
            )
        )

    staged = per_user.withColumn("t2", _next_after("t1", s2)).withColumn(
        "t3", _next_after("t2", s3)
    )
    return staged.agg(
        F.count("*").alias("n_users"),
        F.count("t1").alias("reached_signup"),
        F.count("t2").alias("reached_view"),
        F.count("t3").alias("reached_purchase"),
    )


def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-activity week,
    counted per week offset they were active in.  Per-user first week
    joins back to the distinct (user, week) activity set on user_id —
    no forced broadcast (the cohort relation is data-dependent,
    VERDICT r01 item 1)."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", "ts").alias("week")
    )
    activity = ev.distinct()
    first = activity.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        activity.join(first, "user_id")
        .groupBy(
            "cohort_week",
            F.datediff(F.col("week"), F.col("cohort_week"))
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count("*").alias("n_users"))
        .withColumn("week_offset", (F.col("week_offset") / 7).cast("long"))
    )


def events_daily_revenue_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily purchase value with running total, day-over-day delta and
    a 7-day trailing average — the window runs over the per-day
    aggregate (O(days) rows), never the raw events."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.sum(cents("value")).alias("day_cents")
    )
    w = Window.orderBy("day")
    trail = w.rowsBetween(-(MOVING_DAYS - 1), 0)
    return daily.select(
        "day",
        "day_cents",
        F.sum("day_cents").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("running_cents"),
        (F.col("day_cents") - F.lag("day_cents", 1).over(w)).alias("delta_cents"),
        (F.sum("day_cents").over(trail) / F.count("*").over(trail))
        .alias("trailing_avg_cents"),
    )


def events_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event counts pivoted wide per user decile — Spark's pivot with an
    explicit value list (deterministic columns, single pass)."""
    ev = load(spark, sf_dir, "events").select(
        (F.col("user_id") % 10).alias("decile"), "event_type"
    )
    out = (
        ev.groupBy("decile")
        .pivot("event_type", list(PIVOT_TYPES))
        .count()
    )
    # pivot leaves NULL for absent combinations; the oracle's
    # conditional aggregation yields 0 — align on 0.
    for t in PIVOT_TYPES:
        out = out.withColumn(t, F.coalesce(F.col(t), F.lit(0)).alias(t))
    return out


def events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 of event value per type, interpolated over
    exact integer cents so both engines interpolate between the same
    two integers.  Exact percentile is a sort-based aggregate — fine
    per group at any scale because groups are value-bounded (5 types);
    for high-cardinality keys switch to approx_percentile."""
    ev = load(spark, sf_dir, "events").select(
        "event_type", cents("value").alias("value_cents")
    )
    aggs = [
        F.expr(f"percentile(value_cents, {p})").alias(
            f"p{int(round(p * 100))}"
        )
        for p in PERCENTILES
    ]
    return ev.groupBy("event_type").agg(*aggs)


QUERIES = {
    "events_funnel": events_funnel,
    "events_retention_cohorts": events_retention_cohorts,
    "events_daily_revenue_window": events_daily_revenue_window,
    "events_type_pivot": events_type_pivot,
    "events_value_percentiles": events_value_percentiles,
}

_PIVOT_COLS = ", ".join(
    f"sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)::BIGINT AS {t}"
    for t in PIVOT_TYPES
)

_PCT_COLS = ", ".join(
    f"quantile_cont(value_cents, {p}) AS p{int(round(p * 100))}"
    for p in PERCENTILES
)

ORACLE = {
    "events_funnel": f"""
        WITH t1 AS (
            SELECT user_id,
                   min(CASE WHEN event_type = '{FUNNEL_STAGES[0]}'
                            THEN ts END) AS t1
            FROM events GROUP BY 1
        ),
        t2 AS (
            SELECT t1.user_id, t1.t1,
                   min(CASE WHEN e.event_type = '{FUNNEL_STAGES[1]}'
                            AND e.ts > t1.t1 THEN e.ts END) AS t2
            FROM t1 LEFT JOIN events e ON e.user_id = t1.user_id
            GROUP BY 1, 2
        ),
        t3 AS (
            SELECT t2.user_id, t2.t1, t2.t2,
                   min(CASE WHEN e.event_type = '{FUNNEL_STAGES[2]}'
                            AND e.ts > t2.t2 THEN e.ts END) AS t3
            FROM t2 LEFT JOIN events e ON e.user_id = t2.user_id
            GROUP BY 1, 2, 3
        )
        SELECT count(*)::BIGINT AS n_users,
               count(t1)::BIGINT AS reached_signup,
               count(t2)::BIGINT AS reached_view,
               count(t3)::BIGINT AS reached_purchase
        FROM t3
    """,
    "events_retention_cohorts": """
        WITH activity AS (
            SELECT DISTINCT user_id, date_trunc('week', ts)::TIMESTAMP AS week
            FROM events
        ),
        first AS (
            SELECT user_id, min(week) AS cohort_week
            FROM activity GROUP BY 1
        )
        SELECT cohort_week,
               (date_diff('day', cohort_week, week) // 7)::BIGINT AS week_offset,
               count(*)::BIGINT AS n_users
        FROM activity JOIN first USING (user_id)
        GROUP BY 1, 2
    """,
    "events_daily_revenue_window": f"""
        WITH daily AS (
            SELECT date_trunc('day', ts)::TIMESTAMP AS day,
                   sum(round(value * 100)::BIGINT)::BIGINT AS day_cents
            FROM events WHERE event_type = 'purchase' GROUP BY 1
        )
        SELECT day, day_cents,
               sum(day_cents) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               )::BIGINT AS running_cents,
               (day_cents - lag(day_cents, 1) OVER (ORDER BY day))::BIGINT
                   AS delta_cents,
               (sum(day_cents) OVER (ORDER BY day
                    ROWS BETWEEN {MOVING_DAYS - 1} PRECEDING AND CURRENT ROW))
               / (count(*) OVER (ORDER BY day
                    ROWS BETWEEN {MOVING_DAYS - 1} PRECEDING AND CURRENT ROW))::DOUBLE
                   AS trailing_avg_cents
        FROM daily
    """,
    "events_type_pivot": f"""
        SELECT (user_id % 10)::BIGINT AS decile, {_PIVOT_COLS}
        FROM events GROUP BY 1
    """,
    "events_value_percentiles": f"""
        SELECT event_type, {_PCT_COLS}
        FROM (SELECT event_type, round(value * 100)::BIGINT AS value_cents
              FROM events)
        GROUP BY 1
    """,
}


Z_SIGMA = 3


def events_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outliers (|v - mean| > Z_SIGMA * stddev) with the
    test restated as an integer cross-multiplication over exact cents —
    ``(v*n - s)^2 > Z^2 * (n*ss - s^2)`` — so no float mean/stddev ever
    materializes and both engines (and any partitioning) agree exactly.
    Population variance; bounds: v <= ~1e4 cents, n <= ~2e5 rows per
    type at sf0.1 keep every product far inside int64.

    Scale: one partial-aggregated shuffle for the per-type moments (5
    rows), broadcast back over the scan — the same two-pass shape as
    any sufficient-statistics screen.
    """
    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", cents("value").alias("v")
    )
    moments = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("v").alias("s"),
        F.sum(F.col("v") * F.col("v")).alias("ss"),
    )
    dev = F.col("v") * F.col("n") - F.col("s")
    var_n2 = F.col("n") * F.col("ss") - F.col("s") * F.col("s")
    return (
        ev.join(F.broadcast(moments), "event_type")
        .filter(dev * dev > (Z_SIGMA * Z_SIGMA) * var_n2)
        .select("event_id", "event_type", (F.col("v") / 100.0).alias("value"))
    )


def events_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style compaction: each user's latest event (ties by highest
    event_id) — the upsert-view over an append log.  Rank + filter rides
    WindowGroupLimit, so each shuffle partition forwards one row per
    user, not the user's history."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_type"),
            F.col("ts").alias("last_ts"),
        )
    )


QUERIES["events_value_outliers"] = events_value_outliers
QUERIES["events_latest_state"] = events_latest_state

ORACLE["events_value_outliers"] = f"""
    WITH ev AS (
        SELECT event_id, event_type, round(value * 100)::BIGINT AS v
        FROM events
    ),
    m AS (
        SELECT event_type, count(*)::BIGINT AS n, sum(v)::BIGINT AS s,
               sum(v * v)::BIGINT AS ss
        FROM ev GROUP BY 1
    )
    SELECT event_id, ev.event_type, v / 100.0 AS value
    FROM ev JOIN m USING (event_type)
    WHERE (v * n - s) * (v * n - s) > {Z_SIGMA * Z_SIGMA} * (n * ss - s * s)
"""

ORACLE["events_latest_state"] = """
    SELECT user_id, event_id AS last_event_id, event_type AS last_type,
           ts AS last_ts
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
"""


def events_reach_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact daily distinct-user reach per event type — the baseline the
    sketch surface is tested against (``operators/sketches.py``; the
    HLL estimates themselves are DataSketches-implementation-specific
    and so live under unit accuracy bands, not a DuckDB oracle).

    Exact countDistinct expands to a two-level aggregate: dedup on
    (day, type, user), then count — both levels HashAggregate with
    partial combine.  At 100 TB this is the expensive form the sketches
    replace; it stays correct at any scale, just not rollup-able."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("day", "ts").alias("day"), "event_type"
        )
        .agg(F.countDistinct("user_id").alias("reach"))
    )


QUERIES["events_reach_daily"] = events_reach_daily

ORACLE["events_reach_daily"] = """
    SELECT date_trunc('day', ts)::TIMESTAMP AS day, event_type,
           count(DISTINCT user_id)::BIGINT AS reach
    FROM events
    GROUP BY 1, 2
"""


def events_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 compaction of the append log: every event becomes a validity
    interval ``[valid_from, valid_to)`` of the user's state, closed by
    the user's next event (``lead``) and open (``is_current``) on the
    last — the type-2 slowly-changing-dimension build step that turns a
    CDC stream into an as-of-queryable dimension table.  Complements
    ``events_latest_state`` (which keeps only the open rows).

    Scale: one shuffle on user_id (high cardinality, balanced); the
    per-user sort is bounded by that user's history.  At 100 TB this is
    the standard log->dimension compaction plan; whale users fall to
    AQE skew handling, and the output partitions cleanly by
    ``valid_from`` day for downstream as-of pruning.  Ties inside a
    user's history are totally ordered by (ts, event_id)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("valid_to", F.lead("ts").over(w))
        .select(
            "user_id",
            "event_id",
            "event_type",
            "value",
            F.col("ts").alias("valid_from"),
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
        )
    )


QUERIES["events_scd2"] = events_scd2

ORACLE["events_scd2"] = """
    SELECT user_id, event_id, event_type, value,
           ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               IS NULL AS is_current
    FROM events
"""


ACTIVITY_WINDOW_DAYS = 7


def events_user_activity_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling engagement: for each day a user is active, the
    number of distinct active days in the trailing 7-day window — the
    RANGE-frame window shape (frame bounded by *values* of the order
    key, not row offsets, so gaps in a user's history count correctly).

    Scale: events collapse to one row per (user, day) FIRST, so the
    window input is O(user-days), not O(events) — the same
    pre-aggregate-before-window discipline as the daily revenue query;
    then one shuffle on user_id and a per-user frame bounded by 7
    values.  Day arithmetic rides exact integer epoch days."""
    ev = load(spark, sf_dir, "events")
    user_days = (
        ev.select(
            "user_id",
            F.date_trunc("day", "ts").alias("day"),
        )
        .distinct()
        .withColumn("day_num", F.datediff("day", F.lit("1970-01-01")))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day_num")
        .rangeBetween(-(ACTIVITY_WINDOW_DAYS - 1), 0)
    )
    return user_days.select(
        "user_id",
        "day",
        F.count(F.lit(1)).over(w).alias("active_days_7d"),
    )


QUERIES["events_user_activity_7d"] = events_user_activity_7d

ORACLE["events_user_activity_7d"] = f"""
    WITH user_days AS (
        SELECT DISTINCT user_id, date_trunc('day', ts)::TIMESTAMP AS day
        FROM events
    ),
    numbered AS (
        SELECT user_id, day, datediff('day', DATE '1970-01-01', day) AS day_num
        FROM user_days
    )
    SELECT user_id, day,
           count(*) OVER (
               PARTITION BY user_id ORDER BY day_num
               RANGE BETWEEN {ACTIVITY_WINDOW_DAYS - 1} PRECEDING
                     AND CURRENT ROW
           )::BIGINT AS active_days_7d
    FROM numbered
"""


FUNNEL_CONVERSION_DAYS = 7


def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-window funnel: like ``events_funnel`` but each stage
    must land within ``FUNNEL_CONVERSION_DAYS`` of the previous one —
    the form product analytics actually reports ("viewed within a week
    of signup, purchased within a week of that").  Greedy
    earliest-match semantics (each stage takes its first qualifying
    event), the standard definition.  Same single-shuffle shape: the
    window bound is one more predicate on the per-user array filter."""
    s1, s2, s3 = FUNNEL_STAGES
    bound = F.expr(f"INTERVAL {FUNNEL_CONVERSION_DAYS} DAYS")
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == s1, F.col("ts"))).alias("t1"),
        F.collect_list(
            F.when(
                F.col("event_type").isin(s2, s3),
                F.struct("ts", "event_type"),
            )
        ).alias("later"),
    )

    def _next_within(prev_col: str, etype: str) -> F.Column:
        return F.array_min(
            F.transform(
                F.filter(
                    F.col("later"),
                    lambda e: (e["event_type"] == etype)
                    & F.col(prev_col).isNotNull()
                    & (e["ts"] > F.col(prev_col))
                    & (e["ts"] <= F.col(prev_col) + bound),
                ),
                lambda e: e["ts"],
            )
        )

    staged = per_user.withColumn("t2", _next_within("t1", s2)).withColumn(
        "t3", _next_within("t2", s3)
    )
    return staged.agg(
        F.count("*").alias("n_users"),
        F.count("t1").alias("reached_signup"),
        F.count("t2").alias("reached_view"),
        F.count("t3").alias("reached_purchase"),
    )


QUERIES["events_funnel_windowed"] = events_funnel_windowed

ORACLE["events_funnel_windowed"] = f"""
    WITH t1 AS (
        SELECT user_id,
               min(CASE WHEN event_type = '{FUNNEL_STAGES[0]}'
                        THEN ts END) AS t1
        FROM events GROUP BY 1
    ),
    t2 AS (
        SELECT t1.user_id, t1.t1,
               min(CASE WHEN e.event_type = '{FUNNEL_STAGES[1]}'
                        AND e.ts > t1.t1
                        AND e.ts <= t1.t1 + INTERVAL {FUNNEL_CONVERSION_DAYS} DAY
                        THEN e.ts END) AS t2
        FROM t1 LEFT JOIN events e ON e.user_id = t1.user_id
        GROUP BY 1, 2
    ),
    t3 AS (
        SELECT t2.user_id, t2.t1, t2.t2,
               min(CASE WHEN e.event_type = '{FUNNEL_STAGES[2]}'
                        AND e.ts > t2.t2
                        AND e.ts <= t2.t2 + INTERVAL {FUNNEL_CONVERSION_DAYS} DAY
                        THEN e.ts END) AS t3
        FROM t2 LEFT JOIN events e ON e.user_id = t2.user_id
        GROUP BY 1, 2, 3
    )
    SELECT count(*)::BIGINT AS n_users,
           count(t1)::BIGINT AS reached_signup,
           count(t2)::BIGINT AS reached_view,
           count(t3)::BIGINT AS reached_purchase
    FROM t3
"""


SESSION_GAP_MINUTES = 30


def events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization of the raw event log: one row per (user,
    30-min-gap session) with its start, event count and duration — the
    W3 session operator applied to the engine's own events table rather
    than the reference's gaming fixtures.

    ``session_window`` merges an event into the open session iff its
    timestamp falls strictly inside ``last_ts + gap`` (end-exclusive);
    the DuckDB oracle reproduces exactly that with a gaps-and-islands
    ``lag`` scan (new session when the gap is >= the threshold).

    Scale: one shuffle on user_id (high-cardinality, balanced) and a
    per-user timestamp sort bounded by that user's history — the same
    plan at any corpus size; outputs ride exact integer epoch-us."""
    ev = load(spark, sf_dir, "events")
    sess = ev.groupBy(
        "user_id",
        F.session_window("ts", f"{SESSION_GAP_MINUTES} minutes").alias("sw"),
    ).agg(
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.count("*").alias("n_events"),
    )
    return sess.select(
        "user_id",
        epoch_us("first_ts").alias("session_start_us"),
        "n_events",
        (epoch_us("last_ts") - epoch_us("first_ts")).alias("duration_us"),
    )


QUERIES["events_sessions"] = events_sessions

ORACLE["events_sessions"] = f"""
    WITH o AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w
                            >= INTERVAL {SESSION_GAP_MINUTES} MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    i AS (
        SELECT user_id, ts,
               sum(new_s) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING
               ) AS sid
        FROM o
    )
    SELECT user_id,
           epoch_us(min(ts)) AS session_start_us,
           count(*)::BIGINT AS n_events,
           (epoch_us(max(ts)) - epoch_us(min(ts)))::BIGINT AS duration_us
    FROM i GROUP BY user_id, sid
"""


def events_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    stream: for every consecutive (prev_type -> next_type) pair, the
    transition count and its share of the prev_type row in exact basis
    points (integer division — order-independent, hash-stable).

    Scale: the lag runs inside the per-user sort (one shuffle on
    user_id); the transition matrix is |types|^2 rows, so the share
    window costs nothing.  Ties are totally ordered by (ts, event_id)
    on both engines."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
    )
    return pairs.withColumn(
        "share_bp", F.expr("(n * 10000) div sum(n) over (partition by prev_type)")
    ).select("prev_type", "next_type", "n", "share_bp")


QUERIES["events_type_transitions"] = events_type_transitions

ORACLE["events_type_transitions"] = """
    WITH p AS (
        SELECT user_id,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type,
               event_type AS next_type
        FROM events
    ),
    c AS (
        SELECT prev_type, next_type, count(*)::BIGINT AS n
        FROM p WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT prev_type, next_type, n,
           ((n * 10000) // sum(n) OVER (PARTITION BY prev_type))::BIGINT
               AS share_bp
    FROM c
"""


def events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detection over daily event volume — the sequential
    companion to ``events_anomaly_days``' pointwise z-test: a run of
    small same-direction deviations that never individually clears 2σ
    still accumulates, and CUSUM is the classic detector for exactly
    that (Page 1954).  Per day: the volume, the cumulative
    cross-multiplied deviation S_d = Σ_{i≤d} (v_i·D − T) (v = day
    volume, D = number of days, T = total — all exact int64, so S is
    integer and order-free), and the drift flag |S_d| > T (one average
    day's worth of accumulated excess).

    Scale: the fact collapses to O(days) rows first; the cumsum window
    runs over that tiny relation (the ``star_cumulative_revenue``
    sanction), and the (D, T) scalars are a 1-row broadcast."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").alias("volume"))
    scalars = daily.agg(
        F.count("*").alias("n_days"), F.sum("volume").alias("total")
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        daily.crossJoin(F.broadcast(scalars))
        .withColumn(
            "cusum_cross",
            F.sum(
                F.col("volume") * F.col("n_days") - F.col("total")
            ).over(w),
        )
        .select(
            "day",
            "volume",
            "cusum_cross",
            # graded drift: |S_d| as bp of one average day's cross-unit
            # mass — informative even when the flag below is silent
            # (the synthetic stream has no planted drift, so the
            # one-average-day threshold correctly never fires; the
            # column shows how far from firing each day sits)
            F.expr(
                "(abs(cusum_cross) * 10000) div total"
            ).alias("drift_bp"),
            (F.abs(F.col("cusum_cross")) > F.col("total")).alias(
                "drifting"
            ),
        )
    )


QUERIES["events_cusum_drift"] = events_cusum_drift

ORACLE["events_cusum_drift"] = """
    WITH daily AS (
        SELECT date_trunc('day', ts)::TIMESTAMP AS day,
               count(*)::BIGINT AS volume
        FROM events GROUP BY 1
    ),
    s AS (
        SELECT count(*)::BIGINT AS n_days, sum(volume)::BIGINT AS total
        FROM daily
    ),
    c AS (
        SELECT d.day, d.volume,
               sum(d.volume * s.n_days - s.total) OVER (
                   ORDER BY d.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               )::BIGINT AS cusum_cross,
               s.total
        FROM daily d CROSS JOIN s
    )
    SELECT day, volume, cusum_cross,
           ((abs(cusum_cross) * 10000) // total)::BIGINT AS drift_bp,
           abs(cusum_cross) > total AS drifting
    FROM c
"""


def events_markov_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How predictive is the first-order Markov model
    (``events_type_transitions``): per prev_type, the argmax next-type
    prediction and its in-sample hit rate in exact basis points — the
    eval that says whether session modeling beats the majority-class
    baseline on this stream (in-sample by design: the transition matrix
    is the model; a held-out eval composes this with
    ``data_split_assign``'s hash split).

    Determinism: argmax ties break to the lexicographically smaller
    type (rank-1 window over exact counts); accuracy = correct·10⁴ div
    total.  Scale: everything after the one |types|² transition
    aggregate is O(types²) rows."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
    )
    rank_w = Window.partitionBy("prev_type").orderBy(
        F.desc("n"), F.asc("next_type")
    )
    ranked = pairs.withColumn("rn", F.row_number().over(rank_w))
    pred = ranked.filter(F.col("rn") == 1).select(
        "prev_type",
        F.col("next_type").alias("predicted_next"),
        F.col("n").alias("n_correct"),
    )
    totals = pairs.groupBy("prev_type").agg(
        F.sum("n").alias("n_transitions")
    )
    return pred.join(totals, "prev_type").select(
        "prev_type",
        "predicted_next",
        "n_transitions",
        "n_correct",
        F.expr("(n_correct * 10000) div n_transitions").alias(
            "accuracy_bp"
        ),
    )


QUERIES["events_markov_accuracy"] = events_markov_accuracy

ORACLE["events_markov_accuracy"] = """
    WITH p AS (
        SELECT user_id,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type,
               event_type AS next_type
        FROM events
    ),
    c AS (
        SELECT prev_type, next_type, count(*)::BIGINT AS n
        FROM p WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT prev_type, next_type, n,
               row_number() OVER (
                   PARTITION BY prev_type ORDER BY n DESC, next_type ASC
               ) AS rn
        FROM c
    ),
    pred AS (
        SELECT prev_type, next_type AS predicted_next, n AS n_correct
        FROM ranked WHERE rn = 1
    ),
    totals AS (
        SELECT prev_type, sum(n)::BIGINT AS n_transitions FROM c
        GROUP BY 1
    )
    SELECT p.prev_type, p.predicted_next, t.n_transitions, p.n_correct,
           ((p.n_correct * 10000) // t.n_transitions)::BIGINT
               AS accuracy_bp
    FROM pred p JOIN totals t USING (prev_type)
"""


MARKOV_TRAIN_PCT = 80


def events_markov_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out Markov eval: the transition matrix is trained on a
    deterministic 80% USER split (md5 buckets — whole users, so no
    within-sequence leakage) and scored on the held-out users'
    transitions — the out-of-sample companion to
    ``events_markov_accuracy``'s in-sample ceiling.  Per prev_type:
    the trained argmax prediction, held-out transition count, hits,
    and accuracy in exact basis points (prev types unseen in training
    are dropped by the inner join — no prediction exists; stated, not
    hidden).

    Scale: one keyed window for the lag, one |types|² aggregate per
    split leg, O(types) join — the fact table shuffles once."""
    ev = load(spark, sf_dir, "events")
    bucket = F.expr(SPARK_H.format(col="cast(user_id as string)")) % 100
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("is_train", bucket < MARKOV_TRAIN_PCT)
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .select("is_train", "prev_type", F.col("event_type").alias("next_type"))
    )
    train_c = (
        pairs.filter("is_train")
        .groupBy("prev_type", "next_type")
        .agg(F.count("*").alias("n"))
    )
    rank_w = Window.partitionBy("prev_type").orderBy(
        F.desc("n"), F.asc("next_type")
    )
    pred = (
        train_c.withColumn("rn", F.row_number().over(rank_w))
        .filter("rn = 1")
        .select("prev_type", F.col("next_type").alias("predicted_next"))
    )
    test = pairs.filter(~F.col("is_train"))
    return (
        test.join(pred, "prev_type")
        .groupBy("prev_type", "predicted_next")
        .agg(
            F.count("*").alias("n_transitions"),
            F.sum(
                F.when(
                    F.col("next_type") == F.col("predicted_next"), 1
                ).otherwise(0)
            ).alias("n_correct"),
        )
        .select(
            "prev_type",
            "predicted_next",
            "n_transitions",
            "n_correct",
            F.expr("(n_correct * 10000) div n_transitions").alias(
                "accuracy_bp"
            ),
        )
    )


QUERIES["events_markov_holdout"] = events_markov_holdout

ORACLE["events_markov_holdout"] = f"""
    WITH p AS (
        SELECT {DUCK_H.format(col='user_id::VARCHAR')} % 100
                   < {MARKOV_TRAIN_PCT} AS is_train,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type,
               event_type AS next_type
        FROM events
    ),
    pairs AS (SELECT * FROM p WHERE prev_type IS NOT NULL),
    train_c AS (
        SELECT prev_type, next_type, count(*)::BIGINT AS n
        FROM pairs WHERE is_train GROUP BY 1, 2
    ),
    pred AS (
        SELECT prev_type, next_type AS predicted_next FROM (
            SELECT prev_type, next_type,
                   row_number() OVER (
                       PARTITION BY prev_type ORDER BY n DESC, next_type ASC
                   ) AS rn
            FROM train_c
        ) WHERE rn = 1
    )
    SELECT t.prev_type, pr.predicted_next,
           count(*)::BIGINT AS n_transitions,
           sum(CASE WHEN t.next_type = pr.predicted_next THEN 1
                    ELSE 0 END)::BIGINT AS n_correct,
           ((sum(CASE WHEN t.next_type = pr.predicted_next THEN 1
                      ELSE 0 END) * 10000) // count(*))::BIGINT
               AS accuracy_bp
    FROM pairs t JOIN pred pr USING (prev_type)
    WHERE NOT t.is_train
    GROUP BY 1, 2
"""


ASOF_TS = "2024-01-15 12:00:00"


def events_asof_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time state read: every user's latest event as of
    ``ASOF_TS`` — the query the SCD2 dimension (``events_scd2``) exists
    to answer, run directly against the log.

    Plan shape: the as-of filter is pushed into the parquet scan, then
    one shuffle on user_id with a rank-1 window that rides
    WindowGroupLimit (each partition forwards one row per user, not the
    user's history).  At 100 TB a day-partitioned log additionally
    partition-prunes everything after the snapshot date."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.filter(F.col("ts") <= F.lit(ASOF_TS).cast("timestamp_ntz"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("asof_event_id"),
            F.col("event_type").alias("asof_type"),
            F.col("ts").alias("asof_ts"),
        )
    )


QUERIES["events_asof_snapshot"] = events_asof_snapshot

ORACLE["events_asof_snapshot"] = f"""
    SELECT user_id, event_id AS asof_event_id, event_type AS asof_type,
           ts AS asof_ts
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts <= TIMESTAMP '{ASOF_TS}'
    ) WHERE rn = 1
"""


def events_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Shannon entropy of the event-type distribution — the
    behavioral-diversity score (0 = one-trick users, ln(5) = uniform).

    Determinism: each type's term c*(ln T - ln c) is rounded once to
    integer micro-nats; the per-user sum and the final divide by T are
    then exact integer arithmetic — no order-dependent float sum
    (same discipline as the log-frequency quality score).  Scale: two
    hash aggregates on (user, type) then user — the |types|-bounded
    inner relation makes the window-free form cheap at any size."""
    ev = load(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.count("*").alias("c")
    )
    w = Window.partitionBy("user_id")
    term_micro = F.round(
        F.col("c") * (F.log(F.col("T")) - F.log(F.col("c"))) * 1e6
    ).cast("long")
    return (
        per_type.withColumn("T", F.sum("c").over(w))
        .withColumn("tm", term_micro)
        .groupBy("user_id")
        .agg(
            F.first("T").alias("n_events"),
            F.expr("sum(tm) div first(T)").alias("entropy_micro"),
        )
    )


QUERIES["events_user_entropy"] = events_user_entropy

ORACLE["events_user_entropy"] = """
    WITH per_type AS (
        SELECT user_id, event_type, count(*)::BIGINT AS c
        FROM events GROUP BY 1, 2
    ),
    with_total AS (
        SELECT user_id, c,
               sum(c) OVER (PARTITION BY user_id) AS T
        FROM per_type
    )
    SELECT user_id,
           min(T)::BIGINT AS n_events,
           (sum(round(c * (ln(T) - ln(c)) * 1e6)::BIGINT) // min(T))::BIGINT
               AS entropy_micro
    FROM with_total GROUP BY user_id
"""


def events_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: for users completing the
    signup→view and view→purchase funnel hops (greedy
    earliest-match, the ``events_funnel`` staging), the p50/p90 of each
    hop's latency in exact integer microseconds — the "how fast do
    users move" report behind the funnel counts.

    Exactness: latencies are integer epoch-us differences, so both
    engines interpolate percentiles between the same two integers.
    Scale: same single user_id shuffle as the funnel; the percentile
    input is one row per converting user."""
    s1, s2, s3 = FUNNEL_STAGES
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == s1, F.col("ts"))).alias("t1"),
        F.collect_list(
            F.when(
                F.col("event_type").isin(s2, s3),
                F.struct("ts", "event_type"),
            )
        ).alias("later"),
    )

    def _next_after(prev_col: str, etype: str) -> F.Column:
        return F.array_min(
            F.transform(
                F.filter(
                    F.col("later"),
                    lambda e: (e["event_type"] == etype)
                    & F.col(prev_col).isNotNull()
                    & (e["ts"] > F.col(prev_col)),
                ),
                lambda e: e["ts"],
            )
        )

    staged = (
        per_user.withColumn("t2", _next_after("t1", s2))
        .withColumn("t3", _next_after("t2", s3))
        .select(
            (epoch_us("t2") - epoch_us("t1")).alias("hop1_us"),
            (epoch_us("t3") - epoch_us("t2")).alias("hop2_us"),
        )
    )
    return staged.agg(
        F.count("hop1_us").alias("n_hop1"),
        F.expr("percentile(hop1_us, 0.5)").alias("hop1_p50_us"),
        F.expr("percentile(hop1_us, 0.9)").alias("hop1_p90_us"),
        F.count("hop2_us").alias("n_hop2"),
        F.expr("percentile(hop2_us, 0.5)").alias("hop2_p50_us"),
        F.expr("percentile(hop2_us, 0.9)").alias("hop2_p90_us"),
    )


QUERIES["events_conversion_latency"] = events_conversion_latency

ORACLE["events_conversion_latency"] = f"""
    WITH t1 AS (
        SELECT user_id,
               min(CASE WHEN event_type = '{FUNNEL_STAGES[0]}'
                        THEN ts END) AS t1
        FROM events GROUP BY 1
    ),
    t2 AS (
        SELECT t1.user_id, t1.t1,
               min(CASE WHEN e.event_type = '{FUNNEL_STAGES[1]}'
                        AND e.ts > t1.t1 THEN e.ts END) AS t2
        FROM t1 LEFT JOIN events e ON e.user_id = t1.user_id
        GROUP BY 1, 2
    ),
    t3 AS (
        SELECT t2.user_id, t2.t1, t2.t2,
               min(CASE WHEN e.event_type = '{FUNNEL_STAGES[2]}'
                        AND e.ts > t2.t2 THEN e.ts END) AS t3
        FROM t2 LEFT JOIN events e ON e.user_id = t2.user_id
        GROUP BY 1, 2, 3
    ),
    hops AS (
        SELECT epoch_us(t2) - epoch_us(t1) AS hop1_us,
               epoch_us(t3) - epoch_us(t2) AS hop2_us
        FROM t3
    )
    SELECT count(hop1_us)::BIGINT AS n_hop1,
           quantile_cont(hop1_us, 0.5) AS hop1_p50_us,
           quantile_cont(hop1_us, 0.9) AS hop1_p90_us,
           count(hop2_us)::BIGINT AS n_hop2,
           quantile_cont(hop2_us, 0.5) AS hop2_p50_us,
           quantile_cont(hop2_us, 0.9) AS hop2_p90_us
    FROM hops
"""


def events_dow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile per event type: count and the
    share of that type's week in exact basis points — the traffic-shape
    baseline an anomaly monitor compares against.  One conditional
    aggregate over (type, dow); integer arithmetic throughout (ISO
    day-of-week, Monday=1, identical in both engines)."""
    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy(
        "event_type", F.dayofweek("ts").alias("dow_raw")
    ).agg(F.count("*").alias("n"))
    # normalize Spark's Sunday=1 convention to ISO Monday=1
    iso = (F.col("dow_raw") + 5) % 7 + 1
    return (
        counts.select(
            "event_type", iso.cast("long").alias("dow"), "n"
        )
        .withColumn(
            "share_bp", F.expr("(n * 10000) div sum(n) over (partition by event_type)")
        )
    )


QUERIES["events_dow_profile"] = events_dow_profile

ORACLE["events_dow_profile"] = """
    WITH c AS (
        SELECT event_type, isodow(ts)::BIGINT AS dow, count(*)::BIGINT AS n
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, dow, n,
           ((n * 10000) // sum(n) OVER (PARTITION BY event_type))::BIGINT
               AS share_bp
    FROM c
"""


def events_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days whose event volume deviates anomalously (>2σ) from their
    type's mean daily volume — the alerting rule the day-of-week profile
    feeds.  The z-test rides the integer cross-multiplication form
    ``(c·n − s)² > 4·(n·ss − s²)`` (the value-outlier discipline), so no
    float mean/stddev ever crosses an engine boundary.  Scale: one
    (type, day) aggregate, then a |types|-row moment join back —
    the fact table is scanned once."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").alias("c"))
    mom = daily.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
    )
    j = daily.join(mom, "event_type")
    dev = F.col("c") * F.col("n") - F.col("s")
    return (
        j.filter(dev * dev > 4 * (F.col("n") * F.col("ss") - F.col("s") * F.col("s")))
        .select("event_type", "day", "c")
    )


QUERIES["events_anomaly_days"] = events_anomaly_days

ORACLE["events_anomaly_days"] = """
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts)::TIMESTAMP AS day,
               count(*)::BIGINT AS c
        FROM events GROUP BY 1, 2
    ),
    mom AS (
        SELECT event_type, count(*)::BIGINT AS n, sum(c)::BIGINT AS s,
               sum(c * c)::BIGINT AS ss
        FROM daily GROUP BY 1
    )
    SELECT daily.event_type, day, c
    FROM daily JOIN mom USING (event_type)
    WHERE (c * n - s) * (c * n - s) > 4 * (n * ss - s * s)
"""


def events_first_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last-touch attribution per purchasing user: the type of
    the first event ever and of the last event strictly before the
    user's first purchase — the two classic marketing attribution
    models side by side (first_value / last_value window shapes,
    evaluated in one pass over the per-user sort).

    Scale: one shuffle on user_id; each user's history sorts locally;
    users without a purchase drop out via the null filter."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wall = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    first_purchase = F.min(
        F.when(F.col("event_type") == "purchase", F.col("ts"))
    ).over(wall)
    tagged = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.first("event_type").over(w).alias("first_touch"),
        first_purchase.alias("fp_ts"),
    )
    last_before = (
        tagged.filter(F.col("fp_ts").isNotNull() & (F.col("ts") < F.col("fp_ts")))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(
                    F.desc("ts"), F.desc("event_id")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "first_touch",
            F.col("event_type").alias("last_touch_before_purchase"),
        )
    )
    return last_before


QUERIES["events_first_last_touch"] = events_first_last_touch

ORACLE["events_first_last_touch"] = """
    WITH fp0 AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS fp_ts
        FROM events GROUP BY 1
    ),
    ft AS (
        SELECT user_id, event_type AS first_touch FROM (
            SELECT user_id, event_type, row_number() OVER (
                PARTITION BY user_id ORDER BY ts, event_id) AS rn
            FROM events
        ) WHERE rn = 1
    ),
    fp AS (
        SELECT fp0.user_id, fp0.fp_ts, ft.first_touch
        FROM fp0 JOIN ft ON fp0.user_id = ft.user_id
    ),
    lb AS (
        SELECT e.user_id, e.event_type,
               row_number() OVER (
                   PARTITION BY e.user_id ORDER BY e.ts DESC, e.event_id DESC
               ) AS rn
        FROM events e JOIN fp ON e.user_id = fp.user_id
        WHERE fp.fp_ts IS NOT NULL AND e.ts < fp.fp_ts
    )
    SELECT lb.user_id, fp.first_touch,
           lb.event_type AS last_touch_before_purchase
    FROM lb JOIN fp ON lb.user_id = fp.user_id
    WHERE rn = 1
"""


ROLLUP_CUTOFF = "2024-01-20 00:00:00"


def events_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-view-maintenance proof for the daily rollup: the
    history partition (days before ``ROLLUP_CUTOFF``) is aggregated
    separately from the fresh partition (days after), then merged by
    summing per (day, type) — and must equal a from-scratch aggregate,
    which is exactly what the oracle computes.  This is the nightly
    backfill pattern: never recompute closed days, merge the increment.

    Scale: both halves aggregate with map-side combine off a
    scan-pruned read (the cutoff predicate reaches parquet); the merge
    aggregates the union of two already-tiny rollups.  Additivity holds
    because the measures are sums/counts in exact cents (a mean or
    distinct count would need a mergeable sketch instead —
    ``operators/sketches.py``)."""
    ev = load(spark, sf_dir, "events")
    cutoff = F.lit(ROLLUP_CUTOFF).cast("timestamp_ntz")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_trunc("day", "ts").alias("day"), "event_type"
        ).agg(
            F.count("*").alias("n_events"),
            F.sum(cents("value")).alias("value_cents"),
        )

    old = rollup(ev.filter(F.col("ts") < cutoff))
    inc = rollup(ev.filter(F.col("ts") >= cutoff))
    return (
        old.unionByName(inc)
        .groupBy("day", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("value_cents").alias("value_cents"),
        )
    )


QUERIES["events_rollup_merge"] = events_rollup_merge

ORACLE["events_rollup_merge"] = """
    SELECT date_trunc('day', ts)::TIMESTAMP AS day, event_type,
           count(*)::BIGINT AS n_events,
           sum(round(value * 100)::BIGINT)::BIGINT AS value_cents
    FROM events GROUP BY 1, 2
"""


def events_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap distribution per user stream, in power-of-two
    second buckets — the evidence behind the sessionization gap choice
    (``events_sessions``' 30-minute threshold should sit in the valley
    between within-session and between-session modes).

    Shape: one lag over the per-user sort (the sessionization shuffle),
    integer epoch-second gaps, log2 bucketing, then an O(buckets)
    aggregate."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .filter(F.col("prev_ts").isNotNull())
        .select(
            (
                (epoch_us("ts") - epoch_us("prev_ts")) / 1_000_000
            ).cast("long").alias("gap_s")
        )
        .filter(F.col("gap_s") > 0)
    )
    return gaps.groupBy(
        F.expr("cast(floor(log2(gap_s)) as bigint)").alias("log2_gap_s")
    ).agg(F.count("*").alias("n_gaps"))


QUERIES["events_gap_histogram"] = events_gap_histogram

ORACLE["events_gap_histogram"] = """
    WITH g AS (
        SELECT (epoch_us(ts) - epoch_us(lag(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ))) // 1000000 AS gap_s
        FROM events
    )
    SELECT floor(log2(gap_s))::BIGINT AS log2_gap_s,
           count(*)::BIGINT AS n_gaps
    FROM g WHERE gap_s IS NOT NULL AND gap_s > 0
    GROUP BY 1
"""


def events_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU/MAU actives and the stickiness ratios (daily/monthly,
    weekly/monthly) in basis points, per calendar month — the
    engagement headline metric.  Exact distinct users at each grain
    (two-level dedup aggregates); ratios divide exact integers.  The
    DAU term is the month's *average* daily actives in exact
    integer arithmetic: sum of per-day distincts div days."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("month", "ts").alias("month"),
        F.date_trunc("week", "ts").alias("week"),
        F.date_trunc("day", "ts").alias("day"),
    )
    mau = ev.groupBy("month").agg(F.countDistinct("user_id").alias("mau"))
    dau = (
        ev.select("month", "day", "user_id")
        .distinct()
        .groupBy("month", "day")
        .agg(F.count("*").alias("dau"))
        .groupBy("month")
        .agg(F.sum("dau").alias("dau_sum"), F.count("*").alias("n_days"))
    )
    wau = (
        ev.select("month", "week", "user_id")
        .distinct()
        .groupBy("month", "week")
        .agg(F.count("*").alias("wau"))
        .groupBy("month")
        .agg(F.sum("wau").alias("wau_sum"), F.count("*").alias("n_weeks"))
    )
    return (
        mau.join(dau, "month")
        .join(wau, "month")
        .select(
            "month",
            "mau",
            F.expr("dau_sum div n_days").alias("avg_dau"),
            F.expr("wau_sum div n_weeks").alias("avg_wau"),
            F.expr("((dau_sum div n_days) * 10000) div mau").alias(
                "daily_stickiness_bp"
            ),
            F.expr("((wau_sum div n_weeks) * 10000) div mau").alias(
                "weekly_stickiness_bp"
            ),
        )
    )


QUERIES["events_stickiness"] = events_stickiness

ORACLE["events_stickiness"] = """
    WITH base AS (
        SELECT user_id,
               date_trunc('month', ts)::TIMESTAMP AS month,
               date_trunc('week', ts)::TIMESTAMP AS week,
               date_trunc('day', ts)::TIMESTAMP AS day
        FROM events
    ),
    mau AS (
        SELECT month, count(DISTINCT user_id)::BIGINT AS mau
        FROM base GROUP BY 1
    ),
    dau AS (
        SELECT month, sum(d)::BIGINT AS dau_sum, count(*)::BIGINT AS n_days
        FROM (
            SELECT month, day, count(DISTINCT user_id)::BIGINT AS d
            FROM base GROUP BY 1, 2
        ) GROUP BY 1
    ),
    wau AS (
        SELECT month, sum(w)::BIGINT AS wau_sum, count(*)::BIGINT AS n_weeks
        FROM (
            SELECT month, week, count(DISTINCT user_id)::BIGINT AS w
            FROM base GROUP BY 1, 2
        ) GROUP BY 1
    )
    SELECT mau.month, mau.mau,
           (dau_sum // n_days)::BIGINT AS avg_dau,
           (wau_sum // n_weeks)::BIGINT AS avg_wau,
           (((dau_sum // n_days) * 10000) // mau)::BIGINT
               AS daily_stickiness_bp,
           (((wau_sum // n_weeks) * 10000) // mau)::BIGINT
               AS weekly_stickiness_bp
    FROM mau JOIN dau ON mau.month = dau.month
    JOIN wau ON mau.month = wau.month
"""


def events_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-session conversion: of all (user, 30-min) sessions, how
    many contain a view and a purchase strictly after that view —
    the session-scoped funnel (the global ``events_funnel`` asks "ever
    converted"; this asks "converted in one sitting").

    Shape: one session_window aggregate collects each session's
    (ts, type) pairs — bounded by the session's own event count — and
    the stage logic is the same array expressions as the global funnel;
    one global count afterwards.  Counts are exact integers."""
    ev = load(spark, sf_dir, "events")
    sess = ev.groupBy(
        "user_id",
        F.session_window("ts", f"{SESSION_GAP_MINUTES} minutes").alias("sw"),
    ).agg(
        F.collect_list(
            F.when(
                F.col("event_type").isin("view", "purchase"),
                F.struct("ts", "event_type"),
            )
        ).alias("evs")
    )
    first_view = F.array_min(
        F.transform(
            F.filter(F.col("evs"), lambda e: e["event_type"] == "view"),
            lambda e: e["ts"],
        )
    )
    converted = F.array_min(
        F.transform(
            F.filter(
                F.col("evs"),
                lambda e: (e["event_type"] == "purchase")
                & F.col("fv").isNotNull()
                & (e["ts"] > F.col("fv")),
            ),
            lambda e: e["ts"],
        )
    )
    staged = sess.withColumn("fv", first_view).withColumn("cv", converted)
    return staged.agg(
        F.count("*").alias("n_sessions"),
        F.count("fv").alias("sessions_with_view"),
        F.count("cv").alias("converted_sessions"),
    )


QUERIES["events_session_funnel"] = events_session_funnel

ORACLE["events_session_funnel"] = f"""
    WITH o AS (
        SELECT user_id, ts, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w
                            >= INTERVAL {SESSION_GAP_MINUTES} MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    i AS (
        SELECT user_id, ts, event_type,
               sum(new_s) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING
               ) AS sid
        FROM o
    ),
    s AS (
        SELECT user_id, sid,
               min(CASE WHEN event_type = 'view' THEN ts END) AS fv
        FROM i GROUP BY 1, 2
    ),
    conv AS (
        SELECT s.user_id, s.sid, s.fv,
               min(CASE WHEN i.event_type = 'purchase' AND i.ts > s.fv
                        THEN i.ts END) AS cv
        FROM s LEFT JOIN i ON s.user_id = i.user_id AND s.sid = i.sid
        GROUP BY 1, 2, 3
    )
    SELECT count(*)::BIGINT AS n_sessions,
           count(fv)::BIGINT AS sessions_with_view,
           count(cv)::BIGINT AS converted_sessions
    FROM conv
"""


MAD_K = 5  # robust outlier: |v - median| > K * MAD


def events_value_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier screen: |value − median| > ``MAD_K`` ×
    MAD (median absolute deviation) — the companion to
    ``events_value_outliers``' z-score test that a single whale value
    cannot poison (mean/stddev move with the outlier; median/MAD do
    not).

    Exactness AND scale ride the same trick: both medians are computed
    from the per-(type, value-cents) HISTOGRAM — group-count first, then
    a cumulative-sum window over the O(distinct cents) histogram rows to
    pick the lower median (smallest v with 2·cum ≥ n) — so no engine
    ever sorts the raw fact table per type and every quantity is an
    integer (cents in, cents out; no float quantile interpolation to
    disagree over).  Pass 2 re-histograms |v − med| the same way for the
    MAD.  The (type, med, mad) relation is O(event types) and
    broadcasts back over one scan for the flag pass."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", cents("value").alias("v")
    )
    hist = ev.groupBy("event_type", "v").agg(F.count("*").alias("c"))

    def _lower_median(h: DataFrame, val: str, out: str) -> DataFrame:
        wc = Window.partitionBy("event_type").orderBy(val)
        wn = Window.partitionBy("event_type")
        return (
            h.withColumn("cum", F.sum("c").over(wc))
            .withColumn("n", F.sum("c").over(wn))
            .filter(F.col("cum") * 2 >= F.col("n"))
            .groupBy("event_type")
            .agg(F.min(val).alias(out))
        )

    med = _lower_median(hist, "v", "med")
    dh = (
        hist.join(F.broadcast(med), "event_type")
        .groupBy(
            "event_type",
            "med",
            F.abs(F.col("v") - F.col("med")).alias("d"),
        )
        .agg(F.sum("c").alias("c"))
    )
    mad = (
        _lower_median(dh, "d", "mad")
        .join(F.broadcast(med), "event_type")
    )
    return (
        ev.join(F.broadcast(mad), "event_type")
        .filter(
            F.abs(F.col("v") - F.col("med")) > F.lit(MAD_K) * F.col("mad")
        )
        .select(
            "event_id",
            "event_type",
            (F.col("v") / 100.0).alias("value"),
            F.col("med").alias("med_cents"),
            F.col("mad").alias("mad_cents"),
        )
    )


QUERIES["events_value_mad_outliers"] = events_value_mad_outliers

ORACLE["events_value_mad_outliers"] = f"""
    WITH ev AS (
        SELECT event_id, event_type, round(value * 100)::BIGINT AS v
        FROM events
    ),
    hist AS (
        SELECT event_type, v, count(*)::BIGINT AS c FROM ev GROUP BY 1, 2
    ),
    cum AS (
        SELECT event_type, v, c,
               sum(c) OVER (PARTITION BY event_type ORDER BY v) AS cum,
               sum(c) OVER (PARTITION BY event_type) AS n
        FROM hist
    ),
    med AS (
        SELECT event_type, min(v)::BIGINT AS med
        FROM cum WHERE cum * 2 >= n GROUP BY 1
    ),
    dh AS (
        SELECT h.event_type, med, abs(v - med) AS d, sum(c)::BIGINT AS c
        FROM hist h JOIN med USING (event_type) GROUP BY 1, 2, 3
    ),
    dcum AS (
        SELECT event_type, med, d, c,
               sum(c) OVER (PARTITION BY event_type ORDER BY d) AS cum,
               sum(c) OVER (PARTITION BY event_type) AS n
        FROM dh
    ),
    mad AS (
        SELECT event_type, min(med)::BIGINT AS med, min(d)::BIGINT AS mad
        FROM dcum WHERE cum * 2 >= n GROUP BY event_type
    )
    SELECT event_id, ev.event_type, v / 100.0 AS value,
           med AS med_cents, mad AS mad_cents
    FROM ev JOIN mad ON ev.event_type = mad.event_type
    WHERE abs(v - med) > {MAD_K} * mad
"""


PATH_MAX_EVENTS = 8   # path prefix cap — bounds per-session state
PATH_TOP_N = 20


def events_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream path analysis: the top event-type paths users take
    within a session (first ``PATH_MAX_EVENTS`` steps, '>'-joined),
    split by whether the session converted — the "what journeys lead to
    purchase" report beside the funnel and Markov-transition views.

    Scale: the path string is built from at most ``PATH_MAX_EVENTS``
    rows per session (rank-filtered BEFORE the collect — a whale
    session contributes 8 structs, not its history), sessions come from
    the same gaps-and-islands scan as ``events_sessions`` (one user_id
    shuffle + per-user sort), and the final report is a hash aggregate
    over O(distinct paths) with a TakeOrdered top-N.  Conversion is
    judged over the WHOLE session (not just the prefix), so truncation
    never mislabels a late purchase."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    wu = Window.partitionBy("user_id").orderBy("us", "event_id")
    base = ev.withColumn("us", epoch_us("ts"))
    lag_us = F.lag("us").over(wu)
    gap_us = SESSION_GAP_MINUTES * 60 * 1_000_000
    sid = F.sum(
        (lag_us.isNull() | (F.col("us") - lag_us >= gap_us)).cast("long")
    ).over(wu)
    wrn = Window.partitionBy("user_id", "sid").orderBy("us", "event_id")
    ranked = base.withColumn("sid", sid).withColumn(
        "rn", F.row_number().over(wrn)
    )
    per_session = ranked.groupBy("user_id", "sid").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.when(
                            F.col("rn") <= PATH_MAX_EVENTS,
                            F.struct("rn", "event_type"),
                        )
                    )
                ),
                lambda x: x["event_type"],
            ),
        ).alias("path"),
        F.max(
            (F.col("event_type") == "purchase").cast("long")
        ).alias("converted"),
    )
    return (
        per_session.groupBy("path", "converted")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"), F.asc("converted"))
        .limit(PATH_TOP_N)
    )


QUERIES["events_session_paths"] = events_session_paths

ORACLE["events_session_paths"] = f"""
    WITH o AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        FROM events
    ),
    s AS (
        SELECT *, CASE WHEN lag(us) OVER w IS NULL
                            OR us - lag(us) OVER w
                               >= {SESSION_GAP_MINUTES} * 60 * 1000000
                       THEN 1 ELSE 0 END AS new_s
        FROM o WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    t AS (
        SELECT *, sum(new_s) OVER (
            PARTITION BY user_id ORDER BY us, event_id) AS sid
        FROM s
    ),
    r AS (
        SELECT *, row_number() OVER (
            PARTITION BY user_id, sid ORDER BY us, event_id) AS rn
        FROM t
    ),
    p AS (
        SELECT user_id, sid,
               string_agg(event_type, '>' ORDER BY rn)
                   FILTER (rn <= {PATH_MAX_EVENTS}) AS path,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   ::BIGINT AS converted
        FROM r GROUP BY 1, 2
    ),
    c AS (
        SELECT path, converted, count(*)::BIGINT AS n_sessions
        FROM p GROUP BY 1, 2
    )
    SELECT path, converted, n_sessions FROM c
    ORDER BY n_sessions DESC, path ASC, converted ASC
    LIMIT {PATH_TOP_N}
"""


def events_volume_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type daily-volume trend: least-squares slope and
    intercept of count-per-day against the day index, plus the one-day-
    ahead forecast — the capacity-planning companion to the 2σ anomaly
    screen (the screen flags days, this extrapolates the drift).

    Determinism: x is the integer epoch day, y the integer daily count;
    the five regression moments accumulate as exact int64 per type and
    slope/intercept/forecast are each ONE float expression over those
    integers, rounded once (the Pearson-moments discipline).  Scale:
    one (type, day) aggregate over a single fact scan, then O(types)
    moment rows — the regression never sees raw events.  A type with a
    single active day has an undefined slope (zero denominator) and is
    excluded by the n >= 2 gate on both engines."""
    ev = load(spark, sf_dir, "events")
    # integer `div`, never float division + floor: a double quotient can
    # land one ulp under an exact day boundary and truncate to the wrong
    # day index
    day_x = epoch_us("ts").alias("us")
    daily = (
        ev.select("event_type", day_x)
        .select("event_type", F.expr("us div 86400000000").alias("x"))
        .groupBy("event_type", "x")
        .agg(F.count("*").alias("y"))
    )
    m = daily.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.max("x").alias("last_x"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) * 1.0 / den
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    forecast = intercept + slope * (F.col("last_x") + 1)
    return m.filter(F.col("n") >= 2).select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round(slope, 6).alias("slope_per_day"),
        F.round(forecast, 4).alias("next_day_forecast"),
    )


QUERIES["events_volume_trend"] = events_volume_trend

ORACLE["events_volume_trend"] = """
    WITH daily AS (
        SELECT event_type,
               (epoch_us(ts) // 86400000000)::BIGINT AS x,
               count(*)::BIGINT AS y
        FROM events GROUP BY 1, 2
    ),
    m AS (
        SELECT event_type, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
               sum(y)::BIGINT AS sy, sum(x * y)::BIGINT AS sxy,
               sum(x * x)::BIGINT AS sxx, max(x)::BIGINT AS last_x
        FROM daily GROUP BY 1
    )
    SELECT event_type, n AS n_days,
           round((n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx), 6)
               AS slope_per_day,
           round(((sy - ((n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx))
                       * sx) / n)
                 + ((n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx))
                   * (last_x + 1), 4) AS next_day_forecast
    FROM m
    WHERE n >= 2
"""


def _ab_per_user(ev: DataFrame) -> DataFrame:
    """Per-user (arm, converted) for the A/B pair: arm = md5 hash split,
    conversion = ACTIVATION — a purchase within 1 day of the user's
    first event.  (Plain "ever purchased" saturates to ~100% on any
    long-lived user base, making every readout degenerate; activation
    is the standard non-saturating experiment metric.)  One hash
    aggregate: first event ts and first purchase ts computed in the
    same per-user pass."""
    return (
        ev.groupBy("user_id")
        .agg(
            F.min("ts").alias("first_ts"),
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("ts"))
            ).alias("first_purchase"),
        )
        .select(
            (F.expr(SPARK_H.format(col="cast(user_id as string)")) % 2)
            .alias("arm"),
            F.when(
                F.col("first_purchase")
                <= F.col("first_ts") + F.expr("INTERVAL 1 DAY"),
                1,
            )
            .otherwise(0)
            .alias("converted"),
        )
    )


_AB_DUCK_PER_USER = f"""
        SELECT {DUCK_H.format(col='user_id::VARCHAR')} % 2 AS arm,
               CASE WHEN min(CASE WHEN event_type = 'purchase' THEN ts END)
                         <= min(ts) + INTERVAL 1 DAY
                    THEN 1 ELSE 0 END AS converted
        FROM events GROUP BY user_id
"""


def events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users deterministically hash-split into
    two arms, conversion = activation (purchase within 1 day of first
    event — see ``_ab_per_user``); reports per-arm rates in exact basis
    points and the two-proportion z-test verdict at 95%.

    The significance test is the integer cross-multiplied form
    ``(c1·n2 − c2·n1)²·(n1+n2)·100 > 384·n1·n2·C·(N−C)`` (z² > 3.84) —
    no float mean/variance ever crosses an engine boundary (the 2σ
    anomaly-screen discipline).  The ~n⁴ products overflow int64 at
    only ~1.5·10⁴ users per arm, so BOTH sides evaluate in exact wide
    integers — DECIMAL(38,0) in Spark, HUGEINT in DuckDB — identical
    booleans to ~10⁸ users per arm.

    Scale: one per-user conversion aggregate (single hash shuffle on
    user_id over one fact scan), then a 2-row arm aggregate; the final
    report is ONE row.
    """
    per_user = _ab_per_user(load(spark, sf_dir, "events"))
    arms = per_user.groupBy("arm").agg(
        F.count("*").alias("n"), F.sum("converted").alias("c")
    )
    a = arms.filter("arm = 0").select(
        F.col("n").alias("n_a"), F.col("c").alias("conv_a")
    )
    b = arms.filter("arm = 1").select(
        F.col("n").alias("n_b"), F.col("c").alias("conv_b")
    )
    j = a.join(F.broadcast(b))
    dec = "decimal(38,0)"
    diff = (
        F.col("conv_a") * F.col("n_b") - F.col("conv_b") * F.col("n_a")
    ).cast(dec)
    big_c = (F.col("conv_a") + F.col("conv_b")).cast(dec)
    big_n = (F.col("n_a") + F.col("n_b")).cast(dec)
    return j.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        # integer `div` (not float `/` + cast): a double quotient can sit
        # one ulp under an exact integer and truncate wrong
        F.expr("conv_a * 10000 div n_a").alias("rate_a_bp"),
        F.expr("conv_b * 10000 div n_b").alias("rate_b_bp"),
        (
            diff * diff * big_n * 100
            > F.lit(384).cast(dec)
            * F.col("n_a").cast(dec)
            * F.col("n_b").cast(dec)
            * big_c
            * (big_n - big_c)
        ).alias("significant"),
    )


QUERIES["events_ab_test"] = events_ab_test

ORACLE["events_ab_test"] = f"""
    WITH per_user AS ({_AB_DUCK_PER_USER}),
    arms AS (
        SELECT arm, count(*)::BIGINT AS n, sum(converted)::BIGINT AS c
        FROM per_user GROUP BY 1
    ),
    a AS (SELECT n AS n_a, c AS conv_a FROM arms WHERE arm = 0),
    b AS (SELECT n AS n_b, c AS conv_b FROM arms WHERE arm = 1)
    SELECT n_a, conv_a, n_b, conv_b,
           (conv_a * 10000 // n_a)::BIGINT AS rate_a_bp,
           (conv_b * 10000 // n_b)::BIGINT AS rate_b_bp,
           (conv_a * n_b - conv_b * n_a)::HUGEINT
               * (conv_a * n_b - conv_b * n_a) * (n_a + n_b) * 100
             > 384::HUGEINT * n_a * n_b * (conv_a + conv_b)
                   * ((n_a + n_b) - (conv_a + conv_b)) AS significant
    FROM a, b
"""


def events_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily purchase revenue by customer market segment: the enriched
    additive rollup — events joined to the customer dimension
    (user_id -> c_custkey), then exact-cents revenue per (segment,
    day).  This is the batch twin of the incrementally-maintained
    streaming view (``streaming/viewmaint.py::SegmentRevenueViewSink``);
    events whose user misses the dimension keep a NULL segment rather
    than dropping revenue on referential gaps.

    Scale: the customer dimension GROWS with scale factor (~1.5M
    rows/SF), so the join is hint-free by the engine's broadcast policy
    (ADVICE r02) — AQE broadcasts it while it fits and falls back to a
    shuffled join when it doesn't; one hash aggregate on (segment, day)
    with map-side partials over integer cents."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    dim = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    return (
        ev.join(dim, "user_id", "left")
        .groupBy("segment", F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count("*").alias("n_purchases"),
            (F.sum(cents("value")) / 100.0).alias("rev"),
        )
        .select(
            "segment",
            "day",
            "n_purchases",
            F.round("rev", 2).alias("revenue"),
        )
    )


QUERIES["events_segment_revenue"] = events_segment_revenue

ORACLE["events_segment_revenue"] = """
    SELECT c_mktsegment AS segment,
           date_trunc('day', ts)::TIMESTAMP AS day,
           count(*)::BIGINT AS n_purchases,
           round(sum(round(value * 100)::BIGINT) / 100.0, 2) AS revenue
    FROM events
    LEFT JOIN customer ON user_id = c_custkey
    WHERE event_type = 'purchase'
    GROUP BY 1, 2
"""


def events_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user TIME-weighted average event value: each event's value
    holds until the user's next event, so the average integrates the
    value curve over observed time instead of counting events — the
    correct aggregate for state-like signals sampled at irregular
    intervals (plain AVG over-weights bursts).

    Determinism: duration is exact integer microseconds (lead over the
    per-user sort), value is exact integer cents; the weighted sum
    accumulates cents·µs as int64 and the average is one float divide.
    Int64 bounds: cents·µs per interval < 2^63 while value < ~$9e6 and
    gaps < ~3 years; promote to DECIMAL(38) past that — same plan.

    Scale: one hash shuffle on user_id; the lead() window sorts only
    within each user's events (bounded per user); users with a single
    event have no observed duration and are excluded on both engines."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    base = ev.select(
        "user_id",
        cents("value").alias("c"),
        epoch_us("ts").alias("us"),
        "ts",
        "event_id",
    ).withColumn("next_us", F.lead(epoch_us("ts")).over(w))
    lived = base.filter(F.col("next_us").isNotNull()).select(
        "user_id",
        ((F.col("next_us") - F.col("us")) * F.col("c")).alias("wv"),
        (F.col("next_us") - F.col("us")).alias("dur"),
    )
    return (
        lived.groupBy("user_id")
        .agg(F.sum("wv").alias("swv"), F.sum("dur").alias("sdur"))
        .select(
            "user_id",
            F.round(F.col("swv") * 1.0 / F.col("sdur") / 100.0, 6).alias(
                "tw_avg_value"
            ),
            F.col("sdur").alias("observed_us"),
        )
    )


QUERIES["events_time_weighted_value"] = events_time_weighted_value

ORACLE["events_time_weighted_value"] = """
    WITH base AS (
        SELECT user_id,
               round(value * 100)::BIGINT AS c,
               epoch_us(ts) AS us,
               lead(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS next_us
        FROM events
    ),
    lived AS (
        SELECT user_id, (next_us - us) * c AS wv, next_us - us AS dur
        FROM base WHERE next_us IS NOT NULL
    )
    SELECT user_id,
           round(sum(wv)::BIGINT * 1.0 / sum(dur)::BIGINT / 100.0, 6)
               AS tw_avg_value,
           sum(dur)::BIGINT AS observed_us
    FROM lived
    GROUP BY user_id
"""


def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV matrix: for each weekly signup cohort and each week of
    age, the CUMULATIVE purchase revenue per cohort member in exact
    cents — the curve a growth team reads payback periods off
    (retention says who came back; this says what they were worth by
    week N).

    Scale: revenue aggregates per (cohort, age) first — O(cohorts ×
    ages) rows — and the running sum windows over that matrix, never
    raw events; cohort sizes join back from the O(cohorts) aggregate
    (hint-free: cohort relations are data-dependent).  Cumulative
    cents divide by the cohort size only at the end, so the matrix is
    exactly additive across backfills."""
    ev = load(spark, sf_dir, "events")
    week = F.date_trunc("week", "ts").alias("week")
    activity = ev.select("user_id", week, "event_type", "value")
    first = activity.groupBy("user_id").agg(
        F.min("week").alias("cohort_week")
    )
    sizes = first.groupBy("cohort_week").agg(
        F.count("*").alias("cohort_users")
    )
    rev = (
        activity.filter(F.col("event_type") == "purchase")
        .join(first, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
            .cast("long")
            .alias("age_weeks"),
        )
        .agg(F.sum(cents("value")).alias("rev_cents"))
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("age_weeks")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        rev.withColumn("cum_cents", F.sum("rev_cents").over(w))
        .join(sizes, "cohort_week")
        .select(
            "cohort_week",
            "age_weeks",
            "cohort_users",
            F.round(
                F.col("cum_cents") * 1.0 / F.col("cohort_users") / 100.0, 4
            ).alias("ltv_per_user"),
        )
    )


QUERIES["events_cohort_ltv"] = events_cohort_ltv

ORACLE["events_cohort_ltv"] = """
    WITH activity AS (
        SELECT user_id, date_trunc('week', ts)::TIMESTAMP AS week,
               event_type, value
        FROM events
    ),
    first AS (
        SELECT user_id, min(week) AS cohort_week
        FROM activity GROUP BY 1
    ),
    sizes AS (
        SELECT cohort_week, count(*)::BIGINT AS cohort_users
        FROM first GROUP BY 1
    ),
    rev AS (
        SELECT f.cohort_week,
               (date_diff('day', f.cohort_week, a.week) // 7)::BIGINT
                   AS age_weeks,
               sum(round(a.value * 100)::BIGINT)::BIGINT AS rev_cents
        FROM activity a JOIN first f USING (user_id)
        WHERE a.event_type = 'purchase'
        GROUP BY 1, 2
    ),
    cum AS (
        SELECT cohort_week, age_weeks,
               sum(rev_cents) OVER (
                   PARTITION BY cohort_week ORDER BY age_weeks
                   ROWS UNBOUNDED PRECEDING
               )::BIGINT AS cum_cents
        FROM rev
    )
    SELECT cohort_week, age_weeks, cohort_users,
           round(cum_cents * 1.0 / cohort_users / 100.0, 4) AS ltv_per_user
    FROM cum JOIN sizes USING (cohort_week)
"""


def events_ab_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power analysis for the A/B readout: the minimum detectable
    effect (MDE) at the current arm sizes — 80% power, two-sided 5%
    significance (z-factor 2.8 ≈ 1.96 + 0.84) on the pooled activation
    rate (purchase within 1 day of first event — see ``_ab_per_user``).  The planning number that says whether an experiment is even
    worth reading yet: if the observed lift is below the MDE, running
    longer is the only honest action.

    ``mde = 2.8 · sqrt(p̂(1−p̂)(1/n_a + 1/n_b))`` — p̂ and the variance
    term are ratios of exact int64 counts; the whole expression is ONE
    float chain over those integers, identically associated on both
    engines, rounded once.  Same two-aggregate shape as
    ``events_ab_test``: the report is one row at any event volume."""
    per_user = _ab_per_user(load(spark, sf_dir, "events"))
    arms = per_user.groupBy("arm").agg(
        F.count("*").alias("n"), F.sum("converted").alias("c")
    )
    a = arms.filter("arm = 0").select(
        F.col("n").alias("n_a"), F.col("c").alias("conv_a")
    )
    b = arms.filter("arm = 1").select(
        F.col("n").alias("n_b"), F.col("c").alias("conv_b")
    )
    j = a.join(F.broadcast(b))
    p = (F.col("conv_a") + F.col("conv_b")) * 1.0 / (
        F.col("n_a") + F.col("n_b")
    )
    mde = 2.8 * F.sqrt(
        p * (1.0 - p) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    return j.select(
        "n_a",
        "n_b",
        F.round(p, 6).alias("pooled_rate"),
        F.round(mde, 6).alias("mde"),
    )


QUERIES["events_ab_power"] = events_ab_power

ORACLE["events_ab_power"] = f"""
    WITH per_user AS ({_AB_DUCK_PER_USER}),
    arms AS (
        SELECT arm, count(*)::BIGINT AS n, sum(converted)::BIGINT AS c
        FROM per_user GROUP BY 1
    ),
    a AS (SELECT n AS n_a, c AS conv_a FROM arms WHERE arm = 0),
    b AS (SELECT n AS n_b, c AS conv_b FROM arms WHERE arm = 1)
    SELECT n_a, n_b,
           round((conv_a + conv_b) * 1.0 / (n_a + n_b), 6) AS pooled_rate,
           round(2.8 * sqrt(((conv_a + conv_b) * 1.0 / (n_a + n_b))
                            * (1.0 - (conv_a + conv_b) * 1.0 / (n_a + n_b))
                            * (1.0 / n_a + 1.0 / n_b)), 6) AS mde
    FROM a, b
"""


def events_ab_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch gate for the A/B pair: is the arm split
    consistent with the intended 50/50?  A skewed split means broken
    assignment or differential logging loss, and invalidates the
    readout BEFORE anyone looks at conversion — the first check every
    experimentation platform runs.  z² = (n_a − n_b)²/N against 3.84
    (95%), in the integer cross-multiplied form
    ``(n_a − n_b)²·100 > 384·N`` — exact int64 far beyond any user
    count (~n², not the readout's ~n⁴).  One per-user aggregate, one
    2-row arm aggregate, ONE output row."""
    per_user = _ab_per_user(load(spark, sf_dir, "events"))
    arms = per_user.groupBy("arm").agg(F.count("*").alias("n"))
    a = arms.filter("arm = 0").select(F.col("n").alias("n_a"))
    b = arms.filter("arm = 1").select(F.col("n").alias("n_b"))
    j = a.join(F.broadcast(b))
    diff = F.col("n_a") - F.col("n_b")
    return j.select(
        "n_a",
        "n_b",
        (diff * diff * 100 > 384 * (F.col("n_a") + F.col("n_b"))).alias(
            "srm_detected"
        ),
    )


QUERIES["events_ab_srm"] = events_ab_srm

ORACLE["events_ab_srm"] = f"""
    WITH per_user AS ({_AB_DUCK_PER_USER}),
    arms AS (SELECT arm, count(*)::BIGINT AS n FROM per_user GROUP BY 1),
    a AS (SELECT n AS n_a FROM arms WHERE arm = 0),
    b AS (SELECT n AS n_b FROM arms WHERE arm = 1)
    SELECT n_a, n_b,
           (n_a - n_b) * (n_a - n_b) * 100 > 384 * (n_a + n_b)
               AS srm_detected
    FROM a, b
"""
