"""Event-stream analytics over the events table (batch semantics).

Windowed aggregations (tumbling/sliding), sessionization by inactivity
gap, and JSON prop extraction — the batch twins of the Structured
Streaming operators in ``knowledge_model_spark/streaming`` (same logical
semantics; streaming adds watermarks/state).  Window starts are emitted
as epoch seconds (BIGINT) so the value-hash is engine-neutral.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from knowledge_model_spark.plans import register
from knowledge_model_spark.session import load_tables


@register(
    "events_tumbling_1h",
    """
    SELECT CAST(epoch(time_bucket(INTERVAL 1 HOUR, ts)) AS BIGINT) AS window_start,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
    doc="tumbling 1h window agg (streaming twin: window(ts,'1 hour') + watermark)",
)
def events_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


@register(
    "events_sliding_1h_30m",
    """
    WITH expanded AS (
      SELECT unnest([time_bucket(INTERVAL 30 MINUTE, ts),
                     time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE]) AS ws,
             value
      FROM events
    )
    SELECT CAST(epoch(ws) AS BIGINT) AS window_start,
           count(*) AS n,
           round(avg(value), 6) AS avg_value
    FROM expanded GROUP BY 1
    """,
    doc="sliding window 1h/30m: each event lands in 2 overlapping windows",
)
def events_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"), F.round(F.avg("value"), 6).alias("avg_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"), "n", "avg_value"
        )
    )


@register(
    "events_sessionize_30m",
    """
    WITH ordered AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM ordered
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           count(*) AS n_events,
           CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_s,
           CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS duration_s,
           round(sum(value), 2) AS total_value
    FROM sessions GROUP BY user_id, session_id
    """,
    doc="sessionization by 30-min inactivity gap: lag → new-session flag → "
    "running-sum session ids (streaming twin: session_window / applyInPandasWithState). "
    "Boundary semantics (r10 ADVICE): a gap of EXACTLY 30 minutes starts a new "
    "session (>=), matching Spark session_window's closed-open [start, start+gap) "
    "interval — so the streaming certification twin agrees at equality",
)
def events_sessionize_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = t["events"].withColumn(
        "new_session",
        F.when(
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w) >= 1800 * 1_000_000,
            1,
        )
        .when(F.lag("ts").over(w).isNull(), 1)
        .otherwise(0),
    )
    sessions = flagged.withColumn("session_id", F.sum("new_session").over(wcum))
    return sessions.groupBy("user_id", F.col("session_id").cast("long").alias("session_id")).agg(
        F.count("*").alias("n_events"),
        F.unix_timestamp(F.min("ts")).alias("session_start_s"),
        (F.max(F.col("ts").cast("long")) - F.min(F.col("ts").cast("long"))).alias(
            "duration_s"
        ),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@register(
    "events_json_props",
    """
    SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
    doc="schema-on-read JSON prop extraction (reference's orjson JSONL pattern, "
    "ingestion/__init__.py:14-20) via from_json/get_json_object",
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy(
            F.pmod(F.get_json_object("props", "$.k").cast("long"), F.lit(10)).alias(
                "k_bucket"
            ),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


@register(
    "events_type_pivot",
    """
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click')    AS n_click,
           count(*) FILTER (WHERE event_type = 'view')     AS n_view,
           count(*) FILTER (WHERE event_type = 'signup')   AS n_signup,
           count(*) FILTER (WHERE event_type = 'error')    AS n_error,
           count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase
    FROM events GROUP BY user_id
    """,
    doc="conditional-count pivot (reference's section counters, fetch_pubmed.py:422-426)",
)
def events_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)

    def cnt(et: str):
        return F.sum(F.when(F.col("event_type") == et, 1).otherwise(0)).alias(f"n_{et}")

    return t["events"].groupBy("user_id").agg(
        cnt("click"), cnt("view"), cnt("signup"), cnt("error"), cnt("purchase")
    )


@register(
    "events_time_rollup",
    """
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(extract(hour FROM ts) AS BIGINT) AS hour,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY ROLLUP (CAST(date_trunc('day', ts) AS DATE),
                     CAST(extract(hour FROM ts) AS BIGINT))
    """,
    doc="hypertable-style multi-granularity time rollup: one pass "
    "produces hour, day, and grand-total aggregates via ROLLUP(day, hour) "
    "— the continuous-aggregate pattern for time-series tables",
)
def events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .rollup(
            F.to_date(F.date_trunc("day", "ts")).alias("day"),
            F.hour("ts").cast("long").alias("hour"),
        )
        .agg(F.count("*").cast("long").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


@register(
    "join_interval_overlap",
    """
    WITH sessions AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             min(ts) AS s, max(ts) AS e
      FROM events GROUP BY 1, 2
    )
    SELECT a.day, a.user_id AS user_a, b.user_id AS user_b
    FROM sessions a JOIN sessions b
      ON a.day = b.day AND a.user_id < b.user_id
     AND a.s <= b.e AND b.s <= a.e
    """,
    doc="interval-overlap join: per-(user,day) activity intervals, pairs "
    "whose spans intersect.  The day column doubles as the coarse "
    "equi-bucket, so the non-equi overlap predicate only runs within "
    "buckets — the formulation that avoids a cross join at 100 TB.  "
    "NOTE (r7): the OUTPUT itself is Θ(Σ_day n_day²) by query "
    "semantics — same-day activity spans almost all overlap (measured "
    "1.6k/168k/17.1M pairs at sf0.001/0.01/0.1) — so wall time is "
    "output-bound, not algorithm-waste; the slope-harness whitelist "
    "entry records the argument and join_interval_overlap_count is "
    "the registered O(n log n) scale twin for when only counts are "
    "needed",
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    sessions = (
        t["events"]
        .groupBy(
            "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
        )
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    )
    a = sessions.select(
        F.col("day"), F.col("user_id").alias("user_a"),
        F.col("s").alias("s_a"), F.col("e").alias("e_a"),
    )
    b = sessions.select(
        F.col("day"), F.col("user_id").alias("user_b"),
        F.col("s").alias("s_b"), F.col("e").alias("e_b"),
    )
    return (
        a.join(
            b,
            (a.day == b.day)
            & (F.col("user_a") < F.col("user_b"))
            & (F.col("s_a") <= F.col("e_b"))
            & (F.col("s_b") <= F.col("e_a")),
        )
        .select(a.day, "user_a", "user_b")
    )


@register(
    "join_interval_overlap_count",
    """
    WITH sessions AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             min(ts) AS s, max(ts) AS e
      FROM events GROUP BY 1, 2
    ),
    ev AS (
      SELECT day, s AS t, 0 AS is_end FROM sessions
      UNION ALL
      SELECT day, e AS t, 1 AS is_end FROM sessions
    ),
    scan AS (
      SELECT day, is_end,
             sum(is_end) OVER (PARTITION BY day ORDER BY t, is_end
                               ROWS UNBOUNDED PRECEDING) AS ends_before
      FROM ev
    ),
    agg AS (
      SELECT day,
             sum(CASE WHEN is_end = 0 THEN 1 ELSE 0 END) AS n,
             sum(CASE WHEN is_end = 0 THEN ends_before ELSE 0 END) AS disjoint
      FROM scan GROUP BY day
    )
    SELECT day, CAST(n AS BIGINT) AS n_sessions,
           CAST(n * (n - 1) // 2 - disjoint AS BIGINT) AS overlap_pairs
    FROM agg
    """,
    doc="interval-overlap PAIR COUNTS per day via an O(n log n) boundary "
    "sweep (overlap_pairs = C(n,2) − #ends-strictly-before-starts) — "
    "the 100 TB scale twin of join_interval_overlap, whose "
    "materialized output is Θ(n_day²) by semantics.  One hash shuffle "
    "on day (the window); the groupBy reuses that partitioning; no "
    "pair row ever exists.  operators/relational.py::"
    "interval_overlap_counts; sweep == brute-force equality gated on "
    "planted skew in tests/test_plan_shapes.py",
)
def join_interval_overlap_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.operators.relational import (
        interval_overlap_counts,
    )

    t = load_tables(spark, sf_dir)
    sessions = (
        t["events"]
        .groupBy(
            "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
        )
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    )
    return interval_overlap_counts(sessions, "day", "s", "e")


@register(
    "events_interval_union",
    """
    WITH sessions AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             min(ts) AS s, max(ts) AS e
      FROM events GROUP BY 1, 2
    ),
    ev AS (
      SELECT day, epoch_us(s) AS t, 1 AS d FROM sessions
      UNION ALL
      SELECT day, epoch_us(e) AS t, -1 AS d FROM sessions
    ),
    scan AS (
      SELECT day, t, d,
             lag(t) OVER w AS prev_t,
             coalesce(sum(d) OVER (PARTITION BY day ORDER BY t, d DESC
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS active_before
      FROM ev
      WINDOW w AS (PARTITION BY day ORDER BY t, d DESC)
    )
    SELECT day,
           CAST(count(*) / 2 AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN active_before > 0 AND prev_t IS NOT NULL
                         THEN t - prev_t ELSE 0 END) AS BIGINT) AS covered_us
    FROM scan GROUP BY day
    """,
    doc="per-day UNION LENGTH of user activity intervals (coverage "
    "audit: microseconds of the day covered by ≥1 active session) via "
    "the same O(n log n) boundary sweep as join_interval_overlap_count "
    "— +1/−1 boundary events, gap contributes iff active-before > 0, "
    "start-before-end tie order keeps touching intervals continuous.  "
    "One hash shuffle on day, exact integer microseconds; operators/"
    "relational.py::interval_union_length",
)
def events_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.operators.relational import (
        interval_union_length,
    )

    t = load_tables(spark, sf_dir)
    sessions = (
        t["events"]
        .groupBy(
            "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
        )
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    )
    return interval_union_length(sessions, "day", "s", "e")


@register(
    "events_scd2_user_type",
    """
    WITH ordered AS (
      SELECT user_id, ts, event_type, event_id,
             CASE WHEN lag(event_type) OVER w IS NULL
                       OR lag(event_type) OVER w != event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    islands AS (
      SELECT user_id, ts, event_type,
             sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS ver
      FROM ordered
    ),
    runs AS (
      SELECT user_id, ver AS version, event_type,
             min(ts) AS valid_from, count(*) AS n_events
      FROM islands GROUP BY user_id, ver, event_type
    )
    SELECT user_id, CAST(version AS BIGINT) AS version, event_type,
           CAST(epoch_us(valid_from) AS BIGINT) AS valid_from_us,
           CAST(epoch_us(lead(valid_from) OVER w2) AS BIGINT) AS valid_to_us,
           n_events,
           (lead(valid_from) OVER w2 IS NULL) AS is_current
    FROM runs
    WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from)
    """,
    doc="SCD Type-2 dimension history from the event log (gaps-and-islands: "
    "change flag → island numbering → per-run effectivity bounds via lead); "
    "one shuffle on the entity key — operators/relational.py::scd2_collapse",
)
def events_scd2_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.operators.relational import scd2_collapse

    t = load_tables(spark, sf_dir)
    hist = scd2_collapse(t["events"], "user_id", "ts", "event_type", "event_id")
    return hist.select(
        "user_id",
        "version",
        "event_type",
        F.unix_micros("valid_from").alias("valid_from_us"),
        F.unix_micros("valid_to").alias("valid_to_us"),
        "n_events",
        "is_current",
    )


@register(
    "events_variant_props",
    """
    SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
    FROM events GROUP BY 1
    """,
    doc="semi-structured props through Spark 4's VARIANT type: "
    "try_parse_json once, variant_get typed extraction — the binary "
    "variant encoding is parsed once per row instead of re-parsing the "
    "JSON string per extracted field (the at-scale reason the type "
    "exists); oracle states the same semantics over DuckDB json_extract",
)
def events_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    v = t["events"].withColumn("pv", F.try_parse_json("props"))
    return (
        v.groupBy(
            F.pmod(
                F.variant_get(F.col("pv"), "$.k", "long"), F.lit(10)
            ).alias("k_bucket")
        )
        .agg(
            F.count("*").cast("long").alias("n"),
            F.countDistinct("event_type").cast("long").alias("n_types"),
        )
    )


@register(
    "events_funnel_steps",
    """
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, min(s.t1) AS t1, min(e.ts) AS t2
      FROM events e JOIN s1 s USING (user_id)
      WHERE e.event_type = 'click' AND e.ts >= s.t1
        AND e.ts <= s.t1 + INTERVAL 2 DAY
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s2 s USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts >= s.t2
        AND e.ts <= s.t1 + INTERVAL 2 DAY
      GROUP BY e.user_id
    ),
    n AS (SELECT (SELECT count(*) FROM s1) AS n1,
                 (SELECT count(*) FROM s2) AS n2,
                 (SELECT count(*) FROM s3) AS n3)
    SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type, n1 AS n_users,
           CASE WHEN n1 = 0 THEN NULL
                ELSE round(n1 / CAST(n1 AS DOUBLE), 6) END AS frac_of_first FROM n
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'click', n2,
           CASE WHEN n1 = 0 THEN NULL ELSE round(n2 / CAST(n1 AS DOUBLE), 6) END FROM n
    UNION ALL
    SELECT CAST(3 AS BIGINT), 'purchase', n3,
           CASE WHEN n1 = 0 THEN NULL ELSE round(n3 / CAST(n1 AS DOUBLE), 6) END FROM n
    """,
    doc="ordered conversion funnel view → click → purchase with a 2-day "
    "budget from each user's first view (operators/funnel.py): one "
    "min-time aggregation per step, every step keyed on user_id so the "
    "first Exchange's partitioning is reused — no per-user event-history "
    "collect or sort; the product-analytics operator the reference's "
    "event tables exist to answer",
)
def events_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.operators.funnel import funnel_counts

    t = load_tables(spark, sf_dir)
    return funnel_counts(
        t["events"],
        "user_id",
        "ts",
        "event_type",
        ["view", "click", "purchase"],
        within="2 DAY",
    ).select(
        F.col("step"),
        "event_type",
        F.col("n_users").cast("long").alias("n_users"),
        "frac_of_first",
    )


@register(
    "events_retention_cohorts",
    """
    WITH firsts AS (
      SELECT user_id, min(CAST(date_trunc('week', ts) AS DATE)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(floor(date_diff('day', f.cohort_week,
                                  CAST(date_trunc('week', e.ts) AS DATE)) / 7)
                  AS BIGINT) AS week_offset
      FROM events e JOIN firsts f USING (user_id)
    ),
    sizes AS (SELECT cohort_week, count(*) AS cohort_size FROM firsts GROUP BY cohort_week)
    SELECT a.cohort_week, a.week_offset,
           CAST(count(*) AS BIGINT) AS n_active,
           round(count(*) / CAST(s.cohort_size AS DOUBLE), 6) AS retention
    FROM activity a JOIN sizes s USING (cohort_week)
    GROUP BY a.cohort_week, a.week_offset, s.cohort_size
    """,
    doc="weekly retention cohort matrix: users bucketed by first-seen "
    "week, per (cohort, week-offset) active-user counts and retention "
    "fraction — the product-analytics triangle view.  Two aggregations "
    "keyed on user (Exchange reuse with the funnel's shape) + one "
    "coarse (cohort, offset) rollup; no per-user history collect",
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    ev = t["events"].select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("wk")
    )
    firsts = ev.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.floor(F.datediff(F.col("wk"), F.col("cohort_week")) / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .distinct()
    )
    sizes = firsts.groupBy("cohort_week").agg(F.count("*").alias("cohort_size"))
    return (
        activity.groupBy("cohort_week", "week_offset")
        .agg(F.count("*").cast("long").alias("n_active"))
        .join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            F.round(F.col("n_active") / F.col("cohort_size").cast("double"), 6).alias(
                "retention"
            ),
        )
    )


@register(
    "cdc_apply_latest",
    """
    WITH log AS (
      SELECT user_id AS key, event_id AS seq,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
             value
      FROM events
    ),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY key
               ORDER BY seq DESC, (op = 'D') DESC, op DESC) AS rn
      FROM log
    )
    SELECT key, value FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
    doc="CDC change-log apply, last-write-wins with delete tombstones "
    "(operators/cdc.py::cdc_apply_latest — the MERGE/compaction half of "
    "Delta-style CDC as plain DataFrame ops): the events stream doubles "
    "as the op log (event_id = sequence, 'error' = delete); one window "
    "on the key, WindowGroupLimit prunes losers map-side, no global "
    "sort or collect",
)
def cdc_apply_latest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.operators.cdc import cdc_apply_latest

    t = load_tables(spark, sf_dir)
    log = t["events"].select(
        F.col("user_id").alias("key"),
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        "value",
    )
    return cdc_apply_latest(log, ["key"], "seq")


@register(
    "cdc_snapshot_diff",
    """
    WITH old AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
    new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END
               AS o_orderstatus,
             o_totalprice
      FROM orders WHERE o_orderkey % 5 <> 0
      UNION ALL
      SELECT o_orderkey + 1000000, 'N', 1.0
      FROM orders WHERE o_orderkey % 11 = 0
    )
    SELECT 'I' AS op, n.o_orderkey, n.o_orderstatus, n.o_totalprice
    FROM new n LEFT JOIN old o USING (o_orderkey) WHERE o.o_orderkey IS NULL
    UNION ALL
    SELECT 'D', o.o_orderkey, CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
    FROM old o LEFT JOIN new n USING (o_orderkey) WHERE n.o_orderkey IS NULL
    UNION ALL
    SELECT 'U', n.o_orderkey, n.o_orderstatus, n.o_totalprice
    FROM new n JOIN old o USING (o_orderkey)
    WHERE n.o_orderstatus IS DISTINCT FROM o.o_orderstatus
       OR n.o_totalprice IS DISTINCT FROM o.o_totalprice
    """,
    doc="snapshot diff → minimal I/U/D changelog (operators/cdc.py::"
    "cdc_snapshot_diff — the Change-Data-Feed half): deterministic "
    "'new' snapshot derived from orders (drop %5 keys, mutate %7 "
    "status, insert %11 twins); one co-partitioned full-outer join on "
    "the key, null-safe value comparison",
)
def cdc_snapshot_diff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.operators.cdc import cdc_snapshot_diff

    t = load_tables(spark, sf_dir)
    old = t["orders"].select("o_orderkey", "o_orderstatus", "o_totalprice")
    new = (
        t["orders"]
        .filter(F.col("o_orderkey") % 5 != 0)
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 7 == 0, F.lit("X"))
            .otherwise(F.col("o_orderstatus"))
            .alias("o_orderstatus"),
            "o_totalprice",
        )
        .unionByName(
            t["orders"]
            .filter(F.col("o_orderkey") % 11 == 0)
            .select(
                (F.col("o_orderkey") + 1000000).alias("o_orderkey"),
                F.lit("N").alias("o_orderstatus"),
                F.lit(1.0).alias("o_totalprice"),
            )
        )
    )
    out = cdc_snapshot_diff(old, new, ["o_orderkey"])
    # D rows carry the NEW side's null payload by construction; project
    # explicitly so both engines emit identical null columns
    return out.select(
        "op",
        "o_orderkey",
        F.when(F.col("op") != "D", F.col("o_orderstatus")).alias("o_orderstatus"),
        F.when(F.col("op") != "D", F.col("o_totalprice")).alias("o_totalprice"),
    )


@register(
    "events_anomaly_zscore",
    """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS c
      FROM events GROUP BY event_type, date_trunc('hour', ts)
    ),
    stats AS (
      SELECT event_type, hr, c,
             count(*)  OVER w AS n,
             sum(c)    OVER w AS s1,
             sum(c * c) OVER w AS s2
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY hr
                   ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, hr, CAST(c AS BIGINT) AS c,
           round((c - CAST(s1 AS DOUBLE) / n)
                 / sqrt(CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
                 * n / sqrt(CAST(n AS DOUBLE) * (n - 1)), 6) AS zscore
    FROM stats
    WHERE n >= 3 AND CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1 > 0
    """,
    doc="trailing-window anomaly z-score per (event_type, hour): count "
    "vs the previous 6 hours' sample mean/std — the observability "
    "query over event streams.  The trailing moments are INTEGER sums "
    "(counts), so mean/std derive from exact arithmetic and the float "
    "z-score is engine-identical (same exact-moment recipe as "
    "agg_corr_regression); ROWS frame per type, one shuffle on "
    "event_type",
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    hourly = (
        t["events"]
        .groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("hr"))
        .agg(F.count("*").alias("c"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(-6, -1)
    )
    stats = hourly.select(
        "event_type",
        "hr",
        "c",
        F.count("*").over(w).alias("n"),
        F.sum("c").over(w).alias("s1"),
        F.sum(F.col("c") * F.col("c")).over(w).alias("s2"),
    )
    nD = F.col("n").cast("double")
    s1D = F.col("s1").cast("double")
    var_num = nD * F.col("s2").cast("double") - s1D * s1D
    z = (
        (F.col("c") - s1D / F.col("n"))
        / F.sqrt(var_num)
        * F.col("n")
        / F.sqrt(nD * (F.col("n") - 1))
    )
    return stats.filter((F.col("n") >= 3) & (var_num > 0)).select(
        "event_type",
        "hr",
        F.col("c").cast("long").alias("c"),
        F.round(z, 6).alias("zscore"),
    )


@register(
    "events_gap_fill_hourly",
    """
    WITH b AS (
      SELECT user_id AS key, min(date_trunc('hour', ts)) AS lo,
             max(date_trunc('hour', ts)) AS hi
      FROM events GROUP BY user_id
    ),
    grid AS (
      SELECT key, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket_ts
      FROM b
    ),
    obs AS (
      SELECT key, bucket_ts, v FROM (
        SELECT user_id AS key, date_trunc('hour', ts) AS bucket_ts, value AS v,
               row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1
    )
    SELECT g.key, g.bucket_ts,
           last_value(o.v IGNORE NULLS) OVER (
             PARTITION BY g.key ORDER BY g.bucket_ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
           o.v IS NOT NULL AS observed
    FROM grid g LEFT JOIN obs o ON g.key = o.key AND g.bucket_ts = o.bucket_ts
    """,
    doc="time-series regularization: dense per-user hourly grid between "
    "each user's first and last event with last-observed-value forward "
    "fill (operators/relational.py::gap_fill_forward) — the sensor/"
    "metrics preparation step before regular-spacing window algebra; "
    "grid from sequence() exploded per key (each key materializes only "
    "ITS span, no global calendar cross join), fill via "
    "last(ignorenulls) over an unbounded-preceding window, one key "
    "shuffle reused end-to-end",
)
def events_gap_fill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.operators.relational import gap_fill_forward

    t = load_tables(spark, sf_dir)
    return gap_fill_forward(
        t["events"], "user_id", "ts", "value", bucket="hour",
        tiebreak_col="event_id",
    )


@register(
    "events_gap_interpolate_hourly",
    """
    WITH b AS (
      SELECT user_id AS key, min(date_trunc('hour', ts)) AS lo,
             max(date_trunc('hour', ts)) AS hi
      FROM events GROUP BY user_id
    ),
    grid AS (
      SELECT key, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket_ts
      FROM b
    ),
    obs AS (
      SELECT key, bucket_ts, v FROM (
        SELECT user_id AS key, date_trunc('hour', ts) AS bucket_ts, value AS v,
               row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1
    ),
    g AS (
      SELECT grid.key, grid.bucket_ts, o.v,
             last_value(CASE WHEN o.v IS NOT NULL THEN grid.bucket_ts END IGNORE NULLS)
               OVER fwd AS tp,
             last_value(o.v IGNORE NULLS) OVER fwd AS vp,
             first_value(CASE WHEN o.v IS NOT NULL THEN grid.bucket_ts END IGNORE NULLS)
               OVER bwd AS tn,
             first_value(o.v IGNORE NULLS) OVER bwd AS vn
      FROM grid LEFT JOIN obs o
        ON grid.key = o.key AND grid.bucket_ts = o.bucket_ts
      WINDOW fwd AS (PARTITION BY grid.key ORDER BY grid.bucket_ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             bwd AS (PARTITION BY grid.key ORDER BY grid.bucket_ts
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT key, bucket_ts,
           floor((CASE WHEN v IS NOT NULL THEN v
                       WHEN vp IS NOT NULL AND vn IS NOT NULL
                       THEN vp + (vn - vp)
                            * ((epoch(bucket_ts) - epoch(tp))
                               / CAST(epoch(tn) - epoch(tp) AS DOUBLE))
                       ELSE vp END) * 1000000.0 + 0.5) / 1000000.0 AS value,
           v IS NOT NULL AS observed
    FROM g
    """,
    doc="linear-interpolation twin of the forward fill "
    "(operators/relational.py::gap_fill_interpolate): gap buckets take "
    "the time-weighted blend between the surrounding observations — "
    "two window passes (forward carry + mirrored backward carry) over "
    "ONE key partitioning, no shifted-copy self-join; blend fraction "
    "from exact epoch-second integers, 6-dp rounded",
)
def events_gap_interpolate_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.operators.relational import gap_fill_interpolate

    t = load_tables(spark, sf_dir)
    return gap_fill_interpolate(
        t["events"], "user_id", "ts", "value", bucket="hour",
        tiebreak_col="event_id",
    )


@register(
    "events_ohlc_hourly",
    """
    WITH e AS (
      SELECT time_bucket(INTERVAL 1 HOUR, ts) AS h, event_type, value, ts, event_id
      FROM events
    ),
    w AS (
      SELECT *,
             row_number() OVER (PARTITION BY h, event_type
                                ORDER BY ts, event_id) AS rf,
             row_number() OVER (PARTITION BY h, event_type
                                ORDER BY ts DESC, event_id DESC) AS rl
      FROM e
    )
    SELECT CAST(epoch(h) AS BIGINT) AS window_start, event_type,
           max(CASE WHEN rf = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           max(CASE WHEN rl = 1 THEN value END) AS close,
           count(*) AS n,
           round(sum(value), 2) AS total_value
    FROM w GROUP BY 1, 2
    """,
    doc="OHLC downsampling per (event_type, hour): open/close as algebraic "
    "min_by/max_by over struct(ts, event_id) — one partial+final hash agg, "
    "no per-key sort (the oracle's window form is the naive plan this "
    "replaces); tiebreak on event_id makes ties deterministic",
)
def events_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.operators.relational import ohlc_bars

    t = load_tables(spark, sf_dir)
    return ohlc_bars(
        t["events"], "ts", "value", ["event_type"], window="1 hour",
        tiebreak_col="event_id",
    )


@register(
    "events_attribution_last_touch",
    """
    WITH conv AS (
      SELECT user_id, event_id AS conv_id, ts AS cts, value
      FROM events WHERE event_type = 'purchase'
    ),
    tch AS (
      SELECT user_id, event_id AS touch_id, ts AS tts
      FROM events WHERE event_type = 'click'
    ),
    best AS (
      SELECT conv_id, touch_id, tts FROM (
        SELECT c.conv_id, t.touch_id, t.tts,
               row_number() OVER (PARTITION BY c.conv_id
                                  ORDER BY t.tts DESC, t.touch_id DESC) AS rn
        FROM conv c JOIN tch t
          ON t.user_id = c.user_id AND t.tts <= c.cts
         AND epoch_us(c.cts) - epoch_us(t.tts) <= 86400000000)
      WHERE rn = 1
    )
    SELECT c.user_id, c.conv_id, CAST(epoch_us(c.cts) AS BIGINT) AS conv_us,
           round(c.value, 2) AS conv_value,
           b.touch_id, CAST(epoch_us(b.tts) AS BIGINT) AS touch_us,
           CAST(epoch_us(c.cts) - epoch_us(b.tts) AS BIGINT) AS lag_us
    FROM conv c LEFT JOIN best b USING (conv_id)
    """,
    doc="last-touch attribution: each purchase credited to the user's most "
    "recent click within 24h — union + last-value window (one user-key "
    "shuffle, linear), not the oracle's conversionsxtouches range join "
    "whose pairs grow quadratically in per-user activity; (ts, kind, id) "
    "total order makes simultaneous-event ties partition-invariant",
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.operators.funnel import attribute_last_touch

    t = load_tables(spark, sf_dir)
    return attribute_last_touch(
        t["events"], "user_id", "ts", "event_type", "event_id",
        conv_type="purchase", touch_type="click",
    )


_EWMA_W = [repr((1.0 - 0.3) ** k) for k in range(10)]
_EWMA_LAGS = ",\n             ".join(
    f"lag(value, {k}) OVER win AS l{k}" for k in range(10)
)
_EWMA_NUM = " + ".join(f"coalesce({_EWMA_W[k]} * l{k}, 0.0)" for k in range(10))
_EWMA_DEN = " + ".join(
    f"(CASE WHEN l{k} IS NOT NULL THEN {_EWMA_W[k]} ELSE 0.0 END)"
    for k in range(10)
)


@register(
    "events_ewma_smooth",
    f"""
    WITH lagged AS (
      SELECT user_id, event_id,
             {_EWMA_LAGS}
      FROM events
      WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id,
           round((0.0 + {_EWMA_NUM}) / (0.0 + {_EWMA_DEN}), 6) AS ewma
    FROM lagged
    """,
    doc="trailing-10 EWMA (alpha=0.3) of each user's event values: the "
    "sequential recursive EWMA re-expressed as a bounded lag window — one "
    "user-key shuffle; the decay weights are driver-rendered double "
    "LITERALS shared verbatim with the oracle and both sides fold the "
    "weighted sum left-to-right in lag order, so no pow()/summation-order "
    "ulp divergence is possible",
)
def events_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.operators.relational import ewma_trailing

    t = load_tables(spark, sf_dir)
    return ewma_trailing(
        t["events"], ["user_id"], "ts", "value", alpha=0.3, n=10,
        tiebreak=["event_id"],
    ).select("user_id", "event_id", "ewma")


@register(
    "events_markov_transitions",
    """
    WITH ordered AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    trans AS (
      SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
      FROM ordered WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
           round(n / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE), 6)
             AS p_transition
    FROM trans
    """,
    doc="first-order Markov transition matrix over per-user event "
    "sequences (the product-analytics 'what happens after X' view; "
    "completes the sequence family beside funnel/retention/attribution/"
    "sessionize). Scale: ONE user-key shuffle for the lead() window "
    "(each user's events sort locally within their partition — no "
    "global sort), then a tiny (from,to) agg; transition probabilities "
    "normalize per from-state over the |types|² matrix, driver-free. "
    "Total (ts, event_id) order makes ties partition-invariant.",
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        t["events"]
        .select(
            "user_id",
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n"))
    )
    wt = Window.partitionBy("from_type")
    return trans.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(wt), 6).alias("p_transition"),
    )


@register(
    "events_sessionize_dynamic_gap",
    """
    WITH spans AS (
      SELECT user_id, ts, event_id, value,
             epoch_us(ts) AS t_us,
             epoch_us(ts) + CASE WHEN event_type = 'purchase'
                                 THEN 3600000000 ELSE 900000000 END AS end_us
      FROM events
    ),
    flagged AS (
      SELECT user_id, ts, value, t_us,
             CASE WHEN max(end_us) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING) IS NULL
                  OR t_us >= max(end_us) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id
                                               ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS new_session
      FROM spans
    ),
    sessions AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           count(*) AS n_events,
           CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_s,
           round(sum(value), 2) AS total_value
    FROM sessions GROUP BY user_id, session_id
    """,
    doc="dynamic-gap sessionization (Spark session_window's per-event "
    "gapDuration semantics as an exact batch query): each event extends "
    "its session to ts + gap(event_type) — purchases hold the session "
    "open 60 min, everything else 15 — and a new session starts when an "
    "event lands at/after the RUNNING MAX of previous extents (interval "
    "merge, not mere adjacent-lag: a long-gap event covers short-gap "
    "followers that lag-based flags would split). One user-key shuffle, "
    "three windows over the same partitioning (single Sort+Exchange).",
)
def events_sessionize_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    gap_us = F.when(
        F.col("event_type") == "purchase", F.lit(3600 * 1_000_000)
    ).otherwise(F.lit(900 * 1_000_000))
    spans = t["events"].select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.unix_micros("ts").alias("t_us"),
        (F.unix_micros("ts") + gap_us).alias("end_us"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    run_max = F.max("end_us").over(w_prev)
    flagged = spans.withColumn(
        "new_session",
        F.when(run_max.isNull() | (F.col("t_us") >= run_max), 1).otherwise(0),
    )
    wcum = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sessions = flagged.withColumn("session_id", F.sum("new_session").over(wcum))
    return sessions.groupBy(
        "user_id", F.col("session_id").cast("long").alias("session_id")
    ).agg(
        F.count("*").alias("n_events"),
        F.unix_timestamp(F.min("ts")).alias("session_start_s"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@register(
    "events_sequence_pattern",
    """
    WITH seqs AS (
      SELECT user_id,
             string_agg(substring(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(seq) AS BIGINT) AS seq_len,
           CAST((len(seq) - len(replace(seq, 'vp', ''))) // 2 AS BIGINT)
             AS n_adjacent_vp,
           CAST(len(regexp_extract_all(seq, 'v[^vp]*p')) AS BIGINT)
             AS n_view_then_purchase
    FROM seqs
    """,
    doc="MATCH_RECOGNIZE-style sequence-pattern counts per user: each "
    "user's event history collapses to an initials string in total "
    "(ts, event_id) order — one user-key shuffle, state bounded by the "
    "user's own history — then pattern occurrences are counted with "
    "engine-safe primitives (replace-difference for the adjacent "
    "view→purchase bigram; a backtracking-free character-class regex "
    "for view…purchase with no intervening view/purchase, where Java "
    "leftmost-first and RE2 leftmost-longest provably agree)",
)
def events_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    seqs = (
        t["events"]
        .select(
            "user_id",
            F.struct("ts", "event_id", F.substring("event_type", 1, 1).alias("c")).alias("s"),
        )
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list("s")), lambda x: x["c"]), ""
            ).alias("seq")
        )
    )
    return seqs.select(
        "user_id",
        F.length("seq").cast("long").alias("seq_len"),
        F.expr("(length(seq) - length(replace(seq, 'vp', ''))) div 2")
        .cast("long")
        .alias("n_adjacent_vp"),
        F.size(F.regexp_extract_all(F.col("seq"), F.lit(r"v[^vp]*p"), F.lit(0)))
        .cast("long")
        .alias("n_view_then_purchase"),
    )


@register(
    "events_twap_user",
    """
    WITH o AS (
      SELECT user_id, value, ts, event_id,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nts
      FROM events
    ),
    d AS (
      SELECT user_id, value, ts, event_id,
             epoch_us(nts) - epoch_us(ts) AS dt
      FROM o WHERE nts IS NOT NULL
    )
    SELECT user_id,
           count(*) AS n_intervals,
           CAST(sum(dt) AS BIGINT) AS span_us,
           round(sum(value * dt ORDER BY ts, event_id)
                 / CAST(sum(dt) AS DOUBLE), 6) AS twap
    FROM d GROUP BY user_id
    """,
    doc="time-weighted average value per user over irregular event "
    "timestamps (TimescaleDB time_weight shape — each observation "
    "holds until the next one): interval weights are EXACT microsecond "
    "longs from one lead() over the user-key partitioning, and the "
    "weighted sum folds in total (ts, event_id) order in both engines "
    "(sorted-fold recipe), so the float TWAP is engine- and "
    "partitioning-identical; single user-key shuffle, state bounded "
    "per user",
)
def events_twap_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = t["events"].select(
        "user_id",
        "value",
        "ts",
        "event_id",
        (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))).alias(
            "dt"
        ),
    ).filter(F.col("dt").isNotNull())
    return (
        o.groupBy("user_id")
        .agg(
            F.count("*").alias("n_intervals"),
            F.sum("dt").alias("span_us"),
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", (F.col("value") * F.col("dt")).alias("wv")))
            ).alias("sorted_wv"),
        )
        .select(
            "user_id",
            "n_intervals",
            "span_us",
            F.round(
                F.expr("aggregate(sorted_wv, 0D, (a, x) -> a + x.wv)")
                / F.col("span_us").cast("double"),
                6,
            ).alias("twap"),
        )
    )


@register(
    "events_robust_zscore_mad",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    mad AS (
      SELECT e.event_type, m.med,
             quantile_cont(abs(e.value - m.med), 0.5) AS mad
      FROM events e JOIN med m USING (event_type)
      GROUP BY e.event_type, m.med
    )
    SELECT e.event_id, e.event_type,
           round((e.value - m.med) / (1.4826 * m.mad), 6) AS robust_z,
           abs((e.value - m.med) / (1.4826 * m.mad)) > 3.5 AS is_outlier
    FROM events e JOIN mad m USING (event_type)
    """,
    doc="median/MAD robust z-score (Iglewicz-Hoberg outlier rule, "
    "|z| > 3.5 at the 1.4826 normal-consistency constant) — the "
    "outlier gate that, unlike the mean/stddev z-score "
    "(events_anomaly_zscore), cannot be dragged by the outliers it "
    "hunts; two type-keyed aggregates (exact interpolated medians, "
    "Spark percentile ≡ DuckDB quantile_cont) broadcast back onto one "
    "events scan",
)
def events_robust_zscore_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    ev = t["events"].select("event_id", "event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "med")
        .agg(F.expr("percentile(abs(value - med), 0.5)").alias("mad"))
    )
    z = (F.col("value") - F.col("med")) / (F.lit(1.4826) * F.col("mad"))
    return (
        ev.join(F.broadcast(mad), "event_type")
        .select(
            "event_id",
            "event_type",
            F.round(z, 6).alias("robust_z"),
            (F.abs(z) > 3.5).alias("is_outlier"),
        )
    )


@register(
    "events_attribution_linear",
    """
    WITH conv AS (
      SELECT user_id, event_id AS conv_id, ts AS cts, value
      FROM events WHERE event_type = 'purchase'
    ),
    tch AS (
      SELECT user_id, event_id AS touch_id, ts AS tts
      FROM events WHERE event_type = 'click'
    ),
    pairs AS (
      SELECT c.conv_id, c.value, t.touch_id,
             count(*) OVER (PARTITION BY c.conv_id) AS n_touches
      FROM conv c JOIN tch t
        ON t.user_id = c.user_id AND t.tts <= c.cts
       AND epoch_us(c.cts) - epoch_us(t.tts) <= 86400000000
    )
    SELECT conv_id, touch_id, CAST(n_touches AS BIGINT) AS n_touches,
           round(value / n_touches, 6) AS credit
    FROM pairs
    """,
    doc="linear multi-touch attribution: each purchase's value split "
    "equally across ALL clicks in its 24h lookback — the fairness twin "
    "of events_attribution_last_touch; the engine generates candidates "
    "via day-bucketed equi join + residual (the join_interval_overlap "
    "pattern: cost ∝ per-user-day activity, never user history), while "
    "the oracle keeps the plain quadratic range join; credit = exact "
    "double value/n identical in both engines",
)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    ev = t["events"]
    DAY = 86_400_000_000
    conv = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("conv_id"),
        F.unix_micros("ts").alias("cus"),
        "value",
    )
    tch = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("t_user"),
        F.col("event_id").alias("touch_id"),
        F.unix_micros("ts").alias("tus"),
        (F.unix_micros("ts") / F.lit(DAY)).cast("long").alias("t_day"),
    )
    probes = conv.select(
        "*",
        F.explode(
            F.array(
                (F.col("cus") / F.lit(DAY)).cast("long"),
                (F.col("cus") / F.lit(DAY)).cast("long") - 1,
            )
        ).alias("p_day"),
    )
    pairs = probes.join(
        tch,
        (F.col("t_user") == F.col("user_id"))
        & (F.col("t_day") == F.col("p_day"))
        & (F.col("tus") <= F.col("cus"))
        & (F.col("cus") - F.col("tus") <= DAY),
    )
    w = Window.partitionBy("conv_id")
    return pairs.select(
        "conv_id",
        "touch_id",
        F.count("*").over(w).cast("long").alias("n_touches"),
        F.round(F.col("value") / F.count("*").over(w), 6).alias("credit"),
    )


@register(
    "events_seasonal_profile",
    """
    WITH e AS (
      SELECT CAST(isodow(ts) - 1 AS BIGINT) AS dow,  -- Monday=0, both engines
             CAST(hour(ts) AS BIGINT) AS hr,
             CAST(floor(value * 1000000) AS BIGINT) AS v_fp
      FROM events
    ),
    g AS (SELECT sum(v_fp) AS s, count(*) AS n FROM e),
    prof AS (
      SELECT dow, hr, count(*) AS n_cell, sum(v_fp) AS s_cell
      FROM e GROUP BY dow, hr
    )
    SELECT dow, hr, CAST(n_cell AS BIGINT) AS n,
           round(s_cell / (n_cell * 1000000.0), 6) AS cell_mean,
           round(s_cell / (n_cell * 1000000.0)
                 - g.s / (g.n * 1000000.0), 6) AS seasonal_component
    FROM prof CROSS JOIN g
    """,
    doc="weekly seasonality profile (STL-lite additive decomposition: "
    "per (day-of-week, hour) mean minus the grand mean = the seasonal "
    "component a monitoring pipeline subtracts before anomaly scoring "
    "— events_anomaly_zscore's trailing window assumes de-seasonalized "
    "input); fixed-point integer sums → exact cell means at any "
    "volume, ONE map-side-combined aggregate over a 7×24-bounded grid",
)
def events_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    e = t["events"].select(
        F.weekday("ts").cast("long").alias("dow"),  # Monday=0, both engines
        F.hour("ts").cast("long").alias("hr"),
        F.floor(F.col("value") * 1_000_000).cast("long").alias("v_fp"),
    )
    g = e.agg(F.sum("v_fp").alias("s"), F.count("*").alias("n")).collect()[0]
    if not g["n"]:
        return e.select(
            "dow", "hr",
            F.lit(0).cast("long").alias("n"),
            F.lit(0.0).alias("cell_mean"),
            F.lit(0.0).alias("seasonal_component"),
        ).limit(0)
    grand = int(g["s"]) / (int(g["n"]) * 1_000_000.0)
    cell_mean = F.sum("v_fp") / (F.count("*") * 1_000_000.0)
    return e.groupBy("dow", "hr").agg(
        F.count("*").cast("long").alias("n"),
        F.round(cell_mean, 6).alias("cell_mean"),
        F.round(cell_mean - F.lit(grand), 6).alias("seasonal_component"),
    )


@register(
    "events_cusum_changepoint",
    """
    WITH x AS (
      SELECT event_type, ts, event_id,
             CAST(floor(value * 1000000) AS BIGINT) AS v_fp
      FROM events
    ),
    tot AS (
      SELECT event_type, sum(v_fp) AS s_tot, count(*) AS n
      FROM x GROUP BY event_type
    ),
    cum AS (
      SELECT x.event_type, x.ts, x.event_id, t.n, t.s_tot,
             sum(x.v_fp) OVER (PARTITION BY x.event_type
                               ORDER BY x.ts, x.event_id) AS s_cum,
             row_number() OVER (PARTITION BY x.event_type
                                ORDER BY x.ts, x.event_id) AS i
      FROM x JOIN tot t USING (event_type)
    ),
    dev AS (
      SELECT event_type, ts, event_id, n,
             n * s_cum - i * s_tot AS t_stat
      FROM cum
    ),
    best AS (
      SELECT event_type,
             (max({'a': abs(t_stat), 'ts': ts, 'i': event_id})).ts AS cp_ts,
             (max({'a': abs(t_stat), 'ts': ts, 'i': event_id})).a AS t_max,
             any_value(n) AS n
      FROM dev GROUP BY event_type
    )
    SELECT event_type, CAST(epoch_us(cp_ts) AS BIGINT) AS cp_us,
           round(t_max / (CAST(n AS DOUBLE) * n * 1000000.0), 6)
             AS cusum_stat
    FROM best
    """,
    doc="CUSUM changepoint per event type: the time where the "
    "cumulative deviation from the series mean peaks — computed in "
    "EXACT int64 throughout by multiplying the mean out "
    "(T_i = n·S_i − i·S_total, so no float cumsum can drift and the "
    "argmax cannot flip); struct-max argmax with (ts, id) tiebreak; "
    "one event_type-keyed window Exchange reused by the cumsum and "
    "row_number; the level-shift monitor feeding drift alerts "
    "(normalized statistic = T_max/(n²·1e6) ≈ max |mean gap|); "
    "int64 headroom: |T| ≤ n·|S_tot| — safe to ~3e9 fixed-point row "
    "mass per type, cast the products to decimal(38,0) beyond",
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.operators.ordering import (
        grid_partitioned_rank_and_sum,
    )

    t = load_tables(spark, sf_dir)
    x = t["events"].select(
        "event_type",
        "ts",
        "event_id",
        F.floor(F.col("value") * 1_000_000).cast("long").alias("v_fp"),
    )
    tot = x.groupBy("event_type").agg(
        F.sum("v_fp").alias("s_tot"), F.count("*").alias("n")
    )
    # per-type cumsum + ordinal, grid-decomposed on the day bucket
    # (monotone in (ts, event_id) order): a type's events are corpus/k
    # rows, and a raw per-type window would pin them to one task —
    # the same single-task hazard as an unpartitioned window, one
    # partitionBy short of obvious
    cum = grid_partitioned_rank_and_sum(
        x.join(F.broadcast(tot), "event_type"),
        ["event_type"],
        F.unix_micros(F.date_trunc("day", F.col("ts"))),
        [F.col("ts"), F.col("event_id")],
        F.col("v_fp"),
        out_rn="i",
        out_cum="s_cum",
    )
    dev = cum.select(
        "event_type",
        "ts",
        "event_id",
        "n",
        (F.col("n") * F.col("s_cum") - F.col("i") * F.col("s_tot")).alias(
            "t_stat"
        ),
    )
    key = F.struct(
        F.abs(F.col("t_stat")).alias("a"),
        F.col("ts").alias("ts"),
        F.col("event_id").alias("i"),
    )
    best = dev.groupBy("event_type").agg(
        F.max(key)["ts"].alias("cp_ts"),
        F.max(key)["a"].alias("t_max"),
        F.first("n").alias("n"),
    )
    return best.select(
        "event_type",
        F.unix_micros("cp_ts").alias("cp_us"),
        F.round(
            F.col("t_max")
            / (F.col("n").cast("double") * F.col("n") * 1_000_000.0),
            6,
        ).alias("cusum_stat"),
    )


@register(
    "events_funnel_latency",
    """
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, min(s.t1) AS t1, min(e.ts) AS t2
      FROM events e JOIN s1 s USING (user_id)
      WHERE e.event_type = 'click' AND e.ts >= s.t1
        AND e.ts <= s.t1 + INTERVAL 2 DAY
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s2 s USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts >= s.t2
        AND e.ts <= s.t1 + INTERVAL 2 DAY
      GROUP BY e.user_id
    ),
    l12 AS (SELECT epoch_us(t2) - epoch_us(t1) AS lag_us FROM s2),
    l23 AS (SELECT epoch_us(s3.t3) - epoch_us(s2.t2) AS lag_us
            FROM s3 JOIN s2 USING (user_id))
    SELECT 'view->click' AS step_pair, CAST(count(*) AS BIGINT) AS n_users,
           round(quantile_cont(lag_us, 0.5), 4) AS p50_us,
           round(quantile_cont(lag_us, 0.9), 4) AS p90_us
    FROM l12
    UNION ALL
    SELECT 'click->purchase', CAST(count(*) AS BIGINT),
           round(quantile_cont(lag_us, 0.5), 4),
           round(quantile_cont(lag_us, 0.9), 4)
    FROM l23
    """,
    doc="step-to-step funnel latency percentiles (p50/p90 of the "
    "view→click and click→purchase conversion lags) — the time-to-"
    "convert report next to events_funnel_steps' count report; exact "
    "interpolated percentiles over integer microsecond lags (Spark "
    "percentile ≡ DuckDB quantile_cont); reuses funnel_times, so the "
    "lags ride the same user-keyed min-time aggregates",
)
def events_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.operators.funnel import funnel_times

    t = load_tables(spark, sf_dir)
    times = funnel_times(
        t["events"], "user_id", "ts", "event_type",
        ["view", "click", "purchase"], within="2 DAY",
    )
    l12 = times.filter(F.col("t2").isNotNull()).select(
        (F.unix_micros("t2") - F.unix_micros("t1")).alias("lag_us")
    )
    l23 = times.filter(F.col("t3").isNotNull()).select(
        (F.unix_micros("t3") - F.unix_micros("t2")).alias("lag_us")
    )

    def summarize(df, label):
        # one shared percentile buffer for both quantiles (the
        # agg_percentiles array-form optimization; same interpolation)
        return df.agg(
            F.lit(label).alias("step_pair"),
            F.count("*").cast("long").alias("n_users"),
            F.expr("percentile(lag_us, array(0.5, 0.9))").alias("__pp"),
        ).select(
            "step_pair",
            "n_users",
            F.round(F.element_at("__pp", 1), 4).alias("p50_us"),
            F.round(F.element_at("__pp", 2), 4).alias("p90_us"),
        )

    return summarize(l12, "view->click").unionByName(
        summarize(l23, "click->purchase")
    )


@register(
    "events_funnel_latency_kll",
    None,  # sketch-approximate by design — gated against the exact
    # events_funnel_latency percentiles within the published KLL
    # rank-error bound in tests/test_sketches.py at sf0.01 AND sf0.1
    doc="the 100 TB path for events_funnel_latency made driver-visible: "
    "p50/p90 conversion lags from ONE map-side-combinable KLL(2048) "
    "aggregate per step pair (operators/sketches.kll_group_quantiles) "
    "instead of exact percentile() aggregates whose buffers hold every "
    "lag in executor memory — unbounded state that OOMs when a step "
    "pair has 10^9 converting users.  Returned quantiles are true "
    "stream items with rank within ~1.65/√k of the target; pairs with "
    "stats_ks_test_kll / stats_mannwhitney_u_kll as the sketch twins "
    "of the exact-percentile family.  Same run-determinism boundary as "
    "those: KLL compaction coin-flips beyond ~k buffered items, so the "
    "bound test, not value equality, is the contract",
)
def events_funnel_latency_kll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.operators.funnel import funnel_times
    from knowledge_model_spark.operators.sketches import kll_group_quantiles

    t = load_tables(spark, sf_dir)
    times = funnel_times(
        t["events"], "user_id", "ts", "event_type",
        ["view", "click", "purchase"], within="2 DAY",
    )
    l12 = times.filter(F.col("t2").isNotNull()).select(
        F.lit("view->click").alias("step_pair"),
        (F.unix_micros("t2") - F.unix_micros("t1")).alias("lag_us"),
    )
    l23 = times.filter(F.col("t3").isNotNull()).select(
        F.lit("click->purchase").alias("step_pair"),
        (F.unix_micros("t3") - F.unix_micros("t2")).alias("lag_us"),
    )
    out = kll_group_quantiles(
        l12.unionByName(l23), ["step_pair"], "lag_us", [0.5, 0.9],
        count_as="n_users",
    )
    return out.select(
        "step_pair",
        "n_users",
        F.col("q_50").alias("p50_us"),
        F.col("q_90").alias("p90_us"),
    )


@register(
    "events_rolling_1h_value",
    """
    SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
           CAST(sum(floor(value * 1000000)) OVER w AS BIGINT) AS roll_sum_fp,
           CAST(count(*) OVER w AS BIGINT) AS roll_n
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
    doc="trailing 1-hour rolling sum/count per user via a timestamp "
    "RANGE INTERVAL frame — the time-based frame the numeric RANGE "
    "window (window_range_frame_revenue) doesn't cover, and the exact "
    "streaming-window batch twin (same semantics as a sliding window "
    "evaluated at event times).  Fixed-point int64 values keep the "
    "rolling sums exact (no float cumsum drift); one user-key "
    "Exchange; frame bounds are data values, so the result is "
    "partition-invariant by construction",
)
def events_rolling_1h_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT user_id, CAST(unix_micros(ts) AS BIGINT) AS ts_us,
               CAST(sum(floor(value * 1000000)) OVER w AS BIGINT) AS roll_sum_fp,
               CAST(count(*) OVER w AS BIGINT) AS roll_n
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        """
    )


@register(
    "events_peak_concurrency",
    """
    WITH sessions AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             min(ts) AS s, max(ts) AS e
      FROM events GROUP BY 1, 2
    ),
    ev AS (
      SELECT day, epoch_us(s) AS t, 1 AS d FROM sessions
      UNION ALL
      SELECT day, epoch_us(e) AS t, -1 AS d FROM sessions
    ),
    scan AS (
      SELECT day, t,
             sum(d) OVER (PARTITION BY day ORDER BY t, d DESC
                          ROWS UNBOUNDED PRECEDING) AS active
      FROM ev
    ),
    peaks AS (
      SELECT day, t, active,
             max(active) OVER (PARTITION BY day) AS peak
      FROM scan
    )
    SELECT day,
           CAST(count(*) / 2 AS BIGINT) AS n_sessions,
           CAST(max(active) AS BIGINT) AS peak_concurrency,
           min(CASE WHEN active = peak THEN t END) AS first_peak_us
    FROM peaks GROUP BY day
    """,
    doc="per-day PEAK CONCURRENCY of user activity intervals (capacity "
    "audit: maximum simultaneously-active sessions, plus the first "
    "microsecond instant the peak is reached) via the same O(n log n) "
    "+1/−1 boundary sweep as events_interval_union — running active "
    "count inclusive of the boundary, start-before-end tie order for "
    "closed-interval semantics.  One hash shuffle on day; the peak "
    "window and the groupBy both reuse that partitioning — "
    "operators/relational.py::interval_peak_concurrency",
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.operators.relational import (
        interval_peak_concurrency,
    )

    t = load_tables(spark, sf_dir)
    sessions = (
        t["events"]
        .groupBy(
            "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
        )
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    )
    return interval_peak_concurrency(sessions, "day", "s", "e")


@register(
    "events_rfm_scores",
    """
    WITH anchor AS (SELECT max(ts) AS t_max FROM events),
    per_user AS (
      SELECT user_id,
             CAST(date_diff('day', CAST(max(ts) AS DATE),
                            CAST(any_value(t_max) AS DATE)) AS BIGINT)
               AS recency_days,
             count(*) AS frequency,
             CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
               AS monetary_micros
      FROM events CROSS JOIN anchor GROUP BY user_id
    ),
    scored AS (
      SELECT user_id, recency_days, frequency, monetary_micros,
             CAST(ntile(5) OVER (ORDER BY recency_days, user_id) AS INTEGER)
               AS r_score,
             CAST(ntile(5) OVER (ORDER BY frequency DESC, user_id) AS INTEGER)
               AS f_score,
             CAST(ntile(5) OVER (ORDER BY monetary_micros DESC, user_id) AS INTEGER)
               AS m_score
      FROM per_user
    )
    SELECT user_id, recency_days, frequency, monetary_micros,
           r_score, f_score, m_score,
           CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
             || CAST(m_score AS VARCHAR) AS rfm_segment
    FROM scored
    """,
    doc="RFM (recency/frequency/monetary) quintile segmentation per "
    "user — the classic cohort-scoring operator.  Quintile = best (1) "
    "to worst (5).  Monetary folds as exact micro-units (floor of "
    "value×1e6 is bit-identical IEEE math on both engines, then an "
    "order-free integer sum) so the ntile sort key is never an "
    "order-sensitive float accumulation; the outer CAST pins DuckDB's "
    "HUGEINT sum back to BIGINT so pandas does not widen it to float64 "
    "(the driver's value hash is representation-sensitive: 1234.0 ≠ "
    "1234).  The global ntile windows are "
    "single-partition by semantics — acceptable because their input is "
    "ONE ROW PER USER (the heavy per-event work is the groupBy before "
    "them); at 100 TB the per-user table is still ~millions of rows "
    "through one partition, three times — the registered drop-in scale "
    "twin events_rfm_scores_kll replaces the windows with KLL quintile "
    "boundaries + scan-speed bucketing (rank-error-gated in "
    "tests/test_sketches.py at sf0.01 AND sf0.1)",
)
def events_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    per_user = _rfm_per_user(t["events"])
    w_r = Window.orderBy("recency_days", "user_id")
    w_f = Window.orderBy(F.col("frequency").desc(), "user_id")
    w_m = Window.orderBy(F.col("monetary_micros").desc(), "user_id")
    scored = per_user.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary_micros",
        F.ntile(5).over(w_r).cast("int").alias("r_score"),
        F.ntile(5).over(w_f).cast("int").alias("f_score"),
        F.ntile(5).over(w_m).cast("int").alias("m_score"),
    )
    return scored.withColumn(
        "rfm_segment",
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ),
    )


def _rfm_per_user(ev: DataFrame) -> DataFrame:
    """Shared per-user (recency, frequency, monetary) rollup — the heavy
    per-event groupBy that both the exact RFM query and its KLL twin
    run before scoring."""
    anchor = ev.agg(F.max("ts").alias("t_max"))
    return (
        ev.crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            F.datediff(
                F.to_date(F.any_value("t_max")), F.to_date(F.max("ts"))
            )
            .cast("long")
            .alias("recency_days"),
            F.count("*").alias("frequency"),
            F.sum(F.floor(F.col("value") * 1000000).cast("long")).alias(
                "monetary_micros"
            ),
        )
    )


@register(
    "events_rfm_scores_kll",
    None,  # approximate quintile boundaries by design; score
    # distributions are rank-error-gated against the exact ntile twin
    # in tests/test_sketches.py at sf0.01 AND sf0.1
    doc="the 100 TB twin of events_rfm_scores: quintile BOUNDARIES for "
    "recency/frequency/monetary from ONE map-side-combinable "
    "KLL(2048) aggregate (three sketches, one groupBy, O(k) reducer "
    "state), then every user scores by four broadcast threshold "
    "comparisons per dimension at scan speed — no global "
    "single-partition ntile window anywhere in the plan.  Scoring "
    "convention matches the exact twin: quintile 1 = best (lowest "
    "recency / highest frequency / highest monetary).  Buckets can "
    "differ from exact ntile only at tied or boundary-adjacent values "
    "(KLL is exact while n<k; beyond that the published ~1.65/sqrt(k) "
    "rank error applies), so the per-score bucket-count gate carries a "
    "tie-run + rank-error tolerance.  This is the executable form at "
    "corpus scale: the sketch agg shuffles O(k) state per partition, "
    "not one row per user through a single partition three times",
)
def events_rfm_scores_kll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.operators.sketches import (
        kll_group_multi_quantiles,
    )

    t = load_tables(spark, sf_dir)
    per_user = _rfm_per_user(t["events"])
    metrics = ("recency_days", "frequency", "monetary_micros")
    specs = [
        (m, q, f"{m}_q{round(q * 100)}")
        for m in metrics
        for q in (0.2, 0.4, 0.6, 0.8)
    ]
    bounds = kll_group_multi_quantiles(
        per_user.withColumn("__g", F.lit(1)), ["__g"], specs
    ).drop("__g", "n")

    def _asc(col: str) -> F.Column:  # low = best (recency)
        v = F.col(col)
        return (
            F.lit(1)
            + (v > F.col(f"{col}_q20")).cast("int")
            + (v > F.col(f"{col}_q40")).cast("int")
            + (v > F.col(f"{col}_q60")).cast("int")
            + (v > F.col(f"{col}_q80")).cast("int")
        )

    def _desc(col: str) -> F.Column:  # high = best (frequency, monetary)
        v = F.col(col)
        return (
            F.lit(1)
            + (v < F.col(f"{col}_q80")).cast("int")
            + (v < F.col(f"{col}_q60")).cast("int")
            + (v < F.col(f"{col}_q40")).cast("int")
            + (v < F.col(f"{col}_q20")).cast("int")
        )

    scored = per_user.crossJoin(F.broadcast(bounds)).select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary_micros",
        _asc("recency_days").alias("r_score"),
        _desc("frequency").alias("f_score"),
        _desc("monetary_micros").alias("m_score"),
    )
    return scored.withColumn(
        "rfm_segment",
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ),
    )


@register(
    "events_acf_hourly",
    """
    WITH hourly AS (
      SELECT CAST(epoch(time_bucket(INTERVAL 1 HOUR, ts)) AS BIGINT) AS h,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    lagged AS (
      SELECT l.lag_h, a.n AS x, b.n AS y
      FROM hourly a
      CROSS JOIN (VALUES (1),(2),(3),(6),(12),(24)) l(lag_h)
      JOIN hourly b ON b.h = a.h + l.lag_h * 3600
    ),
    sums AS (
      SELECT lag_h, CAST(count(*) AS BIGINT) AS np,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(y*y) AS BIGINT) AS syy,
             CAST(sum(x*y) AS BIGINT) AS sxy
      FROM lagged GROUP BY lag_h
    )
    SELECT lag_h, np AS n_pairs,
           (np * sxy - sx * sy)
             / sqrt(CAST(np * sxx - sx * sx AS DOUBLE)
                    * CAST(np * syy - sy * sy AS DOUBLE)) AS acf
    FROM sums
    """,
    doc="autocorrelation of the hourly event-count series at lags 1, 2, "
    "3, 6, 12, 24 h — the seasonality probe a pipeline runs before "
    "picking rollup windows (a 24 h peak means daily periodicity). "
    "Pearson r per lag from EXACT integer sums (counts are longs, so "
    "Σx, Σx², Σxy are integer-exact and engine-identical); the only "
    "float ops are one sqrt (IEEE correctly rounded on both engines) "
    "and one division — no rounding needed.  Scale shape: the corpus "
    "collapses to the hourly rollup FIRST (map-side combined groupBy; "
    "output rows bounded by the time span, not the event count), the "
    "lag alignment is an equi-join on the bucket key of that tiny "
    "table, and the per-lag reduction is a 6-group aggregate — the "
    "only corpus-sized pass is the initial rollup scan",
)
def events_acf_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    hourly = (
        t["events"]
        .groupBy(
            F.unix_timestamp(
                F.date_trunc("hour", F.col("ts"))
            ).alias("h")
        )
        .agg(F.count("*").cast("long").alias("n"))
    )
    lags = spark.range(1).select(
        F.explode(F.array(*[F.lit(x) for x in (1, 2, 3, 6, 12, 24)])).alias(
            "lag_h"
        )
    )
    a = hourly.select(F.col("h"), F.col("n").alias("x"))
    b = hourly.select(F.col("h").alias("hb"), F.col("n").alias("y"))
    lagged = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("hb") == F.col("h") + F.col("lag_h") * 3600)
    )
    sums = lagged.groupBy("lag_h").agg(
        F.count("*").cast("long").alias("np"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    return sums.select(
        "lag_h",
        F.col("np").alias("n_pairs"),
        (
            (F.col("np") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / F.sqrt(
                (F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                    "double"
                )
                * (F.col("np") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
                    "double"
                )
            )
        ).alias("acf"),
    )


@register(
    "events_streak_longest",
    """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    isl AS (
      SELECT user_id, d,
             d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                      AS INTEGER) AS grp
      FROM days
    ),
    streaks AS (
      SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len,
             min(d) AS streak_start
      FROM isl GROUP BY user_id, grp
    ),
    ranked AS (
      SELECT user_id, len, streak_start,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY len DESC, streak_start) AS rn,
             max(len) OVER (PARTITION BY user_id) AS longest,
             sum(len) OVER (PARTITION BY user_id) AS total_days
      FROM streaks
    )
    SELECT user_id,
           CAST(longest AS BIGINT) AS longest_streak,
           CAST(streak_start AS VARCHAR) AS streak_start,
           CAST(total_days AS BIGINT) AS active_days
    FROM ranked WHERE rn = 1
    """,
    doc="longest run of consecutive active days per user "
    "(gaps-and-islands): distinct (user, day) grid, island key = day "
    "minus the per-user day ordinal (constant within a consecutive "
    "run), then max run length with the earliest start as tiebreak — "
    "the engagement-streak feature of a user-activity mart.  All "
    "values are exact dates/longs.  Scale shape: the distinct-day "
    "grid collapses the event stream first (bounded by users × days, "
    "not event count); the ordinal window partitions BY USER (no "
    "global window), and both follow-up aggregates reuse the same "
    "user-keyed shuffle",
)
def events_streak_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    days = (
        t["events"]
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.withColumn(
        "grp", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    streaks = isl.groupBy("user_id", "grp").agg(
        F.count("*").cast("long").alias("len"),
        F.min("d").alias("streak_start"),
    )
    # single grouped aggregate, no second window: the argmax streak is
    # max(struct(len, -epoch_day(start))) — longest first, earliest
    # start breaking ties
    best = streaks.groupBy("user_id").agg(
        F.max(
            F.struct(
                F.col("len"),
                (-F.unix_date(F.col("streak_start"))).alias("neg_start"),
            )
        ).alias("b"),
        F.sum("len").cast("long").alias("active_days"),
    )
    return best.select(
        "user_id",
        F.col("b.len").alias("longest_streak"),
        F.date_from_unix_date(-F.col("b.neg_start"))
        .cast("string")
        .alias("streak_start"),
        "active_days",
    )


@register(
    "events_user_overlap_jaccard",
    """
    WITH ut AS (SELECT DISTINCT event_type, user_id FROM events),
    sizes AS (SELECT event_type, count(*) AS n FROM ut GROUP BY event_type),
    inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*) AS both_users
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT i.type_a, i.type_b,
           CAST(sa.n AS BIGINT) AS users_a,
           CAST(sb.n AS BIGINT) AS users_b,
           CAST(i.both_users AS BIGINT) AS both_users,
           i.both_users / CAST(sa.n + sb.n - i.both_users AS DOUBLE)
             AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.event_type = i.type_a
    JOIN sizes sb ON sb.event_type = i.type_b
    """,
    doc="audience overlap between event types: Jaccard similarity of "
    "the distinct-user sets per type pair — the cohort-overlap matrix "
    "behind cross-feature attribution.  Exact integer set sizes, one "
    "final division.  Scale shape: distinct-first (the (type, user) "
    "grid is bounded by users × types, collapsed map-side from the "
    "event stream); the pair generation joins ON user_id so each user "
    "contributes at most C(T,2) rows for T = #types (a small "
    "constant), never a cross product; type-level sizes broadcast "
    "back onto the pair table",
)
def events_user_overlap_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    ut = t["events"].select("event_type", "user_id").distinct()
    sizes = ut.groupBy("event_type").agg(F.count("*").alias("n"))
    a = ut.select(F.col("event_type").alias("type_a"), "user_id")
    b = ut.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("both_users"))
    )
    return (
        inter.join(
            F.broadcast(
                sizes.select(
                    F.col("event_type").alias("type_a"),
                    F.col("n").alias("users_a"),
                )
            ),
            "type_a",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("event_type").alias("type_b"),
                    F.col("n").alias("users_b"),
                )
            ),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            F.col("users_a").cast("long").alias("users_a"),
            F.col("users_b").cast("long").alias("users_b"),
            F.col("both_users").cast("long").alias("both_users"),
            (
                F.col("both_users")
                / (
                    F.col("users_a") + F.col("users_b") - F.col("both_users")
                ).cast("double")
            ).alias("jaccard"),
        )
    )


_STREAM_SESS_SEQ = [0]


def _stream_shuffle_partitions(spark: SparkSession, sf_dir: str) -> int:
    """Scale-adaptive shuffle/state partition count for the streaming
    certification queries (optimization guide §2.2 — fewer, larger
    partitions — applied to the one plan family AQE cannot help).

    Batch plans get partition-count adaptation free from AQE
    coalescing, but Structured Streaming pins ONE state store per
    shuffle partition at the first checkpoint and never runs AQE, so
    the session default (= core count) hands a few-MB certification
    input 32 state stores — and every micro-batch then pays 32 store
    open/commit/fsync cycles PER stateful operator (the stream-stream
    join keeps four stores per partition, and AvailableNow runs 2-3
    micro-batches: data, watermark-finalize, no-data commit).  Measured
    on streaming_interval_join_left at sf0.1: the state machinery, not
    the data, dominated the 11 s runtime.

    Derive the count from source size instead of a constant: one
    partition per 8 MB of input, floor min(4, cores), capped at the
    session parallelism.  At 100 TB the rule saturates the cap (the
    cluster's real parallelism), so scale-out loses nothing; locally a
    2 MB certification input gets a handful of stores.  The r11
    re-measure moved the rule off 32 MB/floor-1: a single state
    partition serializes the CPU-heavy session-window aggregation onto
    one core (sessionize 2.99 s at 1 partition vs 2.23 s at 4;
    tumbling 1.77→1.49, watermarked dedup 2.75→2.16, stream-stream
    join flat — all sf0.1 min-of-3).  The state-partition count never affects WHAT a streaming
    aggregation/join/dedup computes — only how many stores hold the
    rows.
    """
    import os

    try:
        nbytes = os.path.getsize(os.path.join(sf_dir, "events.parquet"))
    except OSError:
        nbytes = 0
    cores = spark.sparkContext.defaultParallelism
    floor = min(4, cores)
    return int(max(floor, min(cores, nbytes // (8 << 20) + 1)))


def _run_stream_to_memory(
    spark: SparkSession,
    stream_df: DataFrame,
    prefix: str,
    output_mode: str = "complete",
    shuffle_partitions: int | None = None,
    no_data_batches: bool = True,
) -> DataFrame:
    """Run a streaming DataFrame to completion into a memory sink and
    return the finished table.

    Certification-harness plumbing shared by the four streaming_*
    registrations: AvailableNow trigger, a throwaway checkpoint dir
    that is REMOVED after the run, and a hard check that
    ``awaitTermination`` actually finished (r10 ADVICE: a >300 s drain
    must surface as a timeout error, not as cryptic false gate rows
    read from a partial sink).  The memory sink + complete/append mode
    is the certification harness, not a production sink.

    ``shuffle_partitions`` (r11 optimization): when given, the
    streaming run executes under that shuffle-partition count — which
    fixes its state-store partition count — and the session value is
    restored before returning, so every batch plan built afterwards
    (post-sink ranking, the batch twin, the gate join) is untouched.

    ``no_data_batches=False`` (r11 optimization): skips the trailing
    no-data micro-batch for runs whose sink table it cannot change —
    complete-mode aggregations re-emit the full state every batch, and
    pass-through dedup emits rows in the data batch itself, so the
    watermark-finalize batch only re-commits state (measured ~40% of
    the drain wall time).  MUST stay True for append-mode stateful
    emission (the outer stream-stream join releases its outer rows
    only when a later batch advances the watermark).  Session value
    restored after the run.
    """
    import os
    import shutil
    import tempfile

    _STREAM_SESS_SEQ[0] += 1
    name = f"{prefix}_{os.getpid()}_{_STREAM_SESS_SEQ[0]}"
    ckpt = tempfile.mkdtemp(prefix=f"{prefix}_ckpt_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    _NDB_CONF = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev_ndb = spark.conf.get(_NDB_CONF)
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    if not no_data_batches:
        spark.conf.set(_NDB_CONF, "false")
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                f"streaming certification query {name} did not drain "
                "within 300s — refusing to compare a partial sink"
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set(_NDB_CONF, prev_ndb)
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


def _events_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-streaming source over the events parquet.

    The file source requires a DIRECTORY; the testdata dir holds one
    flat .parquet file per table, so the source points at the dir with
    a glob filter selecting only the events file.  The parquet ts is
    TIMESTAMP_NTZ; event-time watermarks require TIMESTAMP — the
    session-tz cast matches how the batch twins' unix_timestamp
    interprets the same NTZ values.
    """
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )


@register(
    "streaming_sessionize_30m",
    None,  # runs a genuine Structured Streaming query (AvailableNow) —
    # no SQL twin; the in-plan stream_matches_batch column is an exact
    # row-equality gate against the ORACLED batch twin, all-true-pinned
    doc="the streaming sessionizer as a first-class registered query "
    "(SURVEY §2.9 promoted from tests-only): a REAL Structured "
    "Streaming session_window aggregation over the events parquet — "
    "watermark + 30-min dynamic gap, AvailableNow trigger, memory "
    "sink — whose finished result is post-ranked into the batch "
    "twin's exact shape (ordinal session ids per user) and "
    "row-compared against events_sessionize_30m (which is itself "
    "DuckDB-oracled), so the driver row certifies BATCH==STREAM "
    "equality end to end.  Scale shape: the streaming agg is "
    "incremental per micro-batch with watermark-bounded state (the "
    "100 TB form consumes a file/Kafka source with the identical "
    "plan); the comparison join is session-grain tiny",
)
def streaming_sessionize_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    src = _events_stream_source(spark, sf_dir)
    agg = (
        src.withWatermark("ts", "2 hours")
        .groupBy(
            F.session_window("ts", "30 minutes").alias("w"),
            F.col("user_id"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
            F.sum("value").alias("sum_value"),
        )
    )
    wi = W.partitionBy("user_id").orderBy("min_ts")
    streamed = _run_stream_to_memory(
        spark,
        agg,
        "strsess",
        shuffle_partitions=_stream_shuffle_partitions(spark, sf_dir),
        no_data_batches=False,  # complete mode: final state already emitted
    ).select(
        "user_id",
        F.row_number().over(wi).cast("long").alias("session_id"),
        "n_events",
        F.unix_timestamp("min_ts").alias("session_start_s"),
        (F.col("max_ts").cast("long") - F.col("min_ts").cast("long")).alias(
            "duration_s"
        ),
        F.round("sum_value", 2).alias("total_value"),
    )
    batch = events_sessionize_30m(spark, sf_dir)
    cols = [
        "user_id", "session_id", "n_events", "session_start_s",
        "duration_s", "total_value",
    ]
    # FULL outer on every value column: a session the stream missed (or
    # invented, or mis-aggregated) surfaces as a one-sided row with a
    # false gate — a left join would silently pass stream omissions
    return streamed.withColumn("__s", F.lit(1)).join(
        batch.select(*cols).withColumn("__b", F.lit(1)), cols, "full_outer"
    ).select(
        *cols,
        (F.col("__s").isNotNull() & F.col("__b").isNotNull()).alias(
            "stream_matches_batch"
        ),
    )


@register(
    "streaming_tumbling_1h",
    None,  # genuine Structured Streaming run — no SQL twin; full-outer
    # row-equality gate vs the ORACLED batch twin, all-true-pinned
    doc="the watermarked tumbling-window aggregation as a registered "
    "query (SURVEY §2.9, the second batch==stream certification next "
    "to streaming_sessionize_30m): window(ts, 1 hour) × event_type "
    "counts + 2-dp value sums over the events parquet via AvailableNow "
    "+ memory sink, full-outer row-compared against "
    "events_tumbling_1h (DuckDB-oracled) so the driver row certifies "
    "the streaming plan computes the identical table.  At scale the "
    "same plan consumes a file/Kafka source incrementally with "
    "watermark-bounded state",
)
def streaming_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _events_stream_source(spark, sf_dir)
    agg = (
        src.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    streamed = _run_stream_to_memory(
        spark,
        agg,
        "strtumb",
        shuffle_partitions=_stream_shuffle_partitions(spark, sf_dir),
        no_data_batches=False,  # complete mode: final state already emitted
    ).select(
        F.unix_timestamp(F.col("w.start")).alias("window_start"),
        "event_type",
        "n",
        "total_value",
    )
    batch = events_tumbling_1h(spark, sf_dir)
    cols = ["window_start", "event_type", "n", "total_value"]
    return streamed.withColumn("__s", F.lit(1)).join(
        batch.select(*cols).withColumn("__b", F.lit(1)), cols, "full_outer"
    ).select(
        *cols,
        (F.col("__s").isNotNull() & F.col("__b").isNotNull()).alias(
            "stream_matches_batch"
        ),
    )


@register(
    "events_click_followup_30m",
    """
    WITH mx AS (
      SELECT least(max(ts) FILTER (WHERE event_type = 'click'),
                   max(ts) FILTER (WHERE event_type = 'purchase'))
             - INTERVAL 1 SECOND AS m
      FROM events
    ),
    clicks AS (
      SELECT user_id, event_id, ts FROM events, mx
      WHERE event_type = 'click' AND ts + INTERVAL 30 MINUTE < m
    ),
    p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
    SELECT c.user_id, c.event_id AS click_event_id,
           CAST(floor(epoch(c.ts)) AS BIGINT) AS click_ts_s,
           count(p.ts) AS n_followup
    FROM clicks c
    LEFT JOIN p ON p.user_id = c.user_id
               AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    GROUP BY c.user_id, c.event_id, c.ts
    """,
    doc="per-click 30-min purchase-followup counts (attribution "
    "candidate generation): for every click, how many purchases the "
    "same user made in (ts, ts+30m] — zero-followup clicks kept via "
    "LEFT OUTER, so the table is conversion-rate-ready.  Clicks whose "
    "followup window extends past the watermark floor — "
    "least(max click ts, max purchase ts), minus a 1 s safety margin "
    "for Spark's ms-truncated watermark arithmetic — are excluded: "
    "their count is not yet final.  That is exactly the end-of-data "
    "censoring the streaming twin streaming_interval_join_left "
    "inherits from its global watermark (min across both inputs), "
    "which is what makes BATCH==STREAM equality exact.  "
    "Scale shape: user-key equi join + time-range residual (never a "
    "cross product; per-user purchase lists are watermark-bounded in "
    "the streaming form), one aggregate at click grain; the global "
    "max(ts) is a scalar broadcast",
)
def events_click_followup_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    mx = ev.agg(
        (
            F.least(
                F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
                F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
            )
            - F.expr("INTERVAL 1 SECOND")
        ).alias("m")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", "event_id", "ts")
        .crossJoin(F.broadcast(mx))
        .filter(F.col("ts") + F.expr("INTERVAL 30 MINUTES") < F.col("m"))
        .drop("m")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"), F.col("ts").alias("p_ts")
    )
    joined = clicks.join(
        p,
        (F.col("p_user_id") == F.col("user_id"))
        & (F.col("p_ts") > F.col("ts"))
        & (F.col("p_ts") <= F.col("ts") + F.expr("INTERVAL 30 MINUTES")),
        "left_outer",
    )
    return joined.groupBy("user_id", "event_id", "ts").agg(
        F.count("p_ts").alias("n_followup")
    ).select(
        "user_id",
        F.col("event_id").alias("click_event_id"),
        F.unix_timestamp("ts").alias("click_ts_s"),
        "n_followup",
    )


@register(
    "streaming_interval_join_left",
    None,  # genuine Structured Streaming LEFT OUTER stream-stream join
    # — no SQL twin; full-outer row-equality gate vs the ORACLED batch
    # twin events_click_followup_30m, all-true-pinned
    doc="the watermarked LEFT OUTER stream-stream interval join as a "
    "registered query (SURVEY §2.9's third batch==stream "
    "certification, r10 verdict item 2): clicks ⟕ purchases within "
    "30 min per user over the events parquet, both sides streamed "
    "from the same source with 0-second watermarks, AvailableNow + "
    "memory sink.  Outer (no-purchase) rows emit only once the "
    "watermark passes the click's whole candidate window — Spark's "
    "state-eviction contract for outer stream-stream joins — so both "
    "engines censor clicks whose window reaches past the watermark "
    "floor (min of the two inputs' max event times) identically and "
    "the finished sink, aggregated to followup counts, is full-outer "
    "row-compared against the DuckDB-oracled batch twin.  At scale "
    "the identical plan consumes two live feeds with join state "
    "bounded by key × watermark horizon",
)
def streaming_interval_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the join's final global watermark is min over BOTH inputs' event
    # times (clicks and purchases each carry their own watermark, and
    # the global max(ts) may belong to a 'view' neither side sees);
    # the 1 s margin absorbs Spark's ms-truncated watermark arithmetic
    # so censor-predicate ⇒ row-was-emitted always holds
    cutoff = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .agg(
            F.least(
                F.max(
                    F.when(
                        F.col("event_type") == "click",
                        F.col("ts").cast("timestamp"),
                    )
                ),
                F.max(
                    F.when(
                        F.col("event_type") == "purchase",
                        F.col("ts").cast("timestamp"),
                    )
                ),
            )
            - F.expr("INTERVAL 1 SECOND")
        )
        .first()[0]
    )
    l = (
        _events_stream_source(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select("user_id", "event_id", "ts")
        .withWatermark("ts", "0 seconds")
    )
    r = (
        _events_stream_source(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"), F.col("ts").alias("p_ts")
        )
        .withWatermark("p_ts", "0 seconds")
    )
    cond = (
        (l["user_id"] == r["p_user_id"])
        & (r["p_ts"] > l["ts"])
        & (r["p_ts"] <= l["ts"] + F.expr("INTERVAL 30 MINUTES"))
    )
    sink = _run_stream_to_memory(
        spark,
        l.join(r, cond, "left_outer"),
        "strjoin",
        output_mode="append",
        shuffle_partitions=_stream_shuffle_partitions(spark, sf_dir),
    )
    # the censoring post-filter mirrors the batch twin's max(ts) rule:
    # matched tail rows DID emit during the data batch, so without the
    # filter they would one-side the gate against the censored batch
    streamed = (
        sink.filter(F.col("ts") + F.expr("INTERVAL 30 MINUTES") < F.lit(cutoff))
        .groupBy("user_id", "event_id", "ts")
        .agg(F.count("p_ts").alias("n_followup"))
        .select(
            "user_id",
            F.col("event_id").alias("click_event_id"),
            F.unix_timestamp("ts").alias("click_ts_s"),
            "n_followup",
        )
    )
    batch = events_click_followup_30m(spark, sf_dir)
    cols = ["user_id", "click_event_id", "click_ts_s", "n_followup"]
    return streamed.withColumn("__s", F.lit(1)).join(
        batch.select(*cols).withColumn("__b", F.lit(1)), cols, "full_outer"
    ).select(
        *cols,
        (F.col("__s").isNotNull() & F.col("__b").isNotNull()).alias(
            "stream_matches_batch"
        ),
    )


@register(
    "streaming_dedup_tumbling_1h",
    None,  # genuine Structured Streaming dropDuplicatesWithinWatermark
    # run — no SQL twin; full-outer row-equality gate vs the ORACLED
    # batch twin events_tumbling_1h, all-true-pinned
    doc="dropDuplicatesWithinWatermark as a registered query (SURVEY "
    "§2.9's fourth batch==stream certification, r10 verdict item 2): "
    "the events stream is unioned with a second read of itself — "
    "every event arrives exactly twice — and the watermarked dedup on "
    "event_id must pass through exactly one copy of each; the "
    "finished sink, aggregated to the tumbling-1h × event_type "
    "table, is full-outer row-compared against events_tumbling_1h "
    "(DuckDB-oracled over the UN-doubled table), so a surviving "
    "duplicate inflates a count and fails the gate just as an "
    "over-drop deflates one.  At scale: dedup state is bounded by "
    "keys inside the watermark horizon and reclaimed as it advances",
)
def streaming_dedup_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    doubled = _events_stream_source(spark, sf_dir).unionByName(
        _events_stream_source(spark, sf_dir)
    )
    deduped = doubled.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    sink = _run_stream_to_memory(
        spark,
        deduped,
        "strdedup",
        output_mode="append",
        shuffle_partitions=_stream_shuffle_partitions(spark, sf_dir),
        no_data_batches=False,  # dedup emits survivors in the data batch
    )
    streamed = (
        sink.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )
    batch = events_tumbling_1h(spark, sf_dir)
    cols = ["window_start", "event_type", "n", "total_value"]
    return streamed.withColumn("__s", F.lit(1)).join(
        batch.select(*cols).withColumn("__b", F.lit(1)), cols, "full_outer"
    ).select(
        *cols,
        (F.col("__s").isNotNull() & F.col("__b").isNotNull()).alias(
            "stream_matches_batch"
        ),
    )
