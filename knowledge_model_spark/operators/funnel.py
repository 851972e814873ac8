"""Ordered event-funnel analysis (view → click → purchase …).

The classic product-analytics OLAP operator: for an ordered list of
step event types, a user reaches step i only with an event of that
type AT OR AFTER their qualifying time for step i-1 (and, optionally,
within a time budget of their step-1 time).

Spark-first shape: one min-time aggregation per step, every one keyed
on the user column — the first step's Exchange partitioning is reused
by every later step (same key), so an S-step funnel over 100 TB of
events costs one logical pass plus S-1 already-co-located aggregations,
never a per-user sort or a collect_list of event history.  Determinism
is structural: min(timestamp) has no ties to break (and equal
timestamps collapse to the same min).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def funnel_times(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: Sequence[str],
    within: str | None = None,
) -> DataFrame:
    """(user, t1, t2, … tS) — the earliest qualifying time per reached
    step, NULL once the funnel is broken.  ``within`` (an INTERVAL
    literal, e.g. ``'7 days'``) bounds every later step's time to
    t1 + within."""
    if not steps:
        raise ValueError("funnel needs at least one step")
    u = F.col(user_col)
    cur = (
        events.filter(F.col(type_col) == steps[0])
        .groupBy(u.alias("user"))
        .agg(F.min(ts_col).alias("t1"))
    )
    for i, step in enumerate(steps[1:], start=2):
        ev = events.filter(F.col(type_col) == step).select(
            u.alias("user"), F.col(ts_col).alias("__ts")
        )
        cond = F.col("__ts") >= F.col(f"t{i - 1}")
        if within is not None:
            cond = cond & (
                F.col("__ts") <= F.expr(f"t1 + INTERVAL {within}")
            )
        prev_cols = [f"t{j}" for j in range(1, i)]
        cur = (
            cur.join(ev, "user", "left")
            .withColumn("__q", F.when(cond, F.col("__ts")))
            .groupBy("user")
            .agg(
                *[F.min(c).alias(c) for c in prev_cols],  # constant per user
                F.min("__q").alias(f"t{i}"),
            )
        )
    return cur


def funnel_counts(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: Sequence[str],
    within: str | None = None,
) -> DataFrame:
    """(step, event_type, n_users, frac_of_first) — how many users
    reach each step, in order, with the conversion fraction vs step 1
    rounded to 6 dp."""
    times = funnel_times(events, user_col, ts_col, type_col, steps, within)
    counts = times.agg(
        *[
            F.count(f"t{i}").alias(f"n{i}")
            for i in range(1, len(steps) + 1)
        ]
    )
    per_step = [
        F.struct(
            F.lit(i).cast("long").alias("step"),
            F.lit(step).alias("event_type"),
            F.col(f"n{i}").alias("n_users"),
            # empty funnel (no step-1 user): NULL fraction, not an
            # ANSI divide-by-zero error (found by the hypothesis suite)
            F.when(
                F.col("n1") > 0, F.round(F.col(f"n{i}") / F.col("n1"), 6)
            ).alias("frac_of_first"),
        )
        for i, step in enumerate(steps, start=1)
    ]
    return (
        counts.select(F.explode(F.array(*per_step)).alias("s"))
        .select("s.step", "s.event_type", "s.n_users", "s.frac_of_first")
    )


def attribute_last_touch(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    id_col: str,
    conv_type: str,
    touch_type: str,
) -> DataFrame:
    """Last-touch conversion attribution: each ``conv_type`` event is
    credited to the most recent preceding ``touch_type`` event by the
    same user within one day (or to no touch); ``conv_value`` is the
    conversion's ``value``.

    Union + last-value window formulation — ONE shuffle on the user key,
    linear in events — rather than the naive conversions×touches range
    join (the oracle states that form), whose pair blowup is quadratic
    in per-user activity.  Ordering (ts, is_conv, id) is total, so ties
    (touch at the exact conversion instant, simultaneous touches)
    resolve identically on any partitioning: a same-instant touch IS
    attributable, and the larger id wins among simultaneous touches.
    Because touches are scanned in recency order, filtering the lag
    AFTER picking the latest touch equals filtering before (any older
    touch is farther away) — the tolerance never needs the pair join.
    """
    is_conv = F.col(type_col) == conv_type
    tagged = events.filter(F.col(type_col).isin([conv_type, touch_type])).select(
        F.col(user_col).alias("user_id"),
        F.col(ts_col).alias("__ts"),
        F.col(id_col).alias("__id"),
        F.col("value").alias("__value"),
        is_conv.cast("int").alias("__conv"),
        F.when(~is_conv, F.unix_micros(F.col(ts_col))).alias("__touch_us"),
        F.when(~is_conv, F.col(id_col)).alias("__touch_id"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("__ts").asc(), F.col("__conv").asc(), F.col("__id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = (
        tagged.withColumn("t_us", F.last("__touch_us", ignorenulls=True).over(w))
        .withColumn("t_id", F.last("__touch_id", ignorenulls=True).over(w))
        .filter(F.col("__conv") == 1)
    )
    lag_us = F.unix_micros(F.col("__ts")) - F.col("t_us")
    in_window = F.col("t_us").isNotNull() & (lag_us <= 86400 * 1_000_000)
    return filled.select(
        "user_id",
        F.col("__id").alias("conv_id"),
        F.unix_micros(F.col("__ts")).alias("conv_us"),
        F.round(F.col("__value"), 2).alias("conv_value"),
        F.when(in_window, F.col("t_id")).alias("touch_id"),
        F.when(in_window, F.col("t_us")).alias("touch_us"),
        F.when(in_window, lag_us).alias("lag_us"),
    )
