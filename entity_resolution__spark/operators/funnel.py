"""Ordered multi-step funnel analysis over an event stream.

The events family (events_hourly / event_sessions / events_retention /
asof / range join) covers time bucketing and proximity joins; the
funnel answers the remaining product-analytics staple: of the users who
did step 1, how many later did step 2, then step 3 — with each step
STRICTLY AFTER the previous one (first-touch attribution: each step's
timestamp is the EARLIEST occurrence after the prior step's, which is
the standard windowed-funnel semantics, cf. ClickHouse
`windowFunnel` / Amplitude funnels).

Scale shape: one conditional aggregate per step, every groupBy/join
keyed on the SAME user column — at 100 TB this is k co-partitioned
hash exchanges over a user-bucketed event table (a bucketed staging
of that table would collapse the exchanges entirely). No window over
the raw event stream, no per-user event collection: state per user is
one timestamp per step regardless of event count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def funnel_users(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-user funnel progression: (user, ts_1..ts_k, steps_reached).

    ts_1 = min event time of steps[0]; ts_i = min time of steps[i-1]
    STRICTLY AFTER ts_{i-1} (null if never). steps_reached = number of
    leading non-null ts_i. Users who never did steps[0] are absent.
    """
    if not steps:
        raise ValueError("funnel_users: steps must be non-empty")
    cur = (
        events.filter(F.col(type_col) == steps[0])
        .groupBy(F.col(user_col).alias("user"))
        .agg(F.min(ts_col).alias("ts_1"))
    )
    for i, step in enumerate(steps[1:], start=2):
        nxt = events.filter(F.col(type_col) == step).select(
            F.col(user_col).alias("user"), F.col(ts_col).alias("_t")
        )
        prev_cols = [f"ts_{j}" for j in range(1, i)]
        cur = (
            cur.join(nxt, "user", "left")
            .groupBy("user", *prev_cols)
            .agg(
                F.min(
                    F.when(F.col("_t") > F.col(f"ts_{i - 1}"), F.col("_t"))
                ).alias(f"ts_{i}")
            )
        )
    reached = F.lit(1)
    for i in range(2, len(steps) + 1):
        # strictly leading: step i counts only if every prior ts is set,
        # which the strictly-after construction guarantees by nullness
        reached = reached + F.when(F.col(f"ts_{i}").isNotNull(), 1).otherwise(0)
    return cur.withColumn("steps_reached", reached)


def funnel_counts(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Aggregate funnel: one row per step with the number of users who
    reached AT LEAST that step (monotone non-increasing) and the
    conversion rate vs step 1, rounded to 6 (engine-portable)."""
    users = funnel_users(events, steps, user_col, type_col, ts_col)
    per_depth = users.groupBy("steps_reached").agg(
        F.count(F.lit(1)).alias("n_at_depth")
    )
    spark = events.sparkSession
    step_dim = spark.createDataFrame(
        [(i + 1, s) for i, s in enumerate(steps)], "step int, step_name string"
    )
    # users reaching >= step i: suffix sum over the (tiny) depth histogram
    joined = (
        F.broadcast(step_dim)
        .join(per_depth, per_depth["steps_reached"] >= step_dim["step"], "left")
        .groupBy("step", "step_name")
        .agg(F.coalesce(F.sum("n_at_depth"), F.lit(0)).alias("n_users"))
    )
    # n_users is non-increasing in step, so step 1's count is the max;
    # the unpartitioned window is k rows (k = len(steps)) — driver-scale
    total = F.max("n_users").over(Window.partitionBy())
    return joined.select(
        "step",
        "step_name",
        "n_users",
        F.round(
            F.when(total > 0, F.col("n_users") / total).otherwise(F.lit(0.0)), 6
        ).alias("conversion"),
    )
