"""Event-sequence analytics over the events table (beyond the
reference — its event handling stops at ingest): ordered funnels and
cohort retention, the two workhorse product/behavior queries any
events warehouse must answer.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F


def funnel_steps(
    events: DataFrame,
    steps: Sequence[str],
    *,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    within_seconds: float | None = None,
) -> DataFrame:
    """Ordered funnel: for each user, the earliest time they complete
    each step STRICTLY AFTER completing the previous one (classic
    min-over-successors chaining — step k's timestamp is the min event
    of type k after step k-1's timestamp). Returns one row per user
    with ``t_step_i`` timestamps (NULL once the funnel breaks) and
    ``steps_completed``; ``within_seconds`` additionally requires the
    WHOLE funnel to fit in the window measured from step 1.

    Scale shape (r13 A/B, recorded in ``ROUND13_NOTES.md``): ONE scan
    of events, one exchange+sort on the user id, then one dependent
    partition-wide conditional-min WindowExec pass per step (step k's
    min is gated on step k-1's window output), and a final user-grain
    aggregate that reuses the window partitioning — no second
    exchange. This replaced the original per-step
    filter→join→aggregate chain: value-identical (asserted in the
    A/B before timing) and faster at every tier (sf1 0.48s vs 0.99s,
    sf3 0.59s vs 0.90s, sf10 1.28s vs 1.86s), and strictly less data
    motion at 100 TB — the join chain scans events once PER STEP and
    its user-grain join frames stop broadcasting once the user
    dimension outgrows a broadcast, falling back to one event-grain
    shuffle per step, while this shape moves the event stream exactly
    once. No per-user arrays, no event-count blowup; a hot user costs
    O(its events) per pass, same as the join chain's groupBy.

    NULL-user semantics are pinned to the join chain's (r13 review):
    an SQL equi-join never matches NULL keys, so the original shape
    (and the e7 oracle) gave NULL-user rows a ``t_step_1`` (GROUP BY
    groups NULLs) but broke the funnel there — whereas
    ``Window.partitionBy`` groups NULLs into one partition and would
    complete it. Steps ≥ 2 are therefore gated on a non-NULL user."""
    steps = list(steps)
    if len(steps) < 2:
        raise ValueError("a funnel needs at least 2 steps")
    from pyspark.sql import Window

    w = Window.partitionBy(user_col)
    t = F.col(ts_col).cast("double")
    df = events.select(F.col(user_col), F.col(type_col), t.alias("__t"))
    df = df.withColumn(
        "t_step_1",
        F.min(F.when(F.col(type_col) == steps[0], F.col("__t"))).over(w),
    )
    for i, step in enumerate(steps[1:], start=2):
        df = df.withColumn(
            f"t_step_{i}",
            F.when(
                F.col(user_col).isNotNull(),
                F.min(
                    F.when(
                        (F.col(type_col) == step)
                        & (F.col("__t") > F.col(f"t_step_{i - 1}")),
                        F.col("__t"),
                    )
                ).over(w),
            ),
        )
    cur = (
        df.filter(F.col("t_step_1").isNotNull())
        .groupBy(user_col)
        .agg(
            *[
                F.first(f"t_step_{i}").alias(f"t_step_{i}")
                for i in range(1, len(steps) + 1)
            ]
        )
    )
    if within_seconds is not None:
        for i in range(2, len(steps) + 1):
            cur = cur.withColumn(
                f"t_step_{i}",
                F.when(
                    F.col(f"t_step_{i}") - F.col("t_step_1")
                    <= float(within_seconds),
                    F.col(f"t_step_{i}"),
                ),
            )
        # re-break the chain after the window cut
        for i in range(3, len(steps) + 1):
            cur = cur.withColumn(
                f"t_step_{i}",
                F.when(
                    F.col(f"t_step_{i - 1}").isNotNull(), F.col(f"t_step_{i}")
                ),
            )
    completed = sum(
        F.when(F.col(f"t_step_{i}").isNotNull(), 1).otherwise(0)
        for i in range(1, len(steps) + 1)
    )
    return cur.withColumn("steps_completed", completed.cast("int"))


def cohort_retention(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period_seconds: int = 7 * 86400,
) -> DataFrame:
    """Cohort retention triangle: users cohort by their FIRST-seen
    period; for each (cohort, period offset) count distinct users
    active then, plus the retention rate vs the cohort's size.

    Shape: one min-aggregate for first-seen (user-cardinality), one
    distinct (user, period) projection joined back on the user id,
    one final count per (cohort, offset) — all map-side-combinable,
    output rows = cohorts x offsets."""
    p = (
        F.floor(F.col(ts_col).cast("long") / F.lit(period_seconds))
        * period_seconds
    ).cast("long")
    first = events.groupBy(user_col).agg(F.min(p).alias("cohort_period"))
    active = events.select(F.col(user_col), p.alias("active_period")).distinct()
    tri = (
        active.join(first, user_col)
        .withColumn(
            "period_offset",
            ((F.col("active_period") - F.col("cohort_period"))
             / period_seconds).cast("int"),
        )
        .groupBy("cohort_period", "period_offset")
        .agg(F.count_distinct(F.col(user_col)).alias("n_active"))
    )
    size = tri.filter(F.col("period_offset") == 0).select(
        "cohort_period", F.col("n_active").alias("cohort_size")
    )
    return tri.join(size, "cohort_period").withColumn(
        "retention", F.col("n_active") / F.col("cohort_size")
    )
