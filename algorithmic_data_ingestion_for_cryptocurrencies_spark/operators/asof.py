"""As-of alignment join (SURVEY §2 J3) — the reference's
reindex-then-ffill pattern (``orderbook_features.py:136``,
``HistoricalDataTest.py:57``) generalized to a distributed as-of join.

Implementation: union the left (probe) and right (reference) rows on
the time axis, forward-fill the right-side payload with a
last-ignorenulls window per key, then keep only probe rows. This is
the shuffle-minimal Spark shape: one union + one window over the
(keys, ts) sort — no per-group Python, no broadcast of the big side,
and it scales with the number of series keys.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    keys: Sequence[str],
    value_cols: Sequence[str] | None = None,
    tolerance_seconds: float | None = None,
    suffix: str = "_asof",
    direction: str = "backward",
) -> DataFrame:
    """For each left row, attach the nearest right row within the same
    ``keys`` — ``direction="backward"`` (default) takes the latest
    right row with ``right.on <= left.on`` (pandas ``merge_asof``
    default), ``direction="forward"`` the earliest with
    ``right.on >= left.on``. Exact-timestamp ties match in both
    directions. (``"nearest"`` is deliberately not offered: compose
    both directions and pick per-row if that semantic is needed.)

    ``value_cols`` default to every right column not in keys/on; they
    are staged under internal names, so a left column with the same
    name survives (output gets ``<col><suffix>``). ``keys`` must be
    non-empty — an empty partition spec serializes the whole table
    through one task.
    """
    keys = list(keys)
    if not keys:
        raise ValueError(
            "asof_join with empty keys is a single-task global window; "
            "pass series keys"
        )
    value_cols = list(
        value_cols
        if value_cols is not None
        else [c for c in right.columns if c not in set(keys) | {on}]
    )
    staged = {c: f"__asof_v_{c}" for c in value_cols}

    probe = left.withColumn("__is_left", F.lit(1))
    for c in value_cols:
        probe = probe.withColumn(staged[c], F.lit(None).cast(right.schema[c].dataType))
    build = right.select(
        *keys, on, *[F.col(c).alias(staged[c]) for c in value_cols]
    ).withColumn("__is_left", F.lit(0))
    left_extra = [c for c in probe.columns if c not in build.columns]
    for c in left_extra:
        build = build.withColumn(c, F.lit(None).cast(probe.schema[c].dataType))

    if direction not in ("backward", "forward"):
        raise ValueError(f"unknown direction: {direction!r}")
    unioned = probe.unionByName(build.select(*probe.columns))
    # tie handling: the right row at an equal timestamp must fall
    # INSIDE the probe row's frame — backward frames end at the
    # current row, so right (0) sorts before left (1) ascending;
    # forward frames start at the current row, so the sort flips
    sort_side = (
        F.col("__is_left") if direction == "backward"
        else F.col("__is_left").desc()
    )
    base_w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(
        F.col(on), sort_side
    )
    payload_struct = F.when(
        F.col("__is_left") == 0,
        F.struct(
            *[F.col(staged[c]).alias(c) for c in value_cols],
            F.col(on).alias("__asof_ts"),
        ),
    )
    if direction == "backward":
        payload = F.last(payload_struct, ignorenulls=True).over(
            base_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
    else:
        payload = F.first(payload_struct, ignorenulls=True).over(
            base_w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
    filled = unioned.withColumn("__payload", payload)
    out = filled.filter(F.col("__is_left") == 1)
    if tolerance_seconds is not None:
        age = F.col(on).cast("double") - F.col("__payload.__asof_ts").cast("double")
        if direction == "forward":
            age = -age
        out = out.withColumn(
            "__payload",
            F.when(age <= F.lit(float(tolerance_seconds)), F.col("__payload")),
        )
    for c in value_cols:
        out = out.withColumn(f"{c}{suffix}", F.col(f"__payload.{c}"))
    return out.drop("__is_left", "__payload", *staged.values())
