"""Join-shaped operators: spine joins, expected-grid gap detection
(SURVEY §2 J1/J2/J4, ST5).

Parity source: ``algo-data-ingestion/scripts/build_training_matrix.py``
(spine joins), ``app/features/jobs/backfill.py:45-76`` (expected epoch
grid vs store -> missing keys).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

from ..functions.time_norm import timeframe_to_seconds


def spine_join(
    spine: DataFrame,
    aggs: Sequence[DataFrame],
    *,
    on: Sequence[str],
    fill_zero_cols: Sequence[str] = (),
    broadcast_aggs: bool | str = "auto",
) -> DataFrame:
    """Left-join aggregate frames onto a spine and zero-fill —
    ``build_training_matrix.py:155-159``.

    ``broadcast_aggs``: ``True`` FORCES a broadcast hint — only for
    aggregate sides the caller KNOWS stay small at production scale
    (per-bucket rollups with bounded bucket counts). ``"auto"`` (the
    default, r5 verdict #5) adds no hint: Catalyst broadcasts under
    ``autoBroadcastJoinThreshold`` and AQE upgrades a shuffle join to
    broadcast AT RUNTIME from the aggregate's actual shuffle stats —
    the safe behavior when the aggregate's cardinality grows with the
    data (a forced hint on a fine-grained agg ships the whole
    aggregate to every executor; at 60M input rows that was measured
    1.6x DuckDB where the unhinted plan keeps a co-partitioned
    join). ``False`` likewise adds no hint (kept for explicitness)."""
    out = spine
    for agg in aggs:
        right = F.broadcast(agg) if broadcast_aggs is True else agg
        out = out.join(right, list(on), "left")
    if fill_zero_cols:
        out = out.fillna(0, subset=list(fill_zero_cols))
    return out


def expected_grid(
    df_or_spark,
    start,
    end,
    timeframe: str,
    *,
    keys_df: DataFrame | None = None,
    ts_out: str = "expected_ts",
) -> DataFrame:
    """All bar timestamps in ``[start, end]`` floor-aligned to the
    timeframe step — ``backfill.py:52-62``. Generated distributed via
    ``sequence`` + ``explode`` (no driver-side loop); cross-joined onto
    ``keys_df`` (small, broadcast) when per-key grids are wanted."""
    spark = df_or_spark if hasattr(df_or_spark, "range") else df_or_spark.sparkSession
    step = timeframe_to_seconds(timeframe)
    lo = F.unix_timestamp(F.lit(start))
    hi = F.unix_timestamp(F.lit(end))
    base = spark.range(1).select(
        F.explode(
            F.sequence(lo - lo % step, hi - hi % step, F.lit(step))
        ).alias("__epoch")
    ).select(F.timestamp_seconds(F.col("__epoch")).alias(ts_out))
    if keys_df is not None:
        base = F.broadcast(keys_df).crossJoin(base)
    return base


def range_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    *,
    ts: str,
    start: str,
    end: str,
    keys: Sequence[str] = (),
    bucket_seconds: int,
) -> DataFrame:
    """Point-in-interval join — ``points.ts ∈ [intervals.start,
    intervals.end)`` (half-open), optionally with equi ``keys``.

    Spark has no inequality-join physical operator: a bare range
    predicate plans as BroadcastNestedLoopJoin (small side only) or a
    cartesian product — both O(|points|·|intervals|) and unusable at
    scale. This rewrite makes the join an EQUI join Catalyst can
    shuffle-hash/sort-merge:

    1. bucket each point on ``floor(epoch(ts) / bucket_seconds)``;
    2. explode each interval to the buckets its span covers
       (``sequence(floor(start/b), floor(end/b))`` — choose
       ``bucket_seconds`` ≈ the typical interval length so the
       explode factor stays ~2);
    3. equi-join on (keys…, bucket) and re-apply the exact predicate.

    Each qualifying (point, interval) pair survives EXACTLY once —
    a point belongs to a single bucket, so no dedup pass is needed.
    Skewed buckets (everything in one hour) are AQE-splittable since
    the join is a plain shuffle join."""
    b = int(bucket_seconds)

    def _epoch_div(df: DataFrame, col: str) -> str:
        # Spark disallows DATE->BIGINT casts; route DATE columns through
        # TIMESTAMP so any temporal type works (ADVICE r3).
        from pyspark.sql import types as T

        inner = (
            f"CAST(`{col}` AS TIMESTAMP)"
            if isinstance(df.schema[col].dataType, T.DateType)
            else f"`{col}`"
        )
        return f"CAST({inner} AS LONG) div {b}"

    pt = points.withColumn("__bkt", F.expr(_epoch_div(points, ts)))
    iv = intervals.withColumn(
        "__bkt",
        F.explode(
            F.expr(
                f"sequence({_epoch_div(intervals, start)},"
                f" {_epoch_div(intervals, end)})"
            )
        ),
    )
    cond = [pt["__bkt"] == iv["__bkt"]]
    for k in keys:
        cond.append(pt[k] == iv[k])
    cond.append(pt[ts] >= iv[start])
    cond.append(pt[ts] < iv[end])
    joined = pt.join(iv, cond, "inner")
    # project away helper + duplicated key columns (keep point side)
    drop = [iv["__bkt"], pt["__bkt"]] + [iv[k] for k in keys]
    for c in drop:
        joined = joined.drop(c)
    return joined


def find_gaps(
    present: DataFrame,
    grid: DataFrame,
    *,
    on: Sequence[str],
) -> DataFrame:
    """Expected-minus-present anti-join — the distributed version of
    ``missing = expected - present`` (``backfill.py:68``)."""
    return grid.join(present.select(*on).dropDuplicates(list(on)), list(on), "left_anti")
