"""Time-bucket resample aggregation (SURVEY §2 A5 / ST6).

Parity source: pandas ``resample(tf).mean()/.count()/.last()`` in
``algo-data-ingestion/scripts/build_training_matrix.py:70-82`` and
``HistoricalDataTest.py:54``.

Spark shape: tumbling buckets via epoch-floor (identical to
``F.window`` but emitting a plain bucket-start timestamp column,
which joins cleanly onto bar spines and is duckdb-oracle friendly).
Works unchanged on streams (it is a plain groupBy over a derived
event-time column).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..functions.time_norm import floor_to_bar, timeframe_to_seconds


def bucket_col(ts_col: str, timeframe: str) -> Column:
    return floor_to_bar(ts_col, timeframe_to_seconds(timeframe))


def resample(
    df: DataFrame,
    timeframe: str,
    aggs: dict[str, Column],
    *,
    ts_col: str = "ts",
    keys: Sequence[str] = (),
    bucket_out: str = "bucket",
    pre_cluster: Sequence[str] | None = None,
) -> DataFrame:
    """Tumbling-window aggregate: one row per (keys..., bucket).

    ``aggs`` maps output column name -> aggregate Column, e.g.
    ``{"sentiment_mean": F.avg("sentiment_score"), "n": F.count("id")}``.

    ``pre_cluster`` (a SUBSET of ``keys``) repartitions the input on
    those columns before grouping. Hash-partitioning on a subset of
    the group keys satisfies the aggregate's clustering requirement,
    so the groupBy reuses that one exchange — and so does any
    downstream per-``pre_cluster``-key stage (window cascades over the
    resampled bars, series joins): the whole spine path then runs on a
    single exchange instead of agg-shuffle + window-shuffle. Measured
    ~10% off the training-matrix pipeline at sf0.1. Only worth it when
    such a consumer exists; plain rollups keep the default (map-side
    partial aggregation reduces rows before the wire, which
    ``pre_cluster`` forgoes). The partition count is
    ``spark.sql.shuffle.partitions``, given explicitly so AQE cannot
    byte-coalesce a CPU-heavy window stage downstream."""
    if pre_cluster:
        extra = set(pre_cluster) - set(keys)
        if extra:
            raise ValueError(
                f"pre_cluster must be a subset of keys, got extra {sorted(extra)}"
            )
        n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
        df = df.repartition(n, *[F.col(c) for c in pre_cluster])
    bucketed = df.withColumn(bucket_out, bucket_col(ts_col, timeframe))
    gb = bucketed.groupBy(*list(keys), bucket_out)
    return gb.agg(*[c.alias(name) for name, c in aggs.items()])


def resample_last(
    df: DataFrame,
    timeframe: str,
    value_cols: Sequence[str],
    *,
    ts_col: str = "ts",
    keys: Sequence[str] = (),
    bucket_out: str = "bucket",
) -> DataFrame:
    """pandas ``resample(tf).last()`` — last-by-time value per bucket
    (implemented with max_by to stay a single aggregate, no window)."""
    bucketed = df.withColumn(bucket_out, bucket_col(ts_col, timeframe))
    aggs = [F.max_by(F.col(c), F.col(ts_col)).alias(c) for c in value_cols]
    return bucketed.groupBy(*list(keys), bucket_out).agg(*aggs)


def sessionize(
    df: DataFrame,
    *,
    keys: Sequence[str],
    ts_col: str,
    gap_seconds: float,
    out: str = "session_id",
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Batch gap-based sessionization: within each key, a row starts a
    new session when it arrives more than ``gap_seconds`` after the
    previous row; ``out`` is the per-key session ordinal (1-based).
    The batch twin of the streaming ``session_window`` aggregation —
    use this to sessionize historical archives with the SAME gap
    semantics the live pipeline applies.

    One window over (keys, ts, tiebreaks) — pass ``tiebreak_cols``
    to make the ordering total when timestamps can tie (the flag is
    tie-insensitive but per-row ordinals need a total order to be
    reproducible across engines). The new-session flag is a lag
    comparison and the ordinal its running sum in the same window spec
    (single Window operator, single exchange)."""
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(
        F.col(ts_col), *[F.col(c) for c in tiebreak_cols]
    )
    t = F.col(ts_col).cast("double")
    prev = F.lag(t).over(w)
    new_s = F.when(
        prev.isNull() | ((t - prev) > gap_seconds), F.lit(1)
    ).otherwise(F.lit(0))
    return df.withColumn(
        out,
        F.sum(new_s).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
