"""Round-15 advisor/verdict fixes:

- near-pairs broadcast pins are BYTE-guarded (rows x vector width),
  not just row-guarded (advisor mediums 1-2);
- ``build_training_matrix`` rejects ``news_flag_col`` without
  ``social`` instead of silently dropping the requested column
  (advisor low);
- the knn_join/_fanout "is this scan serial?" gate reads optimizer
  stats instead of forcing an eager ``.rdd`` conversion (verdict #7).
"""

from __future__ import annotations

import os
import tempfile

import pytest

from algorithmic_data_ingestion_for_cryptocurrencies_spark.datasets.training import (
    build_training_matrix,
)
from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.similarity import (
    BROADCAST_PIN_MAX_BYTES,
    _broadcast_fits,
    knn_join,
)
from algorithmic_data_ingestion_for_cryptocurrencies_spark.plans.inspect import (
    estimated_plan_bytes,
    scan_is_effectively_serial,
)


def test_broadcast_pin_budget_accounts_for_vector_width():
    # the r14 row guard passed (1<<12)*200 = 819_200 rows regardless of
    # width; at dim=768 that is ~5 GB — the byte guard refuses it
    assert not _broadcast_fits((1 << 12) * 200, 768)
    # the bench defaults stay pinned: 2^4 * 200 rows of dim=64
    assert _broadcast_fits((1 << 4) * 200, 64)
    # unknown width falls back to a conservative wide-row estimate
    assert not _broadcast_fits(10_000_000, None)
    assert _broadcast_fits(100, None)
    # budget sanity: the constant is what the guard enforces
    assert _broadcast_fits(BROADCAST_PIN_MAX_BYTES // (8 * 64 + 64), 64)


def test_news_flag_without_social_raises(ohlcv_sdf):
    with pytest.raises(ValueError, match="news_flag_col"):
        build_training_matrix(ohlcv_sdf, news_flag_col="is_news")


def test_scan_serial_gate_uses_stats_not_rdd(spark):
    import pandas as pd

    tmp = tempfile.mkdtemp(prefix="adi_scanstats_")
    path = os.path.join(tmp, "small.parquet")
    pd.DataFrame({"vec_id": range(100), "x": range(100)}).to_parquet(path)
    df = spark.read.parquet(path)
    size = estimated_plan_bytes(df)
    assert size is not None and size > 0
    # a KB-scale file can never occupy 32 cores -> gate fires
    assert scan_is_effectively_serial(df, 32)
    # ... and never fires for parallelism 1 (ceil(size/split) >= 1)
    assert not scan_is_effectively_serial(df, 1)


def test_training_matrix_labels_early_matches_join_then_label(spark, ohlcv_pdf):
    """r15 sort-sharing reorder: labels are computed BEFORE the feature
    stage (riding its sort) with the unlabeled-row drop kept at the
    end. Pin value identity against the r14 shape (features -> join ->
    with_labels) on a fixture that includes NULL and ZERO closes
    mid-series — the adversarial case for any row-set-sensitive window
    reordering."""
    import pandas as pd
    from pyspark.sql import functions as F

    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.indicators import (
        build_market_features,
    )
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.joins import (
        spine_join,
    )
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.labels import (
        with_labels,
    )
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.resample import (
        resample,
    )

    pdf = ohlcv_pdf.copy()
    pdf.loc[17, "close"] = None  # NULL close mid-series
    pdf.loc[33, "close"] = 0.0  # zero close (pct_change div-by-zero)
    market = spark.createDataFrame(pdf)
    social = market.select(
        F.col("timestamp").alias("ts"),
        F.col("symbol").alias("id"),
        (F.col("volume") - 10.0).alias("sentiment_score"),
        (F.col("volume") > 12.0).alias("is_news"),
    )

    new = build_training_matrix(
        market, social=social, news_flag_col="is_news", timeframe="1m"
    )

    # the r14 shape, reconstructed: features -> broadcast join -> labels
    keys = ("symbol", "exchange", "timeframe")
    spine = build_market_features(market, keys=keys, ts_col="timestamp",
                                  keep_cols=["close"])
    s = resample(
        social, "1m",
        {
            "sentiment_mean": F.avg("sentiment_score"),
            "social_n": F.count("id"),
            "news_n": F.count(F.when(F.col("is_news"), F.col("id"))),
        },
        ts_col="ts", bucket_out="timestamp",
    )
    old = spine_join(
        spine, [s], on=["timestamp"],
        fill_zero_cols=["news_n", "sentiment_mean", "social_n"],
        broadcast_aggs=True,
    )
    old = with_labels(old, "close", keys=keys, order="timestamp")

    new_rows = sorted(
        new.select(*sorted(new.columns)).collect(), key=str
    )
    old_rows = sorted(
        old.select(*sorted(new.columns)).collect(), key=str
    )
    assert new_rows == old_rows


def test_market_features_dropna_never_drops_rows(spark, ohlcv_pdf):
    """The labels-early reorder relies on oi_obv (cumsum over
    zero-defaulted terms) being non-null on EVERY row, which makes
    build_market_features' dropna_final filter a row-level no-op —
    pin that invariant, including null-close rows."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.indicators import (
        build_market_features,
    )

    pdf = ohlcv_pdf.copy()
    pdf.loc[5, "close"] = None
    market = spark.createDataFrame(pdf)
    out = build_market_features(
        market, keys=("symbol", "exchange", "timeframe"), ts_col="timestamp"
    )
    assert out.count() == len(pdf)


def test_knn_join_still_parallelizes_serial_corpus(spark):
    import pandas as pd

    tmp = tempfile.mkdtemp(prefix="adi_knnlazy_")
    path = os.path.join(tmp, "emb.parquet")
    pd.DataFrame(
        {
            "vec_id": range(40),
            "embedding": [[float(i % 5), float(i % 3), 1.0] for i in range(40)],
        }
    ).to_parquet(path)
    corpus = spark.read.parquet(path)
    queries = corpus.limit(3)
    out = knn_join(queries, corpus, k=2)
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.plans.inspect import (
        explain_str,
    )

    plan = explain_str(out, "formatted")
    # the serial-file corpus is still round-robin fanned out
    assert "RoundRobinPartitioning" in plan, plan
    rows = out.collect()
    assert len(rows) == 6  # 3 queries x k=2
