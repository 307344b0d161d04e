"""ST3 stateful-continuity coverage (VERDICT r1 next-step #7):

1. chunked-with-carry == full-batch (the reference's flagship
   invariance, ``algo-data-ingestion/tests/features/processors/
   test_stateful_processor.py:19-37``);
2. a REAL ``applyInPandasWithState`` streaming run over multiple
   micro-batches, string-keyed (the round-1 key schema hardcoded
   ``long``), asserting the streamed result equals the batch windows.
"""

from __future__ import annotations

import os
import tempfile

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from algorithmic_data_ingestion_for_cryptocurrencies_spark.streaming._carry import (
    chunked_batch,
)
from algorithmic_data_ingestion_for_cryptocurrencies_spark.streaming.stateful import (
    apply_stateful_rolling_mean,
    ewm_op,
    market_features_op,
    rolling_mean_op,
)


@pytest.fixture(scope="module")
def series_pdf():
    rng = np.random.default_rng(11)
    n = 200
    return pd.DataFrame(
        {
            "ts": pd.date_range("2024-01-01", periods=n, freq="1min"),
            "value": 100 + np.cumsum(rng.normal(0, 1, n)),
        }
    )


def test_chunked_equals_full_batch(series_pdf):
    full = series_pdf.copy()
    full["rolling_mean"] = full["value"].rolling(5).mean()
    for chunk_size in (7, 50, 200):
        chunked = chunked_batch(rolling_mean_op(window=5), series_pdf, chunk_size)
        np.testing.assert_allclose(
            chunked["rolling_mean"].to_numpy(),
            full["rolling_mean"].to_numpy(),
            rtol=1e-12,
            err_msg=f"chunk_size={chunk_size}",
        )


def test_streaming_stateful_equals_batch(spark, series_pdf):
    """Drive applyInPandasWithState through a real file-source stream
    split into several micro-batch files, with a STRING series key."""
    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "src")
        sink = os.path.join(tmp, "sink")
        ckpt = os.path.join(tmp, "ckpt")
        os.makedirs(src)

        pdf = series_pdf.copy()
        pdf["sym"] = "BTC-USDT"
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")  # Spark rejects ns parquet
        # three source files -> three micro-batches (maxFilesPerTrigger=1);
        # the file source orders batches by MODIFICATION TIME, so stamp
        # strictly increasing mtimes or chunks replay out of order
        import pyarrow as pa
        import pyarrow.parquet as pq

        for i, lo in enumerate(range(0, len(pdf), 70)):
            path = os.path.join(src, f"f{i}.parquet")
            pq.write_table(pa.Table.from_pandas(pdf.iloc[lo : lo + 70]), path)
            os.utime(path, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))

        schema = spark.read.parquet(os.path.join(src, "f0.parquet")).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        out = apply_stateful_rolling_mean(
            stream, keys=["sym"], value_col="value", window=5
        )
        q = (
            out.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        got = (
            spark.read.parquet(sink)
            .orderBy("ts")
            .toPandas()
        )
    assert len(got) == len(pdf)
    assert (got["sym"] == "BTC-USDT").all()
    exp = series_pdf["value"].rolling(5).mean()
    np.testing.assert_allclose(
        got["rolling_mean"].to_numpy(), exp.to_numpy(), rtol=1e-12
    )


def test_chunked_ewm_equals_full_batch(series_pdf):
    full = series_pdf["value"].ewm(span=12, adjust=True).mean()
    for chunk_size in (1, 7, 50, 200):
        chunked = chunked_batch(ewm_op(span=12), series_pdf, chunk_size)
        np.testing.assert_allclose(
            chunked["ewm"].to_numpy(), full.to_numpy(), rtol=1e-12,
            err_msg=f"chunk_size={chunk_size}",
        )


@pytest.fixture(scope="module")
def ohlcv_series_pdf():
    rng = np.random.default_rng(23)
    n = 240
    close = 100 + np.cumsum(rng.normal(0, 1, n))
    return pd.DataFrame(
        {
            "ts": pd.date_range("2024-01-01", periods=n, freq="1min"),
            "close": close,
            "high": close + np.abs(rng.normal(0, 0.5, n)),
            "low": close - np.abs(rng.normal(0, 0.5, n)),
            "volume": np.abs(rng.normal(10, 3, n)),
        }
    )


def _full_batch_features(pdf: pd.DataFrame) -> pd.DataFrame:
    """One-pass reference: the flagship's pandas math over the whole
    series (``tests/test_indicators.py::market_features_reference``
    checks the same formulas against the registry flagship)."""
    close = pdf["close"].astype(float)
    prev = close.shift(1)
    out = pdf.copy()
    out["ret_1"] = (close - prev) / prev.replace(0.0, np.nan)
    logc = np.log(close.replace(0.0, np.nan))
    out["logret_1"] = logc - logc.shift(1)
    out["rvol_5"] = out["logret_1"].rolling(5).std()
    out["rvol_20"] = out["logret_1"].rolling(20).std()
    out["ema_12"] = close.ewm(span=12, adjust=False).mean()
    out["ema_26"] = close.ewm(span=26, adjust=False).mean()
    out["macd"] = out["ema_12"] - out["ema_26"]
    out["macd_signal_9"] = out["macd"].ewm(span=9, adjust=False).mean()
    delta = close.diff()
    up = delta.clip(lower=0).fillna(0.0)
    down = (-delta).clip(lower=0).fillna(0.0)
    rs = up.rolling(14).mean() / down.rolling(14).mean().replace(0.0, np.nan)
    out["rsi_14"] = 100.0 - 100.0 / (1.0 + rs)
    out["hl_spread"] = (pdf["high"] - pdf["low"]) / close.replace(0.0, np.nan)
    out["oi_obv"] = (np.sign(delta.fillna(0.0)) * pdf["volume"].fillna(0.0)).cumsum()
    return out


FEATS = [
    "ret_1", "logret_1", "rvol_5", "rvol_20", "ema_12", "ema_26",
    "macd", "macd_signal_9", "rsi_14", "hl_spread", "oi_obv",
]


def test_chunked_market_features_equals_full_batch(ohlcv_series_pdf):
    """ST3 generality: the WHOLE flagship feature family survives
    chunking with carried state — rolling windows from the 20-row
    tail, EWMs and OBV from O(1) accumulators (r3 verdict #6)."""

    full = _full_batch_features(ohlcv_series_pdf)
    for chunk_size in (1, 7, 50, 240):
        chunked = chunked_batch(market_features_op(), ohlcv_series_pdf, chunk_size)
        assert len(chunked) == len(full)
        for c in FEATS:
            x, y = chunked[c].to_numpy(), full[c].to_numpy()
            assert (np.isnan(x) == np.isnan(y)).all(), (c, chunk_size)
            m = ~np.isnan(x)
            np.testing.assert_allclose(
                x[m], y[m], rtol=1e-12, err_msg=f"{c} chunk={chunk_size}"
            )


def test_streaming_stateful_market_features_equals_batch(spark, ohlcv_series_pdf):
    """Real applyInPandasWithState run over four micro-batches: every
    flagship feature column must equal the one-pass batch result."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.streaming.stateful import (
        apply_stateful_market_features,
    )

    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "src")
        sink = os.path.join(tmp, "sink")
        ckpt = os.path.join(tmp, "ckpt")
        os.makedirs(src)

        pdf = ohlcv_series_pdf.copy()
        pdf["sym"] = "BTC-USDT"
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        import pyarrow as pa
        import pyarrow.parquet as pq

        for i, lo in enumerate(range(0, len(pdf), 60)):
            path = os.path.join(src, f"f{i}.parquet")
            pq.write_table(pa.Table.from_pandas(pdf.iloc[lo : lo + 60]), path)
            os.utime(path, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))

        schema = spark.read.parquet(os.path.join(src, "f0.parquet")).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        out = apply_stateful_market_features(stream, keys=["sym"], ts_col="ts")
        q = (
            out.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.read.parquet(sink).orderBy("ts").toPandas()

    assert len(got) == len(pdf)
    full = _full_batch_features(ohlcv_series_pdf)
    for c in FEATS:
        x, y = got[c].to_numpy(), full[c].to_numpy()
        assert (np.isnan(x) == np.isnan(y)).all(), c
        m = ~np.isnan(x)
        np.testing.assert_allclose(x[m], y[m], rtol=1e-12, err_msg=c)


def test_streaming_stateful_ewm_equals_batch(spark, series_pdf):
    """Exact EWM continuation across three real micro-batches: the
    streamed result must equal pandas' full-series ewm(span=12,
    adjust=True) to float precision (carry is the (num, den) pair)."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.streaming.stateful import (
        apply_stateful_ewm,
    )

    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "src")
        sink = os.path.join(tmp, "sink")
        ckpt = os.path.join(tmp, "ckpt")
        os.makedirs(src)

        pdf = series_pdf.copy()
        pdf["sym"] = "ETH-USDT"
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        import pyarrow as pa
        import pyarrow.parquet as pq

        for i, lo in enumerate(range(0, len(pdf), 70)):
            path = os.path.join(src, f"f{i}.parquet")
            pq.write_table(pa.Table.from_pandas(pdf.iloc[lo : lo + 70]), path)
            os.utime(path, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))

        schema = spark.read.parquet(os.path.join(src, "f0.parquet")).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        out = apply_stateful_ewm(stream, keys=["sym"], value_col="value", span=12)
        q = (
            out.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.read.parquet(sink).orderBy("ts").toPandas()

    assert len(got) == len(pdf)
    exp = series_pdf["value"].ewm(span=12, adjust=True).mean()
    np.testing.assert_allclose(got["ewm"].to_numpy(), exp.to_numpy(), rtol=1e-12)
