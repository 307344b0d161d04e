"""Fused live-strategy stateful operator: chunked == batch against the
signal->backtest operator pair, and a real micro-batch run."""

import os
import random
import tempfile

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.backtest import (
    backtest_positions,
)
from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.signals import (
    with_sma_crossover_signals,
)
from algorithmic_data_ingestion_for_cryptocurrencies_spark.streaming._carry import (
    chunked_batch,
)
from algorithmic_data_ingestion_for_cryptocurrencies_spark.streaming.strategy_stream import (
    apply_stateful_sma_strategy,
    sma_strategy_op,
)

FAST, SLOW, FEE_BPS = 5, 15, 10.0
CURVE_COLS = ("position", "trade", "strategy_ret", "equity", "drawdown")


@pytest.fixture(scope="module")
def price_pdf():
    rng = random.Random(23)
    rows, px = [], 100.0
    for t in range(260):
        px *= 1 + rng.uniform(-0.02, 0.021)
        rows.append((pd.Timestamp("2024-03-01") + pd.Timedelta(minutes=t), px))
    return pd.DataFrame(rows, columns=["ts", "close"])


@pytest.fixture(scope="module")
def batch_expected(spark, price_pdf):
    df = spark.createDataFrame(price_pdf).withColumn("sym", F.lit("ETH-USDT"))
    sig = with_sma_crossover_signals(
        df, "close", FAST, SLOW, keys=["sym"], order="ts"
    )
    out = backtest_positions(
        sig, keys=["sym"], order="ts",
        price_col="close", position_col="position", fee_bps=FEE_BPS,
    )
    return out.orderBy("ts").toPandas()


def _assert_curves_match(got: pd.DataFrame, exp: pd.DataFrame, label: str):
    assert len(got) == len(exp), label
    for col in CURVE_COLS + ("entry_sig", "exit_sig"):
        np.testing.assert_allclose(
            got[col].astype(float).to_numpy(),
            exp[col].astype(float).to_numpy(),
            rtol=1e-12, atol=1e-15, err_msg=f"{label}: {col}",
        )


def test_chunked_strategy_equals_batch_pair(price_pdf, batch_expected):
    for chunk_size in (11, 60, 400):
        op = sma_strategy_op(fast=FAST, slow=SLOW, fee_bps=FEE_BPS)
        chunked = chunked_batch(op, price_pdf, chunk_size)
        _assert_curves_match(chunked, batch_expected, f"chunk={chunk_size}")


def test_streaming_stateful_strategy_equals_batch(spark, price_pdf, batch_expected):
    import pyarrow as pa
    import pyarrow.parquet as pq

    with tempfile.TemporaryDirectory() as tmp:
        src, sink, ckpt = (os.path.join(tmp, d) for d in ("src", "sink", "ckpt"))
        os.makedirs(src)
        pdf = price_pdf.copy()
        pdf["sym"] = "ETH-USDT"
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        for i, lo in enumerate(range(0, len(pdf), 90)):
            path = os.path.join(src, f"f{i}.parquet")
            pq.write_table(pa.Table.from_pandas(pdf.iloc[lo:lo + 90]), path)
            os.utime(path, (1_700_000_000 + i * 10,) * 2)

        schema = spark.read.parquet(os.path.join(src, "f0.parquet")).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        out = apply_stateful_sma_strategy(
            stream, keys=["sym"], fast=FAST, slow=SLOW, fee_bps=FEE_BPS,
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
        got = spark.read.parquet(sink).orderBy("ts").toPandas()

    assert (got["sym"] == "ETH-USDT").all()
    _assert_curves_match(got, batch_expected, "stream")
