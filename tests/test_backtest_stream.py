"""Streaming backtest continuity: chunked == batch equivalence against
the window-algebra operator, and a real applyInPandasWithState run."""

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
from algorithmic_data_ingestion_for_cryptocurrencies_spark.streaming._carry import (
    chunked_batch,
)
from algorithmic_data_ingestion_for_cryptocurrencies_spark.streaming.backtest_stream import (
    apply_stateful_backtest,
    backtest_op,
)

FEE_BPS = 10.0


@pytest.fixture(scope="module")
def curve_pdf():
    rng = random.Random(11)
    rows, px, pos = [], 100.0, 0
    for t in range(240):
        px *= 1 + rng.uniform(-0.03, 0.032)
        if rng.random() < 0.15:
            pos = rng.choice([0, 1, 1, -1])
        rows.append((pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=t), px, pos))
    return pd.DataFrame(rows, columns=["ts", "close", "position"])


@pytest.fixture(scope="module")
def batch_expected(spark, curve_pdf):
    df = spark.createDataFrame(curve_pdf).withColumn("sym", F.lit("BTC-USDT"))
    out = backtest_positions(
        df, keys=["sym"], order="ts",
        price_col="close", position_col="position", fee_bps=FEE_BPS,
    )
    return out.orderBy("ts").toPandas()


def test_chunked_equals_batch_operator(curve_pdf, batch_expected):
    for chunk_size in (9, 64, 500):
        op = backtest_op(price_col="close", position_col="position", fee_bps=FEE_BPS)
        chunked = chunked_batch(op, curve_pdf, chunk_size)
        for col in ("trade", "strategy_ret", "equity", "drawdown"):
            np.testing.assert_allclose(
                chunked[col].to_numpy(dtype=float),
                batch_expected[col].to_numpy(dtype=float),
                rtol=1e-12, atol=1e-15,
                err_msg=f"{col} chunk_size={chunk_size}",
            )


def test_streaming_stateful_backtest_equals_batch(spark, curve_pdf, batch_expected):
    """Real file-source micro-batches through applyInPandasWithState."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    with tempfile.TemporaryDirectory() as tmp:
        src, sink, ckpt = (os.path.join(tmp, d) for d in ("src", "sink", "ckpt"))
        os.makedirs(src)
        pdf = curve_pdf.copy()
        pdf["sym"] = "BTC-USDT"
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        for i, lo in enumerate(range(0, len(pdf), 80)):
            path = os.path.join(src, f"f{i}.parquet")
            pq.write_table(pa.Table.from_pandas(pdf.iloc[lo:lo + 80]), path)
            os.utime(path, (1_700_000_000 + i * 10,) * 2)

        schema = spark.read.parquet(os.path.join(src, "f0.parquet")).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        out = apply_stateful_backtest(
            stream, keys=["sym"], price_col="close",
            position_col="position", fee_bps=FEE_BPS,
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

    assert len(got) == len(pdf)
    assert (got["sym"] == "BTC-USDT").all()
    for col in ("trade", "strategy_ret", "equity", "drawdown"):
        np.testing.assert_allclose(
            got[col].to_numpy(dtype=float),
            batch_expected[col].to_numpy(dtype=float),
            rtol=1e-12, atol=1e-15, err_msg=col,
        )
