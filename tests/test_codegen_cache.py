"""A scheduled ingest tick compiles its generated classes once: after a
warm-up micro-batch and its store reads, the next micro-batch into the
same ``FeatureStore`` and the same reads find every class in Spark's
codegen cache (``session.CODEGEN_CACHE_ENTRIES``)."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from algorithmic_data_ingestion_for_cryptocurrencies_spark.schemas import MARKET_SCHEMA
from algorithmic_data_ingestion_for_cryptocurrencies_spark.store.feature_store import (
    FeatureStore,
)
from algorithmic_data_ingestion_for_cryptocurrencies_spark.streaming.ingest import (
    read_file_stream,
    start_market_ingest,
)

SYMBOLS, BARS = 20, 60
EPOCH0 = 1_700_000_000


def _write_bars(spark, src: str, k: int) -> None:
    """File ``k``: minutes ``[k * BARS, (k + 1) * BARS)`` of every symbol."""
    rng = np.random.default_rng(k)
    ep = EPOCH0 + 60 * np.arange(k * BARS, (k + 1) * BARS)
    close = 100.0 + np.cumsum(rng.normal(0.0, 0.4, (SYMBOLS, BARS)), axis=1)
    pdf = pd.DataFrame({
        "timestamp": pd.to_datetime(np.tile(ep, SYMBOLS), unit="s", utc=True),
        "symbol": np.repeat([f"S{i:02d}/USDT" for i in range(SYMBOLS)], BARS),
        "exchange": "binance",
        "timeframe": "1m",
        "open": close.ravel(),
        "high": close.ravel() + 0.3,
        "low": close.ravel() - 0.3,
        "close": close.ravel(),
        "volume": rng.uniform(1.0, 50.0, SYMBOLS * BARS),
    })
    pdf["dt"] = pdf["timestamp"].dt.strftime("%Y-%m-%d")
    df = spark.createDataFrame(pdf[[f.name for f in MARKET_SCHEMA.fields]], MARKET_SCHEMA)
    df.coalesce(1).write.parquet(os.path.join(src, f"bars_{k:05d}"))


def test_second_ingest_tick_compiles_no_classes(spark, tmp_path):
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    src, store = str(tmp_path / "src"), FeatureStore(spark, str(tmp_path / "store"))
    last = EPOCH0 + 60 * (BARS - 1)
    reads = [  # the ingest_serve mix: 3 point, 2 batch, 2 range, 1 missing
        lambda: store.read("market", "S01/USDT", "1m", EPOCH0 + 600),
        lambda: store.read("market", "S07/USDT", "1m", EPOCH0 + 1200),
        lambda: store.read("market", "S13/USDT", "1m", EPOCH0 + 60),
        lambda: store.batch_read("market", "S02/USDT", "1m", [EPOCH0, EPOCH0 + 120]),
        lambda: store.batch_read("market", "S05/USDT", "1m", [EPOCH0 + 60, last]),
        lambda: store.range_read("market", "S03/USDT", "1m", EPOCH0, last,
                                 limit=20, reverse=True),
        lambda: store.range_read("market", "S04/USDT", "1m", EPOCH0 + 300, last,
                                 limit=20),
        lambda: store.read("market", "ZZ/USDT", "1m", EPOCH0),
    ]

    def tick() -> None:
        q = start_market_ingest(
            read_file_stream(spark, src + "/*", MARKET_SCHEMA),
            lake_path=str(tmp_path / "lake"), checkpoint=str(tmp_path / "ckpt"),
            feature_store=store,
        )
        assert q.awaitTermination(120) and q.exception() is None
        for read in reads:
            read().select("ts_epoch", "hl_spread").collect()

    _write_bars(spark, src, 0)
    tick()
    _write_bars(spark, src, 1)
    before = codegen.METRIC_COMPILATION_TIME().getCount()
    tick()
    assert codegen.METRIC_COMPILATION_TIME().getCount() - before == 0
    assert spark.read.parquet(str(tmp_path / "lake")).count() == 2 * SYMBOLS * BARS
