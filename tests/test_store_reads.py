"""Feature-store reads build from the schema the store wrote: building a
point, batch, range or gap read submits no Spark job, and every read
returns what a plain filter over the store's Parquet files returns."""

from __future__ import annotations

import contextlib
import itertools

import pytest
from pyspark.sql import functions as F

from algorithmic_data_ingestion_for_cryptocurrencies_spark.functions.cleaning import (
    sanitize_symbol,
    sanitize_symbol_str,
)
from algorithmic_data_ingestion_for_cryptocurrencies_spark.store.feature_store import (
    FeatureStore,
)

E0 = 1_704_067_200  # 2024-01-01T00:00:00Z
N_BARS = 30
_groups = itertools.count()


@contextlib.contextmanager
def _jobs(spark):
    """Yield a list that holds, on exit, the ids of the Spark jobs this
    thread submitted inside the block."""
    sc = spark.sparkContext
    group = f"store-reads-{next(_groups)}"
    sc.setJobGroup(group, "feature-store read build")
    ids: list[int] = []
    try:
        yield ids
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _frame(spark, rows, cols):
    """Rows of ``(epoch, *cols)`` with the epoch as a ``timestamp`` column."""
    df = spark.createDataFrame(rows, ["epoch", *cols])
    return df.select(F.timestamp_seconds("epoch").alias("timestamp"), *cols)


def _market(spark, symbols=("btc/usdt", "avax:usdt")):
    rows = [
        (E0 + 60 * i, sym, "1m", 100.0 + i + j, 0.01 * (i % 7) + j)
        for j, sym in enumerate(symbols)
        for i in range(N_BARS)
        if i != 11  # one gap per series
    ]
    return _frame(spark, rows, ["symbol", "timeframe", "close", "hl_spread"])


def _news(spark):
    rows = [(E0, "btc/usdt", "1m", 0.5), (E0 + 60, "btc/usdt", "1m", -0.25)]
    return _frame(spark, rows, ["symbol", "timeframe", "sentiment"])


def _reads(store):
    sym = "BTC/USDT"
    return {
        "point": lambda: store.read("market", sym, "1m", E0 + 60 * 3),
        "batch": lambda: store.batch_read(
            "market", sym, "1m", [E0, E0 + 60 * 5, E0 + 60 * 11, E0 + 60 * 99]),
        "range": lambda: store.range_read(
            "market", "avax:usdt", "1m", E0 + 60 * 4, E0 + 60 * 20,
            limit=6, reverse=True),
        "missing_key": lambda: store.read("market", "ZZ/USDT", "1m", E0),
        "gaps": lambda: store.find_missing_bars(
            "market", sym, "1m", "2024-01-01 00:00:00", "2024-01-01 00:29:00"),
    }


def _expected(spark, base):
    """The same reads as filters over ``spark.read.parquet(base)``."""
    raw = spark.read.parquet(base)

    def key(sym):
        return ((F.col("domain") == "market") & (F.col("symbol") == sym)
                & (F.col("timeframe") == "1m"))

    btc = raw.filter(key("BTC-USDT"))
    present = btc.select(F.timestamp_seconds("ts_epoch").alias("expected_ts"))
    grid = spark.range(N_BARS).select(
        F.timestamp_seconds(F.col("id") * 60 + E0).alias("expected_ts"))
    return {
        "point": btc.filter(F.col("ts_epoch") == E0 + 60 * 3),
        "batch": btc.filter(F.col("ts_epoch").isin(
            [E0, E0 + 60 * 5, E0 + 60 * 11, E0 + 60 * 99])),
        "range": raw.filter(key("AVAX-USDT"))
        .filter(F.col("ts_epoch").between(E0 + 60 * 4, E0 + 60 * 20))
        .orderBy(F.col("ts_epoch").desc()).limit(6),
        "missing_key": raw.filter(key("ZZ-USDT") & (F.col("ts_epoch") == E0)),
        "gaps": grid.join(present, ["expected_ts"], "left_anti"),
    }


def _rows(df, ordered):
    rows = [tuple(r) for r in df.collect()]
    return rows if ordered else sorted(rows)


def test_reads_build_without_jobs_and_match_parquet(spark, tmp_path):
    base = str(tmp_path / "store")
    store = FeatureStore(spark, base)
    store.write(_market(spark), domain="market")
    built = {}
    for name, build in _reads(store).items():
        with _jobs(spark) as ids:
            built[name] = build()
        assert ids == [], f"{name} read launched jobs {ids} while building"
    for name, want in _expected(spark, base).items():
        got = built[name]
        assert got.columns == want.columns, name
        assert _rows(got, name == "range") == _rows(want, name == "range"), name
    assert [r["ts_epoch"] for r in built["range"].collect()] == [
        E0 + 60 * i for i in (20, 19, 18, 17, 16, 15)]
    assert [r["expected_ts"].timestamp() for r in built["gaps"].collect()] == [
        E0 + 60 * 11]
    assert built["missing_key"].count() == 0


def test_fresh_instance_infers_each_domain_once(spark, tmp_path):
    base = str(tmp_path / "store")
    writer = FeatureStore(spark, base)
    writer.write(_market(spark), domain="market")
    writer.write(_news(spark), domain="news")

    fresh = FeatureStore(spark, base)
    for domain in ("market", "news"):
        with _jobs(spark) as first:
            fresh.read(domain, "btc/usdt", "1m", E0)
        with _jobs(spark) as again:
            fresh.range_read(domain, "btc/usdt", "1m", E0, E0 + 600)
        assert first and again == [], domain
    for name, build in _reads(fresh).items():
        with _jobs(spark) as ids:
            got = build()
        assert ids == [], name
        want = _reads(writer)[name]()
        assert got.columns == want.columns, name
        assert _rows(got, name == "range") == _rows(want, name == "range"), name


def test_domains_read_back_their_own_columns(spark, tmp_path):
    base = str(tmp_path / "store")
    store = FeatureStore(spark, base)
    store.write(_market(spark), domain="market")
    store.write(_news(spark), domain="news")
    keys = ["domain", "symbol", "timeframe"]
    want = {
        "market": ["timestamp", "close", "hl_spread", "ts_epoch"] + keys,
        "news": ["timestamp", "sentiment", "ts_epoch"] + keys,
    }
    for reader in (store, FeatureStore(spark, base)):
        for domain, cols in want.items():
            df = reader.range_read(domain, "btc/usdt", "1m", E0, E0 + 60)
            assert df.columns == cols, domain
            assert df.count() == 2, domain
    news = store.read("news", "btc/usdt", "1m", E0 + 60).collect()
    assert [r["sentiment"] for r in news] == [-0.25]


def test_numeric_looking_symbol_reads_as_string(spark, tmp_path):
    base = str(tmp_path / "store")
    store = FeatureStore(spark, base)
    store.write(_market(spark, symbols=("7",)), domain="market")
    for reader in (store, FeatureStore(spark, base)):
        rows = reader.read("market", "7", "1m", E0).collect()
        assert [(r["symbol"], r["timeframe"], r["domain"]) for r in rows] == [
            ("7", "1m", "market")]
        assert dict(reader.read("market", "7", "1m", E0).dtypes)["symbol"] == "string"


def test_second_write_adds_columns_and_rejects_type_conflict(spark, tmp_path):
    base = str(tmp_path / "store")
    store = FeatureStore(spark, base)
    store.write(_market(spark), domain="market")
    extra = _market(spark, symbols=("eth/usdt",)).withColumn("rsi", F.lit(55.0))
    store.write(extra, domain="market")
    eth = store.read("market", "eth/usdt", "1m", E0)
    assert eth.columns[-5:] == ["ts_epoch", "rsi", "domain", "symbol", "timeframe"]
    assert [r["rsi"] for r in eth.collect()] == [55.0]
    assert [r["rsi"] for r in store.read("market", "btc/usdt", "1m", E0).collect()] == [None]

    clash = _market(spark, symbols=("sol/usdt",)).withColumn(
        "close", F.col("close").cast("string"))
    with pytest.raises(TypeError, match="close"):
        store.write(clash, domain="market")
    assert store.read("market", "sol/usdt", "1m", E0).count() == 0


@pytest.mark.parametrize("raw", ["btc/usdt", "avax:usdt", "7"])
def test_sanitize_symbol_forms_agree(spark, raw):
    jvm = spark.range(1).select(sanitize_symbol(F.lit(raw)).alias("s")).first()["s"]
    assert sanitize_symbol_str(raw) == jvm
    assert jvm == {"btc/usdt": "BTC-USDT", "avax:usdt": "AVAX-USDT", "7": "7"}[raw]
