"""Indicator parity vs the pandas formulas the reference uses
(regression oracle = pandas/NumPy math identical to
``algo-data-ingestion/app/features/processors/ta_indicators.py`` and
``app/features/factory/market_factory.py``)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators import (
    ewm as ewm_ops,
    indicators as ind,
)

KEYS = ("symbol", "exchange", "timeframe")
TS = "timestamp"


def one_series(pdf: pd.DataFrame, symbol: str = "BTC/USDT") -> pd.DataFrame:
    return (
        pdf[pdf.symbol == symbol]
        .sort_values("timestamp")
        .reset_index(drop=True)
    )


def spark_series(sdf_out, symbol: str, cols: list[str]) -> pd.DataFrame:
    return (
        sdf_out.filter(F.col("symbol") == symbol)
        .orderBy("timestamp")
        .select(*cols)
        .toPandas()
    )


def assert_close(spark_vals: pd.Series, pandas_vals: pd.Series, tol=1e-9, name=""):
    s = spark_vals.to_numpy(dtype=float)
    p = pandas_vals.to_numpy(dtype=float)
    assert len(s) == len(p), name
    both_nan = np.isnan(s) & np.isnan(p)
    close = np.isclose(s, p, rtol=tol, atol=tol)
    ok = both_nan | close
    assert ok.all(), f"{name}: mismatch at {np.nonzero(~ok)[0][:10]}: spark={s[~ok][:5]} pandas={p[~ok][:5]}"


@pytest.mark.parametrize("span", [12, 26])
def test_ewm_native_matches_pandas(spark, ohlcv_sdf, ohlcv_pdf, span):
    out = ewm_ops.with_ewm(ohlcv_sdf, "close", "ema", keys=KEYS, order=TS, span=span)
    for sym in ("BTC/USDT", "ETH/USDT"):
        got = spark_series(out, sym, ["ema"])["ema"]
        exp = one_series(ohlcv_pdf, sym)["close"].ewm(span=span, adjust=False).mean()
        assert_close(got, exp, name=f"ema{span}/{sym}")


def test_ewm_exact_matches_pandas(spark, ohlcv_sdf, ohlcv_pdf):
    out = ewm_ops.with_ewm_exact(ohlcv_sdf, "close", "ema", keys=KEYS, order=TS, span=12)
    got = spark_series(out, "BTC/USDT", ["ema"])["ema"]
    exp = one_series(ohlcv_pdf)["close"].ewm(span=12, adjust=False).mean()
    assert_close(got, exp, name="ewm_exact")


def test_rsi_sma_variant(spark, ohlcv_sdf, ohlcv_pdf):
    out = ind.with_rsi_sma(ohlcv_sdf, "close", 14, keys=KEYS, order=TS, out="rsi")
    p = one_series(ohlcv_pdf)
    delta = p["close"].diff()
    up = pd.Series(np.where(delta > 0, delta, 0.0))
    down = pd.Series(np.where(delta < 0, -delta, 0.0))
    rs = up.rolling(14).mean() / down.rolling(14).mean().replace(0, np.nan)
    exp = 100 - 100 / (1 + rs)
    assert_close(spark_series(out, "BTC/USDT", ["rsi"])["rsi"], exp, name="rsi_sma")


def test_rsi_wilder_variant(spark, ohlcv_sdf, ohlcv_pdf):
    out = ind.with_rsi_wilder(ohlcv_sdf, "close", 14, keys=KEYS, order=TS, out="rsi")
    p = one_series(ohlcv_pdf)
    delta = p["close"].diff()
    gain = delta.clip(lower=0)
    loss = -delta.clip(upper=0)
    rs = gain.ewm(alpha=1 / 14, adjust=False).mean() / loss.ewm(alpha=1 / 14, adjust=False).mean()
    exp = 100 - 100 / (1 + rs)
    assert_close(spark_series(out, "BTC/USDT", ["rsi"])["rsi"], exp, name="rsi_wilder")


def test_macd(spark, ohlcv_sdf, ohlcv_pdf):
    out = ind.with_macd(ohlcv_sdf, "close", keys=KEYS, order=TS, signal_out="signal")
    p = one_series(ohlcv_pdf)
    ema12 = p["close"].ewm(span=12, adjust=False).mean()
    ema26 = p["close"].ewm(span=26, adjust=False).mean()
    macd = ema12 - ema26
    signal = macd.ewm(span=9, adjust=False).mean()
    got = spark_series(out, "BTC/USDT", ["macd", "signal", "histogram"])
    assert_close(got["macd"], macd, name="macd")
    assert_close(got["signal"], signal, name="macd_signal")
    assert_close(got["histogram"], macd - signal, name="macd_hist")


def test_bollinger_vwap_atr(spark, ohlcv_sdf, ohlcv_pdf):
    out = ind.with_bollinger(ohlcv_sdf, "close", 20, keys=KEYS, order=TS)
    out = ind.with_vwap(out, 10, keys=KEYS, order=TS, out="vwap")
    out = ind.with_atr(out, 14, keys=KEYS, order=TS, out="atr")
    p = one_series(ohlcv_pdf)
    mid = p["close"].rolling(20).mean()
    sd = p["close"].rolling(20).std()
    got = spark_series(out, "BTC/USDT", ["bb_middle", "bb_upper", "bb_lower", "vwap", "atr"])
    assert_close(got["bb_middle"], mid, name="bb_mid")
    assert_close(got["bb_upper"], mid + 2 * sd, name="bb_up")
    assert_close(got["bb_lower"], mid - 2 * sd, name="bb_lo")
    vwap = (p["close"] * p["volume"]).rolling(10).sum() / p["volume"].rolling(10).sum()
    assert_close(got["vwap"], vwap, name="vwap")
    prev_c = p["close"].shift(1)
    tr = pd.concat([p["high"] - p["low"], (p["high"] - prev_c).abs(), (p["low"] - prev_c).abs()], axis=1).max(axis=1)
    assert_close(got["atr"], tr.rolling(14).mean(), name="atr")


def test_obv_stoch_mfi_roc(spark, ohlcv_sdf, ohlcv_pdf):
    out = ind.with_obv(ohlcv_sdf, keys=KEYS, order=TS, out="obv")
    out = ind.with_stochastic(out, keys=KEYS, order=TS)
    out = ind.with_mfi(out, 14, keys=KEYS, order=TS, out="mfi")
    out = ind.with_roc(out, "close", 12, keys=KEYS, order=TS, out="roc")
    p = one_series(ohlcv_pdf)
    got = spark_series(out, "BTC/USDT", ["obv", "percent_k", "percent_d", "mfi", "roc"])

    direction = np.sign(p["close"].diff()).fillna(0.0)
    assert_close(got["obv"], (direction * p["volume"]).cumsum(), name="obv")

    low_min = p["low"].rolling(14).min()
    high_max = p["high"].rolling(14).max()
    k = 100 * (p["close"] - low_min) / (high_max - low_min)
    assert_close(got["percent_k"], k, name="%K")
    assert_close(got["percent_d"], k.rolling(3).mean(), name="%D")

    tp = (p["high"] + p["low"] + p["close"]) / 3
    mf = tp * p["volume"]
    pos = mf.where(tp > tp.shift(1), 0.0).rolling(14).sum()
    neg = mf.where(tp < tp.shift(1), 0.0).rolling(14).sum()
    assert_close(got["mfi"], 100 * pos / (pos + neg), name="mfi")

    assert_close(got["roc"], 100 * p["close"].diff(12) / p["close"].shift(12), name="roc")


def test_cci_adx(spark, ohlcv_sdf, ohlcv_pdf):
    out = ind.with_cci(ohlcv_sdf, 20, keys=KEYS, order=TS, out="cci")
    out = ind.with_adx(out, 14, keys=KEYS, order=TS, out="adx")
    p = one_series(ohlcv_pdf)
    got = spark_series(out, "BTC/USDT", ["cci", "adx"])

    tp = (p["high"] + p["low"] + p["close"]) / 3
    ma = tp.rolling(20).mean()
    md = tp.rolling(20).apply(lambda x: np.abs(x - x.mean()).mean(), raw=True)
    cci = (tp - ma) / (0.015 * md)
    assert_close(got["cci"], cci, name="cci")

    up = p["high"].diff()
    down = -p["low"].diff()
    plus_dm = pd.Series(np.where((up > down) & (up > 0), up, 0.0))
    minus_dm = pd.Series(np.where((down > up) & (down > 0), down, 0.0))
    prev_c = p["close"].shift(1)
    tr = pd.concat([p["high"] - p["low"], (p["high"] - prev_c).abs(), (p["low"] - prev_c).abs()], axis=1).max(axis=1)
    atr = tr.rolling(14).mean()
    plus_di = 100 * plus_dm.rolling(14).mean() / atr
    minus_di = 100 * minus_dm.rolling(14).mean() / atr
    dx = 100 * (plus_di - minus_di).abs() / (plus_di + minus_di)
    assert_close(got["adx"], dx.rolling(14).mean(), name="adx")


def market_features_reference(p: pd.DataFrame) -> pd.DataFrame:
    """The reference's pandas math for the flagship stage
    (``market_factory.py:105-142``) over ONE series already in window
    order: the :data:`~ind.MARKET_FEATURES` columns on ``p``'s index,
    rows whose every feature is NaN dropped (the reference's dropna)."""
    close = p["close"]
    ret_1 = close.pct_change()
    logret_1 = np.log(close.replace(0, np.nan)).diff()
    ema_12 = close.ewm(span=12, adjust=False).mean()
    ema_26 = close.ewm(span=26, adjust=False).mean()
    macd = ema_12 - ema_26
    macd_signal_9 = macd.ewm(span=9, adjust=False).mean()
    delta = close.diff()
    up = pd.Series(np.where(delta > 0, delta, 0.0), index=p.index)
    down = pd.Series(np.where(delta < 0, -delta, 0.0), index=p.index)
    rs = up.rolling(14).mean() / down.rolling(14).mean().replace(0, np.nan)
    rsi_14 = 100 - 100 / (1 + rs)
    exp = pd.DataFrame({
        "ret_1": ret_1,
        "logret_1": logret_1,
        "rvol_5": logret_1.rolling(5).std(),
        "rvol_20": logret_1.rolling(20).std(),
        "ema_12": ema_12, "ema_26": ema_26,
        "macd": macd, "macd_signal_9": macd_signal_9,
        "rsi_14": rsi_14,
        "hl_spread": (p["high"] - p["low"]) / close.replace(0, np.nan),
        "oi_obv": (np.sign(close.diff()).fillna(0.0) * p["volume"]).cumsum(),
    })
    return exp[exp.notna().any(axis=1)]


def test_build_market_features_full_parity(spark, ohlcv_sdf, ohlcv_pdf):
    """Full flagship-stage parity vs the reference's exact pandas math
    (``market_factory.py:105-142``), including dropna-any-feature."""
    out = ind.build_market_features(ohlcv_sdf)
    exp = market_features_reference(one_series(ohlcv_pdf)).reset_index(drop=True)

    cols = list(exp.columns)
    got = spark_series(out, "BTC-USDT" if False else "BTC/USDT", cols)
    assert len(got) == len(exp)
    for c in cols:
        assert_close(got[c], exp[c], name=c)

    # schema contract: column order matches the declared feature schema
    assert out.columns[:6] == ["timestamp", "dt", "symbol", "exchange", "timeframe", "feature_version"]
    assert set(out.columns[6:]) == set(cols)


#: Bound on |registry - pandas| per feature at sf0.01. The registry
#: rounds with FLOOR(x * 1e6 + 0.5) / 1e6, which moves a value by at
#: most 5e-7; the unrounded stage differs from pandas by at most
#: ~1.1e-10 (the EWM family on prices up to ~1e5, measured), so every
#: rounded feature stays within 5.1e-7 and none needs more. OBV sums
#: integer quantities and is exact; hl_spread is twice a two-decimal
#: discount, so rounding it moves only the last bit.
FLAGSHIP_REFERENCE_BOUND = {
    **{c: 5.1e-7 for c in ind.MARKET_FEATURES},
    "hl_spread": 1e-15,
    "oi_obv": 0.0,
}


def test_flagship_matches_pandas_reference(spark):
    """The registry flagship (``build_market_features`` over every
    ``suppkey`` series at sf0.01, rounded by the registry) against
    :func:`market_features_reference` run per series in the window
    order ``(ts, okey, lnum, pkey)``: the same rows, the same NaNs,
    and every feature within :data:`FLAGSHIP_REFERENCE_BOUND`."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.driver_queries import (
        IDS,
        ORDER,
        REGISTRY,
        _market,
    )

    sf = "/root/testdata/sf0.01"
    m = _market(spark, sf).toPandas().sort_values(["suppkey", *ORDER])
    series = m.groupby("suppkey", group_keys=False)[["close", "high", "low", "volume"]]
    want = m[IDS].join(series.apply(market_features_reference), how="inner")
    fn, _sql = REGISTRY["flagship_market_features"]
    got = fn(spark, sf).toPandas()
    mrg = want.merge(got, on=IDS, suffixes=("_ref", "_reg"), validate="one_to_one")
    assert len(mrg) == len(want) == len(got) > 0
    for c in ind.MARKET_FEATURES:
        x, y = mrg[c + "_ref"].to_numpy(float), mrg[c + "_reg"].to_numpy(float)
        assert (np.isnan(x) == np.isnan(y)).all(), c
        err = np.abs(x - y)[~np.isnan(x)].max()
        assert err <= FLAGSHIP_REFERENCE_BOUND[c], (c, err)


#: |registry - pandas| bound for ``w09_ema``: the registry rounds both
#: EMAs to 1e-6, so an exact stage can sit up to 5e-7 from the unrounded
#: reference; 5.1e-7 leaves 1e-8 for the stage's own summation order
#: (shared-block ``with_ewm_multi`` vs pandas' recursion, measured far
#: below that on these ~100-2,000 prices)
W09_REFERENCE_BOUND = 5.1e-7


def test_w09_ema_matches_pandas_reference(spark):
    """The registry ``w09_ema`` (``with_ewm_multi`` over every
    ``suppkey`` series at sf0.01, spans 12 and 26 on one shared block
    layout, rounded by the registry) against pandas
    ``close.ewm(span=s, adjust=False).mean()`` run per series in the
    window order ``(ts, okey, lnum, pkey)``: the same rows, the same
    NaNs, and both EMAs within :data:`W09_REFERENCE_BOUND`."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.driver_queries import (
        IDS,
        ORDER,
        REGISTRY,
        _market,
    )

    sf = "/root/testdata/sf0.01"
    m = _market(spark, sf).toPandas().sort_values(["suppkey", *ORDER])
    close = m.groupby("suppkey", group_keys=False)["close"]
    want = m[IDS].assign(
        ema_12=close.transform(lambda x: x.ewm(span=12, adjust=False).mean()),
        ema_26=close.transform(lambda x: x.ewm(span=26, adjust=False).mean()),
    )
    fn, _sql = REGISTRY["w09_ema"]
    got = fn(spark, sf).toPandas()
    mrg = want.merge(got, on=IDS, suffixes=("_ref", "_reg"), validate="one_to_one")
    assert len(mrg) == len(want) == len(got) > 0
    for c in ("ema_12", "ema_26"):
        x, y = mrg[c + "_ref"].to_numpy(float), mrg[c + "_reg"].to_numpy(float)
        assert (np.isnan(x) == np.isnan(y)).all(), c
        err = np.abs(x - y)[~np.isnan(x)].max()
        assert err <= W09_REFERENCE_BOUND, (c, err)


def test_triple_barrier_label_semantics(spark):
    """Upper-first tie convention, timeout at the vertical barrier,
    bars-to-hit, and horizon truncation at series end."""
    from pyspark.sql import functions as F

    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.labels import (
        triple_barrier_labels,
    )

    # prices: 100 ->(t1) 99 ->(t2) 103 : lower (98) never hit, upper
    # (102) hit at t=2. Then a crash bar for the -1 case, and a flat
    # tail for timeouts.
    prices = [100.0, 99.0, 103.0, 101.0, 90.0, 90.1, 90.2, 90.05]
    rows = [("s", i, p) for i, p in enumerate(prices)]
    df = spark.createDataFrame(rows, ["sym", "t", "close"])
    out = {
        r["t"]: r
        for r in triple_barrier_labels(
            df, "close", keys=["sym"], order="t",
            horizon=3, up_pct=0.02, dn_pct=0.02,
        ).collect()
    }
    assert out[0]["tb_label"] == 1 and out[0]["tb_t_hit"] == 2   # 103 >= 102
    assert out[1]["tb_label"] == 1 and out[1]["tb_t_hit"] == 1   # 103 >= 100.98
    assert out[3]["tb_label"] == -1 and out[3]["tb_t_hit"] == 1  # 90 <= 98.98
    assert out[4]["tb_label"] == 0 and out[4]["tb_t_hit"] is None  # flat tail
    assert out[7]["tb_label"] == 0 and out[7]["tb_t_hit"] is None  # no future

    # tie bar: one future bar that crosses BOTH barriers -> upper wins
    tie = spark.createDataFrame(
        [("s", 0, 100.0), ("s", 1, 100.0)], ["sym", "t", "close"]
    )
    # craft: second bar 200 crosses up AND (trivially not down); use a
    # degenerate dn_pct so both conditions trigger on the same value
    t2 = triple_barrier_labels(
        tie, "close", keys=["sym"], order="t",
        horizon=2, up_pct=0.0, dn_pct=0.0,
    ).collect()
    first = [r for r in t2 if r["t"] == 0][0]
    assert first["tb_label"] == 1  # x >= up checked before x <= dn


def test_with_rolling_mean_fixed_pandas_and_bit_parity(spark):
    """r14: the O(1)/row fixed-point sliding mean must (a) agree with
    pandas rolling(n).mean() to the quantization bound (2^-bits per
    element, so ~n*2^-bits/n = 2^-bits absolute on the mean), across
    nulls and a sub-n min_periods, and (b) be BIT-identical to an
    independent numpy recomputation of its own definition
    (floor-quantize -> int prefix sums -> difference -> single double
    divide), which is the property the DuckDB twin relies on."""
    import math
    import random

    import numpy as np
    import pandas as pd

    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.rolling import (
        with_rolling_mean_fixed,
    )

    rng = random.Random(41)
    vals = [
        None if rng.random() < 0.12 else rng.uniform(-5e4, 1.05e5)
        for _ in range(500)
    ]
    rows = [("k", i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "key string, ts long, x double")
    n, bits = 20, 31  # envelope: 20 * 1.05e5 * 2^31 = 4.5e15 < 2^53

    for mp in (None, 3):
        out = with_rolling_mean_fixed(
            df, "m", "x", ["key"], "ts", n, scale_bits=bits, min_periods=mp
        )
        got = [r["m"] for r in out.orderBy("ts").collect()]

        # (a) pandas parity within quantization
        exp = (
            pd.Series(vals, dtype="float64")
            .rolling(n, min_periods=n if mp is None else mp)
            .mean()
        )
        for g, e in zip(got, exp):
            if g is None or (isinstance(g, float) and math.isnan(g)):
                assert pd.isna(e), (g, e)
            else:
                assert abs(g - e) <= 2.0 ** -bits * 1.001, (g, e)

        # (b) bit parity with the definition, recomputed independently
        scale = float(1 << bits)
        q = np.array(
            [0 if v is None else math.floor(v * scale) for v in vals],
            dtype=object,  # unbounded ints: the DECIMAL(38,0) analog
        )
        nn = np.array([0 if v is None else 1 for v in vals])
        cs, cc = np.cumsum(q), np.cumsum(nn)
        mpv = n if mp is None else mp
        for t, g in enumerate(got):
            lo_s = cs[t - n] if t >= n else 0
            lo_c = cc[t - n] if t >= n else 0
            fcnt = int(cc[t] - lo_c)
            if fcnt < mpv or fcnt == 0:
                assert g is None or math.isnan(g)
                continue
            expect = float(int(cs[t] - lo_s)) / (float(fcnt) * scale)
            assert g == expect, (t, g, expect)
