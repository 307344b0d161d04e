"""Technical-indicator operators (SURVEY §2.5 W9-W22) as DataFrame
transforms.

Parity source: ``/root/reference/algo-data-ingestion/app/features/
processors/ta_indicators.py`` and ``app/features/factory/
market_factory.py``. Each transform appends columns; all math is
built-in column expressions over per-series windows (one shuffle per
distinct (partition, order) spec — Spark computes every frame variant
of the same spec in a single WindowExec), except EMA which uses the
closed-form from :mod:`.ewm`.

Signature convention: ``fn(df, *, keys, order, cols...) -> DataFrame``
where ``keys`` are the series identity columns (e.g. symbol, exchange,
timeframe) and ``order`` the time column(s).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.time_norm import dt_from_ts
from ..schemas import FEATURE_VERSION, MARKET_FEATURE_SCHEMA, coerce_schema
from .ewm import _ewm_layers, block_size_for, with_ewm_multi
from .rolling import (
    attach_layers,
    cum_sum,
    lag_diff,
    log_return,
    pct_change,
    rolling_agg,
    rolling_mean,
    rolling_std,
    rolling_sum,
    rolling_min,
    rolling_max,
    series_window,
    trailing,
)


def _series(keys: Sequence[str], order) :
    return series_window(keys, order)


# Each indicator the flagship stage uses is a per-layer builder
# returning ``(layers, helper columns)`` for :func:`attach_layers`: its
# ``with_*``, where one exists, attaches it alone, and :func:`build_market_features`
# attaches every builder's layer i in ONE projection, so the stage's
# window expressions share Window operators instead of one per column.

def _returns_layers(col: str, w, ret_out: str, logret_out: str):
    return [{ret_out: pct_change(col, w, 1), logret_out: log_return(col, w, 1)}], []


def _rsi_sma_layers(col: str, n: int, w, out: str):
    delta = lag_diff(col, w, 1)
    rs = rolling_mean("__up", w, n) / F.nullif(rolling_mean("__down", w, n), F.lit(0.0))
    return [
        # stage ±moves: window exprs can't nest inside the rolling mean
        {"__up": F.when(delta > 0, delta).otherwise(F.lit(0.0)),
         "__down": F.when(delta < 0, -delta).otherwise(F.lit(0.0))},
        {out: F.lit(100.0) - (F.lit(100.0) / (F.lit(1.0) + rs))},
    ], ["__up", "__down"]


def with_rsi_sma(df: DataFrame, col: str, n: int = 14, *, keys, order,
                 out: str | None = None) -> DataFrame:
    """RSI, SMA variant — ``market_factory.py:54-62``.

    up/down are 0.0 (not NULL) on the first row because ``np.where`` on
    a NaN delta picks the else-branch; rs divides by NULLIF(down,0)
    exactly like the reference's ``replace(0, nan)``.
    """
    return attach_layers(df, *_rsi_sma_layers(col, n, _series(keys, order), out or f"rsi_{n}"))


def with_rsi_wilder(df: DataFrame, col: str, n: int = 14, *, keys, order,
                    out: str | None = None) -> DataFrame:
    """RSI, Wilder/EWM variant — ``ta_indicators.py:59-77``
    (``ewm(alpha=1/n, adjust=False)`` of clipped gains/losses; the
    clip keeps the first delta NULL, matching pandas NaN-skip)."""
    w = _series(keys, order)
    delta = lag_diff(col, w, 1)
    df = df.withColumn("__gain", F.when(delta > 0, delta).otherwise(
        F.when(delta.isNotNull(), F.lit(0.0))))
    df = df.withColumn("__loss", F.when(delta < 0, -delta).otherwise(
        F.when(delta.isNotNull(), F.lit(0.0))))
    df = with_ewm_multi(
        df,
        [
            {"col": "__gain", "out": "__avg_gain", "alpha": 1.0 / n},
            {"col": "__loss", "out": "__avg_loss", "alpha": 1.0 / n},
        ],
        keys=keys,
        order=order,
    )
    rs = F.col("__avg_gain") / F.col("__avg_loss")
    # pandas parity for avg_loss==0: gain/0 = inf -> RSI 100 (all-gain
    # history); 0/0 = NaN -> NULL. Non-ANSI Spark x/0 is NULL, so the
    # inf branch must be explicit.
    rsi = F.when(
        F.col("__avg_loss") == 0,
        F.when(F.col("__avg_gain") > 0, F.lit(100.0)),
    ).otherwise(F.lit(100.0) - (F.lit(100.0) / (F.lit(1.0) + rs)))
    return df.withColumn(out or f"rsi_{n}", rsi).drop(
        "__gain", "__loss", "__avg_gain", "__avg_loss"
    )


def _macd_layers(col: str, *, keys, order, fast: int, slow: int, signal: int,
                 macd_out: str, signal_out: str, hist_out: str | None,
                 keep_emas: bool):
    k = max(block_size_for(span=s) for s in (fast, slow, signal))
    emas, stage, ema_tmp = _ewm_layers(
        [
            {"col": col, "out": "__ema_fast", "span": fast},
            {"col": col, "out": "__ema_slow", "span": slow},
        ],
        keys=keys, order=order, k=k,
    )
    line = {macd_out: F.col("__ema_fast") - F.col("__ema_slow")}
    if keep_emas:
        line |= {f"ema_{fast}": F.col("__ema_fast"), f"ema_{slow}": F.col("__ema_slow")}
    sig, _stage, sig_tmp = _ewm_layers(
        [{"col": macd_out, "out": signal_out, "span": signal, "pos_col": col}],
        keys=keys, order=order, k=k, staged=stage,
    )
    hist = {hist_out: F.col(macd_out) - F.col(signal_out)} if hist_out else {}
    # the signal reuses the staged positions, so its idx and block/pos
    # layers (sig[:2]) are empty
    layers = [*emas, line, *sig[2:], hist]
    return layers, list(dict.fromkeys([*ema_tmp, *sig_tmp, "__ema_fast", "__ema_slow"]))


def with_macd(df: DataFrame, col: str, *, keys, order,
              fast: int = 12, slow: int = 26, signal: int = 9,
              macd_out: str = "macd", signal_out: str | None = None,
              hist_out: str | None = "histogram",
              keep_emas: bool = False) -> DataFrame:
    """MACD line / signal / histogram — ``ta_indicators.py:79-89``.

    All THREE EWMs share one block structure: fast/slow run fused, and
    the signal EWM (which must follow the MACD line) reuses their
    staged position columns via ``pos_col`` — valid because the MACD
    line's null pattern equals the close's (ema null iff close's
    position index < 0) — so every EWM window shares the same
    partition spec and Catalyst keeps the whole family in one sort
    chain.
    """
    return attach_layers(df, *_macd_layers(
        col, keys=keys, order=order, fast=fast, slow=slow, signal=signal,
        macd_out=macd_out, signal_out=signal_out or f"macd_signal_{signal}",
        hist_out=hist_out, keep_emas=keep_emas,
    ))


def with_bollinger(df: DataFrame, col: str, n: int = 20, num_std: float = 2.0, *,
                   keys, order, prefix: str = "bb") -> DataFrame:
    """Bollinger middle/upper/lower — ``ta_indicators.py:91-100``."""
    w = _series(keys, order)
    mid = rolling_mean(col, w, n)
    sd = rolling_std(col, w, n)
    return (
        df.withColumn(f"{prefix}_middle", mid)
          .withColumn(f"{prefix}_upper", mid + F.lit(num_std) * sd)
          .withColumn(f"{prefix}_lower", mid - F.lit(num_std) * sd)
    )


def with_vwap(df: DataFrame, n: int, *, keys, order,
              price_col: str = "close", volume_col: str = "volume",
              out: str | None = None) -> DataFrame:
    """Rolling VWAP — ``ta_indicators.py:102-117``."""
    w = _series(keys, order)
    pv = F.col(price_col) * F.col(volume_col)
    return df.withColumn(
        out or f"vwap_{n}",
        rolling_sum(pv, w, n) / rolling_sum(F.col(volume_col), w, n),
    )


def true_range(w, high: str = "high", low: str = "low", close: str = "close") -> Column:
    """TR = max(h-l, |h-prev_c|, |l-prev_c|); greatest() skips NULLs so
    the first row degrades to h-l exactly like pandas' skipna max —
    ``ta_indicators.py:133-145``."""
    prev_close = F.lag(F.col(close), 1).over(w)
    return F.greatest(
        F.col(high) - F.col(low),
        F.abs(F.col(high) - prev_close),
        F.abs(F.col(low) - prev_close),
    )


def with_atr(df: DataFrame, n: int = 14, *, keys, order,
             high: str = "high", low: str = "low", close: str = "close",
             out: str | None = None) -> DataFrame:
    """ATR = rolling mean of TR — ``ta_indicators.py:133-145``."""
    w = _series(keys, order)
    df = df.withColumn("__tr", true_range(w, high, low, close))
    df = df.withColumn(out or f"atr_{n}", rolling_mean("__tr", w, n))
    return df.drop("__tr")


def _obv_layers(w, price_col: str, volume_col: str, out: str):
    delta = lag_diff(price_col, w, 1)
    direction = F.when(delta.isNull(), F.lit(0.0)).otherwise(F.signum(delta))
    return [
        {"__signed_vol": direction * F.coalesce(F.col(volume_col), F.lit(0.0))},
        {out: cum_sum("__signed_vol", w)},
    ], ["__signed_vol"]


def with_obv(df: DataFrame, *, keys, order,
             price_col: str = "close", volume_col: str = "volume",
             out: str = "obv") -> DataFrame:
    """OBV = cumsum(sign(Δclose)·volume), first sign 0 —
    ``ta_indicators.py:147-154``, ``market_factory.py:64-67``."""
    return attach_layers(df, *_obv_layers(_series(keys, order), price_col, volume_col, out))


def with_cci(df: DataFrame, n: int = 20, constant: float = 0.015, *, keys, order,
             high: str = "high", low: str = "low", close: str = "close",
             out: str | None = None) -> DataFrame:
    """CCI — ``ta_indicators.py:5-26,156-164``.

    Needs the rolling *mean absolute deviation around the current
    row's MA*, which no single window aggregate expresses. The frame
    is a fixed n rows, so the deviation sum is unrolled into n
    ``lag`` terms — every expression stays in whole-stage codegen and
    all window functions (avg, count, n-1 lags) share one WindowExec
    pass. (Round-2 used collect_list + an interpreted higher-order
    fold: ~n closure invocations per row, measured ~2x slower.)

    The warmup mask makes the unroll complete, not approximate:
    ``count >= n`` over an n-row trailing frame implies the frame has
    exactly n rows with zero nulls, so the n lag terms are exactly the
    frame's values.
    """
    w = _series(keys, order)
    frame = trailing(w, n)
    tp = (F.col(high) + F.col(low) + F.col(close)) / F.lit(3.0)
    df = df.withColumn("__tp", tp)
    df = df.withColumn("__tp_ma", F.avg("__tp").over(frame))
    df = df.withColumn("__tp_cnt", F.count("__tp").over(frame))
    # terms ordered oldest-first so the float summation order matches
    # the frame-ordered sequential fold of the round-2 implementation
    # and the DuckDB oracle's LIST_SUM (IEEE addition isn't associative)
    dev_terms = [
        F.abs((F.col("__tp") if i == 0 else F.lag("__tp", i).over(w)) - F.col("__tp_ma"))
        for i in range(n - 1, -1, -1)
    ]
    md = sum(dev_terms[1:], dev_terms[0]) / F.lit(float(n))
    cci = F.when(
        F.col("__tp_cnt") >= n,
        F.when(md != 0, (F.col("__tp") - F.col("__tp_ma")) / (F.lit(constant) * md))
         .otherwise(F.lit(0.0)),
    )
    return df.withColumn(out or f"cci_{n}", cci).drop(
        "__tp", "__tp_ma", "__tp_cnt")


def with_stochastic(df: DataFrame, k_window: int = 14, d_window: int = 3, *,
                    keys, order, high: str = "high", low: str = "low",
                    close: str = "close",
                    k_out: str = "percent_k", d_out: str = "percent_d") -> DataFrame:
    """Stochastic %K/%D — ``ta_indicators.py:166-174``."""
    w = _series(keys, order)
    low_min = rolling_min(low, w, k_window)
    high_max = rolling_max(high, w, k_window)
    df = df.withColumn(
        k_out,
        F.lit(100.0) * (F.col(close) - low_min) / F.nullif(high_max - low_min, F.lit(0.0)),
    )
    return df.withColumn(d_out, rolling_mean(k_out, w, d_window))


def with_adx(df: DataFrame, n: int = 14, *, keys, order,
             high: str = "high", low: str = "low", close: str = "close",
             out: str | None = None) -> DataFrame:
    """ADX — ``ta_indicators.py:176-193`` (three stacked rolling means;
    ±DM are 0.0 on the first row per np.where-on-NaN semantics).

    The middle window stage computes three same-frame means over
    columns that are non-null by construction (±DM default to 0.0, TR
    degrades to high-low), so all three share ONE count(__tr) warmup
    mask instead of three separate count window expressions."""
    w = _series(keys, order)
    up = lag_diff(high, w, 1)
    down = -lag_diff(low, w, 1)
    df = df.withColumn("__plus_dm", F.when((up > down) & (up > 0), up).otherwise(F.lit(0.0)))
    df = df.withColumn("__minus_dm", F.when((down > up) & (down > 0), down).otherwise(F.lit(0.0)))
    df = df.withColumn("__tr", true_range(w, high, low, close))
    df = df.withColumn("__cnt", F.count("__tr").over(trailing(w, n)))
    shared = F.col("__cnt")
    df = df.withColumn("__atr", rolling_agg(F.avg, "__tr", w, n, count_col=shared))
    df = df.withColumn(
        "__plus_di",
        F.lit(100.0) * rolling_agg(F.avg, "__plus_dm", w, n, count_col=shared) / F.col("__atr"),
    )
    df = df.withColumn(
        "__minus_di",
        F.lit(100.0) * rolling_agg(F.avg, "__minus_dm", w, n, count_col=shared) / F.col("__atr"),
    )
    dx = F.lit(100.0) * F.abs(F.col("__plus_di") - F.col("__minus_di")) / F.nullif(
        F.col("__plus_di") + F.col("__minus_di"), F.lit(0.0))
    df = df.withColumn("__dx", dx)
    df = df.withColumn(out or f"adx_{n}", rolling_mean("__dx", w, n))
    return df.drop("__tr", "__cnt", "__atr", "__plus_di", "__minus_di", "__dx")


def with_mfi(df: DataFrame, n: int = 14, *, keys, order,
             high: str = "high", low: str = "low", close: str = "close",
             volume: str = "volume", out: str | None = None) -> DataFrame:
    """Money Flow Index — ``ta_indicators.py:195-206``."""
    w = _series(keys, order)
    tp = (F.col(high) + F.col(low) + F.col(close)) / F.lit(3.0)
    df = df.withColumn("__tp", tp)
    prev_tp = F.lag(F.col("__tp"), 1).over(w)
    mf = F.col("__tp") * F.col(volume)
    df = df.withColumn("__pos", F.when(F.col("__tp") > prev_tp, mf).otherwise(F.lit(0.0)))
    df = df.withColumn("__neg", F.when(F.col("__tp") < prev_tp, mf).otherwise(F.lit(0.0)))
    pos_mf = rolling_sum("__pos", w, n)
    neg_mf = rolling_sum("__neg", w, n)
    mfi = F.lit(100.0) * pos_mf / F.nullif(pos_mf + neg_mf, F.lit(0.0))
    return df.withColumn(out or f"mfi_{n}", mfi).drop("__tp", "__pos", "__neg")


def with_roc(df: DataFrame, col: str, n: int = 12, *, keys, order,
             out: str | None = None) -> DataFrame:
    """Rate of change = 100·diff(n)/shift(n) — ``ta_indicators.py:208-212``."""
    w = _series(keys, order)
    prev = F.lag(F.col(col), n).over(w)
    return df.withColumn(
        out or f"roc_{n}", F.lit(100.0) * (F.col(col) - prev) / F.nullif(prev, F.lit(0.0))
    )


def _hl_spread(high: str = "high", low: str = "low", close: str = "close") -> Column:
    return (F.col(high) - F.col(low)) / F.nullif(F.col(close), F.lit(0))


DEFAULT_SERIES_KEYS = ("symbol", "exchange", "timeframe")
MARKET_FEATURES = (
    "ret_1", "logret_1", "rvol_5", "rvol_20", "ema_12", "ema_26",
    "macd", "macd_signal_9", "rsi_14", "hl_spread", "oi_obv",
)


def build_market_features(
    df: DataFrame,
    *,
    keys: Sequence[str] = DEFAULT_SERIES_KEYS,
    ts_col: str = "timestamp",
    order_cols: Sequence[str] | None = None,
    dropna_final: bool = True,
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    """Flagship feature stage — parity with
    ``market_factory.build_market_features`` (``market_factory.py:73-156``):
    ret_1, logret_1, rvol_5/20, ema_12/26, macd, macd_signal_9, rsi_14,
    hl_spread, oi_obv, plus dt + feature_version, rows with all-NULL
    features dropped.

    One projection per dependency layer (:func:`attach_layers`): layer
    1 holds every lag-based column and the EWM position index, layer 2
    the trailing/cumulative aggregates and the EWM block/pos columns,
    the rest are the MACD family's EWM and signal layers. Each layer's
    (keys, order) windows evaluate in one Window operator, and all of
    them share one sort.
    ``order_cols`` (default ``[ts_col]``) lets callers add tiebreak
    columns for deterministic window order when timestamps can tie.
    ``keep_cols`` are input columns carried through after the feature
    schema (e.g. ``close`` for downstream labeling — carrying it is
    free, while joining it back on costs a shuffle of both sides).
    """
    order = list(order_cols) if order_cols is not None else [ts_col]
    w = series_window(keys, order)
    rets, _ = _returns_layers("close", w, "ret_1", "logret_1")
    rsi, rsi_tmp = _rsi_sma_layers("close", 14, w, "rsi_14")
    obv, obv_tmp = _obv_layers(w, "close", "volume", "oi_obv")
    # every window here rides the (keys, order) spec except the MACD
    # family's block-renormalized EWMs, which sort by (keys, __block,
    # order); the plain-order layers all come first, so that sort runs
    # once and the block sort once after it (2 sorts in total)
    macd, macd_tmp = _macd_layers(
        "close", keys=keys, order=order, fast=12, slow=26, signal=9,
        macd_out="macd", signal_out="macd_signal_9", hist_out=None, keep_emas=True,
    )
    own = [
        {"hl_spread": _hl_spread(), "dt": dt_from_ts(ts_col),
         "feature_version": F.lit(FEATURE_VERSION)},
        {"rvol_5": rolling_std("logret_1", w, 5), "rvol_20": rolling_std("logret_1", w, 20)},
    ]
    stacks = (rets, rsi, obv, own, macd)
    layers = [
        {n: e for stack in stacks if i < len(stack) for n, e in stack[i].items()}
        for i in range(max(map(len, stacks)))
    ]
    df = attach_layers(df, layers, [*rsi_tmp, *obv_tmp, *macd_tmp])
    out = coerce_schema(df, MARKET_FEATURE_SCHEMA, keep_extra=True).select(
        *[f.name for f in MARKET_FEATURE_SCHEMA.fields], *keep_cols
    )
    if dropna_final:
        out = out.filter(F.coalesce(*[F.col(c) for c in MARKET_FEATURES]).isNotNull())
    return out


_MF_CARRY_ROWS = 20  # longest rolling window (rvol_20): 20 trailing closes


def _cont_ewm(x, span: int, y0: float | None):
    """adjust=False EWM, continued exactly from a carried value: the
    recursion y_t = (1-a)·y_{t-1} + a·x_t depends on history only
    through y_{t-1}, so seeding with y0 as a pseudo-first-row and
    dropping it reproduces the full-series EWM bit-for-bit."""
    import pandas as pd

    if y0 is not None and not pd.isna(y0):
        s = pd.concat([pd.Series([y0]), x], ignore_index=True)
        return s.ewm(span=span, adjust=False).mean().iloc[1:].reset_index(drop=True)
    return x.reset_index(drop=True).ewm(span=span, adjust=False).mean()


def market_features_step(pdf, carry: dict | None, *, ts_col: str, sort_cols: Sequence[str]):
    """pandas chunk step for the flagship features: sort ``pdf`` on
    ``sort_cols``, compute :data:`MARKET_FEATURES` continuing from
    ``carry``, and return ``(pdf + features, new carry)``.

    ``carry`` (``None`` for a series' first chunk) holds the trailing
    ``_MF_CARRY_ROWS`` ``ts`` (ISO strings) and ``closes`` — enough
    history for every rolling window — plus the O(1) recursive
    accumulators ``ema12``, ``ema26``, ``sig9`` (MACD signal) and
    ``obv`` (running total). Chunked output equals one full pass to
    float precision (``stateful_processor.py:11-41``'s invariant over
    the whole family). ``streaming/stateful.py`` runs it per
    micro-batch."""
    import numpy as np
    import pandas as pd

    pdf = pdf.sort_values(list(sort_cols)).reset_index(drop=True)
    have_carry = carry is not None and len(carry["closes"]) > 0
    if have_carry:
        prefix = pd.DataFrame({
            ts_col: pd.to_datetime(carry["ts"]),
            "close": carry["closes"],
        })
        full = pd.concat([prefix, pdf], ignore_index=True, sort=False)
        p = len(prefix)
    else:
        full = pdf
        p = 0

    close = full["close"].astype(float)
    prev = close.shift(1)
    delta = close.diff()
    ret_1 = (close - prev) / prev.replace(0.0, np.nan)
    logc = np.log(close.replace(0.0, np.nan))
    logret = logc - logc.shift(1)
    rvol_5 = logret.rolling(5).std()
    rvol_20 = logret.rolling(20).std()
    up = delta.clip(lower=0).fillna(0.0)
    down = (-delta).clip(lower=0).fillna(0.0)
    rs = up.rolling(14).mean() / down.rolling(14).mean().replace(0.0, np.nan)
    rsi_14 = 100.0 - 100.0 / (1.0 + rs)

    new_close = close.iloc[p:].reset_index(drop=True)
    ema_12 = _cont_ewm(new_close, 12, carry["ema12"] if have_carry else None)
    ema_26 = _cont_ewm(new_close, 26, carry["ema26"] if have_carry else None)
    macd = ema_12 - ema_26
    sig_9 = _cont_ewm(macd, 9, carry["sig9"] if have_carry else None)

    # OBV: sign of each NEW row's delta (first-ever row: sign(0) = 0)
    # times its volume, accumulated onto the carried running total
    signed = (
        np.sign(delta.iloc[p:].fillna(0.0).to_numpy())
        * pdf["volume"].fillna(0.0).to_numpy()
    )
    obv0 = carry["obv"] if have_carry else 0.0
    oi_obv = obv0 + np.cumsum(signed)

    out = pdf.copy()
    out["ret_1"] = ret_1.iloc[p:].to_numpy()
    out["logret_1"] = logret.iloc[p:].to_numpy()
    out["rvol_5"] = rvol_5.iloc[p:].to_numpy()
    out["rvol_20"] = rvol_20.iloc[p:].to_numpy()
    out["ema_12"] = ema_12.to_numpy()
    out["ema_26"] = ema_26.to_numpy()
    out["macd"] = macd.to_numpy()
    out["macd_signal_9"] = sig_9.to_numpy()
    out["rsi_14"] = rsi_14.iloc[p:].to_numpy()
    out["hl_spread"] = (
        (pdf["high"].astype(float) - pdf["low"].astype(float))
        / pdf["close"].astype(float).replace(0.0, np.nan)
    ).to_numpy()
    out["oi_obv"] = oi_obv

    tail = full.iloc[max(0, len(full) - _MF_CARRY_ROWS):]
    new_carry = {
        "ts": [t.isoformat() for t in pd.to_datetime(tail[ts_col])],
        "closes": [float(v) for v in tail["close"]],
        "ema12": float(ema_12.iloc[-1]) if len(ema_12) else (carry["ema12"] if have_carry else float("nan")),
        "ema26": float(ema_26.iloc[-1]) if len(ema_26) else (carry["ema26"] if have_carry else float("nan")),
        "sig9": float(sig_9.iloc[-1]) if len(sig_9) else (carry["sig9"] if have_carry else float("nan")),
        "obv": float(oi_obv[-1]) if len(oi_obv) else obv0,
    }
    return out, new_carry
