"""Stateful streaming continuity (SURVEY §2 ST3) — the reference's
``StatefulTAProcessor`` (``algo-data-ingestion/app/features/processors/
stateful_processor.py:11-41``): process chunks/micro-batches of a
series while carrying its tail so rolling features are identical to a
full-batch run (equivalence asserted by ``tests/features/processors/
test_stateful_processor.py:19-37``).

Three operators, each a chunk step run by the shared carry driver
(:mod:`._carry`):

- rolling mean — state ``ts``/``vals``: the trailing ``window - 1``
  rows;
- EWM (adjust=True) — state ``num``/``den``: the exact accumulator pair;
- market features (the whole flagship family) — state ``ts``/``closes``
  (20 trailing rows) plus ``ema12``/``ema26``/``sig9``/``obv``; the
  step is ``operators/indicators.py:market_features_step``.

Chunk ordering: a group's Arrow chunks are buffered and sorted once per
micro-batch, so any row order within a batch is safe. Across triggers
rows must arrive in order.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import partial

import pandas as pd

from ..operators.indicators import MARKET_FEATURES, market_features_step
from ._carry import CarryOp, apply_carry


def _rolling_mean_step(pdf: pd.DataFrame, carry: dict | None, *,
                       value_col: str, window: int, out_col: str):
    """Prepend the carried rows, compute the rolling mean, emit only the
    new rows, return the new trailing carry."""
    full = pdf
    if carry is not None and len(carry["vals"]):
        prefix = pd.DataFrame({"ts": pd.to_datetime(carry["ts"]), value_col: carry["vals"]})
        full = pd.concat([prefix, pdf], ignore_index=True)
    full = full.sort_values("ts").reset_index(drop=True)
    rolled = full[value_col].rolling(window).mean()
    n_new = len(pdf)
    out = full.iloc[len(full) - n_new:].copy()
    out[out_col] = rolled.iloc[len(full) - n_new:].values
    tail = full.iloc[max(0, len(full) - (window - 1)):]
    return out, {
        "ts": [t.isoformat() for t in tail["ts"]],
        "vals": [float(v) for v in tail[value_col]],
    }


def rolling_mean_op(*, value_col: str = "value", window: int = 5,
                    out_col: str = "rolling_mean") -> CarryOp:
    """The rolling mean as a :class:`._carry.CarryOp`."""
    return CarryOp(
        step=partial(_rolling_mean_step, value_col=value_col,
                     window=window, out_col=out_col),
        state=(("ts", "array<string>"), ("vals", "array<double>")),
        out=(("ts", "timestamp"), (value_col, "double"), (out_col, "double")),
        sort_cols=["ts"],
    )


def apply_stateful_rolling_mean(
    stream_df,
    *,
    keys: Sequence[str],
    value_col: str = "value",
    window: int = 5,
    out_col: str = "rolling_mean",
):
    """Rolling mean over ``window`` rows per ``keys`` series. Output:
    ts + value + rolling col + keys."""
    return apply_carry(stream_df, keys, rolling_mean_op(
        value_col=value_col, window=window, out_col=out_col))


def _ewm_step(pdf: pd.DataFrame, carry: dict | None, *,
              value_col: str, span: int, out_col: str):
    """EWM chunk step with EXACT continuation (pandas adjust=True).

    adjust=True EWM is y_t = num_t / den_t with num_t = x_t + q·num_{t-1}
    and den_t = 1 + q·den_{t-1} (q = 1-α). Carrying (num, den) at the
    chunk boundary therefore continues the recursion exactly:
      num_t = chunk_num_t + q^{t+1}·num0,   den_t = chunk_den_t + q^{t+1}·den0
    where chunk_num/den are the chunk-local EWM pieces, recovered
    STABLY from pandas' own O(n) chunk EWM (chunk_num = y_chunk·chunk_den,
    chunk_den = (1-q^{t+1})/(1-q)) — no q^{-i} terms, so no overflow at
    any chunk length (q^{t+1} underflows gracefully to 0)."""
    import numpy as np

    pdf = pdf.sort_values("ts").reset_index(drop=True)
    alpha = 2.0 / (span + 1.0)
    q = 1.0 - alpha
    x = pdf[value_col].to_numpy(dtype="float64")
    t = np.arange(1, len(x) + 1, dtype="float64")  # t+1 with 0-based t
    qpow = q ** t
    chunk_den = (1.0 - qpow) / (1.0 - q)
    y_chunk = pd.Series(x).ewm(span=span, adjust=True).mean().to_numpy()
    chunk_num = y_chunk * chunk_den
    num0, den0 = (carry["num"], carry["den"]) if carry is not None else (0.0, 0.0)
    num = chunk_num + qpow * num0
    den = chunk_den + qpow * den0
    out = pdf.copy()
    out[out_col] = num / den
    if len(x):
        num0, den0 = float(num[-1]), float(den[-1])
    return out, {"num": num0, "den": den0}


def ewm_op(*, value_col: str = "value", span: int = 12,
           out_col: str = "ewm") -> CarryOp:
    """The exact-continuation EWM as a :class:`._carry.CarryOp`."""
    return CarryOp(
        step=partial(_ewm_step, value_col=value_col, span=span, out_col=out_col),
        state=(("num", "double"), ("den", "double")),
        out=(("ts", "timestamp"), (value_col, "double"), (out_col, "double")),
        sort_cols=["ts"],
    )


def apply_stateful_ewm(
    stream_df,
    *,
    keys: Sequence[str],
    value_col: str = "value",
    span: int = 12,
    out_col: str = "ewm",
):
    """Exact-continuation EWM per ``keys`` series. Output: ts + value +
    ewm col + keys."""
    return apply_carry(stream_df, keys, ewm_op(
        value_col=value_col, span=span, out_col=out_col))


def market_features_op(*, ts_col: str = "ts") -> CarryOp:
    """The flagship feature family as a :class:`._carry.CarryOp`."""
    return CarryOp(
        step=partial(market_features_step, ts_col=ts_col, sort_cols=[ts_col]),
        state=(
            ("ts", "array<string>"), ("closes", "array<double>"),
            ("ema12", "double"), ("ema26", "double"),
            ("sig9", "double"), ("obv", "double"),
        ),
        out=(
            (ts_col, "timestamp"),
            *((c, "double") for c in ("close", "high", "low", "volume")),
            *((c, "double") for c in MARKET_FEATURES),
        ),
        sort_cols=[ts_col],
    )


def apply_stateful_market_features(
    stream_df,
    *,
    keys: Sequence[str],
    ts_col: str = "ts",
):
    """The flagship feature family per ``keys`` series. Output: ts +
    close/high/low/volume + the features + keys."""
    return apply_carry(stream_df, keys, market_features_op(ts_col=ts_col))
