"""Live-trading-loop stateful operator: SMA-crossover signal ->
forward-filled position -> fee-aware equity curve, continued exactly
across micro-batches in ONE stateful stage.

Chaining two stateful stages (signal, then backtest) would need two
grouped stateful operators in one streaming query; fusing them keeps
the pipeline a single stage with a single state struct. The operator is
a chunk step run by the shared carry driver (:mod:`._carry`):

- step — :func:`_strategy_combine`: signals over (carried tail +
  chunk), position, then the :mod:`.backtest_stream` curve step;
- state — ``ts``/``closes`` (the trailing ``slow`` rows: enough history
  for both SMAs and the crossover diff), ``last_pos``, and the four
  backtest scalars (``last_close``, ``last_position``, ``cum_logeq``,
  ``peak_equity``) — bounded, independent of stream length;
- chunk ordering — ``batch_order``, as for the backtest operator:
  ``"buffer"`` (default) buffers and sorts a group's micro-batch once,
  ``"chunk"`` folds chunk-by-chunk at O(Arrow chunk) memory and fails
  loudly on a batch that is not chunk-ordered. Across triggers rows must
  arrive in order.

Semantics mirror the batch pair
``operators/signals.py:with_sma_crossover_signals`` →
``operators/backtest.py:backtest_positions`` bar for bar
(chunked == batch pytest at rtol 1e-12, plus a real micro-batch run):

- masked SMAs (NaN until the window fills), NULL-faithful crossover
  (the first valid ``fast>slow`` emits no signal, matching Spark's
  NULL diff — pandas' NaN-compares-False would fabricate an entry)
- position = last signal forward-filled, seeded from the carried
  position so a hold survives chunk boundaries
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import partial

import numpy as np
import pandas as pd

from ._carry import CarryOp, apply_carry
from .backtest_stream import _CARRY_FIELDS, _CURVE_COLS, _bt_combine_with_carry


def _sma_left_fold(close: pd.Series, w: int) -> pd.Series:
    """Trailing SMA with the window summed LEFT-TO-RIGHT — bit-identical
    to Spark's window ``AVG`` (``SlidingWindowFunctionFrame``
    re-evaluates each frame in row order: ``((0 + v0) + v1) + ...``),
    so the streamed signals reproduce the batch operator pair EXACTLY
    instead of to within an ulp. pandas' ``rolling().mean()`` is a
    sliding add/subtract accumulator whose drift can flip a near-tie
    ``fast > slow`` crossover (the reason st17 used to be a rows-only
    oracle row). One vector add per window offset keeps the fold
    vectorized: O(n·w) flops, same as Spark's own re-evaluation."""
    vals = close.to_numpy(dtype="float64")
    out = np.full(len(vals), np.nan)
    if len(vals) >= w:
        windows = np.lib.stride_tricks.sliding_window_view(vals, w)
        acc = np.zeros(len(windows))
        for j in range(w):
            acc = acc + windows[:, j]
        out[w - 1:] = acc / w
    return pd.Series(out, index=close.index)


def _signals_frame(
    close: pd.Series, fast: int, slow: int
) -> tuple[pd.Series, pd.Series, pd.Series]:
    """(entry, exit, raw signal) with Spark-NULL-faithful semantics."""
    fast_ma = _sma_left_fold(close, fast)
    slow_ma = _sma_left_fold(close, slow)
    above = pd.Series(
        np.where(
            fast_ma.isna() | slow_ma.isna(), np.nan,
            (fast_ma > slow_ma).astype(float),
        ),
        index=close.index,
    )
    crossed = above.diff()
    # Spark's (crossed == 1).cast(int) is NULL while the SMAs warm up
    # (null == 1 -> null), not 0 — keep the nullable semantics
    entry = crossed.eq(1).astype("int32").mask(crossed.isna()).astype("Int32")
    exit_ = crossed.eq(-1).astype("int32").mask(crossed.isna()).astype("Int32")
    sig = pd.Series(np.nan, index=close.index)
    sig[crossed == 1] = 1.0
    sig[crossed == -1] = 0.0
    return entry, exit_, sig


def _strategy_combine(
    pdf: pd.DataFrame,
    carry: dict | None,
    *,
    fast: int,
    slow: int,
    fee: float,
    price_col: str = "close",
    ts_col: str = "ts",
    sort_cols: Sequence[str] | None = None,
) -> tuple[pd.DataFrame, dict]:
    """Chunk step: recompute signals over (carried tail + chunk), emit
    the chunk's bars with position + curve, return the new carry.
    ``sort_cols`` supplies tiebreak columns when ``ts_col`` alone is
    not unique; the sort is STABLE so tied bars order
    deterministically (matching ``_bt_combine_with_carry``)."""
    pdf = pdf.sort_values(
        list(sort_cols) if sort_cols else ts_col, kind="stable"
    ).reset_index(drop=True)
    if carry is not None and len(carry["closes"]):
        prefix = pd.DataFrame({
            ts_col: pd.to_datetime(carry["ts"]),
            price_col: carry["closes"],
        })
        full_close = pd.concat(
            [prefix[price_col], pdf[price_col].astype(float)],
            ignore_index=True,
        )
        p = len(prefix)
        last_pos = carry["last_pos"]
        bt_carry = carry  # the flat carry holds the backtest fields too
    else:
        full_close = pdf[price_col].astype(float).reset_index(drop=True)
        p = 0
        last_pos = 0.0
        bt_carry = None
    entry, exit_, sig = _signals_frame(full_close, fast, slow)
    position = sig.ffill().fillna(last_pos)

    out = pdf.copy()
    out["entry_sig"] = entry.iloc[p:].reset_index(drop=True)
    out["exit_sig"] = exit_.iloc[p:].reset_index(drop=True)
    out["position"] = position.iloc[p:].astype("int64").to_numpy()
    out, new_bt = _bt_combine_with_carry(
        out, bt_carry, price_col=price_col, position_col="position",
        fee=fee, ts_col=ts_col, sort_cols=sort_cols,
    )
    tail = pd.concat(
        [pd.DataFrame({ts_col: pd.to_datetime(carry["ts"]),
                       price_col: carry["closes"]}) if p else
         pdf[[ts_col, price_col]].iloc[:0],
         pdf[[ts_col, price_col]]],
        ignore_index=True,
    ).iloc[-slow:]
    new_carry = {
        "ts": [t.isoformat() for t in pd.to_datetime(tail[ts_col])],
        "closes": [float(v) for v in tail[price_col]],
        "last_pos": float(position.iloc[-1]),
        **new_bt,
    }
    return out, new_carry


def sma_strategy_op(
    *,
    fast: int = 10,
    slow: int = 50,
    fee_bps: float = 0.0,
    price_col: str = "close",
    ts_col: str = "ts",
    sort_cols: Sequence[str] | None = None,
    batch_order: str = "buffer",
) -> CarryOp:
    """The fused SMA strategy as a :class:`._carry.CarryOp`."""
    return CarryOp(
        step=partial(
            _strategy_combine, fast=fast, slow=slow, fee=fee_bps / 1e4,
            price_col=price_col, ts_col=ts_col, sort_cols=sort_cols,
        ),
        state=(
            ("ts", "array<string>"), ("closes", "array<double>"),
            ("last_pos", "double"), *((f, "double") for f in _CARRY_FIELDS),
        ),
        out=(
            (ts_col, "timestamp"), (price_col, "double"),
            ("entry_sig", "int"), ("exit_sig", "int"), ("position", "long"),
            *((c, "double") for c in _CURVE_COLS),
        ),
        sort_cols=list(sort_cols) if sort_cols else [ts_col],
        batch_order=batch_order,
    )


def apply_stateful_sma_strategy(
    stream_df,
    *,
    keys: Sequence[str],
    fast: int = 10,
    slow: int = 50,
    fee_bps: float = 0.0,
    price_col: str = "close",
    ts_col: str = "ts",
    sort_cols: Sequence[str] | None = None,
    batch_order: str = "buffer",
):
    """Fused signal + backtest per ``keys`` series. Output: ts + close +
    entry/exit signals + position + the four curve columns + keys. Pass
    ``sort_cols`` when ``ts_col`` alone is not unique per series."""
    return apply_carry(stream_df, keys, sma_strategy_op(
        fast=fast, slow=slow, fee_bps=fee_bps, price_col=price_col,
        ts_col=ts_col, sort_cols=sort_cols, batch_order=batch_order,
    ))
