"""Streaming backtest: per-series equity-curve continuation across
micro-batches (the ST-surface twin of ``operators/backtest.py``).

A live strategy needs the SAME curve the batch backtest produces,
updated as bars arrive. The operator is a chunk step run by the shared
carry driver (:mod:`._carry`):

- step — :func:`_bt_combine_with_carry`: continue the curve from the
  carry, emit the chunk's bars;
- state — ``last_close``, ``last_position``, ``cum_logeq`` (cumulative
  log-equity) and ``peak_equity``: O(1) per series regardless of
  history length, and every emitted bar is exactly what
  ``backtest_positions`` computes over the full series (chunked ==
  batch pytest, plus a real micro-batch equivalence test);
- chunk ordering — ``batch_order``: ``"buffer"`` (default) concatenates
  a group's Arrow chunks and sorts once, tolerating any row order
  within a micro-batch, peak memory O(micro-batch); ``"chunk"`` folds
  and emits chunk-by-chunk, peak memory O(Arrow chunk) — the
  backfill-safe mode — and fails loudly if the batch is not
  chunk-ordered (``_carry._ordered_chunks``). Across triggers rows must
  arrive in order either way: enforce it upstream with a watermark or
  source ordering.

Semantics mirror ``operators/backtest.py:backtest_positions``
(close-to-close fills, lag-1 earning, bps fees on position changes,
``exp(cumsum(log1p))`` equity, drawdown from the running peak). One
divergence is impossible-by-construction data: a per-bar strategy
return <= -1 (price to zero while long) is NULL-skipped by the batch
window sum but propagates -inf here; positive prices keep strat > -1.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import partial

import numpy as np
import pandas as pd

from ._carry import CarryOp, apply_carry

_CARRY_FIELDS = ("last_close", "last_position", "cum_logeq", "peak_equity")
_CURVE_COLS = ("trade", "strategy_ret", "equity", "drawdown")


def _bt_combine_with_carry(
    pdf: pd.DataFrame,
    carry: dict | None,
    *,
    price_col: str = "close",
    position_col: str = "position",
    fee: float = 0.0,
    ts_col: str = "ts",
    sort_cols: Sequence[str] | None = None,
) -> tuple[pd.DataFrame, dict]:
    """Chunk step: continue the curve from the carried scalars, emit
    the chunk's bars, return the new carry. ``sort_cols`` overrides
    the within-chunk ordering when ``ts_col`` alone is not unique
    (tiebreak columns must match the batch operator's ``order``).
    The sort is STABLE so that rows tied on every sort column keep
    their incoming order deterministically (pandas' default quicksort
    would permute ties run-to-run)."""
    pdf = pdf.sort_values(
        list(sort_cols) if sort_cols else ts_col, kind="stable"
    ).reset_index(drop=True)
    close = pdf[price_col].astype(float)
    pos = pdf[position_col].astype(float)
    prev_close = close.shift(1)
    prev_pos = pos.shift(1)
    if carry is not None:
        prev_close.iloc[0] = carry["last_close"]
        prev_pos.iloc[0] = carry["last_position"]
        cum0, peak0 = carry["cum_logeq"], carry["peak_equity"]
    else:
        prev_pos.iloc[0] = 0.0
        cum0, peak0 = 0.0, 0.0  # equity > 0, so a 0.0 seed never wins
    ret = close / prev_close - 1
    trade = (pos - prev_pos).abs()
    strat = (prev_pos * ret).fillna(0.0) - fee * trade
    cum = np.log1p(strat).cumsum() + cum0
    equity = np.exp(cum)
    peak = np.maximum.accumulate(np.maximum(equity.to_numpy(), peak0))
    out = pdf.copy()
    out["trade"] = trade
    out["strategy_ret"] = strat
    out["equity"] = equity
    out["drawdown"] = equity.to_numpy() / peak - 1
    new_carry = {
        "last_close": float(close.iloc[-1]),
        "last_position": float(pos.iloc[-1]),
        "cum_logeq": float(cum.iloc[-1]),
        "peak_equity": float(peak[-1]),
    }
    return out, new_carry


def backtest_op(
    *,
    price_col: str = "close",
    position_col: str = "position",
    fee_bps: float = 0.0,
    ts_col: str = "ts",
    sort_cols: Sequence[str] | None = None,
    batch_order: str = "buffer",
) -> CarryOp:
    """The backtest curve as a :class:`._carry.CarryOp`."""
    return CarryOp(
        step=partial(
            _bt_combine_with_carry, price_col=price_col,
            position_col=position_col, fee=fee_bps / 1e4, ts_col=ts_col,
            sort_cols=sort_cols,
        ),
        state=tuple((f, "double") for f in _CARRY_FIELDS),
        out=(
            (ts_col, "timestamp"), (price_col, "double"), (position_col, None),
            *((c, "double") for c in _CURVE_COLS),
        ),
        sort_cols=list(sort_cols) if sort_cols else [ts_col],
        batch_order=batch_order,
    )


def apply_stateful_backtest(
    stream_df,
    *,
    keys: Sequence[str],
    price_col: str = "close",
    position_col: str = "position",
    fee_bps: float = 0.0,
    ts_col: str = "ts",
    sort_cols: Sequence[str] | None = None,
    batch_order: str = "buffer",
):
    """Stateful backtest per ``keys`` series. Output: ts + close +
    position (input type) + the four curve columns + keys. Pass
    ``sort_cols`` (e.g. ``(ts, okey, lnum)``) when ``ts_col`` alone is
    not unique within a series so tied bars order deterministically."""
    return apply_carry(stream_df, keys, backtest_op(
        price_col=price_col, position_col=position_col, fee_bps=fee_bps,
        ts_col=ts_col, sort_cols=sort_cols, batch_order=batch_order,
    ))
