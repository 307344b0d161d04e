"""Round-10 fixes: chunk-incremental stateful streaming (the r8/r9
buffering advice closed in CODE — peak per-group memory O(Arrow chunk)
in ``batch_order="chunk"`` mode, with a fail-loud within-batch
ordering contract) for both the backtest and the fused strategy
operators."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from algorithmic_data_ingestion_for_cryptocurrencies_spark.streaming._carry import (
    group_fn,
)
from algorithmic_data_ingestion_for_cryptocurrencies_spark.streaming.backtest_stream import (
    backtest_op,
)
from algorithmic_data_ingestion_for_cryptocurrencies_spark.streaming.strategy_stream import (
    apply_stateful_sma_strategy,  # noqa: F401  (signature carries batch_order)
    _strategy_combine,
)

FEE_BPS = 7.0


class _FakeState:
    def __init__(self):
        self.exists = False
        self._val = None

    @property
    def get(self):
        return self._val

    def update(self, val):
        self.exists = True
        self._val = val


class _CountingIter:
    """Chunk iterator that records how many chunks have been consumed —
    lets a test assert the fn emits after ONE chunk (streaming fold)
    instead of draining the whole micro-batch first."""

    def __init__(self, chunks):
        self._it = iter(chunks)
        self.consumed = 0

    def __iter__(self):
        return self

    def __next__(self):
        out = next(self._it)
        self.consumed += 1
        return out


@pytest.fixture(scope="module")
def series_pdf():
    rng = np.random.default_rng(5)
    n = 600
    ts = pd.date_range("2024-03-01", periods=n, freq="min")
    close = 100.0 * np.cumprod(1 + rng.normal(0, 0.01, n))
    pos = (np.arange(n) // 13) % 2
    return pd.DataFrame({"ts": ts, "close": close, "position": pos})


def _chunks(pdf, size):
    return [pdf.iloc[lo:lo + size].reset_index(drop=True)
            for lo in range(0, len(pdf), size)]


def test_chunk_mode_streams_per_chunk_and_matches_buffer(series_pdf):
    """A large single-trigger backfill: chunk mode must (a) emit after
    consuming ONE chunk — never draining the batch first, which is
    what makes peak memory O(chunk) — and (b) produce bit-identical
    output and final state to buffer mode."""
    kw = dict(price_col="close", position_col="position",
              fee_bps=FEE_BPS, ts_col="ts")
    chunks = _chunks(series_pdf, 64)

    buf_state = _FakeState()
    fn_buf = group_fn(backtest_op(batch_order="buffer", **kw), ["sym"])
    buffered = pd.concat(
        fn_buf(("X",), iter(chunks), buf_state), ignore_index=True
    )

    chk_state = _FakeState()
    fn_chk = group_fn(backtest_op(batch_order="chunk", **kw), ["sym"])
    it = _CountingIter(chunks)
    gen = fn_chk(("X",), it, chk_state)
    first = next(gen)
    # generator semantics: the first frame is emitted after the fold
    # has consumed at most the chunk it covers plus the one lookahead
    # the ordering check needs — NOT the whole micro-batch
    assert it.consumed <= 2, f"drained {it.consumed} chunks before emitting"
    assert len(first) == 64
    incremental = pd.concat([first, *gen], ignore_index=True)
    assert it.consumed == len(chunks)

    # chunk-boundary cumsum association differs at the last ulp from
    # the one-shot fold — 1e-12 is the repo's chunked==batch standard
    for col in ("trade", "strategy_ret", "equity", "drawdown"):
        np.testing.assert_allclose(
            incremental[col].to_numpy(), buffered[col].to_numpy(),
            rtol=1e-12, atol=1e-15, err_msg=col,
        )
    assert chk_state.exists and buf_state.exists
    np.testing.assert_allclose(
        np.asarray(chk_state.get, dtype=float),
        np.asarray(buf_state.get, dtype=float), rtol=1e-12,
    )


def test_chunk_mode_rejects_out_of_order_chunks(series_pdf):
    fn = group_fn(backtest_op(
        price_col="close", position_col="position",
        fee_bps=FEE_BPS, ts_col="ts", batch_order="chunk",
    ), ["sym"])
    mid = len(series_pdf) // 2
    bad = [series_pdf.iloc[mid:].reset_index(drop=True),
           series_pdf.iloc[:mid].reset_index(drop=True)]
    with pytest.raises(ValueError, match="not chunk-ordered"):
        list(fn(("X",), iter(bad), _FakeState()))
    # unknown mode fails loudly too
    fn_bad = group_fn(backtest_op(batch_order="nope"), ["sym"])
    with pytest.raises(ValueError, match="unknown batch_order"):
        list(fn_bad(("X",), iter([series_pdf]), _FakeState()))


def test_strategy_chunk_fold_matches_single_shot(series_pdf):
    """The fused strategy carry core folded chunk-by-chunk (what
    batch_order='chunk' runs) equals the one-shot combine — signals,
    positions and curve bit-for-bit."""
    one, _ = _strategy_combine(
        series_pdf, None, fast=10, slow=50, fee=FEE_BPS / 1e4,
        price_col="close", ts_col="ts",
    )
    carry = None
    outs = []
    for c in _chunks(series_pdf, 37):
        out, carry = _strategy_combine(
            c, carry, fast=10, slow=50, fee=FEE_BPS / 1e4,
            price_col="close", ts_col="ts",
        )
        outs.append(out)
    folded = pd.concat(outs, ignore_index=True)
    for col in ("position", "equity", "drawdown"):
        np.testing.assert_allclose(
            folded[col].astype(float).to_numpy(),
            one[col].astype(float).to_numpy(),
            rtol=1e-12, atol=1e-15, err_msg=col,
        )
