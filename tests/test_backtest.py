"""Vectorized backtest operator (SURVEY §2 U6): hand-computed fixture
parity for the curve columns, and summary-stat invariants."""

import math

import pytest
from pyspark.sql import functions as F

from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.backtest import (
    backtest_positions,
    backtest_summary,
)


@pytest.fixture(scope="module")
def curve(spark):
    # one series: flat -> long at bar 1 -> flat at bar 3 -> long at 4
    rows = [
        # ts, close, position
        (0, 100.0, 0),
        (1, 110.0, 1),   # enter long (fee), earns from bar 2
        (2, 121.0, 1),
        (3, 108.9, 0),   # exit (fee), still earned bar 3's return
        (4, 108.9, 1),   # re-enter
        (5, 119.79, 1),
    ]
    df = spark.createDataFrame(rows, ["ts", "close", "position"]) \
        .withColumn("key", F.lit("s1"))
    return backtest_positions(
        df, keys=["key"], order="ts",
        price_col="close", position_col="position", fee_bps=10.0,
    )


FEE = 10.0 / 1e4


def _expected():
    closes = [100.0, 110.0, 121.0, 108.9, 108.9, 119.79]
    poss = [0, 1, 1, 0, 1, 1]
    strat, eq, peak, dd = [], [], [], []
    e = 0.0
    for i, (c, p) in enumerate(zip(closes, poss)):
        prev_p = poss[i - 1] if i else 0
        r = c / closes[i - 1] - 1 if i else None
        s = (prev_p * r if r is not None else 0.0) - FEE * abs(p - prev_p)
        strat.append(s)
        e += math.log1p(s)
        eq.append(math.exp(e))
        peak.append(max(eq))
        dd.append(eq[-1] / peak[-1] - 1)
    return strat, eq, dd


def test_curve_matches_hand_computation(curve):
    strat, eq, dd = _expected()
    got = curve.orderBy("ts").collect()
    for i, row in enumerate(got):
        assert row["strategy_ret"] == pytest.approx(strat[i], rel=1e-12)
        assert row["equity"] == pytest.approx(eq[i], rel=1e-12)
        assert row["drawdown"] == pytest.approx(dd[i], rel=1e-12)
    # trades: entries at 1 and 4, exit at 3
    assert [r["trade"] for r in got] == [0, 1, 0, 1, 1, 0]


def test_summary_matches_curve(curve):
    strat, eq, dd = _expected()
    row = backtest_summary(curve, keys=["key"]).collect()[0]
    assert row["n_bars"] == 6
    assert row["n_trades"] == 3.0
    assert row["total_return"] == pytest.approx(eq[-1] - 1, rel=1e-12)
    assert row["max_drawdown"] == pytest.approx(min(dd), rel=1e-12)
    mean = sum(strat) / len(strat)
    var = sum((s - mean) ** 2 for s in strat) / (len(strat) - 1)
    assert row["sharpe"] == pytest.approx(mean / math.sqrt(var), rel=1e-12)


def test_param_sweep_matches_per_combo_and_best_pick(spark):
    """Each sweep combo row must equal a standalone backtest with those
    params, and best_params_per_series must agree with a manual argmax
    (ties resolved to the smallest (fast, slow))."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.backtest import (
        best_params_per_series,
        sma_param_sweep,
    )
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.signals import (
        with_sma_crossover_signals,
    )

    import random

    rng = random.Random(7)
    rows = []
    for key in ("a", "b"):
        px = 100.0
        for t in range(120):
            px *= 1 + rng.uniform(-0.03, 0.032)
            rows.append((key, t, px))
    df = spark.createDataFrame(rows, ["key", "ts", "close"])
    grid = [(3, 10), (5, 20)]
    sweep = sma_param_sweep(
        df, grid, keys=["key"], order="ts", price_col="close", fee_bps=10.0
    ).collect()
    got = {(r["fast"], r["slow"], r["key"]): r for r in sweep}
    assert len(got) == len(grid) * 2
    for fast, slow in grid:
        sig = with_sma_crossover_signals(
            df, "close", fast, slow, keys=["key"], order="ts"
        )
        solo = backtest_summary(
            backtest_positions(
                sig, keys=["key"], order="ts",
                price_col="close", position_col="position", fee_bps=10.0,
            ),
            keys=["key"],
        ).collect()
        for r in solo:
            g = got[(fast, slow, r["key"])]
            assert g["total_return"] == pytest.approx(r["total_return"], rel=1e-12)
            assert g["n_trades"] == r["n_trades"]

    best = {
        r["key"]: r
        for r in best_params_per_series(
            sma_param_sweep(df, grid, keys=["key"], order="ts",
                            price_col="close", fee_bps=10.0),
            keys=["key"], metric_col="total_return",
        ).collect()
    }
    for key in ("a", "b"):
        manual = max(
            ((fs, got[(fs[0], fs[1], key)]["total_return"]) for fs in grid),
            key=lambda t: (t[1], -t[0][0], -t[0][1]),
        )
        assert (best[key]["best_fast"], best[key]["best_slow"]) == manual[0]
        assert best[key]["best_total_return"] == pytest.approx(manual[1], rel=1e-12)


def test_flat_series_has_null_sharpe_and_zero_return(spark):
    df = spark.createDataFrame(
        [(t, 100.0, 0) for t in range(4)], ["ts", "close", "position"]
    )
    out = backtest_summary(
        backtest_positions(
            df, keys=[], order="ts", price_col="close",
            position_col="position", fee_bps=10.0,
        ),
        keys=[],
    ).collect()[0]
    assert out["n_trades"] == 0.0
    assert out["total_return"] == pytest.approx(0.0, abs=1e-15)
    assert out["max_drawdown"] == pytest.approx(0.0, abs=1e-15)
    assert out["sharpe"] is None


@pytest.mark.parametrize("seed", [13, 14])
def test_fused_curve_matches_unfused_chain(spark, seed):
    """r13/r14 verdict tasks: the fused SMA-crossover backtest
    (sma_backtest_curve_fused, fixed-point SMA) must be BIT-IDENTICAL
    to the 6-pass float with_sma_crossover_signals + backtest_positions
    chain on non-null prices away from 1e-9 fast/slow near-ties (the
    quantized crossover indicator flips only at ties below the
    fixed-point resolution) — including the edge cases the
    closed-form position is most likely to get wrong: a series that
    starts above (fast>slow from the first defined bar, no cross ->
    flat forever), a series with multiple crosses, and a series
    shorter than the slow window (position never defined -> flat)."""
    import random

    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.backtest import (
        sma_backtest_curve_fused,
    )
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.signals import (
        with_sma_crossover_signals,
    )

    rng = random.Random(seed)
    rows = []
    # key a: random walk, many crosses
    px = 100.0
    for t in range(300):
        px *= 1 + rng.uniform(-0.03, 0.03)
        rows.append(("a", t, px))
    # key b: monotone up -> fast SMA above slow from the start, no cross
    for t in range(120):
        rows.append(("b", t, 100.0 + t))
    # key c: shorter than the slow window
    for t in range(20):
        rows.append(("c", t, 100.0 + rng.uniform(-1, 1)))
    # key d: monotone down then up (exactly one death + one golden cross)
    for t in range(200):
        rows.append(("d", t, 200.0 - t if t < 100 else 100.0 + (t - 100)))
    df = spark.createDataFrame(rows, ["key", "ts", "close"])

    fast, slow, fee = 5, 21, 10.0
    unfused = backtest_positions(
        with_sma_crossover_signals(
            df, "close", fast, slow, keys=["key"], order="ts"
        ),
        keys=["key"], order="ts",
        price_col="close", position_col="position", fee_bps=fee,
    ).select("key", "ts", "position", "trade", "strategy_ret", "equity",
             "drawdown")
    fused = sma_backtest_curve_fused(
        df, keys=["key"], order="ts", price_col="close",
        fast=fast, slow=slow, fee_bps=fee,
    ).select("key", "ts", "position", "trade", "strategy_ret", "equity",
             "drawdown")

    a = sorted(map(tuple, unfused.collect()))
    b = sorted(map(tuple, fused.collect()))
    assert len(a) == len(b) == len(rows)
    for ra, rb in zip(a, b):
        assert ra == rb, (ra, rb)  # bit-identical, not approx

    # the fused plan must stay within its 5 Window nodes vs the chain's 6
    def n_window_nodes(frame):
        plan = frame._jdf.queryExecution().optimizedPlan().toString()
        return sum(line.strip().startswith(("Window ", "+- Window", ":- Window"))
                   for line in plan.splitlines())

    assert n_window_nodes(fused) <= 5
    assert n_window_nodes(unfused) >= n_window_nodes(fused) + 1


def test_fused_curve_rejects_null_prices(spark):
    """r13 review: the fused shape's non-null-price precondition is
    enforced loudly (raise_error), not silently diverged from."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.backtest import (
        sma_backtest_curve_fused,
    )

    df = spark.createDataFrame(
        [("a", 0, 100.0), ("a", 1, None), ("a", 2, 101.0)],
        "key string, ts long, close double",
    )
    out = sma_backtest_curve_fused(
        df, keys=["key"], order="ts", price_col="close", fast=2, slow=3
    )
    with pytest.raises(Exception, match="non-null prices"):
        out.collect()


def test_fixed_sma_fused_plan_has_no_sliding_frames(spark):
    """The whole point of the fixed-point SMA: the fused plan must
    contain NO bounded-preceding sliding aggregate frame (the
    O(window)-per-row kind Spark recomputes wholesale).  The unfused
    float chain's plan has two (fast-1 and slow-1 preceding); the
    fused frames are all cumulative (unboundedpreceding) or
    fixed-offset lags, and the window-node budget is 5 (running sum,
    lags-of-sum, lags/min-max over `above`, equity cumsum, running
    peak)."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.backtest import (
        sma_backtest_curve_fused,
    )
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.signals import (
        with_sma_crossover_signals,
    )

    df = spark.createDataFrame(
        [("a", t, 100.0 + t) for t in range(30)], ["key", "ts", "close"]
    )
    kw = dict(keys=["key"], order="ts", price_col="close",
              fast=5, slow=21, fee_bps=10.0)

    def plan(frame):
        return frame._jdf.queryExecution().optimizedPlan().toString()

    chain = plan(backtest_positions(
        with_sma_crossover_signals(
            df, "close", 5, 21, keys=["key"], order="ts"
        ),
        keys=["key"], order="ts", price_col="close", fee_bps=10.0,
    ))
    fx = plan(sma_backtest_curve_fused(df, **kw))
    # float chain: two sliding aggregate frames (the cost being removed)
    assert "RowFrame, -4, currentrow" in chain
    assert "RowFrame, -20, currentrow" in chain
    # fused: none — every frame O(1)/row
    assert "RowFrame, -4, currentrow" not in fx
    assert "RowFrame, -20, currentrow" not in fx

    def n_window_nodes(p):
        return sum(line.strip().startswith(("Window ", "+- Window", ":- Window"))
                   for line in p.splitlines())

    assert n_window_nodes(fx) <= 5
