"""Vectorized backtest over a position series (SURVEY §2 U6).

Parity source: the reference backtests its SMA-crossover positions
with vectorbt (``algo-data-ingestion/HistoricalDataTest.py:105-118``
— ``vbt.Portfolio.from_signals`` → equity curve, total return, max
drawdown, Sharpe). vectorbt is an eager NumPy engine; the same
semantics are pure window algebra, so here the whole backtest is
column expressions over one per-series sort — no UDFs, no collect,
and the shape scales to any number of series (partition by key) and
any history length (windows are cumulative, never all-pairs).

Semantics (long/flat/short positions, close-to-close fills):

- per-bar asset return ``r_t = close_t / close_{t-1} - 1``
- the position EARNS with one bar of lag (a position entered on bar t
  participates from bar t+1): ``strat_t = pos_{t-1} * r_t``
- fees: ``fee_bps`` basis points of traded notional per unit of
  position change, charged on the bar of the change:
  ``- fee_bps/1e4 * |pos_t - pos_{t-1}|``
- equity is the compounded product ``Π(1 + strat_t)``, computed as
  ``exp(cumsum(log1p(strat_t)))`` — a cumulative window sum, which
  keeps the whole curve in one window pass and is exactly the form a
  SQL oracle can reproduce (DuckDB ``EXP(SUM(LN(1+s)) OVER ...)``)
- drawdown is ``equity / cummax(equity) - 1``
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from .rolling import series_window


def backtest_positions(
    df: DataFrame,
    *,
    keys: Sequence[str],
    order: str | Sequence[str],
    price_col: str = "close",
    position_col: str = "position",
    fee_bps: float = 0.0,
    ret_out: str = "strategy_ret",
    trade_out: str = "trade",
    equity_out: str = "equity",
    drawdown_out: str = "drawdown",
) -> DataFrame:
    """Append the per-bar backtest curve columns: traded size,
    strategy return, compounded equity, drawdown from running peak.

    One window family over (keys, order) — rank/lag, the cumulative
    log-equity sum, and the running peak all share the same partition
    and sort, so Catalyst plans a single exchange + sort for the whole
    curve regardless of how many output columns are derived."""
    w = series_window(keys, order)
    w_cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fee = fee_bps / 1e4
    pos_prev = F.lag(F.col(position_col), 1, 0).over(w)
    ret = F.col(price_col) / F.lag(price_col, 1).over(w) - 1
    trade = F.abs(F.col(position_col) - pos_prev)
    # first bar: ret is NULL (no prior close) -> the position earns 0,
    # but a first-bar entry still pays its fee
    strat = F.coalesce(pos_prev * ret, F.lit(0.0)) - F.lit(fee) * trade
    df = df.withColumn(trade_out, trade).withColumn(ret_out, strat)
    equity = F.exp(F.sum(F.log1p(F.col(ret_out))).over(w_cum))
    df = df.withColumn(equity_out, equity)
    peak = F.max(F.col(equity_out)).over(w_cum)
    return df.withColumn(drawdown_out, F.col(equity_out) / peak - 1)


def sma_backtest_curve_fused(
    df: DataFrame,
    *,
    keys: Sequence[str],
    order: str | Sequence[str],
    price_col: str = "close",
    fast: int = 10,
    slow: int = 50,
    fee_bps: float = 0.0,
    ret_out: str = "strategy_ret",
    trade_out: str = "trade",
    equity_out: str = "equity",
    drawdown_out: str = "drawdown",
    position_out: str = "position",
    scale_bits: int = 24,
) -> DataFrame:
    """The U6 SMA-crossover backtest curve in FIVE window passes whose
    frames are all O(1)/row, instead of the six — two of them
    O(window)/row sliding SMA frames — that ``with_sma_crossover_signals``
    + :func:`backtest_positions` chain (r12 verdict task: collapse the
    position build; r14 verdict task #1: fixed-point SMA).

    The collapse: the forward-filled crossover position has a closed
    form that needs no signal column and no ffill pass. Once the
    above/below indicator ``above_t = (sma_fast > sma_slow)`` is
    defined, it only changes at cross events, so "the most recent
    cross was an entry" is simply ``above_t`` — provided at least one
    cross has happened yet, which is exactly ``prefix_min(above) <
    prefix_max(above)``. Hence::

        position_t  = above_t     if min(above)[..t]  < max(above)[..t]  else 0
        pos_prev_t  = above_{t-1} if min(above)[..t-1] < max(above)[..t-1] else 0

    and the whole chain plans as:

    1. the fixed-point SMA pair (see
       :func:`~.rolling.with_rolling_mean_fixed` for the exactness
       argument), two passes: ONE cumulative LONG running sum of
       ``FLOOR(price * 2^scale_bits)`` plus ``row_number()``, then two
       lags of that sum — the fast and slow frame sums. The warmup
       mask collapses to ``row_number() >= slow`` (valid because the
       non-null-price precondition is enforced), and the crossover
       indicator compares two bit-deterministic doubles, so the whole
       ``above`` series is hash-exactly reproducible by the SQL oracle
       (DuckDB sums BIGINT into HUGEINT: same integers, same diff,
       same exact double cast);
    2. ONE pass of O(1)/row frames over ``above``: ``lag(above)``,
       running min/max with frames ``(-inf, 0)`` and ``(-inf, -1)``,
       plus ``lag(price)`` for the bar return — replacing the
       original's three separate passes (lag(above) for the cross,
       last_value-ignorenulls for the ffill, lag(position)+lag(price)
       for the curve);
    3. the cumulative log-equity sum;
    4. the running equity peak (depends on 3, irreducible).

    The running sum stays a PRIMITIVE long inside whole-stage codegen:
    a DECIMAL(38,0) first cut, measured at sf1, lost the entire O(1)
    saving to Spark's boxed decimal window arithmetic (decimal remains
    the generic operator's unbounded-series form).

    PRECONDITION: ``price_col`` must be non-null — ENFORCED with a
    per-row ``raise_error`` guard (r13 review: a silent divergence is
    worse than a loud one). With null prices the warmup-count mask can
    un-define ``above`` mid-series, and the original ffill carries the
    position across such a gap while the closed form re-reads
    ``above`` after it — semantics then diverge. (The unfused chain
    stays the general tool for gappy prices; u6's market frame has
    non-null closes by construction.)

    Exactness envelope at the default bits=24: frame sums exact while
    ``slow * max_price < 2^29`` (u6: 50 * 1.2e4 = 6e5, 890x headroom)
    and the per-key running sum fits long while ``rows_per_series *
    max_price < 2^39`` (u6: 4.6e7 bars/series at 1.2e4 — 87 years of
    minute bars).  The quantized SMA differs from the float SMA by
    ~6e-8 absolute, so a crossover flips vs the unfused float chain
    only on a fast/slow near-tie below that. Bit-identity with the
    chain on non-null prices is pytest-pinned
    (``tests/test_backtest.py::test_fused_curve_matches_unfused_chain``)
    and held on the benchmark market frame in the r13/r14 shape A/B
    (``BENCH_BACKTEST_AB_r14.json``).

    Returns the same curve columns as :func:`backtest_positions`, so
    :func:`backtest_summary` applies unchanged."""
    w = series_window(keys, order)
    w_cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_prev = w.rowsBetween(Window.unboundedPreceding, -1)
    fee = fee_bps / 1e4

    # loud precondition: the closed-form position is only equivalent
    # to the ffill chain when `above` can never return to NULL once
    # defined, i.e. the price column has no gaps
    df = df.withColumn(
        price_col,
        F.when(
            F.col(price_col).isNull(),
            F.raise_error(F.lit(
                "sma_backtest_curve_fused requires non-null prices; "
                "use with_sma_crossover_signals + backtest_positions "
                "for gappy series"
            )).cast(df.schema[price_col].dataType),
        ).otherwise(F.col(price_col)),
    )
    # pass 1a+1b — shared fixed-point running sum (primitive long:
    # F.floor already returns LongType), two lags of it
    scale = float(1 << scale_bits)
    q = F.floor(F.col(price_col).cast("double") * F.lit(scale))
    df = df.withColumn("__cs", F.sum(q).over(w_cum)).withColumn(
        "__rn", F.row_number().over(w)
    )
    mean_f = (
        F.col("__cs") - F.coalesce(F.lag("__cs", fast).over(w), F.lit(0))
    ).cast("double") / F.lit(fast * scale)
    mean_s = (
        F.col("__cs") - F.coalesce(F.lag("__cs", slow).over(w), F.lit(0))
    ).cast("double") / F.lit(slow * scale)
    df = df.withColumn(
        "__above",
        F.when(F.col("__rn") >= slow, (mean_f > mean_s).cast("int")),
    ).drop("__cs", "__rn")
    # pass 2 — every remaining per-bar input as O(1)/row frames over
    # one (keys, order) WindowExec
    df = (
        df.withColumn("__above_prev", F.lag("__above").over(w))
        .withColumn("__mn0", F.min("__above").over(w_cum))
        .withColumn("__mx0", F.max("__above").over(w_cum))
        .withColumn("__mn1", F.min("__above").over(w_prev))
        .withColumn("__mx1", F.max("__above").over(w_prev))
        .withColumn("__c_prev", F.lag(price_col).over(w))
    )
    position = F.when(F.col("__mn0") < F.col("__mx0"), F.col("__above")).otherwise(
        F.lit(0)
    )
    pos_prev = F.when(
        F.col("__mn1") < F.col("__mx1"), F.col("__above_prev")
    ).otherwise(F.lit(0))
    ret = F.col(price_col) / F.col("__c_prev") - 1
    trade = F.abs(position - pos_prev)
    strat = F.coalesce(pos_prev * ret, F.lit(0.0)) - F.lit(fee) * trade
    df = (
        df.withColumn(position_out, position)
        .withColumn(trade_out, trade)
        .withColumn(ret_out, strat)
        .drop("__above", "__above_prev", "__mn0", "__mx0", "__mn1", "__mx1",
              "__c_prev")
    )
    # passes 3 + 4 — same cumulative forms as backtest_positions
    df = df.withColumn(
        equity_out, F.exp(F.sum(F.log1p(F.col(ret_out))).over(w_cum))
    )
    peak = F.max(F.col(equity_out)).over(w_cum)
    return df.withColumn(drawdown_out, F.col(equity_out) / peak - 1)


def sma_param_sweep(
    df: DataFrame,
    grid: Sequence[tuple[int, int]],
    *,
    keys: Sequence[str],
    order: str | Sequence[str],
    price_col: str = "close",
    fee_bps: float = 0.0,
    periods_per_year: float | None = None,
) -> DataFrame:
    """Strategy-parameter grid search: backtest an SMA-crossover for
    every ``(fast, slow)`` pair in ``grid`` and return the per-series
    summary for each combo, tagged with ``fast``/``slow`` columns.

    The reference searches this space with Optuna over an eager
    single-machine backtest (``HistoricalDataTest.py:120-175``); a
    trial there is sequential. Here the grid is data-parallel: window
    frames must be plan-time constants, so each combo contributes one
    statically-windowed plan and the union of plans executes as ONE
    job whose stages run concurrently across the cluster. The input
    frame is ``localCheckpoint``-pinned so the scan happens once and
    every combo's window pass reads the pinned blocks (an n-combo
    sweep costs n window passes + 1 scan, not n scans)."""
    if not grid:
        raise ValueError("empty parameter grid")
    from .signals import with_sma_crossover_signals

    base = df.localCheckpoint(eager=False)
    outs: list[DataFrame] = []
    for fast, slow in grid:
        sig = with_sma_crossover_signals(
            base, price_col, fast, slow, keys=keys, order=order
        )
        curve = backtest_positions(
            sig, keys=keys, order=order,
            price_col=price_col, position_col="position", fee_bps=fee_bps,
        )
        outs.append(
            backtest_summary(
                curve, keys=keys, periods_per_year=periods_per_year
            ).select(
                F.lit(fast).alias("fast"), F.lit(slow).alias("slow"), "*"
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def best_params_per_series(
    sweep: DataFrame,
    *,
    keys: Sequence[str],
    metric_col: str = "total_return",
) -> DataFrame:
    """Argmax over a :func:`sma_param_sweep` result: the (fast, slow)
    pair with the best ``metric_col`` per series, via ``max_by`` on a
    (metric, fast, slow) struct — one hash aggregate, deterministic
    under metric ties (lexicographically smallest (fast, slow) wins
    because the struct comparison falls through to them)."""
    pick = F.max_by(
        F.struct(
            F.col("fast"), F.col("slow"), F.col(metric_col).alias("metric")
        ),
        # tie-break: equal metrics resolve to the SMALLEST (fast, slow)
        # pair — negate the params inside the ordering struct
        F.struct(F.col(metric_col), (-F.col("fast")), (-F.col("slow"))),
    )
    return sweep.groupBy(*keys).agg(
        pick.getField("fast").alias("best_fast"),
        pick.getField("slow").alias("best_slow"),
        pick.getField("metric").alias("best_" + metric_col),
    )


def backtest_summary(
    curve: DataFrame,
    *,
    keys: Sequence[str],
    ret_col: str = "strategy_ret",
    trade_col: str = "trade",
    drawdown_col: str = "drawdown",
    periods_per_year: float | None = None,
) -> DataFrame:
    """Per-series performance summary over a :func:`backtest_positions`
    curve: bar/trade counts, compounded total return, max drawdown,
    Sharpe ratio (mean/std of per-bar strategy returns, optionally
    annualized by ``sqrt(periods_per_year)``).

    The total return re-derives from ``SUM(LN(1+r))`` rather than a
    last-row lookup, so the summary is ONE hash aggregate — no second
    window pass and no per-key sort; only max-drawdown consumes the
    windowed column. Sharpe is NULL (not inf) for flat or single-bar
    series, in both this engine and the SQL oracle form."""
    ann = float(periods_per_year) ** 0.5 if periods_per_year else 1.0
    mean_r = F.avg(ret_col)
    sd_r = F.stddev_samp(ret_col)
    return curve.groupBy(*keys).agg(
        F.count("*").alias("n_bars"),
        F.sum(trade_col).cast("double").alias("n_trades"),
        (F.exp(F.sum(F.log1p(F.col(ret_col)))) - 1).alias("total_return"),
        F.min(drawdown_col).alias("max_drawdown"),
        F.when(sd_r.isNotNull() & (sd_r != 0), F.lit(ann) * mean_r / sd_r)
        .alias("sharpe"),
    )
