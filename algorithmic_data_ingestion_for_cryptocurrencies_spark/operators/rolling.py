"""Rolling / cumulative window operators with pandas-parity warmup.

The reference computes every time-series feature with pandas
``rolling(n)`` ops, which yield NaN until ``n`` observations exist
(asserted by its tests, e.g. ``algo-data-ingestion/tests/features/
processors/test_ta_indicators_benchmark.py:37-122``). Spark window
frames compute over *partial* frames, so every trailing-frame operator
here is wrapped in a ``count >= min_periods`` mask for parity
(SURVEY §2.5 "NaN-warmup semantics").

All operators are Column-expression compositions over
``Window.partitionBy(series_keys).orderBy(ts)`` — pure JVM, no Python
on the hot path, and safe at scale because partitions are per series
key, never global. Scale note: a window over a single series key is
processed by one task; series in this domain (per symbol × exchange ×
timeframe) are bounded, and the shuffle is one exchange keyed by the
series columns which AQE can coalesce.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.window import WindowSpec

ColumnLike = Column | str


def _c(col: ColumnLike) -> Column:
    return F.col(col) if isinstance(col, str) else col


def series_window(keys: Sequence[str], order: str | Sequence[str]) -> WindowSpec:
    """Per-series ordered window: the universal spec for §2.5 operators.

    Parity: the reference sorts each single-series frame by time before
    feature math (``market_factory.py:98``); here the sort is declared
    per partition key so Catalyst plans one shuffle + sort.
    """
    order_cols = [order] if isinstance(order, str) else list(order)
    return Window.partitionBy(*[_c(k) for k in keys]).orderBy(*[_c(o) for o in order_cols])


def cum(w: WindowSpec) -> WindowSpec:
    return w.rowsBetween(Window.unboundedPreceding, Window.currentRow)


def trailing(w: WindowSpec, n: int) -> WindowSpec:
    return w.rowsBetween(-(n - 1), Window.currentRow)


def rolling_agg(
    agg,
    col: ColumnLike,
    w: WindowSpec,
    n: int,
    min_periods: int | None = None,
    count_col: Column | None = None,
) -> Column:
    """Generic trailing-window aggregate with pandas warmup mask:
    NULL until ``min_periods`` (default ``n``) non-null observations
    are inside the frame (pandas ``rolling(n).agg`` semantics).

    ``count_col`` lets callers computing several same-frame aggregates
    over columns that are non-null *by construction* share ONE count
    window expression for the warmup mask instead of one per aggregate
    (the WindowExec evaluates every named window expression; identical
    masks across k aggregates are k-1 wasted frame passes)."""
    c = _c(col)
    frame = trailing(w, n)
    mp = n if min_periods is None else min_periods
    cnt = F.count(c).over(frame) if count_col is None else count_col
    return F.when(cnt >= mp, agg(c).over(frame))


# --- trailing-frame ops (W4-W8) ---------------------------------------------

def rolling_mean(col: ColumnLike, w: WindowSpec, n: int) -> Column:
    """SMA — ``ta_indicators.py:121-125``."""
    return rolling_agg(F.avg, col, w, n)


def rolling_std(col: ColumnLike, w: WindowSpec, n: int) -> Column:
    """pandas ``rolling(n).std()`` (ddof=1) — ``market_factory.py:109-110``."""
    return rolling_agg(F.stddev_samp, col, w, n)


def rolling_sum(col: ColumnLike, w: WindowSpec, n: int) -> Column:
    return rolling_agg(F.sum, col, w, n)


def rolling_min(col: ColumnLike, w: WindowSpec, n: int) -> Column:
    return rolling_agg(F.min, col, w, n)


def rolling_max(col: ColumnLike, w: WindowSpec, n: int) -> Column:
    return rolling_agg(F.max, col, w, n)


def rolling_quantile(col: ColumnLike, w: WindowSpec, n: int, q: float) -> Column:
    """Exact linear-interpolation percentile (pandas default) —
    ``onchain_features.py:54-59,81-86``. Uses Spark's exact
    ``percentile`` (not approx) for oracle parity (SURVEY §4 note 3)."""
    return rolling_agg(lambda c: F.percentile(c, F.lit(q)), col, w, n)


def rolling_median(col: ColumnLike, w: WindowSpec, n: int) -> Column:
    """Odd ``n`` takes a fast path: the median is the middle order
    statistic of the n-row frame, picked from an unrolled lag array
    with ``sort_array`` — one cheap primitive-array sort per row
    instead of Spark's Percentile aggregate rebuilding and sorting its
    counts buffer per sliding frame (measured ~3x at n=15).  Bit-exact
    by construction (no arithmetic), and the warmup mask makes it
    complete: ``count(c) >= n`` over an n-row trailing frame implies
    the frame has n rows and zero nulls, so the lag array IS the
    frame.  Even ``n`` (interpolating between two order statistics —
    engine-specific float formula) keeps the percentile path."""
    if n % 2 == 1 and n <= 99:
        c = _c(col)
        vals = [c if i == 0 else F.lag(c, i).over(w) for i in range(n)]
        arr = F.sort_array(F.array(*vals))
        return F.when(
            F.count(c).over(trailing(w, n)) >= n, F.element_at(arr, (n + 1) // 2)
        )
    return rolling_quantile(col, w, n, 0.5)


# --- O(1)/row fixed-point sliding mean (r14, the rule-W extension) -----------

def with_rolling_mean_fixed(
    df: DataFrame,
    out: str,
    col: str,
    keys: Sequence[str],
    order: str | Sequence[str],
    n: int,
    *,
    scale_bits: int = 30,
    min_periods: int | None = None,
) -> DataFrame:
    """Trailing mean in O(1) work per row instead of Spark's
    O(window)-per-row sliding-frame recomputation, hash-exactly
    reproducible in any engine.

    Spark's ``SlidingWindowFunctionFrame`` re-aggregates the whole
    n-row buffer every time the frame moves, so ``AVG OVER (ROWS n-1
    PRECEDING)`` costs O(n) per row — the one engine-level gap the r13
    backtest decomposition measured against DuckDB's O(1) sliding
    aggregation.  The classic fix (float prefix-sum difference)
    re-rounds: subtracting two ~1e10 running float sums rounds
    differently than a direct frame sum, so it cannot ship under a
    hash-exact oracle gate.  This operator makes the prefix-sum
    difference EXACT by quantizing to fixed point first (the same
    rule-W device as :data:`~..similarity.PORTABLE_MEAN_SCALE`):

    1. ``q = FLOOR(x * 2^scale_bits)`` — exact double multiply +
       unambiguous floor, cast to DECIMAL(38,0);
    2. running sums ``cs = SUM(q)``, ``cc = COUNT(x)`` over the
       cumulative frame — growing frames update incrementally, O(1)/row,
       and integer/decimal addition is order-independent;
    3. frame sum = ``cs - LAG(cs, n)`` — exact decimal subtraction;
    4. mean = ``CAST(diff AS DOUBLE) / (frame_count * 2^scale_bits)``
       — the cast is exact while ``|diff| < 2^53`` and the divide is a
       single IEEE op, so the result double is bit-identical in every
       engine that runs the same four steps.

    Exactness envelope: ``n * max|x| * 2^scale_bits < 2^53``, i.e.
    ``n * max|x| < 2^(53 - scale_bits)`` — pick ``scale_bits`` per
    column magnitude (e.g. prices ≤1.1e5 with n=10 fit bits=32;
    damped u6 prices ≤1.2e4 with n=50 fit bits=33).  The quantization
    itself (≤2^-scale_bits absolute) redefines the statistic by ~1e-9
    relative — this is a *definition*, matched exactly by the SQL twin,
    not an approximation of the float mean.

    The running sum is DECIMAL(38,0): order-independent and
    overflow-proof for any series length (headroom ~1e38), at the
    price of boxed arithmetic in Spark (measured at sf1: the boxing
    cost can eat the O(1) saving).  The fused backtest keeps its own
    inline ``long`` sum instead, because its series-length envelope is
    known (:func:`~.backtest.sma_backtest_curve_fused`).

    Warmup parity with :func:`rolling_mean`: NULL until
    ``min_periods`` (default ``n``) non-null observations are in the
    frame; with nulls in-frame the divisor is the non-null count
    (``F.avg`` semantics).  Plans as TWO O(1)/row window passes over
    one sort (running sums, then lags) — Spark cannot lag a window
    expression directly, hence DataFrame-in/DataFrame-out.
    """
    w = series_window(keys, order)
    mp = n if min_periods is None else min_periods
    scale = float(1 << scale_bits)
    zero_dec = F.lit(0).cast("decimal(38,0)")
    q = F.floor(_c(col).cast("double") * F.lit(scale)).cast("decimal(38,0)")
    cs, cc = f"__fxs_{out}", f"__fxc_{out}"
    df = df.withColumn(cs, F.sum(q).over(cum(w))).withColumn(
        cc, F.count(_c(col)).over(cum(w))
    )
    diff = F.col(cs) - F.coalesce(F.lag(cs, n).over(w), zero_dec)
    fcnt = F.col(cc) - F.coalesce(F.lag(cc, n).over(w), F.lit(0))
    mean = diff.cast("double") / (fcnt.cast("double") * F.lit(scale))
    return df.withColumn(out, F.when(fcnt >= mp, mean)).drop(cs, cc)


# --- lag/lead family (W1-W3, W23) --------------------------------------------

def lag_diff(col: ColumnLike, w: WindowSpec, n: int = 1) -> Column:
    """pandas ``diff(n)`` — ``ta_indicators.py:70``, ``onchain_features.py:4-9``."""
    c = _c(col)
    return c - F.lag(c, n).over(w)


def pct_change(col: ColumnLike, w: WindowSpec, n: int = 1) -> Column:
    """pandas ``pct_change(n)``; division by zero yields NULL (pandas
    yields inf — deviation documented; sanitize parity keeps NULL)."""
    c = _c(col)
    prev = F.lag(c, n).over(w)
    return (c - prev) / F.nullif(prev, F.lit(0))


def log_return(col: ColumnLike, w: WindowSpec, n: int = 1) -> Column:
    """``log(close.replace(0, NaN)).diff()`` — ``market_factory.py:107``."""
    c = _c(col)
    lg = F.log(F.nullif(c, F.lit(0)))
    return lg - F.lag(lg, n).over(w)


def lead(col: ColumnLike, w: WindowSpec, n: int = 1) -> Column:
    return F.lead(_c(col), n).over(w)


# --- cumulative ops (W15-W16, W26) -------------------------------------------

def cum_sum(col: ColumnLike, w: WindowSpec) -> Column:
    return F.sum(_c(col)).over(cum(w))


def cum_max(col: ColumnLike, w: WindowSpec) -> Column:
    return F.max(_c(col)).over(cum(w))


def cum_min(col: ColumnLike, w: WindowSpec) -> Column:
    return F.min(_c(col)).over(cum(w))


def drawdown(col: ColumnLike, w: WindowSpec) -> Column:
    """``(s - cummax) / cummax`` — ``onchain_features.py:36-43``."""
    c = _c(col)
    peak = cum_max(c, w)
    return (c - peak) / F.nullif(peak, F.lit(0))


def ffill(col: ColumnLike, w: WindowSpec) -> Column:
    """Forward-fill = last non-null so far — reference signal ffill
    (``HistoricalDataTest.py:102``) and as-of alignment (J3)."""
    return F.last(_c(col), ignorenulls=True).over(cum(w))


# --- derived series ops (W22, P6, A6) ----------------------------------------

def with_rolling_volatility(
    df: DataFrame,
    col: str,
    n: int,
    periods_per_year: float,
    *,
    keys: Sequence[str],
    order: str | Sequence[str],
    out: str = "volatility",
) -> DataFrame:
    """Annualized rolling std of pct-change —
    ``onchain_features.py:62-70`` (``sqrt(365*86400/interval)`` scale).

    Staged as two selects because Spark forbids a window expression
    inside another window aggregate.
    """
    w = series_window(keys, order)
    df = df.withColumn("__ret", pct_change(col, w, 1))
    df = df.withColumn(
        out, rolling_agg(F.stddev_samp, "__ret", w, n) * F.lit(float(periods_per_year) ** 0.5)
    )
    return df.drop("__ret")


def whale_flag(col: ColumnLike, threshold: float) -> Column:
    """``(abs(value) > threshold).astype(int)`` — ``onchain_features.py:46-51``."""
    return (F.abs(_c(col)) > F.lit(threshold)).cast("int")


def with_global_zscore(
    df: DataFrame,
    col: str,
    out: str = "zscore",
    keys: Sequence[str] = (),
) -> DataFrame:
    """Global (or per-key) z-score — ``onchain_features.py:73-78``.

    Implemented as aggregate + broadcast join rather than an
    unpartitioned window: a global window would serialize the whole
    table through one task at 100 TB; a two-pass agg+broadcast is a
    map-side-only second pass.
    """
    if keys:
        stats = df.groupBy(*keys).agg(
            F.avg(col).alias("__mu"), F.stddev_samp(col).alias("__sd")
        )
        joined = df.join(F.broadcast(stats), list(keys), "left")
    else:
        stats = df.agg(F.avg(col).alias("__mu"), F.stddev_samp(col).alias("__sd"))
        joined = df.crossJoin(F.broadcast(stats))
    return joined.withColumn(
        out, (F.col(col) - F.col("__mu")) / F.nullif(F.col("__sd"), F.lit(0))
    ).drop("__mu", "__sd")


def with_robust_zscore(
    df: DataFrame,
    col: str,
    out: str = "robust_z",
    keys: Sequence[str] = (),
) -> DataFrame:
    """Median/MAD z-score — the outlier-resistant twin of
    :func:`with_global_zscore` (reference's global standardization,
    ``onchain_features.py:73-78``, hardened for fat-tailed on-chain
    series). Two exact-percentile aggregation passes + a broadcast
    join; no global window."""
    if keys:
        med = df.groupBy(*keys).agg(
            F.percentile(col, F.lit(0.5)).alias("__med")
        )
        j1 = df.join(F.broadcast(med), list(keys), "left")
    else:
        med = df.agg(F.percentile(col, F.lit(0.5)).alias("__med"))
        j1 = df.crossJoin(F.broadcast(med))
    j1 = j1.withColumn("__absdev", F.abs(F.col(col) - F.col("__med")))
    if keys:
        mad = j1.groupBy(*keys).agg(
            F.percentile("__absdev", F.lit(0.5)).alias("__mad")
        )
        j2 = j1.join(F.broadcast(mad), list(keys), "left")
    else:
        mad = j1.agg(F.percentile("__absdev", F.lit(0.5)).alias("__mad"))
        j2 = j1.crossJoin(F.broadcast(mad))
    return j2.withColumn(
        out, (F.col(col) - F.col("__med")) / F.nullif(F.col("__mad"), F.lit(0.0))
    ).drop("__med", "__absdev", "__mad")


def with_quantile_clip(
    df: DataFrame,
    col: str,
    lo: float = 0.01,
    hi: float = 0.99,
    out: str | None = None,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Winsorize to the [lo, hi] exact quantiles (pandas ``clip`` with
    quantile bounds — the reference's clip family generalized). Same
    agg + broadcast shape as the z-scores."""
    if keys:
        q = df.groupBy(*keys).agg(
            F.percentile(col, F.lit(lo)).alias("__qlo"),
            F.percentile(col, F.lit(hi)).alias("__qhi"),
        )
        j = df.join(F.broadcast(q), list(keys), "left")
    else:
        q = df.agg(
            F.percentile(col, F.lit(lo)).alias("__qlo"),
            F.percentile(col, F.lit(hi)).alias("__qhi"),
        )
        j = df.crossJoin(F.broadcast(q))
    return j.withColumn(
        out or f"{col}_clipped",
        F.least(F.greatest(F.col(col), F.col("__qlo")), F.col("__qhi")),
    ).drop("__qlo", "__qhi")
