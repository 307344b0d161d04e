"""Driver-contract query registry: every implemented operator family
from SURVEY.md §2 exposed as a named query over the driver's testdata
tables, each paired with the equivalent DuckDB SQL oracle.

Conventions (load-bearing for the correctness gate):

- Window order is ALWAYS a deterministic total order (``ts, okey,
  lnum`` within a ``suppkey`` partition is unique on the lineitem
  series) — ties would make window results nondeterministic.
- Every float output column is rounded on BOTH sides by the SAME
  double-arithmetic formula ``FLOOR(x * 1e6 + 0.5) / 1e6`` (applied
  uniformly by the ``q`` decorator). Engine-native ROUND differs at
  .5 boundaries (Spark exact-decimal HALF_UP vs DuckDB float
  multiply), which flips last-digit values; an explicit FLOOR chain is
  bit-identical on both engines because every step is IEEE-754
  deterministic.
- Computed/aggregate columns are aliased identically in the Spark
  callable and the SQL (the driver sorts columns by name and hashes
  values).
- Hash-based operators (MinHash/SimHash/LSH — xxhash64 has no DuckDB
  twin) register with ``sql=None`` → rows-only check; their *exact*
  counterparts (n-gram Jaccard, brute-force cosine) carry full
  oracles.

Reference parity citations live in the underlying operator modules.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable, Sequence
from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .operators.asof import asof_join
from .operators.dedup import (
    connected_components,
    contamination_check,
    dedup_survivors,
    exact_dedup,
    jaccard_similar_pairs,
    minhash_coeffs,
    minhash_dedup_pairs,
    simhash_near_pairs,
    tokenize,
)
from .operators.ewm import block_size_for, ewm_spark_sql, ewm_sql

# with_macd fuses the fast/slow EMAs with a SHARED block size; the
# oracle renderings must use the same k for bit parity
_K_MACD = max(block_size_for(span=12), block_size_for(span=26), block_size_for(span=9))
from .operators.indicators import (
    MARKET_FEATURES,
    build_market_features,
    with_adx,
    with_atr,
    with_cci,
    with_macd,
    with_mfi,
    with_obv,
    with_roc,
    with_rsi_sma,
    with_rsi_wilder,
    with_stochastic,
    with_vwap,
)
from .operators.joins import expected_grid, find_gaps, range_interval_join, spine_join
from .operators.sampling import (
    hash_bernoulli_sample,
    hash_split,
    hash_top_n_per_group,
    mixture_sample,
    pack_sequences,
    rate_to_threshold,
    take_token_budget,
    with_shuffle_key,
)
from .operators.labels import with_labels
from .operators.orderbook import batch_orderbook, depth_series, imbalance_series, spread_series
from .operators.resample import resample, resample_last
from .operators.rolling import (
    cum_max,
    cum_sum,
    drawdown,
    ffill,
    lag_diff,
    log_return,
    pct_change,
    rolling_max,
    rolling_mean,
    rolling_median,
    rolling_min,
    rolling_std,
    rolling_sum,
    series_window,
    with_global_zscore,
    with_rolling_volatility,
)
from .operators.similarity import (
    _hyperplanes,
    ann_topk,
    cosine_topk,
    embedding_near_pairs,
    embedding_near_pairs_capped,
    knn_join,
)
from .operators import text as textops
from .sql import run_sql

QueryFn = Callable[[SparkSession, str], DataFrame]
REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def SR(expr: str) -> str:
    """SQL-side deterministic 6-decimal rounding (see module doc)."""
    return f"FLOOR(({expr}) * 1e6 + 0.5) / 1e6"


def _round6(c) -> F.Column:
    c = F.col(c) if isinstance(c, str) else c
    return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)


def q(name: str, sql: str | None, *, cols: Sequence[str] | None = None,
      fcols: Sequence[str] = ()):
    """Register a query. When ``cols`` is given, both the Spark result
    and the SQL are wrapped with a uniform projection that rounds the
    float columns in ``fcols`` with the shared FLOOR formula."""
    fset = set(fcols)

    def deco(fn: QueryFn) -> QueryFn:
        wrapped_sql = sql
        if sql is not None and cols is not None:
            sel = ", ".join(f"{SR(c)} AS {c}" if c in fset else c for c in cols)
            wrapped_sql = f"SELECT {sel} FROM ({sql})"

        if cols is None:
            REGISTRY[name] = (fn, wrapped_sql)
            return fn

        def wrapped_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
            df = fn(spark, sf_dir)
            return df.select(
                *[
                    _round6(c).alias(c) if c in fset else F.col(c)
                    for c in cols
                ]
            )

        REGISTRY[name] = (wrapped_fn, wrapped_sql)
        return fn

    return deco


def ensure_session_defaults(spark: SparkSession) -> None:
    """The driver calls queries with ITS OWN SparkSession. Two of its
    possible defaults would silently break oracle parity, so pin them
    per call (both are runtime-settable SQL confs):

    - ``spark.sql.ansi.enabled``: Spark 4 defaults to ANSI=true, where
      x/0 raises instead of yielding NULL (this engine documents
      pandas-style permissive arithmetic, and the DuckDB oracles
      assume NULL);
    - ``spark.sql.session.timeZone``: epoch-based bucketing of the
      NTZ parquet timestamps must interpret wall-clock as UTC to
      match DuckDB's naive-epoch semantics.
    """
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a testdata table, normalizing TIMESTAMP_NTZ columns (parquet
    written without UTC adjustment) to session-UTC timestamps so window
    frames, epoch casts, and unions behave uniformly downstream."""
    from pyspark.sql import types as T

    ensure_session_defaults(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for f_ in df.schema.fields:
        if isinstance(f_.dataType, T.TimestampNTZType):
            df = df.withColumn(f_.name, F.col(f_.name).cast("timestamp"))
    return df


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load events.parquet with a schema-adaptive ``ts``.

    Driver-generated data has shipped two physical encodings across
    rounds: nanosecond-integer timestamps (which the Spark parquet
    reader only accepts as raw longs via ``nanosAsLong``) and plain
    microsecond TIMESTAMP.  Normalize both to a naive microsecond
    timestamp so every downstream operator sees one schema —
    truncation toward zero on positive epochs matches DuckDB's ns→µs
    read."""
    ensure_session_defaults(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = df.schema["ts"].dataType.simpleString()
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type.startswith("timestamp"):
        df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz").cast("timestamp"))
    return df


# --------------------------------------------------------------------------
# Market-shaped projection of lineitem: one price series per supplier.
# --------------------------------------------------------------------------

KEYS = ["suppkey"]
ORDER = ["ts", "okey", "lnum", "pkey"]
PART = "suppkey"
ORD = "ts, okey, lnum, pkey"
IDS = ["suppkey", "ts", "okey", "lnum"]

MARKET_SQL = (
    "SELECT l_suppkey AS suppkey, l_shipdate AS ts, l_orderkey AS okey, "
    "l_linenumber AS lnum, l_partkey AS pkey, l_extendedprice AS close, "
    "l_extendedprice * (1 + l_discount) AS high, "
    "l_extendedprice * (1 - l_discount) AS low, "
    "l_quantity AS volume FROM lineitem"
)


def _market(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_suppkey").alias("suppkey"),
        F.col("l_shipdate").alias("ts"),
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("lnum"),
        F.col("l_partkey").alias("pkey"),
        F.col("l_extendedprice").alias("close"),
        (F.col("l_extendedprice") * (F.lit(1) + F.col("l_discount"))).alias("high"),
        (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).alias("low"),
        F.col("l_quantity").alias("volume"),
    )


def _w():
    return series_window(KEYS, ORDER)


def _over(frame: str = "", *, part: str = PART, order: str = ORD) -> str:
    tail = f" {frame}" if frame else ""
    return f"OVER (PARTITION BY {part} ORDER BY {order}{tail})"


def _fr(n: int) -> str:
    return f"ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW"


_CUM = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"


def _roll(fn_sql: str, col: str, n: int, arg: str | None = None, *,
          part: str = PART, order: str = ORD) -> str:
    """Masked trailing-window aggregate (pandas warmup parity)."""
    inner = f"{fn_sql}({arg or col})"
    over = _over(_fr(n), part=part, order=order)
    return f"CASE WHEN COUNT({col}) {over} >= {n} THEN {inner} {over} END"


# --- W1-W3, W23: lag/lead family ------------------------------------------

@q(
    "w01_lag_diff_lead",
    f"""SELECT suppkey, ts, okey, lnum,
        close - LAG(close, 1) {_over()} AS diff_1,
        LEAD(close, 1) {_over()} AS lead_1
        FROM ({MARKET_SQL})""",
    cols=IDS + ["diff_1", "lead_1"],
    fcols=["diff_1", "lead_1"],
)
def w01(spark, sf_dir):
    m = _market(spark, sf_dir)
    w = _w()
    return m.select(
        *IDS,
        lag_diff("close", w, 1).alias("diff_1"),
        F.lead("close", 1).over(w).alias("lead_1"),
    )


@q(
    "w02_pct_change",
    f"""SELECT suppkey, ts, okey, lnum,
        (close - LAG(close, 1) {_over()}) / NULLIF(LAG(close, 1) {_over()}, 0) AS ret_1
        FROM ({MARKET_SQL})""",
    cols=IDS + ["ret_1"],
    fcols=["ret_1"],
)
def w02(spark, sf_dir):
    m = _market(spark, sf_dir)
    return m.select(*IDS, pct_change("close", _w(), 1).alias("ret_1"))


@q(
    "w03_log_return",
    f"""SELECT suppkey, ts, okey, lnum,
        LN(NULLIF(close, 0)) - LAG(LN(NULLIF(close, 0)), 1) {_over()} AS logret_1
        FROM ({MARKET_SQL})""",
    cols=IDS + ["logret_1"],
    fcols=["logret_1"],
)
def w03(spark, sf_dir):
    m = _market(spark, sf_dir)
    return m.select(*IDS, log_return("close", _w(), 1).alias("logret_1"))


@q(
    "w04_rolling_mean",
    f"SELECT suppkey, ts, okey, lnum, {_roll('AVG', 'close', 5)} AS sma_5 FROM ({MARKET_SQL})",
    cols=IDS + ["sma_5"],
    fcols=["sma_5"],
)
def w04(spark, sf_dir):
    m = _market(spark, sf_dir)
    return m.select(*IDS, rolling_mean("close", _w(), 5).alias("sma_5"))


@q(
    "w04b_rolling_mean_fixed",
    f"""SELECT suppkey, ts, okey, lnum,
  CASE WHEN __cc - COALESCE(LAG(__cc, 20) {_over()}, 0) >= 20
       THEN CAST(__cs - COALESCE(LAG(__cs, 20) {_over()}, 0) AS DOUBLE)
            / (CAST(__cc - COALESCE(LAG(__cc, 20) {_over()}, 0) AS DOUBLE)
               * 2147483648.0)
  END AS sma_fx_20
FROM (
  SELECT suppkey, ts, okey, lnum, pkey,
         SUM(CAST(FLOOR(close * 2147483648.0) AS DECIMAL(38,0))) {_over(_CUM)} AS __cs,
         COUNT(close) {_over(_CUM)} AS __cc
  FROM ({MARKET_SQL})
)""",
    cols=IDS + ["sma_fx_20"],
    fcols=["sma_fx_20"],
)
def w04b(spark, sf_dir):
    """W4 in O(1)/row (r14): the fixed-point prefix-sum-difference
    sliding mean (``with_rolling_mean_fixed``) — two constant-time
    window passes instead of Spark's O(window)-per-row frame
    recomputation, with a step-identical DECIMAL(38,0) SQL twin so the
    doubles are bit-exact cross-engine.  scale_bits=31: raw closes
    (l_extendedprice) reach ~1.05e5, so 20 * 1.05e5 * 2^31 = 4.5e15
    < 2^53 keeps the frame-sum cast exact with 2x headroom."""
    from .operators.rolling import with_rolling_mean_fixed

    m = _market(spark, sf_dir)
    out = with_rolling_mean_fixed(
        m, "sma_fx_20", "close", KEYS, ORDER, 20, scale_bits=31
    )
    return out.select(*IDS, "sma_fx_20")


@q(
    "w05_rolling_std",
    f"SELECT suppkey, ts, okey, lnum, {_roll('STDDEV_SAMP', 'close', 20)} AS std_20 FROM ({MARKET_SQL})",
    cols=IDS + ["std_20"],
    fcols=["std_20"],
)
def w05(spark, sf_dir):
    m = _market(spark, sf_dir)
    return m.select(*IDS, rolling_std("close", _w(), 20).alias("std_20"))


@q(
    "w06_rolling_sum",
    f"SELECT suppkey, ts, okey, lnum, {_roll('SUM', 'volume', 7)} AS vol_sum_7 FROM ({MARKET_SQL})",
    cols=IDS + ["vol_sum_7"],
    fcols=["vol_sum_7"],
)
def w06(spark, sf_dir):
    m = _market(spark, sf_dir)
    return m.select(*IDS, rolling_sum("volume", _w(), 7).alias("vol_sum_7"))


@q(
    "w07_rolling_min_max",
    f"""SELECT suppkey, ts, okey, lnum,
        {_roll('MIN', 'low', 14)} AS low_min_14,
        {_roll('MAX', 'high', 14)} AS high_max_14
        FROM ({MARKET_SQL})""",
    cols=IDS + ["low_min_14", "high_max_14"],
    fcols=["low_min_14", "high_max_14"],
)
def w07(spark, sf_dir):
    m = _market(spark, sf_dir)
    w = _w()
    return m.select(
        *IDS,
        rolling_min("low", w, 14).alias("low_min_14"),
        rolling_max("high", w, 14).alias("high_max_14"),
    )


@q(
    "w08_rolling_median",
    f"""SELECT suppkey, ts, okey, lnum,
        {_roll('QUANTILE_CONT', 'close', 15, 'close, 0.5')} AS med_15
        FROM ({MARKET_SQL})""",
    cols=IDS + ["med_15"],
    fcols=["med_15"],
)
def w08(spark, sf_dir):
    m = _market(spark, sf_dir)
    return m.select(*IDS, rolling_median("close", _w(), 15).alias("med_15"))


# --- W9-W11: EWM family ----------------------------------------------------

_EMA_KEEP = ["suppkey", "ts", "okey", "lnum", "pkey", "close", "volume", "high", "low"]

# r15 (guide §2.4): the two EMAs share ONE block size so their block
# windows have identical partition specs — one order-sort + one
# block-sort instead of the 4-sort sandwich two per-span passes
# planned (order, block_12, order again, block_26). Same device as
# _K_MACD below; the DuckDB twin is re-rendered with the same shared k
# in lockstep (the block-renormalized formula's per-block rounding
# depends on k, so BOTH engines must use the same one — they then
# agree bit-for-bit, same as every fused-EWM query).
_K_W09 = max(block_size_for(span=12), block_size_for(span=26))

_W09_SQL = ewm_sql(
    ewm_sql(
        MARKET_SQL, "close", "ema_12",
        keys=[PART], order=ORDER, keep=_EMA_KEEP, span=12, k=_K_W09,
    ),
    "close", "ema_26",
    keys=[PART], order=ORDER, keep=_EMA_KEEP + ["ema_12"], span=26, k=_K_W09,
)


@q(
    "w09_ema",
    _W09_SQL,
    cols=IDS + ["ema_12", "ema_26"],
    fcols=["ema_12", "ema_26"],
)
def w09(spark, sf_dir):
    from .operators.ewm import with_ewm_multi

    m = _market(spark, sf_dir)
    m = with_ewm_multi(
        m,
        [
            {"col": "close", "out": "ema_12", "span": 12},
            {"col": "close", "out": "ema_26", "span": 26},
        ],
        keys=KEYS, order=ORDER, k=_K_W09,
    )
    return m.select(*IDS, "ema_12", "ema_26")


@q(
    "w10_rsi_sma",
    f"""SELECT suppkey, ts, okey, lnum,
       100.0 - (100.0 / (1.0 + __ru / NULLIF(__rd, 0.0))) AS rsi_14
FROM (
  SELECT suppkey, ts, okey, lnum,
         {_roll('AVG', '__up', 14)} AS __ru,
         {_roll('AVG', '__down', 14)} AS __rd
  FROM (
    SELECT *,
           CASE WHEN __delta > 0 THEN __delta ELSE 0.0 END AS __up,
           CASE WHEN __delta < 0 THEN -__delta ELSE 0.0 END AS __down
    FROM (SELECT *, close - LAG(close, 1) {_over()} AS __delta FROM ({MARKET_SQL}))
  )
)""",
    cols=IDS + ["rsi_14"],
    fcols=["rsi_14"],
)
def w10(spark, sf_dir):
    m = _market(spark, sf_dir)
    m = with_rsi_sma(m, "close", 14, keys=KEYS, order=ORDER, out="rsi_14")
    return m.select(*IDS, "rsi_14")


_GAINS_SQL = f"""
SELECT *,
       CASE WHEN __delta > 0 THEN __delta WHEN __delta IS NOT NULL THEN 0.0 END AS __gain,
       CASE WHEN __delta < 0 THEN -__delta WHEN __delta IS NOT NULL THEN 0.0 END AS __loss
FROM (SELECT *, close - LAG(close, 1) {_over()} AS __delta FROM ({MARKET_SQL}))"""

_W10B_SQL = (
    """SELECT suppkey, ts, okey, lnum,
       CASE WHEN avg_loss = 0 THEN CASE WHEN avg_gain > 0 THEN 100.0 END
            ELSE 100.0 - (100.0 / (1.0 + avg_gain / avg_loss)) END AS rsi_w_14
FROM ("""
    + ewm_sql(
        ewm_sql(
            _GAINS_SQL, "__gain", "avg_gain",
            keys=[PART], order=ORDER,
            keep=["suppkey", "ts", "okey", "lnum", "pkey", "__loss"],
            alpha=1.0 / 14,
        ),
        "__loss", "avg_loss",
        keys=[PART], order=ORDER,
        keep=["suppkey", "ts", "okey", "lnum", "pkey", "avg_gain"],
        alpha=1.0 / 14,
    )
    + ")"
)


@q(
    "w10b_rsi_wilder",
    _W10B_SQL,
    cols=IDS + ["rsi_w_14"],
    fcols=["rsi_w_14"],
)
def w10b(spark, sf_dir):
    m = _market(spark, sf_dir)
    m = with_rsi_wilder(m, "close", 14, keys=KEYS, order=ORDER, out="rsi_w_14")
    return m.select(*IDS, "rsi_w_14")


def _macd_sql(src: str, *, part: str, order: Sequence[str], keep: Sequence[str]) -> str:
    """DuckDB twin of ``with_macd(keep_emas=True)`` over ``src``: ``keep``
    (which must hold ``close``) plus ``ema_12``, ``ema_26``, ``macd`` and
    its span-9 ``macd_signal_9``, every EWM at the shared block size
    ``_K_MACD``."""
    emas = ewm_sql(
        ewm_sql(src, "close", "ema_12", keys=[part], order=order, keep=keep, span=12, k=_K_MACD),
        "close", "ema_26", keys=[part], order=order, keep=[*keep, "ema_12"], span=26, k=_K_MACD,
    )
    return ewm_sql(
        f"SELECT *, ema_12 - ema_26 AS macd FROM ({emas})", "macd", "macd_signal_9",
        keys=[part], order=order, keep=[*keep, "ema_12", "ema_26", "macd"], span=9, k=_K_MACD,
    )


_W11_SQL = f"""SELECT suppkey, ts, okey, lnum, macd, macd_signal_9,
       macd - macd_signal_9 AS histogram
FROM ({_macd_sql(MARKET_SQL, part=PART, order=ORDER,
                 keep=["suppkey", "ts", "okey", "lnum", "pkey", "close"])})"""


@q(
    "w11_macd",
    _W11_SQL,
    cols=IDS + ["macd", "macd_signal_9", "histogram"],
    fcols=["macd", "macd_signal_9", "histogram"],
)
def w11(spark, sf_dir):
    m = _market(spark, sf_dir)
    m = with_macd(
        m, "close", keys=KEYS, order=ORDER,
        macd_out="macd", signal_out="macd_signal_9", hist_out="histogram",
    )
    return m.select(*IDS, "macd", "macd_signal_9", "histogram")


# --- W12-W16 ---------------------------------------------------------------

@q(
    "w12_bollinger",
    # Parity note: mid and sd are rounded to the oracle's 6-decimal
    # grid BEFORE the ±2·sd combination (on both engines). Each engine
    # computes STDDEV with a different float algorithm (~1 ulp apart);
    # combining raw mid and sd sums those ulps and, at sf0.1, pushed a
    # handful of rows across the FLOOR rounding knife edge. Rounding
    # the two intermediates first makes the combination arithmetic on
    # bit-identical doubles. Deviation from raw pandas values is below
    # the engine's documented 6-decimal oracle granularity.
    f"""SELECT suppkey, ts, okey, lnum,
        __mid_r AS bb_middle,
        __mid_r + 2.0 * __sd_r AS bb_upper,
        __mid_r - 2.0 * __sd_r AS bb_lower
        FROM (SELECT suppkey, ts, okey, lnum,
                     {SR('__mid')} AS __mid_r, {SR('__sd')} AS __sd_r
              FROM (SELECT suppkey, ts, okey, lnum,
                           {_roll('AVG', 'close', 20)} AS __mid,
                           {_roll('STDDEV_SAMP', 'close', 20)} AS __sd
                    FROM ({MARKET_SQL})))""",
    cols=IDS + ["bb_middle", "bb_upper", "bb_lower"],
    fcols=["bb_middle", "bb_upper", "bb_lower"],
)
def w12(spark, sf_dir):
    m = _market(spark, sf_dir)
    w = series_window(KEYS, ORDER)
    mid = _round6(rolling_mean("close", w, 20))
    sd = _round6(rolling_std("close", w, 20))
    return m.select(
        *IDS,
        mid.alias("bb_middle"),
        (mid + F.lit(2.0) * sd).alias("bb_upper"),
        (mid - F.lit(2.0) * sd).alias("bb_lower"),
    )


@q(
    "w13_vwap",
    f"""SELECT suppkey, ts, okey, lnum,
        ({_roll('SUM', '__pv', 10)}) / ({_roll('SUM', 'volume', 10)}) AS vwap_10
        FROM (SELECT *, close * volume AS __pv FROM ({MARKET_SQL}))""",
    cols=IDS + ["vwap_10"],
    fcols=["vwap_10"],
)
def w13(spark, sf_dir):
    m = _market(spark, sf_dir)
    m = with_vwap(m, 10, keys=KEYS, order=ORDER, out="vwap_10")
    return m.select(*IDS, "vwap_10")


_TR_SQL = f"""
SELECT *, CASE WHEN __pc IS NULL THEN high - low
               ELSE GREATEST(high - low, ABS(high - __pc), ABS(low - __pc)) END AS __tr
FROM (SELECT *, LAG(close, 1) {_over()} AS __pc FROM ({MARKET_SQL}))"""


@q(
    "w14_atr",
    f"SELECT suppkey, ts, okey, lnum, {_roll('AVG', '__tr', 14)} AS atr_14 FROM ({_TR_SQL})",
    cols=IDS + ["atr_14"],
    fcols=["atr_14"],
)
def w14(spark, sf_dir):
    m = _market(spark, sf_dir)
    m = with_atr(m, 14, keys=KEYS, order=ORDER, out="atr_14")
    return m.select(*IDS, "atr_14")


@q(
    "w15_obv",
    f"""SELECT suppkey, ts, okey, lnum, SUM(__sv) {_over(_CUM)} AS obv
        FROM (SELECT *,
              CASE WHEN __delta IS NULL THEN 0.0 ELSE SIGN(__delta) END
                * COALESCE(volume, 0.0) AS __sv
              FROM (SELECT *, close - LAG(close, 1) {_over()} AS __delta
                    FROM ({MARKET_SQL})))""",
    cols=IDS + ["obv"],
    fcols=["obv"],
)
def w15(spark, sf_dir):
    m = _market(spark, sf_dir)
    m = with_obv(m, keys=KEYS, order=ORDER, out="obv")
    return m.select(*IDS, "obv")


@q(
    "w16_cum_drawdown",
    f"""SELECT suppkey, ts, okey, lnum,
        SUM(volume) {_over(_CUM)} AS cum_vol,
        MAX(close) {_over(_CUM)} AS run_max,
        (close - MAX(close) {_over(_CUM)}) / NULLIF(MAX(close) {_over(_CUM)}, 0) AS drawdown
        FROM ({MARKET_SQL})""",
    cols=IDS + ["cum_vol", "run_max", "drawdown"],
    fcols=["cum_vol", "run_max", "drawdown"],
)
def w16(spark, sf_dir):
    m = _market(spark, sf_dir)
    w = _w()
    return m.select(
        *IDS,
        cum_sum("volume", w).alias("cum_vol"),
        cum_max("close", w).alias("run_max"),
        drawdown("close", w).alias("drawdown"),
    )


# --- W17, W19-W23 ----------------------------------------------------------

_CCI_STAGE = f"""
SELECT *,
       AVG(__tp) {_over(_fr(20))} AS __tp_ma,
       COUNT(__tp) {_over(_fr(20))} AS __tp_cnt,
       LIST(__tp) {_over(_fr(20))} AS __tp_list
FROM (SELECT *, (high + low + close) / 3.0 AS __tp FROM ({MARKET_SQL}))"""


@q(
    "w17_cci",
    f"""SELECT suppkey, ts, okey, lnum,
       CASE WHEN __tp_cnt >= 20 THEN
               CASE WHEN __md != 0 THEN (__tp - __tp_ma) / (0.015 * __md)
                    ELSE 0.0 END END AS cci_20
FROM (SELECT *, LIST_SUM(LIST_TRANSFORM(__tp_list, x -> ABS(x - __tp_ma))) / 20.0 AS __md
      FROM ({_CCI_STAGE}))""",
    cols=IDS + ["cci_20"],
    fcols=["cci_20"],
)
def w17(spark, sf_dir):
    m = _market(spark, sf_dir)
    m = with_cci(m, 20, keys=KEYS, order=ORDER, out="cci_20")
    return m.select(*IDS, "cci_20")


@q(
    "w19_stochastic",
    f"""SELECT suppkey, ts, okey, lnum,
        __k AS percent_k,
        CASE WHEN COUNT(__k) {_over(_fr(3))} >= 3 THEN AVG(__k) {_over(_fr(3))} END AS percent_d
        FROM (SELECT *,
              100.0 * (close - ({_roll('MIN', 'low', 14)}))
                / NULLIF(({_roll('MAX', 'high', 14)}) - ({_roll('MIN', 'low', 14)}), 0.0) AS __k
              FROM ({MARKET_SQL}))""",
    cols=IDS + ["percent_k", "percent_d"],
    fcols=["percent_k", "percent_d"],
)
def w19(spark, sf_dir):
    m = _market(spark, sf_dir)
    m = with_stochastic(
        m, 14, 3, keys=KEYS, order=ORDER, k_out="percent_k", d_out="percent_d"
    )
    return m.select(*IDS, "percent_k", "percent_d")


_ADX_STAGE1 = f"""
SELECT *,
       CASE WHEN __up > __down AND __up > 0 THEN __up ELSE 0.0 END AS __pdm,
       CASE WHEN __down > __up AND __down > 0 THEN __down ELSE 0.0 END AS __mdm,
       CASE WHEN __pc IS NULL THEN high - low
            ELSE GREATEST(high - low, ABS(high - __pc), ABS(low - __pc)) END AS __tr
FROM (SELECT *,
             high - LAG(high, 1) {_over()} AS __up,
             -(low - LAG(low, 1) {_over()}) AS __down,
             LAG(close, 1) {_over()} AS __pc
      FROM ({MARKET_SQL}))"""

_ADX_STAGE2 = f"""
SELECT *,
       100.0 * ({_roll('AVG', '__pdm', 14)}) / __atr AS __pdi,
       100.0 * ({_roll('AVG', '__mdm', 14)}) / __atr AS __mdi
FROM (SELECT *, {_roll('AVG', '__tr', 14)} AS __atr FROM ({_ADX_STAGE1}))"""


@q(
    "w20_adx",
    f"""SELECT suppkey, ts, okey, lnum, {_roll('AVG', '__dx', 14)} AS adx_14
FROM (SELECT *, 100.0 * ABS(__pdi - __mdi) / NULLIF(__pdi + __mdi, 0.0) AS __dx
      FROM ({_ADX_STAGE2}))""",
    cols=IDS + ["adx_14"],
    fcols=["adx_14"],
)
def w20(spark, sf_dir):
    m = _market(spark, sf_dir)
    m = with_adx(m, 14, keys=KEYS, order=ORDER, out="adx_14")
    return m.select(*IDS, "adx_14")


_MFI_STAGE = f"""
SELECT *,
       CASE WHEN __tp > __ptp THEN __tp * volume ELSE 0.0 END AS __pos,
       CASE WHEN __tp < __ptp THEN __tp * volume ELSE 0.0 END AS __neg
FROM (SELECT *, LAG(__tp, 1) {_over()} AS __ptp
      FROM (SELECT *, (high + low + close) / 3.0 AS __tp FROM ({MARKET_SQL})))"""


@q(
    "w21_mfi",
    f"""SELECT suppkey, ts, okey, lnum,
       100.0 * __pmf / NULLIF(__pmf + __nmf, 0.0) AS mfi_14
FROM (SELECT suppkey, ts, okey, lnum, {_roll('SUM', '__pos', 14)} AS __pmf,
             {_roll('SUM', '__neg', 14)} AS __nmf
      FROM ({_MFI_STAGE}))""",
    cols=IDS + ["mfi_14"],
    fcols=["mfi_14"],
)
def w21(spark, sf_dir):
    m = _market(spark, sf_dir)
    m = with_mfi(m, 14, keys=KEYS, order=ORDER, out="mfi_14")
    return m.select(*IDS, "mfi_14")


_ANN = repr(float(252) ** 0.5)


@q(
    "w22_volatility",
    f"""SELECT suppkey, ts, okey, lnum,
        ({_roll('STDDEV_SAMP', '__ret', 10)}) * CAST({_ANN} AS DOUBLE) AS volatility
        FROM (SELECT *, (close - LAG(close, 1) {_over()}) / NULLIF(LAG(close, 1) {_over()}, 0) AS __ret
              FROM ({MARKET_SQL}))""",
    cols=IDS + ["volatility"],
    fcols=["volatility"],
)
def w22(spark, sf_dir):
    m = _market(spark, sf_dir)
    m = with_rolling_volatility(
        m, "close", 10, 252, keys=KEYS, order=ORDER, out="volatility"
    )
    return m.select(*IDS, "volatility")


@q(
    "w23_roc",
    f"""SELECT suppkey, ts, okey, lnum,
        100.0 * (close - LAG(close, 12) {_over()}) / NULLIF(LAG(close, 12) {_over()}, 0.0) AS roc_12
        FROM ({MARKET_SQL})""",
    cols=IDS + ["roc_12"],
    fcols=["roc_12"],
)
def w23(spark, sf_dir):
    m = _market(spark, sf_dir)
    m = with_roc(m, "close", 12, keys=KEYS, order=ORDER, out="roc_12")
    return m.select(*IDS, "roc_12")


@q(
    "w26_ffill",
    f"""SELECT suppkey, ts, okey, lnum,
        LAST_VALUE(__sparse IGNORE NULLS) {_over(_CUM)} AS close_ffill
        FROM (SELECT *, CASE WHEN lnum < 4 THEN close END AS __sparse
              FROM ({MARKET_SQL}))""",
    cols=IDS + ["close_ffill"],
    fcols=["close_ffill"],
)
def w26(spark, sf_dir):
    m = _market(spark, sf_dir)
    m = m.withColumn("__sparse", F.when(F.col("lnum") < 4, F.col("close")))
    return m.select(*IDS, ffill("__sparse", _w()).alias("close_ffill"))


@q(
    "u5_labels",
    f"""SELECT suppkey, ts, okey, lnum, ret_next, y_dir
        FROM (SELECT suppkey, ts, okey, lnum,
                     LEAD(__ret, 1) {_over()} AS ret_next,
                     CAST(LEAD(__ret, 1) {_over()} > 0 AS INT) AS y_dir
              FROM (SELECT *, (close - LAG(close, 1) {_over()}) / NULLIF(LAG(close, 1) {_over()}, 0) AS __ret
                    FROM ({MARKET_SQL})))
        WHERE ret_next IS NOT NULL""",
    cols=IDS + ["ret_next", "y_dir"],
    fcols=["ret_next"],
)
def u5(spark, sf_dir):
    m = _market(spark, sf_dir)
    m = with_labels(m, "close", keys=KEYS, order=ORDER)
    return m.select(*IDS, "ret_next", "y_dir")


# --- flagship composite (entry() runs this at sf0.001) ---------------------

def _market_features_sql(src: str, *, part: str, order: Sequence[str],
                         keep: Sequence[str]) -> str:
    """DuckDB twin of ``build_market_features`` over ``src`` (which
    carries close/high/low/volume): ``keep`` plus every
    ``MARKET_FEATURES`` column, rows whose features are all NULL
    dropped. ``keep`` must hold ``part`` and the ``order`` columns."""
    ordr = ", ".join(order)
    over = partial(_over, part=part, order=ordr)
    roll = partial(_roll, part=part, order=ordr)
    carry = list(dict.fromkeys([*keep, "close", "high", "low", "volume"]))
    macd = _macd_sql(src, part=part, order=order, keep=carry)
    feats = ", ".join(MARKET_FEATURES)
    return f"""
SELECT {', '.join(keep)}, {feats}
FROM (
  SELECT *,
         {roll('STDDEV_SAMP', 'logret_1', 5)} AS rvol_5,
         {roll('STDDEV_SAMP', 'logret_1', 20)} AS rvol_20,
         100.0 - (100.0 / (1.0 + ({roll('AVG', '__rup', 14)}) / NULLIF({roll('AVG', '__rdown', 14)}, 0.0))) AS rsi_14
  FROM (
    SELECT *,
           CASE WHEN __delta > 0 THEN __delta ELSE 0.0 END AS __rup,
           CASE WHEN __delta < 0 THEN -__delta ELSE 0.0 END AS __rdown,
           (close - LAG(close, 1) {over()}) / NULLIF(LAG(close, 1) {over()}, 0) AS ret_1,
           LN(NULLIF(close, 0)) - LAG(LN(NULLIF(close, 0)), 1) {over()} AS logret_1,
           (high - low) / NULLIF(close, 0) AS hl_spread,
           SUM(CASE WHEN __delta IS NULL THEN 0.0 ELSE SIGN(__delta) END * COALESCE(volume, 0.0)) {over(_CUM)} AS oi_obv
    FROM (SELECT *, close - LAG(close, 1) {over()} AS __delta FROM ({macd}))
  )
)
WHERE COALESCE({feats}) IS NOT NULL"""


_BMF_SQL = _market_features_sql(MARKET_SQL, part=PART, order=ORDER, keep=[*IDS, "pkey"])


def market_series_frame(spark, sf_dir):
    """Market-shaped projection with series-identity columns — the
    input to ``build_market_features`` in ``entry()``'s flagship run
    and in the flagship oracle query."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_suppkey").alias("suppkey"),
        F.col("l_suppkey").cast("string").alias("symbol"),
        F.lit("lake").alias("exchange"),
        F.lit("1d").alias("timeframe"),
        F.col("l_shipdate").alias("ts"),
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("lnum"),
        F.col("l_partkey").alias("pkey"),
        F.col("l_extendedprice").alias("close"),
        (F.col("l_extendedprice") * (F.lit(1) + F.col("l_discount"))).alias("high"),
        (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).alias("low"),
        F.col("l_quantity").alias("volume"),
    )


@q(
    "flagship_market_features",
    _BMF_SQL,
    cols=[*IDS, *MARKET_FEATURES],
    fcols=MARKET_FEATURES,
)
def flagship(spark, sf_dir):
    return build_market_features(
        market_series_frame(spark, sf_dir), keys=KEYS, ts_col="ts",
        order_cols=ORDER, keep_cols=IDS,
    ).select(*IDS, *MARKET_FEATURES)


# --------------------------------------------------------------------------
# Order-book-shaped projection of lineitem (A1-A4, W24, O3, J5, E1).
# --------------------------------------------------------------------------

BOOK_SQL = (
    "SELECT l_suppkey % 10 AS symbol, l_shipdate AS ts, l_orderkey AS okey, "
    "l_linenumber AS lnum, l_extendedprice AS price, l_quantity AS amount, "
    "CASE WHEN l_linenumber % 2 = 0 THEN 'bid' ELSE 'ask' END AS side "
    "FROM lineitem"
)


def _parquet_rowcount(path: str) -> int:
    """Row count from parquet FOOTER metadata — no Spark job, no column
    scan (r13: the a4 auto-tier hint ran a count() job worth ~0.4 s of
    a 2.8 s cell at sf3; the footer sum is milliseconds and exact for
    an unfiltered table).  Walks the tree RECURSIVELY (r14 advisor fix:
    a hive-partitioned layout nests part files under key=value dirs)
    and raises if no footer was read, so a layout change fails loudly
    instead of silently returning 0 and mis-tiering the caller."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        total, n_files = 0, 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    total += pq.read_metadata(os.path.join(root, f)).num_rows
                    n_files += 1
        if n_files == 0:
            raise FileNotFoundError(f"no parquet footers under {path}")
        return total
    return pq.read_metadata(path).num_rows


def _book(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        (F.col("l_suppkey") % 10).alias("symbol"),
        F.col("l_shipdate").alias("ts"),
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("lnum"),
        F.col("l_extendedprice").alias("price"),
        F.col("l_quantity").alias("amount"),
        F.when(F.col("l_linenumber") % 2 == 0, F.lit("bid"))
        .otherwise(F.lit("ask"))
        .alias("side"),
    )


@q(
    "a1_imbalance",
    f"""SELECT symbol, ts, bid_vol, ask_vol,
        CASE WHEN bid_vol + ask_vol != 0
             THEN (bid_vol - ask_vol) / (bid_vol + ask_vol) ELSE 0.0 END AS imbalance
        FROM (SELECT symbol, ts,
                     SUM(CASE WHEN side = 'bid' THEN amount ELSE 0.0 END) AS bid_vol,
                     SUM(CASE WHEN side = 'ask' THEN amount ELSE 0.0 END) AS ask_vol
              FROM ({BOOK_SQL}) GROUP BY symbol, ts)""",
    cols=["symbol", "ts", "bid_vol", "ask_vol", "imbalance"],
    fcols=["bid_vol", "ask_vol", "imbalance"],
)
def a1(spark, sf_dir):
    return imbalance_series(_book(spark, sf_dir), keys=["symbol"])


@q(
    "a2_spread",
    f"""SELECT symbol, ts, best_bid, best_ask, spread FROM (
        SELECT symbol, ts, best_bid,
               __ask_ff AS best_ask,
               COALESCE(__ask_ff - best_bid, 0.0) AS spread
        FROM (
          SELECT symbol, ts, best_bid,
                 LAST_VALUE(best_ask IGNORE NULLS) OVER (
                   PARTITION BY symbol ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS __ask_ff
          FROM (SELECT symbol, ts,
                       MAX(CASE WHEN side = 'bid' THEN price END) AS best_bid,
                       MIN(CASE WHEN side = 'ask' THEN price END) AS best_ask
                FROM ({BOOK_SQL}) GROUP BY symbol, ts)
        ) WHERE best_bid IS NOT NULL)""",
    cols=["symbol", "ts", "best_bid", "best_ask", "spread"],
    fcols=["best_bid", "best_ask", "spread"],
)
def a2(spark, sf_dir):
    return spread_series(_book(spark, sf_dir), keys=["symbol"])


@q(
    "a4_depth",
    f"""SELECT symbol, ts,
        MAX(CASE WHEN side = 'bid' AND __lvl = 1 THEN amount END) AS bid_depth_1,
        MAX(CASE WHEN side = 'bid' AND __lvl = 2 THEN amount END) AS bid_depth_2,
        MAX(CASE WHEN side = 'bid' AND __lvl = 3 THEN amount END) AS bid_depth_3,
        MAX(CASE WHEN side = 'ask' AND __lvl = 1 THEN amount END) AS ask_depth_1,
        MAX(CASE WHEN side = 'ask' AND __lvl = 2 THEN amount END) AS ask_depth_2,
        MAX(CASE WHEN side = 'ask' AND __lvl = 3 THEN amount END) AS ask_depth_3
        FROM (SELECT *, ROW_NUMBER() OVER (
                PARTITION BY symbol, ts, side
                ORDER BY CASE WHEN side = 'bid' THEN -price ELSE price END, okey, lnum, amount
              ) AS __lvl FROM ({BOOK_SQL}))
        WHERE __lvl <= 3
        GROUP BY symbol, ts""",
    cols=["symbol", "ts", "bid_depth_1", "bid_depth_2", "bid_depth_3",
          "ask_depth_1", "ask_depth_2", "ask_depth_3"],
    fcols=["bid_depth_1", "bid_depth_2", "bid_depth_3",
           "ask_depth_1", "ask_depth_2", "ask_depth_3"],
)
def a4(spark, sf_dir):
    book = _book(spark, sf_dir)
    # the rows-per-group hint picks the tier: the fixture is 10 symbols
    # (suppkey % 10) x the fixed ~2526-day TPC-H shipdate span, so the
    # group cardinality is known and the hint needs only the parquet
    # FOOTER row count — r13: this was a count() Spark job (~0.4 s of
    # the 2.8 s sf3 cell); the footer read is milliseconds
    rpg = _parquet_rowcount(f"{sf_dir}/lineitem.parquet") / (10 * 2526)
    return depth_series(
        book, 3, keys=["symbol"], tiebreak_cols=["okey", "lnum", "amount"],
        rows_per_group=rpg,
    )


@q(
    "w24_batch_orderbook",
    f"""SELECT symbol, ts,
        CASE WHEN bid_vol + ask_vol != 0
             THEN (bid_vol - ask_vol) / (bid_vol + ask_vol) ELSE 0.0 END AS imbalance,
        best_ask - best_bid AS spread
        FROM (SELECT symbol, ts,
                     SUM(CASE WHEN side = 'bid' THEN amount ELSE 0.0 END) AS bid_vol,
                     SUM(CASE WHEN side = 'ask' THEN amount ELSE 0.0 END) AS ask_vol,
                     MAX(CASE WHEN side = 'bid' THEN price END) AS best_bid,
                     MIN(CASE WHEN side = 'ask' THEN price END) AS best_ask
              FROM ({BOOK_SQL}) GROUP BY symbol, ts)""",
    cols=["symbol", "ts", "imbalance", "spread"],
    fcols=["imbalance", "spread"],
)
def w24(spark, sf_dir):
    return batch_orderbook(_book(spark, sf_dir), keys=["symbol"])


# --------------------------------------------------------------------------
# Resample / global aggregates (A5, A6, ST6).
# --------------------------------------------------------------------------

_EV_EPOCH = "CAST(FLOOR(EPOCH(ts)) AS BIGINT)"


@q(
    "a5_resample",
    f"""SELECT event_type, bucket,
        AVG(value) AS value_mean, COUNT(event_id) AS n_events,
        MAX(value) AS value_max
        FROM (SELECT *, EPOCH_MS(({_EV_EPOCH} - {_EV_EPOCH} % 3600) * 1000) AS bucket
              FROM events)
        GROUP BY event_type, bucket""",
    cols=["event_type", "bucket", "value_mean", "n_events", "value_max"],
    fcols=["value_mean", "value_max"],
)
def a5(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return resample(
        ev,
        "1h",
        {
            "value_mean": F.avg("value"),
            "n_events": F.count("event_id"),
            "value_max": F.max("value"),
        },
        ts_col="ts",
        keys=["event_type"],
    )


@q(
    "a5b_resample_last",
    f"""SELECT user_id, bucket, MAX_BY(value, ts) AS value
        FROM (SELECT *, EPOCH_MS(({_EV_EPOCH} - {_EV_EPOCH} % 86400) * 1000) AS bucket
              FROM events)
        GROUP BY user_id, bucket""",
    cols=["user_id", "bucket", "value"],
    fcols=["value"],
)
def a5b(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return resample_last(ev, "1d", ["value"], ts_col="ts", keys=["user_id"])


@q(
    "a6_global_zscore",
    """SELECT l_orderkey AS okey, l_linenumber AS lnum,
       (l_extendedprice - (SELECT AVG(l_extendedprice) FROM lineitem))
         / NULLIF((SELECT STDDEV_SAMP(l_extendedprice) FROM lineitem), 0) AS zscore
       FROM lineitem""",
    cols=["okey", "lnum", "zscore"],
    fcols=["zscore"],
)
def a6(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("lnum"),
        F.col("l_extendedprice").alias("price"),
    )
    out = with_global_zscore(li, "price", out="zscore")
    return out.select("okey", "lnum", "zscore")


# --------------------------------------------------------------------------
# Joins (J1, J2, J4) and set ops (E1, E3) and reads (O4, P-family).
# --------------------------------------------------------------------------

@q(
    "j1_equi_join",
    """SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
       FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey""",
    cols=["o_orderkey", "o_totalprice", "c_name", "c_mktsegment"],
    fcols=["o_totalprice"],
)
def j1(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return o.join(
        F.broadcast(c), o["o_custkey"] == c["c_custkey"], "left"
    ).select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")


@q(
    "j2_spine_join",
    """SELECT o.o_orderkey, o.o_orderdate,
       COALESCE(l.total_qty, 0) AS total_qty,
       COALESCE(l.n_lines, 0) AS n_lines
       FROM orders o LEFT JOIN (
         SELECT l_orderkey, SUM(l_quantity) AS total_qty, COUNT(*) AS n_lines
         FROM lineitem GROUP BY l_orderkey
       ) l ON o.o_orderkey = l.l_orderkey""",
    cols=["o_orderkey", "o_orderdate", "total_qty", "n_lines"],
    fcols=["total_qty"],
)
def j2(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.sum("l_quantity").alias("total_qty"), F.count("*").alias("n_lines")
    )
    out = spine_join(o, [agg], on=["o_orderkey"], fill_zero_cols=["total_qty", "n_lines"])
    return out.select("o_orderkey", "o_orderdate", "total_qty", "n_lines")


_WEEKLY_SQL = (
    f"SELECT suppkey, EPOCH_MS((__e - __e % 604800) * 1000) AS ts, MAX(close) AS weekly_max "
    f"FROM (SELECT suppkey, CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS __e, close "
    f"      FROM ({MARKET_SQL})) GROUP BY 1, 2"
)


@q(
    "j3_asof_join",
    f"""SELECT m.suppkey, m.ts, m.okey, m.lnum, w.weekly_max AS weekly_max_asof
        FROM ({MARKET_SQL}) m
        ASOF LEFT JOIN ({_WEEKLY_SQL}) w
          ON m.suppkey = w.suppkey AND m.ts >= w.ts""",
    cols=IDS + ["weekly_max_asof"],
    fcols=["weekly_max_asof"],
)
def j3(spark, sf_dir):
    m = _market(spark, sf_dir)
    weekly = resample(
        m, "1w", {"weekly_max": F.max("close")}, ts_col="ts",
        keys=["suppkey"], bucket_out="ts",
    )
    out = asof_join(
        m, weekly, on="ts", keys=["suppkey"], value_cols=["weekly_max"], suffix="_asof"
    )
    return out.select(*IDS, "weekly_max_asof")


@q(
    "j3b_asof_forward",
    f"""SELECT m.suppkey, m.ts, m.okey, m.lnum, w.weekly_max AS weekly_next
        FROM ({MARKET_SQL}) m
        ASOF LEFT JOIN ({_WEEKLY_SQL}) w
          ON m.suppkey = w.suppkey AND m.ts <= w.ts""",
    cols=IDS + ["weekly_next"],
    fcols=["weekly_next"],
)
def j3b(spark, sf_dir):
    """Forward as-of: each bar attaches the NEXT weekly rollup at or
    after it (label-style alignment — 'what happens next' joins use
    exactly this direction)."""
    m = _market(spark, sf_dir)
    weekly = resample(
        m, "1w", {"weekly_max": F.max("close")}, ts_col="ts",
        keys=["suppkey"], bucket_out="ts",
    )
    out = asof_join(
        m, weekly, on="ts", keys=["suppkey"], value_cols=["weekly_max"],
        suffix="_fwd", direction="forward",
    )
    return out.select(*IDS, F.col("weekly_max_fwd").alias("weekly_next"))


@q(
    "j4_find_gaps",
    """SELECT u.user_id, g.expected_ts
       FROM (SELECT DISTINCT user_id FROM events) u
       CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(TIMESTAMP '2024-01-01',
                                  TIMESTAMP '2024-01-30', INTERVAL 1 DAY)) AS expected_ts) g
       WHERE NOT EXISTS (
         SELECT 1 FROM (SELECT DISTINCT user_id,
                        EPOCH_MS((CAST(FLOOR(EPOCH(ts)) AS BIGINT)
                                  - CAST(FLOOR(EPOCH(ts)) AS BIGINT) % 86400) * 1000) AS d
                        FROM events) e
         WHERE e.user_id = u.user_id AND e.d = g.expected_ts)""",
    cols=["user_id", "expected_ts"],
)
def j4(spark, sf_dir):
    ev = _events(spark, sf_dir)
    keys_df = ev.select("user_id").distinct()
    grid = expected_grid(
        spark, "2024-01-01 00:00:00", "2024-01-30 00:00:00", "1d", keys_df=keys_df
    )
    from .functions.time_norm import floor_to_bar

    present = ev.select(
        "user_id", floor_to_bar("ts", 86400).alias("expected_ts")
    )
    return find_gaps(present, grid, on=["user_id", "expected_ts"])


@q(
    "j5_range_join",
    """SELECT o_orderpriority, COUNT(*) AS n_pairs, SUM(l_quantity) AS qty
       FROM lineitem JOIN orders
         ON l_shipdate >= o_orderdate
        AND l_shipdate < o_orderdate + INTERVAL 7 DAY
       GROUP BY o_orderpriority""",
    cols=["o_orderpriority", "n_pairs", "qty"],
    fcols=["qty"],
)
def j5(spark, sf_dir):
    """Non-equi point-in-interval join, bucket-rewritten to an equi
    join (DuckDB's IEJoin handles the oracle side natively; Spark has
    no inequality join operator, so the naive formulation would plan
    as a cartesian product — see ``range_interval_join``).

    r14 optimization (guide §1.2/§2.3 — don't materialize what the
    aggregate doesn't need): the grouped COUNT/SUM is bilinear in the
    two sides' per-timestamp aggregates, so BOTH sides pre-aggregate
    to their value grain BEFORE the range join — lineitem to one
    (l_shipdate, cnt, qty) row per distinct timestamp and orders to
    one (o_orderpriority, o_orderdate, cnt) row per distinct pair —
    and the pair stream becomes a product of weights. At sf0.1 this
    replaces a 252M-row joined pair stream feeding the hash aggregate
    with an ~87k-row weighted join (measured 3.18 s -> ~0.2 s). Bit-
    exact vs the pairwise oracle: COUNT(*) over pairs = SUM(cnt_l *
    cnt_o) in exact integer arithmetic, and SUM(l_quantity) =
    SUM(qty_l * cnt_o) where every l_quantity is an integer-valued
    double (TPC-H quantities 1..50) so each partial sum and product
    is exactly representable — no float reordering error exists to
    observe."""
    pts = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_shipdate")
        .agg(F.count("*").alias("__cnt_l"), F.sum("l_quantity").alias("__qty_l"))
    )
    iv = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority", "o_orderdate")
        .agg(F.count("*").alias("__cnt_o"))
        .select(
            "o_orderpriority",
            "__cnt_o",
            F.col("o_orderdate").alias("win_start"),
            (F.col("o_orderdate") + F.expr("INTERVAL 7 DAY")).alias("win_end"),
        )
    )
    joined = range_interval_join(
        pts, iv, ts="l_shipdate", start="win_start", end="win_end",
        bucket_seconds=7 * 86400,
    )
    return joined.groupBy("o_orderpriority").agg(
        F.sum(F.col("__cnt_l") * F.col("__cnt_o")).alias("n_pairs"),
        F.sum(F.col("__qty_l") * F.col("__cnt_o")).alias("qty"),
    )


_SAMP_RATES = {"en": 0.25, "zh": 0.5, "es": 0.5}
_SAMP_CASE = (
    "CASE lang "
    + " ".join(
        f"WHEN '{k}' THEN '{rate_to_threshold(v)}'" for k, v in sorted(_SAMP_RATES.items())
    )
    + f" ELSE '{rate_to_threshold(1.0)}' END"
)


@q(
    "samp_bernoulli_strata",
    f"""SELECT doc_id, lang FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < {_SAMP_CASE}""",
    cols=["doc_id", "lang"],
)
def samp_bernoulli(spark, sf_dir):
    """Stratified Bernoulli sample by content hash — shuffle-free
    language rebalancing (keep 25% en, 50% zh/es, all low-resource).
    Deterministic across engines: the oracle evaluates the identical
    md5 threshold."""
    docs = _t(spark, sf_dir, "documents")
    return hash_bernoulli_sample(
        docs, id_col="doc_id", stratum_col="lang",
        rates=_SAMP_RATES, default_rate=1.0,
    ).select("doc_id", "lang")


@q(
    "samp_top_n_per_group",
    """SELECT doc_id, lang FROM (
         SELECT doc_id, lang,
                ROW_NUMBER() OVER (
                  PARTITION BY lang
                  ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id
                ) AS rn
         FROM documents) WHERE rn <= 20""",
    cols=["doc_id", "lang"],
)
def samp_topn(spark, sf_dir):
    """Deterministic per-group cap (≤20 docs per language), ordered by
    md5(id) — the reproducible version of 'take a random N per
    stratum'."""
    docs = _t(spark, sf_dir, "documents")
    return hash_top_n_per_group(
        docs, id_col="doc_id", group_cols=["lang"], n=20
    ).select("doc_id", "lang")


@q(
    "e1_union_agg",
    """SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS sum_qty
       FROM (SELECT * FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-01-01'
             UNION ALL
             SELECT * FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01')
       GROUP BY l_returnflag""",
    cols=["l_returnflag", "n", "sum_qty"],
    fcols=["sum_qty"],
)
def e1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    cutoff = "1998-01-01"
    lo = li.filter(F.col("l_shipdate") < F.lit(cutoff).cast("timestamp"))
    hi = li.filter(F.col("l_shipdate") >= F.lit(cutoff).cast("timestamp"))
    return (
        lo.unionByName(hi)
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("sum_qty"))
    )


@q(
    "e3_anti_join",
    """SELECT s.s_suppkey, s.s_name FROM supplier s
       WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                         WHERE l.l_suppkey = s.s_suppkey
                           AND l.l_shipdate >= TIMESTAMP '2001-06-01')""",
    cols=["s_suppkey", "s_name"],
)
def e3(spark, sf_dir):
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("2001-06-01").cast("timestamp")
    )
    return s.join(
        li, s["s_suppkey"] == li["l_suppkey"], "left_anti"
    ).select("s_suppkey", "s_name")


@q(
    "o4_range_read",
    """SELECT event_id, ts, value FROM events
       WHERE user_id = 7 AND ts BETWEEN TIMESTAMP '2024-01-05' AND TIMESTAMP '2024-01-20'
       ORDER BY ts DESC LIMIT 50""",
    cols=["event_id", "ts", "value"],
    fcols=["value"],
)
def o4(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return (
        ev.filter(
            (F.col("user_id") == 7)
            & F.col("ts").between(
                F.lit("2024-01-05").cast("timestamp"),
                F.lit("2024-01-20").cast("timestamp"),
            )
        )
        .orderBy(F.col("ts").desc())
        .limit(50)
        .select("event_id", "ts", "value")
    )


@q(
    "p_filter_flags",
    """SELECT l_orderkey AS okey, l_linenumber AS lnum,
       CAST(ABS(l_quantity) > 30 AS INT) AS whale_flag,
       COALESCE(l_discount, 0.0) AS discount_norm
       FROM lineitem
       WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-01-01'
         AND l_returnflag IN ('R', 'A')""",
    cols=["okey", "lnum", "whale_flag", "discount_norm"],
    fcols=["discount_norm"],
)
def p_filters(spark, sf_dir):
    from .operators.rolling import whale_flag

    li = _t(spark, sf_dir, "lineitem")
    out = li.filter(
        F.col("l_shipdate").between(
            F.lit("1996-01-01").cast("timestamp"),
            F.lit("1997-01-01").cast("timestamp"),
        )
        & F.col("l_returnflag").isin("R", "A")
    )
    return out.select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("lnum"),
        whale_flag("l_quantity", 30).alias("whale_flag"),
        F.coalesce(F.col("l_discount"), F.lit(0.0)).alias("discount_norm"),
    )


@q(
    "p10_dedup_first_by_id",
    """SELECT user_id, event_type, ts, event_id FROM events
       QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) = 1""",
    cols=["user_id", "event_type", "ts", "event_id"],
)
def p10(spark, sf_dir):
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "event_type", "ts", "event_id")
    )


@q(
    "f_time_norm",
    """SELECT event_id,
       EPOCH_MS(CAST(__ms AS BIGINT)) AS ts_from_ms,
       EPOCH_MS(__s * 1000) AS ts_from_s,
       STRFTIME(ts, '%Y-%m-%d') AS dt
       FROM (SELECT event_id, ts,
                    CAST(FLOOR(EPOCH(ts)) AS BIGINT) * 1000 + 123 AS __ms,
                    CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS __s
             FROM events)""",
    cols=["event_id", "ts_from_ms", "ts_from_s", "dt"],
)
def f_time_norm(spark, sf_dir):
    from .functions.time_norm import dt_from_ts, epoch_to_ts

    ev = _events(spark, sf_dir)
    staged = ev.select(
        "event_id",
        "ts",
        (F.col("ts").cast("long") * 1000 + 123).alias("__ms"),
        F.col("ts").cast("long").alias("__s"),
    )
    return staged.select(
        "event_id",
        epoch_to_ts("__ms").alias("ts_from_ms"),
        epoch_to_ts("__s").alias("ts_from_s"),
        dt_from_ts("ts").alias("dt"),
    )


@q(
    "f_json_payload",
    """SELECT event_id,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k_val
       FROM events""",
    cols=["event_id", "k_val"],
)
def f_json(spark, sf_dir):
    from pyspark.sql import types as T

    ev = _events(spark, sf_dir)
    schema = T.StructType([T.StructField("k", T.LongType())])
    return ev.select(
        "event_id", F.from_json("props", schema).getField("k").alias("k_val")
    )


# --------------------------------------------------------------------------
# Text analysis + dedup tiers (documents table).
# --------------------------------------------------------------------------

_NORM = "TRIM(REGEXP_REPLACE(LOWER({c}), '\\s+', ' ', 'g'))"
_WORDS = f"STRING_SPLIT({_NORM.format(c='text')}, ' ')"


# Full quality-feature subquery, shared by text_quality and the
# corpus-curation pipeline query (identical score arithmetic on both).
_QUALITY_SQL = f"""
  SELECT doc_id,
         LENGTH(text) AS n_chars_text,
         __nw AS n_words,
         CASE WHEN __nw > 0 THEN (LENGTH(__norm) - (__nw - 1)) / CAST(__nw AS DOUBLE) END AS avg_word_len,
         (LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[^\\w\\s]', '', 'g')))
           / NULLIF(CAST(LENGTH(text) AS DOUBLE), 0e0) AS punct_ratio,
         (LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[0-9]', '', 'g')))
           / NULLIF(CAST(LENGTH(text) AS DOUBLE), 0e0) AS digit_ratio,
         (LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[A-Z]', '', 'g')))
           / NULLIF(CAST(LENGTH(text) AS DOUBLE), 0e0) AS upper_ratio,
         LEN(LIST_FILTER(__w, t -> LIST_CONTAINS(['the','and','of','to','a','in','is','it'], t)))
           / NULLIF(CAST(__nw AS DOUBLE), 0e0) AS stopword_ratio,
         CAST(
           LEAST(__nw / 2e1, 1e0) * 4e-1
           + CASE WHEN (CASE WHEN __nw > 0 THEN (LENGTH(__norm) - (__nw - 1)) / CAST(__nw AS DOUBLE) END) >= 3
                   AND (CASE WHEN __nw > 0 THEN (LENGTH(__norm) - (__nw - 1)) / CAST(__nw AS DOUBLE) END) <= 12
                  THEN 3e-1 ELSE 0e0 END
           + CASE WHEN (LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[^\\w\\s]', '', 'g')))
                       / NULLIF(CAST(LENGTH(text) AS DOUBLE), 0e0) <= 2e-1 THEN 1.5e-1 ELSE 0e0 END
           + CASE WHEN (LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[0-9]', '', 'g')))
                       / NULLIF(CAST(LENGTH(text) AS DOUBLE), 0e0) <= 2e-1 THEN 1.5e-1 ELSE 0e0 END
         AS DOUBLE) AS quality_score
  FROM (SELECT doc_id, text, {_NORM.format(c='text')} AS __norm, {_WORDS} AS __w,
               LEN({_WORDS}) AS __nw
        FROM documents)"""


@q(
    "text_quality",
    f"""SELECT doc_id, n_chars_text, n_words, avg_word_len, punct_ratio,
        digit_ratio, upper_ratio, stopword_ratio, quality_score
FROM ({_QUALITY_SQL})""",
    cols=["doc_id", "n_chars_text", "n_words", "avg_word_len", "punct_ratio",
          "digit_ratio", "upper_ratio", "stopword_ratio", "quality_score"],
    fcols=["avg_word_len", "punct_ratio", "digit_ratio", "upper_ratio",
           "stopword_ratio", "quality_score"],
)
def text_quality(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = textops.quality_features(docs, "text")
    return out.select(
        "doc_id", "n_chars_text", "n_words", "avg_word_len", "punct_ratio",
        "digit_ratio", "upper_ratio", "stopword_ratio", "quality_score",
    )


_CURATION_RATES = {"en": 0.5}


@q(
    "pipeline_corpus_curation",
    f"""WITH q AS ({_QUALITY_SQL}),
        filt AS (
          SELECT d.doc_id, d.lang, q.quality_score,
                 {_NORM.format(c='d.text')} AS __norm
          FROM documents d JOIN q ON d.doc_id = q.doc_id
          WHERE q.quality_score >= 0.55 AND d.lang IN ('en','es','de','fr','zh')),
        survivors AS (
          SELECT doc_id, lang, quality_score FROM (
            SELECT *, ROW_NUMBER() OVER (
                        PARTITION BY __norm ORDER BY doc_id) AS __rn
            FROM filt) WHERE __rn = 1)
        SELECT doc_id, lang, quality_score FROM survivors
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
              < CASE lang WHEN 'en' THEN '{rate_to_threshold(0.5)}'
                          ELSE '{rate_to_threshold(1.0)}' END""",
    cols=["doc_id", "lang", "quality_score"],
    fcols=["quality_score"],
)
def pipeline_curation(spark, sf_dir):
    """Capstone corpus-curation pipeline — the composition a real
    training-data job runs, every stage an operator from this repo:
    quality gate -> language allowlist -> exact dedup (normalized
    text, deterministic survivor) -> stratified downsampling of the
    overrepresented language. Plan: one scan feeds the quality
    projection (narrow), dedup is one shuffle on the content hash
    (with WindowGroupLimit pre-filtering survivors map-side),
    sampling is a shuffle-free filter — ONE exchange end to end
    (plan-asserted)."""
    docs = _t(spark, sf_dir, "documents")
    scored = textops.quality_features(docs, "text").select(
        "doc_id", "lang", "text", "quality_score"
    )
    filt = scored.filter(
        (F.col("quality_score") >= 0.55)
        & F.col("lang").isin("en", "es", "de", "fr", "zh")
    )
    survivors = exact_dedup(
        filt.select("doc_id", "lang", "quality_score", "text"),
        ["text"], tiebreak_col="doc_id",
    )
    sampled = hash_bernoulli_sample(
        survivors, id_col="doc_id", stratum_col="lang",
        rates=_CURATION_RATES, default_rate=1.0,
    )
    return sampled.select("doc_id", "lang", "quality_score")


_LANG_RATIOS = ", ".join(
    f"LEN(LIST_FILTER(__w, t -> LIST_CONTAINS({list(markers)!r}, t)))"
    f" / NULLIF(CAST(LEN(__w) AS DOUBLE), 0e0) AS __r_{lang}"
    for lang, markers in textops.LANG_MARKERS.items()
)
_LANG_CASE = " ".join(
    f"WHEN __r_{lang} = __best THEN '{lang}'" for lang in textops.LANG_MARKERS
)


@q(
    "text_lang_id",
    f"""SELECT doc_id, lang,
        CASE WHEN __best > 0 THEN (CASE {_LANG_CASE} ELSE 'und' END)
             ELSE 'und' END AS lang_pred
FROM (
  SELECT *, GREATEST(__r_en, __r_es, __r_de, __r_fr) AS __best
  FROM (SELECT doc_id, lang, {_LANG_RATIOS}
        FROM (SELECT doc_id, lang, {_WORDS} AS __w FROM documents))
)""",
    cols=["doc_id", "lang", "lang_pred"],
)
def text_lang(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = textops.with_lang_id(docs, "text", out="lang_pred")
    return out.select("doc_id", "lang", "lang_pred")


@q(
    "text_tokens_fingerprint",
    f"""SELECT doc_id,
        LEN({_WORDS}) AS n_tokens,
        MD5({_NORM.format(c='text')}) AS fp
        FROM documents""",
    cols=["doc_id", "n_tokens", "fp"],
)
def text_tokens(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        textops.token_count("text").alias("n_tokens"),
        textops.fingerprint("text").alias("fp"),
    )


@q(
    "text_tokens_bpe",
    f"""SELECT doc_id,
        CAST(LEN(REGEXP_EXTRACT_ALL(LOWER(text), '[\\pL\\pN]+'))
             + LENGTH(REGEXP_REPLACE(LOWER(text), '[\\pL\\pN ]', '', 'g'))
             AS INT) AS n_bpe_tokens,
        LIST_MIN(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(__w) - 7, 1) + 1),
          i -> CAST(CONCAT('0x', SUBSTRING(MD5(ARRAY_TO_STRING(__w[i:i+7], ' ')), 1, 15))
                    AS BIGINT))) AS roll_fp
        FROM (SELECT doc_id, text, {_WORDS} AS __w FROM documents)""",
    cols=["doc_id", "n_bpe_tokens", "roll_fp"],
)
def text_tokens_bpe(spark, sf_dir):
    # The Java lookaround split has no DuckDB twin, but its *count*
    # does: (# alnum runs) + (# non-alnum non-space chars).  The
    # rolling fingerprint uses the md5_64 parity hash here so the
    # oracle can reproduce it; xxhash64 stays the scale default
    # (covered by tests/test_media_text.py).
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        textops.token_count("text", bpe=True).alias("n_bpe_tokens"),
        textops.rolling_hash_fingerprint("text", hash_fn="md5_64").alias("roll_fp"),
    )


def _fanout(df: DataFrame) -> DataFrame:
    """Round-robin repartition for CPU-heavy narrow pipelines over the
    single-row-group local fixtures: a zero-exchange operator (the
    RIGHT shape at 100 TB, where the scan has thousands of splits)
    otherwise runs on the fixture's ONE scan task. Row-identical; only
    applied when the scan is effectively serial (r15: gated on the
    optimizer's size estimate, not an eager ``.rdd`` partition probe —
    same class as the knn_join fix, verdict #7)."""
    from .plans.inspect import scan_is_effectively_serial

    if not scan_is_effectively_serial(df, 8):
        return df
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


_CHUNK_T, _CHUNK_OV = 16, 4
_CHUNK_STEP = _CHUNK_T - _CHUNK_OV


@q(
    "text_chunking",
    f"""SELECT doc_id,
        CAST(FLOOR((s - 1) / {_CHUNK_STEP}) AS INT) AS chunk_id,
        ARRAY_TO_STRING(__w[s:s + {_CHUNK_T - 1}], ' ') AS chunk_text,
        CAST(LEAST({_CHUNK_T}, __nw - s + 1) AS INT) AS n_tokens
        FROM (
          SELECT doc_id, __w, LEN(__w) AS __nw,
                 UNNEST(RANGE(1, GREATEST(LEN(__w) - {_CHUNK_OV}, 1) + 1,
                              {_CHUNK_STEP})) AS s
          FROM (SELECT doc_id, {_WORDS} AS __w FROM documents))""",
    cols=["doc_id", "chunk_id", "chunk_text", "n_tokens"],
)
def text_chunking(spark, sf_dir):
    """Overlapping context-window chunking — zero-exchange projection
    + explode (chunking 100 TB costs one read); fanned out over the
    serial local fixture."""
    docs = _fanout(_t(spark, sf_dir, "documents"))
    out = textops.chunk_documents(
        docs, id_col="doc_id", text_col="text",
        chunk_tokens=_CHUNK_T, overlap=_CHUNK_OV,
    )
    return out.select(
        "doc_id", "chunk_id", "chunk_text", F.col("n_tokens").cast("int").alias("n_tokens")
    )


@q(
    "text_repetition",
    f"""SELECT doc_id,
        CAST(GREATEST(LEN(__w) - 1, 0) AS INT) AS n_ngrams,
        CAST(CASE WHEN LEN(__w) >= 2 THEN LEN(LIST_DISTINCT(
               LIST_TRANSFORM(RANGE(1, GREATEST(LEN(__w) - 1, 1) + 1),
                              s -> ARRAY_TO_STRING(__w[s:s + 1], ' '))))
             ELSE 0 END AS INT) AS n_distinct,
        CASE WHEN LEN(__w) >= 2 THEN 1.0 - CAST(CASE WHEN LEN(__w) >= 2 THEN LEN(LIST_DISTINCT(
               LIST_TRANSFORM(RANGE(1, GREATEST(LEN(__w) - 1, 1) + 1),
                              s -> ARRAY_TO_STRING(__w[s:s + 1], ' '))))
             ELSE 0 END AS DOUBLE) / CAST(GREATEST(LEN(__w) - 1, 0) AS DOUBLE)
             ELSE 0.0 END AS dup_ngram_ratio
        FROM (SELECT doc_id, {_WORDS} AS __w FROM documents)""",
    cols=["doc_id", "n_ngrams", "n_distinct", "dup_ngram_ratio"],
    fcols=["dup_ngram_ratio"],
)
def text_repetition(spark, sf_dir):
    """Within-doc duplicate-bigram ratio (Gopher/C4 repetition filter)
    — pure array expressions, no explode; fanned out over the serial
    local fixture (HOF expressions run interpreted, ~1.6 ms/doc on one
    core)."""
    docs = _fanout(_t(spark, sf_dir, "documents"))
    out = textops.repetition_stats(docs, text_col="text", n=2)
    return out.select(
        "doc_id",
        F.col("n_ngrams").cast("int").alias("n_ngrams"),
        F.col("n_distinct").cast("int").alias("n_distinct"),
        "dup_ngram_ratio",
    )


@q(
    "text_html_strip",
    """WITH h AS (
  SELECT doc_id,
         '<html><head><style>p{color:red}</style>' ||
         '<script type="x">var a=1;</script></head>' ||
         '<body><!-- nav --><p class="c">' ||
         REPLACE(SUBSTRING(text, 1, 200), ' ', '&nbsp;') ||
         '</p><div>&amp;lt;tail&gt;</div></body></html>' AS html
  FROM documents)
SELECT doc_id,
  TRIM(REGEXP_REPLACE(
    REPLACE(REPLACE(REPLACE(REPLACE(REPLACE(REPLACE(
      REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(html,
        '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        '(?s)<!--.*?-->', ' ', 'g'),
        '(?s)<[^>]+>', ' ', 'g'),
      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
      '&nbsp;', ' '), '&amp;', '&'),
    '\\s+', ' ', 'g')) AS clean_text
FROM h""",
    cols=["doc_id", "clean_text"],
)
def text_html_strip(spark, sf_dir):
    """HTML boilerplate removal: wrap each document in a deterministic
    HTML shell (tags + script/style payloads + comment + entities) and
    strip it back to text — proving drop/strip/decode end to end on
    real corpus data. Pure narrow projection."""
    from .operators.text import html_to_text

    docs = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<html><head><style>p{color:red}</style>'
              '<script type="x">var a=1;</script></head>'
              '<body><!-- nav --><p class="c">'),
        F.replace(F.substring(F.col("text"), 1, 200), F.lit(" "), F.lit("&nbsp;")),
        F.lit("</p><div>&amp;lt;tail&gt;</div></body></html>"),
    )
    return docs.select("doc_id", html_to_text(html).alias("clean_text"))


_PR_ITER = """
 c{k} AS (SELECT e.dst AS node, SUM(r{j}.pr / CAST(deg.d AS DOUBLE)) AS m
          FROM e JOIN deg USING (src) JOIN r{j} ON r{j}.node = e.src
          GROUP BY 1),
 r{k} AS (SELECT node,
                 CAST(0.15 AS DOUBLE) / n
                   + CAST(0.85 AS DOUBLE) * COALESCE(m, CAST(0.0 AS DOUBLE)) AS pr
          FROM nodes LEFT JOIN c{k} USING (node), nn)"""


@q(
    "w29_rolling_outliers",
    f"""SELECT suppkey, ts, okey, lnum,
        CASE WHEN std_20 IS NOT NULL AND std_20 != 0
             THEN ABS(close - sma_20) / std_20 END AS rz,
        COALESCE(ABS(close - sma_20) / NULLIF(std_20, 0) > 4.0, FALSE)
          AS is_outlier
        FROM (SELECT suppkey, ts, okey, lnum, close,
                     {{0}} AS sma_20, {{1}} AS std_20
              FROM ({{2}}))""".format(
        _roll("AVG", "close", 20), _roll("STDDEV_SAMP", "close", 20), MARKET_SQL),
    cols=IDS + ["rz", "is_outlier"],
    fcols=["rz"],
)
def w29_rolling_outliers(spark, sf_dir):
    """Rolling-window anomaly flags: |close - SMA20| / rolling std,
    outlier above 4 sigma — the online data-quality twin of the batch
    constraint suite, composed purely from existing rolling ops (one
    window spec, one exchange)."""
    m = _market(spark, sf_dir)
    sma = rolling_mean("close", _w(), 20)
    std = rolling_std("close", _w(), 20)
    rz = F.when(
        std.isNotNull() & (std != 0), F.abs(F.col("close") - sma) / std
    )
    return m.select(
        *IDS, rz.alias("rz"),
        F.coalesce(rz > 4.0, F.lit(False)).alias("is_outlier"),
    )


@q(
    "f_winsorize_by_group",
    f"""SELECT suppkey, ts, okey, lnum,
        LEAST(GREATEST(close, qlo), qhi) AS close_w
        FROM ({MARKET_SQL}) m JOIN (
          SELECT suppkey, QUANTILE_CONT(close, 0.05) AS qlo,
                 QUANTILE_CONT(close, 0.95) AS qhi
          FROM ({MARKET_SQL}) GROUP BY suppkey) q USING (suppkey)""",
    cols=IDS + ["close_w"],
    fcols=["close_w"],
)
def f_winsorize_by_group(spark, sf_dir):
    """Per-symbol winsorization at the [5%, 95%] quantiles: one exact
    per-group percentile aggregate (tiny — rows = key cardinality)
    broadcast back onto the series; Spark's interpolating percentile
    matches QUANTILE_CONT."""
    m = _market(spark, sf_dir)
    q = m.groupBy("suppkey").agg(
        F.expr("percentile(close, 0.05)").alias("qlo"),
        F.expr("percentile(close, 0.95)").alias("qhi"),
    )
    return m.join(F.broadcast(q), "suppkey").select(
        *IDS,
        F.least(F.greatest(F.col("close"), F.col("qlo")), F.col("qhi"))
         .alias("close_w"),
    )


@q(
    "q_benford",
    """WITH d AS (SELECT CAST(SUBSTRING(
            REGEXP_REPLACE(CAST(l_extendedprice AS VARCHAR), '[^1-9]', '', 'g'),
            1, 1) AS INT) AS digit
        FROM lineitem WHERE l_extendedprice IS NOT NULL),
 c AS (SELECT digit, COUNT(*) AS n FROM d WHERE digit IS NOT NULL GROUP BY 1),
 t AS (SELECT SUM(n) AS total FROM c)
SELECT digit, n, n / total AS obs_freq,
       LOG10(1.0 + 1.0 / digit) AS benford_freq,
       ABS(n / total - LOG10(1.0 + 1.0 / digit)) AS abs_dev
FROM c, t""",
    cols=["digit", "n", "obs_freq", "benford_freq", "abs_dev"],
    fcols=["obs_freq", "benford_freq", "abs_dev"],
)
def q_benford(spark, sf_dir):
    """Benford first-digit screen on prices (the classic fabricated-
    data / unit-mixing detector): observed leading-digit frequencies
    vs log10(1 + 1/d). The digit comes from the string rendering
    (first char in 1-9) so both engines extract identically with no
    log-boundary ambiguity; one aggregate + one 9-row projection."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull()
    )
    digit = F.substring(
        F.regexp_replace(F.col("l_extendedprice").cast("string"), "[^1-9]", ""),
        1, 1,
    ).cast("int")
    c = li.select(digit.alias("digit")).filter(
        F.col("digit").isNotNull()
    ).groupBy("digit").agg(F.count("*").alias("n"))
    tot = c.agg(F.sum("n").alias("total"))
    benford = F.log10(1.0 + 1.0 / F.col("digit"))
    return c.crossJoin(F.broadcast(tot)).select(
        "digit", "n",
        (F.col("n") / F.col("total")).alias("obs_freq"),
        benford.alias("benford_freq"),
        F.abs(F.col("n") / F.col("total") - benford).alias("abs_dev"),
    )


@q(
    "o7_unpivot",
    """SELECT l_orderkey AS okey, l_linenumber AS lnum, measure, value
       FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
                    l_discount, l_tax
             FROM lineitem WHERE l_orderkey < 100)
       UNPIVOT (value FOR measure IN (l_quantity, l_extendedprice,
                                      l_discount, l_tax))""",
    cols=["okey", "lnum", "measure", "value"],
    fcols=["value"],
)
def o7_unpivot(spark, sf_dir):
    """Wide-to-long unpivot of the lineitem measures (the API-surface
    twin of the pivot family): Spark's native unpivot — a narrow
    projection+explode, zero exchanges."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure", "value",
    ).select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("lnum"),
        "measure", "value",
    )


@q(
    "a8_contribution_share",
    """SELECT l_returnflag, l_linestatus, revenue,
       revenue / SUM(revenue) OVER () AS share_total,
       revenue / SUM(revenue) OVER (PARTITION BY l_returnflag) AS share_flag
       FROM (SELECT l_returnflag, l_linestatus,
                    SUM(l_extendedprice * (1 - l_discount)) AS revenue
             FROM lineitem GROUP BY 1, 2)""",
    cols=["l_returnflag", "l_linestatus", "revenue", "share_total",
          "share_flag"],
    fcols=["revenue", "share_total", "share_flag"],
)
def a8_contribution_share(spark, sf_dir):
    """Percent-of-total contribution analysis: group revenue with its
    share of the grand total and of the flag subtotal. The
    unpartitioned window runs over the AGGREGATED frame (rows = group
    cardinality, bounded) — never the raw table."""
    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .alias("revenue")
    )
    return rev.select(
        "l_returnflag", "l_linestatus", "revenue",
        (F.col("revenue") / F.sum("revenue").over(Window.partitionBy()))
        .alias("share_total"),
        (F.col("revenue")
         / F.sum("revenue").over(Window.partitionBy("l_returnflag")))
        .alias("share_flag"),
    )


@q(
    "a9_hhi_concentration",
    """SELECT l_returnflag, SUM(share * share) AS hhi, COUNT(*) AS n_suppliers
       FROM (SELECT l_returnflag,
                    SUM(l_extendedprice)
                      / SUM(SUM(l_extendedprice)) OVER (PARTITION BY l_returnflag)
                      AS share
             FROM lineitem GROUP BY l_returnflag, l_suppkey)
       GROUP BY l_returnflag""",
    cols=["l_returnflag", "hhi", "n_suppliers"],
    fcols=["hhi"],
)
def a9_hhi_concentration(spark, sf_dir):
    """Herfindahl-Hirschman concentration per flag: supplier revenue
    shares squared and summed — the exchange/venue-concentration
    metric. Shares come from a window over the (flag, supplier)
    AGGREGATE (bounded rows), then one bounded re-aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    per_supp = li.groupBy("l_returnflag", "l_suppkey").agg(
        F.sum("l_extendedprice").alias("rev")
    )
    share = per_supp.withColumn(
        "share",
        F.col("rev") / F.sum("rev").over(Window.partitionBy("l_returnflag")),
    )
    return share.groupBy("l_returnflag").agg(
        F.sum(F.col("share") * F.col("share")).alias("hhi"),
        F.count("*").alias("n_suppliers"),
    )


@q(
    "e7_funnel",
    """WITH s1 AS (SELECT user_id, MIN(EPOCH(ts)) AS t_step_1
              FROM events WHERE event_type = 'view' GROUP BY 1),
 s2 AS (SELECT e.user_id, MIN(EPOCH(e.ts)) AS t_step_2
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND EPOCH(e.ts) > s1.t_step_1
        GROUP BY 1),
 s3 AS (SELECT e.user_id, MIN(EPOCH(e.ts)) AS t_step_3
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND EPOCH(e.ts) > s2.t_step_2
        GROUP BY 1)
SELECT s1.user_id, t_step_1, t_step_2, t_step_3,
       CAST(CASE WHEN t_step_1 IS NOT NULL THEN 1 ELSE 0 END
            + CASE WHEN t_step_2 IS NOT NULL THEN 1 ELSE 0 END
            + CASE WHEN t_step_3 IS NOT NULL THEN 1 ELSE 0 END AS INT)
         AS steps_completed
FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""",
    cols=["user_id", "t_step_1", "t_step_2", "t_step_3", "steps_completed"],
    fcols=["t_step_1", "t_step_2", "t_step_3"],
)
def e7_funnel(spark, sf_dir):
    """Ordered view -> click -> purchase funnel: earliest completion
    of each step strictly after the previous one. Single scan of
    events, one exchange+sort on the user id, one dependent
    partition-wide conditional-min window pass per step (r13 A/B,
    ROUND13_NOTES.md: value-identical to the per-step
    join chain, faster at every tier, one event-grain shuffle
    total)."""
    from .operators.funnel import funnel_steps

    ev = _t(spark, sf_dir, "events")
    return funnel_steps(ev, ["view", "click", "purchase"])


@q(
    "e8_cohort_retention",
    """WITH p AS (SELECT user_id,
              CAST(FLOOR(EPOCH(ts) / 604800) AS BIGINT) * 604800 AS period
       FROM events),
 first AS (SELECT user_id, MIN(period) AS cohort_period FROM p GROUP BY 1),
 act AS (SELECT DISTINCT user_id, period AS active_period FROM p),
 tri AS (SELECT cohort_period,
                CAST((active_period - cohort_period) / 604800 AS INT)
                  AS period_offset,
                COUNT(DISTINCT act.user_id) AS n_active
         FROM act JOIN first USING (user_id) GROUP BY 1, 2)
SELECT cohort_period, period_offset, n_active, cohort_size,
       n_active / cohort_size AS retention
FROM tri JOIN (SELECT cohort_period, n_active AS cohort_size FROM tri
               WHERE period_offset = 0) USING (cohort_period)""",
    cols=["cohort_period", "period_offset", "n_active", "cohort_size",
          "retention"],
    fcols=["retention"],
)
def e8_cohort_retention(spark, sf_dir):
    """Weekly cohort retention triangle: cohort by first-seen week,
    distinct-active per (cohort, offset), rate vs cohort size — three
    map-side-combinable aggregates, output = cohorts x offsets."""
    from .operators.funnel import cohort_retention

    ev = _t(spark, sf_dir, "events")
    return cohort_retention(ev, period_seconds=7 * 86400)


@q(
    "q_constraints",
    """WITH t AS (SELECT COUNT(*) AS total FROM lineitem)
SELECT 'not_null(l_returnflag)' AS rule, v = 0 AS passed,
       v AS violations, total AS checked
FROM (SELECT COUNT(*) FILTER (WHERE l_returnflag IS NULL) AS v FROM lineitem), t
UNION ALL
SELECT 'in_range(l_discount, 0.0, 0.05)', v = 0, v, total
FROM (SELECT COUNT(*) FILTER (WHERE l_discount IS NULL
             OR l_discount < 0.0 OR l_discount > 0.05) AS v FROM lineitem), t
UNION ALL
SELECT 'values_in(l_linestatus)', v = 0, v, total
FROM (SELECT COUNT(*) FILTER (WHERE l_linestatus IS NULL
             OR l_linestatus NOT IN ('O', 'F')) AS v FROM lineitem), t
UNION ALL
SELECT 'min_rows(1000)', total >= 1000, GREATEST(0, 1000 - total), total FROM t
UNION ALL
SELECT 'unique(l_orderkey, l_linenumber)', v = 0, v, total
FROM (SELECT COUNT(*) AS v FROM (
        SELECT 1 FROM lineitem GROUP BY l_orderkey, l_linenumber
        HAVING COUNT(*) > 1)), t
UNION ALL
SELECT 'ref_integrity(l_orderkey -> orders.o_orderkey)', v = 0, v, total
FROM (SELECT COUNT(*) AS v FROM lineitem
      WHERE l_orderkey IS NOT NULL
        AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)), t""",
    cols=["rule", "passed", "violations", "checked"],
)
def q_constraints(spark, sf_dir):
    """Declarative data-quality suite (Deequ-style) evaluated as
    queries: all row-local rules in ONE aggregate pass, uniqueness as
    one bounded group count, FK containment as one anti-join count.
    The range rule is intentionally strict enough to FAIL on real
    data, proving violations are counted, not just flagged."""
    from .functions.quality import ConstraintSuite

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    suite = (
        ConstraintSuite()
        .not_null("l_returnflag")
        .in_range("l_discount", 0.0, 0.05)
        .values_in("l_linestatus", ["O", "F"])
        .min_rows(1000)
        .unique("l_orderkey", "l_linenumber")
        .ref_integrity("l_orderkey", orders, "o_orderkey", ref_name="orders")
    )
    return suite.run(li)


@q(
    "w27_rolling_corr",
    f"""SELECT suppkey, ts, okey, lnum,
        CASE WHEN COUNT(close) {{0}} >= 20
             THEN CORR(close, volume) {{0}} END AS corr_cv_20
        FROM ({{1}})""".format(
        "OVER (PARTITION BY suppkey ORDER BY ts, okey, lnum, pkey "
        "ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)", MARKET_SQL),
    cols=IDS + ["corr_cv_20"],
    fcols=["corr_cv_20"],
)
def w27_rolling_corr(spark, sf_dir):
    """Rolling 20-bar price/volume correlation (the pairwise-stats
    window family beyond the reference's single-series indicators) —
    same masked-warmup convention as every W-query."""
    m = _market(spark, sf_dir)
    fr = _w().rowsBetween(-19, 0)
    cnt = F.count("close").over(fr)
    corr = F.when(cnt >= 20, F.corr("close", "volume").over(fr))
    return m.select(*IDS, corr.alias("corr_cv_20"))


@q(
    "w28_xsec_rank",
    f"""SELECT suppkey, ts, okey, lnum,
        PERCENT_RANK() OVER (PARTITION BY ts
                             ORDER BY close, suppkey, okey, lnum) AS xsec_rank
        FROM ({MARKET_SQL})""",
    cols=IDS + ["xsec_rank"],
    fcols=["xsec_rank"],
)
def w28_xsec_rank(spark, sf_dir):
    """Cross-sectional percentile rank per timestamp (factor-model
    staple: rank every symbol's value against the same-bar cross
    section). Window partitions on ts — cardinality grows with data,
    so the shuffle stays balanced at scale; total tiebreak order."""
    m = _market(spark, sf_dir)
    w = Window.partitionBy("ts").orderBy("close", "suppkey", "okey", "lnum")
    return m.select(*IDS, F.percent_rank().over(w).alias("xsec_rank"))


@q(
    "g1_pagerank",
    f"""WITH e AS (SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                         's' || CAST(l_suppkey AS VARCHAR) AS dst
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
 nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
 nn AS (SELECT COUNT(*) AS n FROM nodes),
 deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY 1),
 r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / n AS pr FROM nodes, nn),
{_PR_ITER.format(k=1, j=0)},
{_PR_ITER.format(k=2, j=1)},
{_PR_ITER.format(k=3, j=2)}
SELECT node, pr AS pagerank FROM r3""",
    cols=["node", "pagerank"],
    fcols=["pagerank"],
)
def g1_pagerank(spark, sf_dir):
    """Interaction-graph authority: PageRank (3 fixed power
    iterations, d=0.85, dangling mass dropped) over the bipartite
    customer->supplier purchase graph. Each round moves O(N) rank
    rows into the stationary cached edge partitioning (Pregel shape,
    ``operators/graph.pagerank``). The iteration runs on packed LONG
    node ids (customer 2k / supplier 2k+1) — every distinct, join,
    and aggregate shuffles 8-byte keys instead of 'c…'/'s…' strings —
    and renders the oracle's string ids only on the final N-row
    output."""
    from .operators.graph import pagerank

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey").cast("bigint") * 2).alias("src"),
            (F.col("l_suppkey").cast("bigint") * 2 + 1).alias("dst"),
        )
    )
    pr = pagerank(edges, iterations=3, damping=0.85)
    node_str = F.when(
        pr["node"] % 2 == 0,
        F.concat(F.lit("c"), F.expr("node div 2").cast("string")),
    ).otherwise(
        F.concat(F.lit("s"), F.expr("(node - 1) div 2").cast("string")),
    )
    return pr.select(node_str.alias("node"), "pagerank")


@q(
    "a7_book_from_deltas",
    f"""WITH d AS (SELECT symbol, ts, side, price,
                  CASE WHEN amount % 7 = 0 THEN 0.0 ELSE amount END AS amount,
                  okey, lnum
           FROM ({BOOK_SQL}))
SELECT symbol, side, price, amount, last_update_ts FROM (
  SELECT symbol, side, price, amount, ts AS last_update_ts,
         ROW_NUMBER() OVER (PARTITION BY symbol, side, price
                            ORDER BY ts DESC, okey DESC, lnum DESC) AS rn
  FROM d WHERE ts <= TIMESTAMP '1995-06-01')
WHERE rn = 1 AND amount != 0""",
    cols=["symbol", "side", "price", "amount", "last_update_ts"],
    fcols=["price", "amount"],
)
def a7_book_from_deltas(spark, sf_dir):
    """L2 book reconstruction from an incremental delta feed (beyond
    the reference — its adapters only fetch full snapshots): each row
    sets a level's absolute size, every 7th quantity is a level
    removal, and the book is materialized as of 1995-06-01. One
    max_by hash aggregate on the level key, filter pushed to the
    scan."""
    from .operators.orderbook import book_state_at

    book = _book(spark, sf_dir).withColumn(
        "amount",
        F.when(F.col("amount") % 7 == 0, F.lit(0.0)).otherwise(F.col("amount")),
    )
    return book_state_at(
        book, "1995-06-01", keys=["symbol"],
        tiebreak_cols=["okey", "lnum"],
    ).select("symbol", "side", "price", "amount", "last_update_ts")


@q(
    "u5b_triple_barrier",
    f"""WITH m AS (SELECT *, ROW_NUMBER() OVER (
                     PARTITION BY suppkey ORDER BY ts, okey, lnum, pkey) AS rn
               FROM ({MARKET_SQL})),
 fut AS (SELECT a.suppkey, a.ts, a.okey, a.lnum, a.close,
                b.rn - a.rn AS dt, CAST(b.close AS DOUBLE) AS fclose
         FROM m a JOIN m b ON a.suppkey = b.suppkey
                          AND b.rn > a.rn AND b.rn <= a.rn + 10),
 hits AS (SELECT suppkey, ts, okey, lnum,
                 MIN(CASE WHEN fclose >= CAST(close AS DOUBLE) * 1.02
                          THEN dt END) AS t_up,
                 MIN(CASE WHEN fclose <= CAST(close AS DOUBLE) * 0.98
                          THEN dt END) AS t_dn
          FROM fut GROUP BY 1, 2, 3, 4)
SELECT m.suppkey, m.ts, m.okey, m.lnum,
       CASE WHEN t_up IS NOT NULL AND (t_dn IS NULL OR t_up <= t_dn) THEN 1
            WHEN t_dn IS NOT NULL THEN -1 ELSE 0 END AS tb_label,
       CAST(LEAST(t_up, t_dn) AS INT) AS tb_t_hit
FROM m LEFT JOIN hits USING (suppkey, ts, okey, lnum)""",
    cols=IDS + ["tb_label", "tb_t_hit"],
)
def u5b_triple_barrier(spark, sf_dir):
    """Triple-barrier labels over the market series: +-2% horizontal
    barriers, 10-bar vertical barrier. The oracle walks the same
    future window via a bounded self-join; Spark rides a
    rowsBetween(1, 10) frame — no self-join, no pair explosion."""
    from .operators.labels import triple_barrier_labels

    m = _market(spark, sf_dir)
    out = triple_barrier_labels(
        m, "close", keys=KEYS, order=ORDER,
        horizon=10, up_pct=0.02, dn_pct=0.02,
    )
    return out.select(*IDS, "tb_label", "tb_t_hit")


_PSI_BIN = """COALESCE(LEAST(10, GREATEST(1,
    CAST(FLOOR((CAST(l_extendedprice AS DOUBLE) - lo)
         / NULLIF(hi - lo, 0.0) * 10) AS INT) + 1)), 1)"""


@q(
    "f_psi_drift",
    f"""WITH b AS (SELECT MIN(CAST(l_extendedprice AS DOUBLE)) AS lo,
                         MAX(CAST(l_extendedprice AS DOUBLE)) AS hi
                  FROM lineitem WHERE l_shipdate < TIMESTAMP '1996-01-01'),
 base AS (SELECT l_returnflag AS k, {_PSI_BIN} AS bin, COUNT(*) AS n_base
          FROM lineitem, b WHERE l_shipdate < TIMESTAMP '1996-01-01'
          GROUP BY 1, 2),
 cur AS (SELECT l_returnflag AS k, {_PSI_BIN} AS bin, COUNT(*) AS n_cur
         FROM lineitem, b WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         GROUP BY 1, 2),
 j AS (SELECT k, bin, COALESCE(n_base, 0) AS n_base, COALESCE(n_cur, 0) AS n_cur
       FROM base FULL OUTER JOIN cur USING (k, bin)),
 pq AS (SELECT k,
               GREATEST(n_base / SUM(n_base) OVER (PARTITION BY k), 1e-6) AS p,
               GREATEST(n_cur / SUM(n_cur) OVER (PARTITION BY k), 1e-6) AS q
        FROM j)
SELECT k AS l_returnflag, SUM((p - q) * LN(p / q)) AS psi,
       COUNT(*) AS n_bins_hit
FROM pq GROUP BY k""",
    cols=["l_returnflag", "psi", "n_bins_hit"],
    fcols=["psi"],
)
def f_psi_drift(spark, sf_dir):
    """Feature-drift monitor: PSI of l_extendedprice per return flag,
    baseline = pre-1996 slice (bins fixed from ITS min/max), current
    = the rest. Bin-grain aggregates only; the one unpartitioned-ish
    window runs over <= n_bins rows per key."""
    from .operators.sampling import psi_drift

    li = _t(spark, sf_dir, "lineitem")
    base = li.filter(F.col("l_shipdate") < "1996-01-01")
    cur = li.filter(F.col("l_shipdate") >= "1996-01-01")
    return psi_drift(
        base, cur, col="l_extendedprice", n_bins=10, keys=["l_returnflag"]
    )


@q(
    "f_scaler_fit_transform",
    f"""SELECT m.suppkey, m.ts, m.okey, m.lnum,
       (m.close - s.mean_close) / NULLIF(s.std_close, 0.0) AS close_z
FROM ({MARKET_SQL}) m JOIN (
  SELECT suppkey, AVG(close) AS mean_close, STDDEV_POP(close) AS std_close
  FROM ({MARKET_SQL}) WHERE ts < TIMESTAMP '1996-01-01'
  GROUP BY suppkey) s USING (suppkey)""",
    cols=IDS + ["close_z"],
    fcols=["close_z"],
)
def f_scaler_fit_transform(spark, sf_dir):
    """Leakage-correct scaling: fit per-symbol mean/std on the
    pre-cutoff training slice ONLY, broadcast the tiny stats table,
    standardize every row with the training statistics (the
    fit/transform split that keeps val/test statistics out of the
    features)."""
    from .operators.sampling import apply_standardizer, fit_standardizer

    m = _market(spark, sf_dir)
    stats = fit_standardizer(
        m.filter(F.col("ts") < "1996-01-01"), cols=["close"], keys=["suppkey"]
    )
    out = apply_standardizer(m, stats, cols=["close"], keys=["suppkey"])
    return out.select(*IDS, F.col("close_z"))


@q(
    "samp_purged_folds",
    """WITH b AS (SELECT MIN(EPOCH(ts)) AS lo, MAX(EPOCH(ts)) AS hi FROM events),
 f AS (SELECT event_id, EPOCH(ts) AS t,
              COALESCE(LEAST(5, CAST(FLOOR((EPOCH(ts) - lo)
                    / NULLIF(hi - lo, 0.0) * 5) AS INT) + 1), 1) AS fold_id
       FROM events, b),
 v AS (SELECT MIN(t) AS vlo, MAX(t) AS vhi FROM f WHERE fold_id = 3)
SELECT event_id, fold_id, fold_id = 3 AS is_val,
       (fold_id <> 3) AND NOT (t >= vlo - 86400 AND t <= vhi + 86400) AS is_train
FROM f, v""",
    cols=["event_id", "fold_id", "is_val", "is_train"],
)
def samp_purged_folds(spark, sf_dir):
    """Purged walk-forward CV: 5 contiguous time folds over events,
    fold 3 as validation, 1-day embargo on both sides — training rows
    inside the embargo are neither train nor val, so serially
    correlated features cannot leak across the fold boundary."""
    from .operators.sampling import purged_train_mask

    ev = _t(spark, sf_dir, "events")
    out = purged_train_mask(
        ev, ts_col="ts", n_folds=5, val_fold=3, embargo_seconds=86400.0
    )
    return out.select("event_id", "fold_id", "is_val", "is_train")


_PII_URL = textops.URL_PATTERN
_PII_EMAIL = textops.EMAIL_PATTERN
_PII_PHONE = r"\+?\d{1,3}[-. (]{1,2}\d{3}[-. )]{1,2}\d{3}[-. ]?\d{2,4}"
_PII_IP = (r"\b(?:(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\.){3}"
           r"(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\b")
_PII_CARD = r"\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b"


@q(
    "pipeline_sft_prep",
    f"""WITH ent AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         LN(CAST(SUM(c) AS DOUBLE))
           - SUM(CAST(c AS DOUBLE) * LN(CAST(c AS DOUBLE))) / SUM(c) AS token_entropy
  FROM (SELECT doc_id, tok, COUNT(*) AS c
        FROM (SELECT doc_id, UNNEST({_WORDS}) AS tok FROM documents)
        GROUP BY 1, 2)
  GROUP BY doc_id),
 scrubbed AS (
  SELECT doc_id,
         TRIM(REGEXP_REPLACE(
           REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(
             REGEXP_REPLACE(text, '{_PII_URL}', '<URL>', 'g'),
             '{_PII_EMAIL}', '<EMAIL>', 'g'),
             '{_PII_CARD}', '<CARD>', 'g'),
             '{_PII_PHONE}', '<PHONE>', 'g'),
             '{_PII_IP}', '<IP>', 'g'),
           '\\s+', ' ', 'g')) AS clean
  FROM documents),
 gated AS (
  SELECT s.doc_id, s.clean, e.n_tokens, e.token_entropy
  FROM scrubbed s JOIN ent e USING (doc_id)
  WHERE e.token_entropy >= 2.9 AND e.n_tokens >= 30),
 rendered AS (
  SELECT doc_id, n_tokens, token_entropy,
         '<|user|>' || CHR(10) || SUBSTRING(clean, 1, 120) || CHR(10) ||
         '<|assistant|>' || CHR(10) || SUBSTRING(clean, 121, 400) || '<|end|>'
           AS r
  FROM gated)
SELECT doc_id, n_tokens, token_entropy,
       CAST(LENGTH(r) AS INT) AS rendered_chars
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY r ORDER BY doc_id) AS rn
      FROM rendered)
WHERE rn = 1""",
    cols=["doc_id", "n_tokens", "token_entropy", "rendered_chars"],
    fcols=["token_entropy"],
)
def pipeline_sft_prep(spark, sf_dir):
    """SFT-prep capstone #3: PII scrub -> lexical-diversity gate
    (entropy + length) -> chat-template render -> exact dedup of the
    rendered string (deterministic survivor). Shape: the entropy side
    is two map-side-combined aggregates (token explode keeps each doc
    in one partition), one doc_id join back, the render is a pure
    projection, and the dedup survivor is one rank shuffle on the
    rendered content — ~3 exchanges end to end, nothing quadratic."""
    from .operators.text import render_chat, scrub_pii, token_entropy_stats

    docs = _t(spark, sf_dir, "documents")
    clean = scrub_pii(docs.select("doc_id", "text"), text_col="text") \
        .select("doc_id", "clean_text")
    ent = token_entropy_stats(docs, id_col="doc_id", text_col="text") \
        .select("doc_id", "n_tokens", "token_entropy")
    gated = clean.join(ent, "doc_id").filter(
        (F.col("token_entropy") >= 2.9) & (F.col("n_tokens") >= 30)
    )
    pairs = gated.select(
        "doc_id", "n_tokens", "token_entropy",
        F.substring("clean_text", 1, 120).alias("prompt"),
        F.substring("clean_text", 121, 400).alias("completion"),
    )
    rendered = render_chat(pairs, prompt_col="prompt", completion_col="completion")
    w = Window.partitionBy("rendered").orderBy("doc_id")
    return (
        rendered.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "n_tokens", "token_entropy",
                F.col("rendered_chars").alias("rendered_chars"))
    )


@q(
    "text_render_chat",
    """SELECT doc_id,
       '<|system|>' || CHR(10) || 'You are a helpful assistant.' || CHR(10) ||
       '<|user|>' || CHR(10) || SUBSTRING(text, 1, 120) || CHR(10) ||
       '<|assistant|>' || CHR(10) || SUBSTRING(text, 121, 400) || '<|end|>'
         AS rendered,
       CAST(LENGTH('<|system|>' || CHR(10) || 'You are a helpful assistant.'
         || CHR(10) || '<|user|>' || CHR(10) || SUBSTRING(text, 1, 120)
         || CHR(10) || '<|assistant|>' || CHR(10) || SUBSTRING(text, 121, 400)
         || '<|end|>') AS INT) AS rendered_chars
       FROM documents""",
    cols=["doc_id", "rendered", "rendered_chars"],
)
def text_render_chat(spark, sf_dir):
    """SFT-export rendering: split each document into a
    (prompt, completion) pair and render the fixed chat template —
    deterministic, reproducible, zero exchanges."""
    from .operators.text import render_chat

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring("text", 1, 120).alias("prompt"),
        F.substring("text", 121, 400).alias("completion"),
    )
    return render_chat(
        docs, prompt_col="prompt", completion_col="completion",
        system="You are a helpful assistant.",
    ).select("doc_id", "rendered", "rendered_chars")


@q(
    "text_token_entropy",
    f"""WITH t AS (SELECT doc_id, UNNEST({_WORDS}) AS tok FROM documents),
 c AS (SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY 1, 2)
SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS n_distinct,
       LN(CAST(SUM(c) AS DOUBLE))
         - SUM(CAST(c AS DOUBLE) * LN(CAST(c AS DOUBLE))) / SUM(c) AS token_entropy,
       COUNT(*) / CAST(SUM(c) AS DOUBLE) AS type_token_ratio
FROM c GROUP BY doc_id""",
    cols=["doc_id", "n_tokens", "n_distinct", "token_entropy",
          "type_token_ratio"],
    fcols=["token_entropy", "type_token_ratio"],
)
def text_token_entropy(spark, sf_dir):
    """Unigram entropy + type-token ratio per document (lexical
    diversity — the cheap compression-ratio proxy for boilerplate /
    keyword-stuffing filters)."""
    from .operators.text import token_entropy_stats

    docs = _t(spark, sf_dir, "documents")
    return token_entropy_stats(docs, id_col="doc_id", text_col="text")


@q(
    "text_scrub_pii",
    f"""WITH p AS (
  SELECT doc_id,
         SUBSTRING(text, 1, 150) ||
         ' call +1 (555) 123-' || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
         ' from 10.0.' || CAST(doc_id % 250 AS VARCHAR) ||
         '.7 card 4111 1111 1111 1111 mail a.b@example.com' AS t
  FROM documents),
 s1 AS (SELECT doc_id,
               LEN(REGEXP_EXTRACT_ALL(t, '{_PII_URL}')) AS n_urls,
               REGEXP_REPLACE(t, '{_PII_URL}', '<URL>', 'g') AS t FROM p),
 s2 AS (SELECT doc_id, n_urls,
               LEN(REGEXP_EXTRACT_ALL(t, '{_PII_EMAIL}')) AS n_emails,
               REGEXP_REPLACE(t, '{_PII_EMAIL}', '<EMAIL>', 'g') AS t FROM s1),
 s3 AS (SELECT doc_id, n_urls, n_emails,
               LEN(REGEXP_EXTRACT_ALL(t, '{_PII_CARD}')) AS n_cards,
               REGEXP_REPLACE(t, '{_PII_CARD}', '<CARD>', 'g') AS t FROM s2),
 s4 AS (SELECT doc_id, n_urls, n_emails, n_cards,
               LEN(REGEXP_EXTRACT_ALL(t, '{_PII_PHONE}')) AS n_phones,
               REGEXP_REPLACE(t, '{_PII_PHONE}', '<PHONE>', 'g') AS t FROM s3),
 s5 AS (SELECT doc_id, n_urls, n_emails, n_cards, n_phones,
               LEN(REGEXP_EXTRACT_ALL(t, '{_PII_IP}')) AS n_ips,
               REGEXP_REPLACE(t, '{_PII_IP}', '<IP>', 'g') AS t FROM s4)
SELECT doc_id, CAST(n_urls AS INT) AS n_urls, CAST(n_emails AS INT) AS n_emails,
       CAST(n_cards AS INT) AS n_cards, CAST(n_phones AS INT) AS n_phones,
       CAST(n_ips AS INT) AS n_ips,
       TRIM(REGEXP_REPLACE(t, '\\s+', ' ', 'g')) AS clean_text
FROM s5""",
    cols=["doc_id", "n_urls", "n_emails", "n_cards", "n_phones", "n_ips",
          "clean_text"],
)
def text_scrub_pii(spark, sf_dir):
    """Extended PII sweep (URL/email/card/phone/IP with typed
    placeholders + per-category counts) over documents salted with a
    deterministic doc_id-derived PII tail, so every category binds and
    varies with the data. Pure projection, zero exchanges."""
    from .operators.text import scrub_pii

    docs = _t(spark, sf_dir, "documents")
    salted = docs.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 150),
            F.lit(" call +1 (555) 123-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" from 10.0."),
            (F.col("doc_id") % 250).cast("string"),
            F.lit(".7 card 4111 1111 1111 1111 mail a.b@example.com"),
        ).alias("text"),
    )
    return scrub_pii(salted, text_col="text", out_col="clean_text")


@q(
    "text_bigram_lm",
    f"""WITH toks AS (SELECT doc_id, {_WORDS} AS __w FROM documents),
  bg AS (SELECT doc_id, __w[CAST(i AS INT)] AS w1, __w[CAST(i AS INT) + 1] AS w2
         FROM (SELECT doc_id, __w,
                      UNNEST(RANGE(1, GREATEST(LEN(__w) - 1, 0) + 1)) AS i
               FROM toks)),
  tbg AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg WHERE doc_id % 2 = 0 GROUP BY 1, 2),
  ctx AS (SELECT w1, SUM(c2) AS c1 FROM tbg GROUP BY 1),
  voc AS (SELECT COUNT(DISTINCT t) AS vs
          FROM (SELECT UNNEST(__w) AS t FROM toks WHERE doc_id % 2 = 0))
SELECT b.doc_id, COUNT(*) AS n_bigrams,
       AVG(LN((COALESCE(t.c2, 0) + 0.5) / (COALESCE(c.c1, 0) + 0.5 * vs))) AS avg_logp
FROM bg b LEFT JOIN tbg t ON b.w1 = t.w1 AND b.w2 = t.w2
          LEFT JOIN ctx c ON b.w1 = c.w1, voc
GROUP BY b.doc_id""",
    cols=["doc_id", "n_bigrams", "avg_logp"],
    fcols=["avg_logp"],
)
def text_bigram_lm(spark, sf_dir):
    """Bigram-LM quality scoring (CCNet-style): train add-alpha bigram
    counts on HALF the corpus (even doc_ids — so the held-out half
    exercises the OOV smoothing path), score every document by mean
    bigram log-likelihood. Uses the fused train+score path: one
    tokenize pass, checkpoint-shared between model and scorer."""
    from .operators.text import bigram_lm_train_score

    docs = _t(spark, sf_dir, "documents")
    return bigram_lm_train_score(
        docs, train_filter=F.col("doc_id") % 2 == 0,
        id_col="doc_id", text_col="text", alpha=0.5,
    )


_URL_RE = textops.URL_PATTERN
_EMAIL_RE = textops.EMAIL_PATTERN


@q(
    "text_scrub",
    f"""SELECT doc_id,
        CAST(LEN(REGEXP_EXTRACT_ALL(text, '{_URL_RE}')) AS INT) AS n_urls,
        CAST(LEN(REGEXP_EXTRACT_ALL(
            REGEXP_REPLACE(text, '{_URL_RE}', '<URL>', 'g'),
            '{_EMAIL_RE}')) AS INT) AS n_emails,
        TRIM(REGEXP_REPLACE(REGEXP_REPLACE(
            REGEXP_REPLACE(text, '{_URL_RE}', '<URL>', 'g'),
            '{_EMAIL_RE}', '<EMAIL>', 'g'), '\\s+', ' ', 'g')) AS clean_text
        FROM documents""",
    cols=["doc_id", "n_urls", "n_emails", "clean_text"],
)
def text_scrub(spark, sf_dir):
    """URL/email redaction + whitespace collapse, with redaction
    counts — the PII/boilerplate scrub pass. The regex patterns parse
    identically under Java regex and RE2, so the oracle embeds the
    same strings."""
    docs = _fanout(_t(spark, sf_dir, "documents"))
    out = textops.scrub_text(docs, text_col="text", out_col="clean_text")
    return out.select("doc_id", "n_urls", "n_emails", "clean_text")


_BM25_TERMS = ("table", "scan", "fast", "spark")
_BM25_IN = ", ".join(f"'{t}'" for t in _BM25_TERMS)


@q(
    "text_bm25",
    f"""WITH w AS (SELECT doc_id, LEN(__w) AS dl, UNNEST(__w) AS t
               FROM (SELECT doc_id, {_WORDS} AS __w FROM documents)),
        tf AS (SELECT doc_id, t, COUNT(*) AS tf, FIRST(dl) AS dl FROM w
               WHERE t IN ({_BM25_IN}) GROUP BY 1, 2),
        dfq AS (SELECT t, COUNT(*) AS dfc FROM tf GROUP BY 1),
        stats AS (SELECT COUNT(*) AS n, AVG(LEN({_WORDS})) AS avgdl
                  FROM documents)
        SELECT doc_id, COUNT(*) AS n_hit_terms,
               SUM(LN(1 + (n - dfc + 0.5) / (dfc + 0.5)) * tf
                   / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS bm25
        FROM tf JOIN dfq USING (t), stats GROUP BY doc_id""",
    cols=["doc_id", "n_hit_terms", "bm25"],
    fcols=["bm25"],
)
def text_bm25(spark, sf_dir):
    """BM25 retrieval scoring against a fixed query — vocabulary
    filter pushed to the narrow stage, corpus statistics broadcast,
    two data shuffles total."""
    docs = _fanout(_t(spark, sf_dir, "documents"))
    return textops.bm25_scores(
        docs, list(_BM25_TERMS), id_col="doc_id", text_col="text"
    )


_PCHUNK_NORM = _NORM.format(c="chunk_text")


@q(
    "pipeline_chunk_prep",
    f"""WITH cleaned AS (
          SELECT doc_id,
                 TRIM(REGEXP_REPLACE(REGEXP_REPLACE(
                     REGEXP_REPLACE(text, '{_URL_RE}', '<URL>', 'g'),
                     '{_EMAIL_RE}', '<EMAIL>', 'g'), '\\s+', ' ', 'g')) AS clean
          FROM documents),
        chunks AS (
          SELECT doc_id,
                 CAST(FLOOR((s - 1) / {_CHUNK_STEP}) AS INT) AS chunk_id,
                 ARRAY_TO_STRING(__w[s:s + {_CHUNK_T - 1}], ' ') AS chunk_text,
                 CAST(LEAST({_CHUNK_T}, __nw - s + 1) AS INT) AS n_tokens
          FROM (SELECT doc_id, __w, LEN(__w) AS __nw,
                       UNNEST(RANGE(1, GREATEST(LEN(__w) - {_CHUNK_OV}, 1) + 1,
                                    {_CHUNK_STEP})) AS s
                FROM (SELECT doc_id,
                             STRING_SPLIT({_NORM.format(c='clean')}, ' ') AS __w
                      FROM cleaned))),
        scored AS (
          SELECT *, CASE WHEN LEN(__g) >= 1
                         THEN 1.0 - CAST(LEN(LIST_DISTINCT(__g)) AS DOUBLE)
                                    / CAST(LEN(__g) AS DOUBLE)
                         ELSE 0.0 END AS dup_ratio
          FROM (SELECT *, LIST_TRANSFORM(
                    RANGE(1, GREATEST(LEN(STRING_SPLIT(chunk_text, ' ')) - 1, 0) + 1),
                    s -> ARRAY_TO_STRING(STRING_SPLIT(chunk_text, ' ')[s:s + 1], ' ')) AS __g
                FROM chunks))
        SELECT doc_id, chunk_id, chunk_text, n_tokens FROM scored
        WHERE dup_ratio <= 2.0e-1
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY {_PCHUNK_NORM} ORDER BY doc_id, chunk_id) = 1""",
    cols=["doc_id", "chunk_id", "chunk_text", "n_tokens"],
)
def pipeline_chunk_prep(spark, sf_dir):
    """Capstone #2 — pretraining chunk prep, composing the round-4
    operators end to end: PII scrub -> context-window chunking ->
    exact chunk dedup (deterministic survivor) -> repetition-ratio
    gate. Plan: narrow exprs + explode feed ONE dedup shuffle.

    Dedup runs BEFORE repetition scoring (r5 verdict #2): the score is
    a pure function of ``chunk_text``, and the dedup key is the
    normalized text while ``chunk_text`` is already normalized
    (chunking splits normalized tokens), so duplicate chunks share one
    score and the gate passes all-or-none of a duplicate class —
    reorder-exact, same survivor (min doc_id, chunk_id). On a
    replica-heavy corpus the n-gram scoring then runs once per UNIQUE
    chunk instead of once per copy, and the ``"agg"`` dedup tier
    collapses co-located replicas map-side before the one shuffle."""
    docs = _fanout(_t(spark, sf_dir, "documents"))
    clean = textops.scrub_text(docs, text_col="text", out_col="clean_text")
    chunks = textops.chunk_documents(
        clean, id_col="doc_id", text_col="clean_text",
        chunk_tokens=_CHUNK_T, overlap=_CHUNK_OV,
    ).select(
        "doc_id", "chunk_id", "chunk_text",
        F.col("n_tokens").cast("int").alias("n_tokens"),
    )
    surv = exact_dedup(chunks, ["chunk_text"], tiebreak_col="doc_id",
                       strategy="agg")
    rep = textops.repetition_stats(surv, text_col="chunk_text", n=2)
    kept = rep.filter(F.col("dup_ngram_ratio") <= 0.2)
    return kept.select("doc_id", "chunk_id", "chunk_text", "n_tokens")


@q(
    "dedup_exact",
    """SELECT doc_id, __snip AS snippet
       FROM (SELECT doc_id, SUBSTRING(text, 1, 30) AS __snip FROM documents)
       QUALIFY ROW_NUMBER() OVER (
         PARTITION BY TRIM(REGEXP_REPLACE(LOWER(__snip), '\\s+', ' ', 'g'))
         ORDER BY doc_id) = 1""",
    cols=["doc_id", "snippet"],
)
def dedup_exact_q(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").withColumn(
        "snippet", F.substring("text", 1, 30)
    )
    out = exact_dedup(docs, ["snippet"], tiebreak_col="doc_id")
    return out.select("doc_id", "snippet")


_SHINGLES_SQL = f"""
SELECT DISTINCT doc_id, shingle FROM (
  SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(__w) - 2, 1) + 1),
                       i -> ARRAY_TO_STRING(__w[i:i+2], ' '))) AS shingle
  FROM (SELECT doc_id, {_WORDS} AS __w FROM documents))"""

@q(
    "dedup_cross_doc_repetition",
    f"""WITH sh AS ({_SHINGLES_SQL}),
        freq AS (SELECT shingle, COUNT(*) AS dfc FROM sh GROUP BY 1)
        SELECT sh.doc_id, COUNT(*) AS n_shingles,
               COUNT(CASE WHEN dfc >= 2 THEN 1 END) AS n_repeated,
               COUNT(CASE WHEN dfc >= 2 THEN 1 END) / COUNT(*) AS repeated_frac
        FROM sh JOIN freq USING (shingle)
        GROUP BY sh.doc_id""",
    cols=["doc_id", "n_shingles", "n_repeated", "repeated_frac"],
    fcols=["repeated_frac"],
)
def dedup_cross_doc_repetition_q(spark, sf_dir):
    """Corpus boilerplate scan: share of each doc's distinct 3-gram
    shingles that also occur in another document (headers/footers/
    chrome detection; linear pipeline, no pair stage)."""
    from .operators.dedup import cross_doc_repetition

    docs = _t(spark, sf_dir, "documents")
    return cross_doc_repetition(
        docs, id_col="doc_id", text_col="text", n=3, min_docs=2
    )


# substring-span dedup (Lee et al. 2022, the distributable form): the
# gram length k is the minimum duplicate length in TOKENS; spans are
# maximal unions of marked [pos, pos+k) windows. The oracle keys grams
# by the n-gram STRING while Spark keys by xxhash64 of the token slice
# — count-level identity absent a 2^-64 collision, the same ruling as
# dedup_cross_doc_repetition above.
_SUBSTR_K = 8

_SUBSTR_SPANS_SQL = f"""
WITH pg AS (
  SELECT doc_id, u.pos AS pos, u.gram AS gram, __n FROM (
    SELECT doc_id, LEN(__w) AS __n,
      UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(__w) - {_SUBSTR_K - 1}, 1) + 1),
        i -> STRUCT_PACK(pos := i - 1,
                         gram := ARRAY_TO_STRING(__w[i:i+{_SUBSTR_K - 1}], ' ')))) AS u
    FROM (SELECT doc_id, {_WORDS} AS __w FROM documents
          WHERE text IS NOT NULL AND {_NORM.format(c='text')} <> ''))),
dup AS (SELECT gram FROM pg GROUP BY 1 HAVING COUNT(*) >= 2),
mk AS (SELECT doc_id, pos, __n FROM pg JOIN dup USING (gram)),
lg AS (SELECT doc_id, pos, __n,
              LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS lp FROM mk),
isl AS (SELECT doc_id, pos, __n,
               SUM(CASE WHEN pos - lp > {_SUBSTR_K} THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS UNBOUNDED PRECEDING) AS island
        FROM lg)
SELECT doc_id, MIN(pos) AS span_start,
       LEAST(MAX(pos) + {_SUBSTR_K}, ANY_VALUE(__n)) AS span_end,
       LEAST(MAX(pos) + {_SUBSTR_K}, ANY_VALUE(__n)) - MIN(pos) AS span_len
FROM isl GROUP BY doc_id, island"""


@q(
    "dedup_substring_spans",
    _SUBSTR_SPANS_SQL,
    cols=["doc_id", "span_start", "span_end", "span_len"],
)
def dedup_substring_spans_q(spark, sf_dir):
    """Exact substring-span dedup: every maximal token span fully
    covered by k-gram windows (k=8 tokens) occurring >=2 times in the
    corpus (within-doc repeats count), one row per span — the spans a
    Lee-et-al scrub would cut. Linear plan: positioned-gram explode
    -> gram-count agg -> semi-join -> per-doc gaps-and-islands merge;
    no pair stage."""
    from .operators.dedup import duplicated_spans

    docs = _t(spark, sf_dir, "documents")
    # broadcast_dup_grams: bounded doc corpus -> one int64 row per
    # distinct duplicated gram broadcasts, sparing the probe-side
    # shuffle write (r13 A/B: 0.95s vs 1.92s marked stage at sf1) --
    # the jaccard broadcast_sizes ruling applied to this family
    return duplicated_spans(
        docs, id_col="doc_id", text_col="text", k=_SUBSTR_K, min_count=2,
        broadcast_dup_grams=True,
    )


@q(
    "dedup_substring_scrub",
    f"""WITH spans AS ({_SUBSTR_SPANS_SQL}),
rem AS (SELECT doc_id, UNNEST(RANGE(span_start, span_end)) AS pos FROM spans),
toks AS (
  SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
    SELECT doc_id,
      UNNEST(LIST_TRANSFORM(RANGE(1, LEN(__w) + 1),
        i -> STRUCT_PACK(pos := i - 1, tok := __w[i]))) AS u
    FROM (SELECT doc_id, {_WORDS} AS __w FROM documents))),
kept AS (SELECT t.doc_id, t.pos, t.tok FROM toks t
         LEFT JOIN rem r ON t.doc_id = r.doc_id AND t.pos = r.pos
         WHERE r.pos IS NULL),
ka AS (SELECT doc_id, COUNT(*) AS n_kept,
              STRING_AGG(tok, ' ' ORDER BY pos) AS clean_text
       FROM kept GROUP BY 1),
uni AS (SELECT doc_id, LEN({_WORDS}) AS n_tokens FROM documents)
SELECT uni.doc_id, COALESCE(ka.clean_text, '') AS clean_text,
       uni.n_tokens, uni.n_tokens - COALESCE(ka.n_kept, 0) AS n_removed
FROM uni LEFT JOIN ka USING (doc_id)""",
    cols=["doc_id", "clean_text", "n_tokens", "n_removed"],
)
def dedup_substring_scrub_q(spark, sf_dir):
    """The scrub applied: rebuild each document's normalized text with
    every duplicated span removed (fully-duplicated docs come back as
    clean_text = '' rather than vanishing)."""
    from .operators.dedup import remove_duplicated_spans

    docs = _t(spark, sf_dir, "documents")
    return remove_duplicated_spans(
        docs, id_col="doc_id", text_col="text", k=_SUBSTR_K, min_count=2,
        broadcast_dup_grams=True,
    )


# stop-shingle document-frequency cutoff, mirrored on both engines
# (see jaccard_similar_pairs(max_doc_freq=...): bounds the join skew)
_JACCARD_MAX_DF = 50

_SHINGLES_DF_SQL = f"""
SELECT doc_id, shingle FROM (
  SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS __df
  FROM ({_SHINGLES_SQL})) WHERE __df <= {_JACCARD_MAX_DF}"""


_JACCARD_PAIRS_SQL = f"""SELECT id_a, id_b, jaccard FROM (
  SELECT c.ia AS id_a, c.ib AS id_b,
         c.common / (sa.n + sb.n - c.common) AS jaccard
  FROM (SELECT a.doc_id ia, b.doc_id ib, COUNT(*) AS common
        FROM ({_SHINGLES_DF_SQL}) a JOIN ({_SHINGLES_DF_SQL}) b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2) c
  JOIN (SELECT doc_id, COUNT(*) n FROM ({_SHINGLES_DF_SQL}) GROUP BY 1) sa ON c.ia = sa.doc_id
  JOIN (SELECT doc_id, COUNT(*) n FROM ({_SHINGLES_DF_SQL}) GROUP BY 1) sb ON c.ib = sb.doc_id
) WHERE jaccard >= 1.2e-1"""


@q(
    "dedup_jaccard_pairs",
    _JACCARD_PAIRS_SQL,
    cols=["id_a", "id_b", "jaccard"],
    fcols=["jaccard"],
)
def dedup_jaccard(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    # broadcast_sizes: bounded doc corpus -> the (id, n_sh) sizes frame
    # broadcasts, replacing the id-window recount's full index sort
    return jaccard_similar_pairs(
        docs, id_col="doc_id", text_col="text", n=3, threshold=0.12,
        max_doc_freq=_JACCARD_MAX_DF, broadcast_sizes=True,
    )


@q(
    "dedup_contamination",
    f"""WITH sh AS ({_SHINGLES_SQL}),
        tr AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 5 <> 0),
        ev AS (SELECT * FROM sh WHERE doc_id % 5 = 0)
        SELECT ev.doc_id, COUNT(*) AS n_shingles,
               COUNT(tr.shingle) AS n_matched,
               COUNT(tr.shingle) / COUNT(*) AS score,
               COUNT(tr.shingle) / COUNT(*) >= 0.5 AS contaminated
        FROM ev LEFT JOIN tr ON ev.shingle = tr.shingle
        GROUP BY ev.doc_id""",
    cols=["doc_id", "n_shingles", "n_matched", "score", "contaminated"],
    fcols=["score"],
)
def dedup_contamination_q(spark, sf_dir):
    """Benchmark-leakage scan: every 5th document plays the eval set,
    the rest the training corpus; score = share of the eval doc's
    3-gram shingles present anywhere in train."""
    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 5 != 0)
    ev = docs.filter(F.col("doc_id") % 5 == 0)
    return contamination_check(
        train, ev, id_col="doc_id", text_col="text", n=3, threshold=0.5
    )


# transitive closure of the (symmetric) near-dup pair graph; component
# label = min reachable doc_id. The recursive CTE is the DuckDB twin of
# connected_components' min-label propagation (UNION dedups states, so
# the recursion terminates at the closure fixpoint).
_CC_COMP_SQL = f"""
  pairs AS ({_JACCARD_PAIRS_SQL}),
  edges AS (SELECT id_a AS u, id_b AS v FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
  reach(u, v) AS (SELECT u, v FROM edges
                  UNION
                  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
  comp AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
           FROM reach GROUP BY u)"""


def _jaccard_pairs_df(spark, sf_dir):
    return jaccard_similar_pairs(
        _t(spark, sf_dir, "documents"), id_col="doc_id", text_col="text",
        n=3, threshold=0.12, max_doc_freq=_JACCARD_MAX_DF,
        broadcast_sizes=True,
    )


@q(
    "dedup_clusters",
    f"WITH RECURSIVE {_CC_COMP_SQL} SELECT doc_id, cluster_id FROM comp",
    cols=["doc_id", "cluster_id"],
)
def dedup_clusters_q(spark, sf_dir):
    """Near-dup clusters: Jaccard pairs (same tier/threshold as
    ``dedup_jaccard_pairs``) -> connected components -> (doc_id,
    cluster_id = min id in component). Oracle = recursive-CTE
    transitive closure over the identical pair list."""
    comp = connected_components(_jaccard_pairs_df(spark, sf_dir))
    return comp.select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster_id")
    )


@q(
    "dedup_cluster_survivors",
    f"""WITH RECURSIVE {_CC_COMP_SQL}
SELECT doc_id, cluster_id, cluster_size FROM (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
         COUNT(*) OVER (PARTITION BY COALESCE(c.cluster_id, d.doc_id))
           AS cluster_size
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
WHERE doc_id = cluster_id""",
    cols=["doc_id", "cluster_id", "cluster_size"],
)
def dedup_cluster_survivors_q(spark, sf_dir):
    """One survivor (min doc_id) per near-dup cluster plus all
    singleton documents, with the cluster's total member count — the
    complete pairs -> clusters -> canonical-survivor dedup pipeline."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    out = dedup_survivors(
        docs, _jaccard_pairs_df(spark, sf_dir), id_col="doc_id"
    )
    return out.select("doc_id", "cluster_id", "cluster_size")


@q(
    "samp_shuffle_key",
    """SELECT doc_id, md5('s42:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
       FROM documents""",
    cols=["doc_id", "shuffle_key"],
)
def samp_shuffle(spark, sf_dir):
    """Reproducible training-order shuffle: the seeded md5 key that
    ``deterministic_shuffle`` totally orders by (order itself is
    invisible to the sorted hash compare, so the key is the
    checkable artifact)."""
    docs = _t(spark, sf_dir, "documents")
    return with_shuffle_key(docs, id_col="doc_id", seed="s42").select(
        "doc_id", "shuffle_key"
    )


@q(
    "samp_mixture_tokens",
    f"""WITH base AS (SELECT doc_id, lang, LEN({_WORDS}) AS n_tokens FROM documents),
  tok AS (SELECT lang, CAST(SUM(n_tokens) AS DOUBLE) AS __tok FROM base GROUP BY lang),
  r AS (SELECT lang, __tok,
               CASE lang WHEN 'de' THEN 0.2 WHEN 'en' THEN 0.4
                         WHEN 'es' THEN 0.2 WHEN 'fr' THEN 0.2 END AS __share
        FROM tok),
  r2 AS (SELECT lang,
                (__share * (SELECT MIN(__tok / __share) FROM r
                            WHERE __share IS NOT NULL)) / __tok AS rate
         FROM r WHERE __share IS NOT NULL),
  thr AS (SELECT lang,
                 CASE WHEN rate >= 1.0 THEN 'g'
                      ELSE printf('%08x', CAST(FLOOR(rate * 4294967296.0) AS BIGINT))
                 END AS __thr
          FROM r2)
SELECT b.doc_id, b.lang, b.n_tokens
FROM base b JOIN thr USING (lang)
WHERE SUBSTRING(MD5(CAST(b.doc_id AS VARCHAR)), 1, 8) < __thr""",
    cols=["doc_id", "lang", "n_tokens"],
)
def samp_mixture(spark, sf_dir):
    """Token-mixture sampling: rates derived from the data to hit a
    40/20/20/20 en/de/fr/es TOKEN mix (zh excluded), applied as a
    deterministic md5 filter. The oracle recomputes the identical
    rates and thresholds in SQL — FLOOR-based rendering keeps the
    two engines bit-identical (no banker's rounding)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", textops.token_count("text").alias("n_tokens")
    )
    return mixture_sample(
        docs, id_col="doc_id", stratum_col="lang", tokens_col="n_tokens",
        target_shares={"en": 0.4, "de": 0.2, "fr": 0.2, "es": 0.2},
    )


@q(
    "samp_token_budget",
    f"""SELECT doc_id, n_tokens, cum_tokens FROM (
  SELECT doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (
           ORDER BY MD5('b7:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
           AS cum_tokens
  FROM (SELECT doc_id, LEN({_WORDS}) AS n_tokens FROM documents))
WHERE cum_tokens <= 10000""",
    cols=["doc_id", "n_tokens", "cum_tokens"],
)
def samp_budget(spark, sf_dir):
    """Budget-bounded corpus cut: walk documents in seeded-shuffle
    order, keep while the running token total stays <= 10k. The Spark
    side computes the global running sum WITHOUT a single-partition
    window (range repartition + per-partition prefix + bounded offset
    broadcast — global_cumsum); the oracle is the plain windowed SUM."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", textops.token_count("text").alias("n_tokens")
    )
    staged = with_shuffle_key(docs, id_col="doc_id", seed="b7", out="__ord")
    out = take_token_budget(
        staged, tokens_col="n_tokens", order_cols=["__ord", "doc_id"],
        budget=10000,
    )
    return out.select("doc_id", "n_tokens", "cum_tokens")


_SPLIT_T1 = rate_to_threshold(0.8)
_SPLIT_T2 = rate_to_threshold(0.8 + 0.1)


@q(
    "samp_split_groups",
    f"""SELECT doc_id, source,
        CASE WHEN SUBSTRING(MD5('sp1:' || source), 1, 8) < '{_SPLIT_T1}' THEN 'train'
             WHEN SUBSTRING(MD5('sp1:' || source), 1, 8) < '{_SPLIT_T2}' THEN 'val'
             ELSE 'test' END AS split
        FROM documents""",
    cols=["doc_id", "source", "split"],
)
def samp_split(spark, sf_dir):
    """Group-aware deterministic 80/10/10 split keyed on the source
    domain: every document from one source lands in the same split
    (the anti-leakage guard). Thresholds are Python-literal md5
    ranges, identical in both engines."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return hash_split(
        docs, id_col="doc_id", group_col="source", seed="sp1",
        weights={"train": 0.8, "val": 0.1, "test": 0.1},
    )


# r11: the greedy per-shard fold IS SQL-expressible — a recursive CTE
# walking each shard's rows in seeded-hash order, carrying (bin,
# running total) as recursion state; pack_sequences' hashes were made
# engine-portable (md5 order key; shard = 4 nibbles of the same
# digest) so the whole operator flips from rows-only to hash-exact.
_PACK_SHARD = " + ".join(
    f"(STRPOS('0123456789abcdef', SUBSTR(k, {9 + j}, 1)) - 1) * {16 ** (3 - j)}"
    for j in range(4)
)
_PACK_SQL = f"""
WITH RECURSIVE staged AS (
  SELECT doc_id, LEN({_WORDS}) AS n_tokens,
         MD5('s42:' || CAST(doc_id AS VARCHAR)) AS k
  FROM documents),
shd AS (SELECT doc_id, n_tokens, k,
               CAST(({_PACK_SHARD}) % 8 AS INT) AS shard
        FROM staged),
ordd AS (SELECT doc_id, n_tokens, shard,
                ROW_NUMBER() OVER (PARTITION BY shard
                                   ORDER BY k, doc_id) AS rn
         FROM shd),
walk(shard, rn, doc_id, n_tokens, bin, cur) AS (
  SELECT shard, rn, doc_id, n_tokens, CAST(0 AS BIGINT), n_tokens
  FROM ordd WHERE rn = 1
  UNION ALL
  SELECT o.shard, o.rn, o.doc_id, o.n_tokens,
         CASE WHEN w.cur + o.n_tokens > 512 THEN w.bin + 1 ELSE w.bin END,
         CASE WHEN w.cur + o.n_tokens > 512 THEN o.n_tokens
              ELSE w.cur + o.n_tokens END
  FROM walk w JOIN ordd o ON o.shard = w.shard AND o.rn = w.rn + 1)
SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens, shard, bin
FROM walk ORDER BY shard, bin, doc_id"""


@q(
    "samp_pack_sequences",
    _PACK_SQL,
    cols=["doc_id", "n_tokens", "shard", "bin"],
)
def samp_pack(spark, sf_dir):
    """Sequence packing over the documents table (token counts from
    the whitespace tokenizer): greedy first-fit into 512-token
    windows, sharded by id hash. Oracle = recursive-CTE walk of each
    shard in the identical seeded-hash order (r11; previously judged
    non-SQL-expressible, it is — the fold state is just two columns).
    Invariants (budget respected, deterministic,
    partitioning-invariant) remain pytest-asserted."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", textops.token_count("text").alias("n_tokens")
    )
    packed = pack_sequences(
        docs, id_col="doc_id", tokens_col="n_tokens",
        budget=512, n_shards=8, seed="s42",
    )
    return packed.orderBy("shard", "bin", "doc_id")


# MinHash+LSH oracle (r11: hash_family="md5" made the whole chain
# cross-engine portable, flipping this family from rows-only to
# hash-exact): ONE md5 per shingle folded to a 32-bit int via the hex
# nibbles, k=64 Carter-Wegman permutations with the SAME Python-
# literal coefficients the Spark side embeds, 16 bands of 4, bucket
# join, positional signature agreement. MIN over DISTINCT shingles
# equals MIN over the raw multiset, so the DISTINCT in _SHINGLES_SQL
# is free parity. (The first-cut 64-digests-per-shingle scheme was
# 8.9x the xx64 tier at sf1; this one is near-parity.)
_MINHASH_V = " + ".join(
    f"(STRPOS('0123456789abcdef', SUBSTR(k, {j + 1}, 1)) - 1) * {16 ** (7 - j)}"
    for j in range(8)
)
_MINHASH_MINS = ", ".join(
    f"MIN((v * {a} + {b}) % {2147483647}) AS h{i}"
    for i, (a, b) in enumerate(minhash_coeffs(64))
)
_MINHASH_SQL = f"""
WITH sh AS ({_SHINGLES_SQL}),
vv AS (SELECT doc_id, ({_MINHASH_V}) AS v
       FROM (SELECT doc_id, md5(shingle) AS k FROM sh)),
mins AS (SELECT doc_id, {_MINHASH_MINS} FROM vv GROUP BY doc_id),
sig AS (SELECT doc_id, [{", ".join(f"h{i}" for i in range(64))}] AS sig
        FROM mins),
bands AS (SELECT doc_id, sig, b.b AS band,
                 md5(ARRAY_TO_STRING(sig[b.b * 4 + 1 : b.b * 4 + 4], '|')) AS bucket
          FROM sig CROSS JOIN (SELECT UNNEST(RANGE(0, 16)) AS b) b),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b,
                a.sig AS sa, b2.sig AS sb
         FROM bands a JOIN bands b2
           ON a.band = b2.band AND a.bucket = b2.bucket
          AND a.doc_id < b2.doc_id)
SELECT id_a, id_b, est_jaccard FROM (
  SELECT id_a, id_b,
         LEN(LIST_FILTER(RANGE(1, 65), i -> sa[i] = sb[i])) / 64.0 AS est_jaccard
  FROM cand)
WHERE est_jaccard >= 0.5"""


@q(
    "dedup_minhash_pairs",
    _MINHASH_SQL,
    cols=["id_a", "id_b", "est_jaccard"],
    fcols=["est_jaccard"],
)
def dedup_minhash(spark, sf_dir):
    # portable md5 hash family (oracle default since r11); pass
    # hash_family="xx64" for the faster JVM-hash production tier
    docs = _t(spark, sf_dir, "documents")
    return minhash_dedup_pairs(
        docs, id_col="doc_id", text_col="text",
        num_hashes=64, bands=16, n=3, threshold=0.5, hash_family="md5",
    )


# SimHash oracle (r11, same portable-family move): per-token md5, bit
# b of the 64-bit hash defined NIBBLE-WISE on the hex digest — the one
# formula Spark and DuckDB evaluate identically without unsigned hex
# parsing — 64 conditional-SUM majority votes, 63-bit fingerprint,
# 12-bit prefix blocks, Hamming verify via bit_count(xor).
_SIMHASH_NIBS = ", ".join(
    f"STRPOS('0123456789abcdef', SUBSTR(h, {j + 1}, 1)) - 1 AS n{j}"
    for j in range(16)
)
_SIMHASH_VOTES = ", ".join(
    f"SUM(CASE WHEN (n{b // 4} // {1 << (b % 4)}) % 2 = 1 "
    f"THEN 1 ELSE -1 END) AS v{b}"
    for b in range(64)
)
_SIMHASH_FP = " + ".join(
    f"(CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) "
    "ELSE CAST(0 AS BIGINT) END)"
    for b in range(63)
)
_SIMHASH_SQL = f"""
WITH tok AS (SELECT doc_id, UNNEST({_WORDS}) AS t FROM documents),
hs AS (SELECT doc_id, md5(t) AS h FROM tok),
nib AS (SELECT doc_id, {_SIMHASH_NIBS} FROM hs),
votes AS (SELECT doc_id, {_SIMHASH_VOTES} FROM nib GROUP BY doc_id),
fp AS (SELECT doc_id, ({_SIMHASH_FP}) AS sh FROM votes),
blk AS (SELECT doc_id, sh, sh // {1 << 52} AS block FROM fp)
SELECT id_a, id_b, hamming FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(BIT_COUNT(XOR(a.sh, b.sh)) AS BIGINT) AS hamming
  FROM blk a JOIN blk b ON a.block = b.block AND a.doc_id < b.doc_id)
WHERE hamming <= 6"""


@q(
    "dedup_simhash_pairs",
    _SIMHASH_SQL,
    cols=["id_a", "id_b", "hamming"],
)
def dedup_simhash(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return simhash_near_pairs(
        docs, id_col="doc_id", text_col="text", prefix_bits=12,
        max_hamming=6,
    ).select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


# --------------------------------------------------------------------------
# Similarity search (embeddings table).
# --------------------------------------------------------------------------

def _dot_sql(x: str, y: str) -> str:
    """Mirror of similarity.dot (HOF tier): products in FLOAT
    (matching Spark's zip_with on float arrays), accumulated
    sequentially in DOUBLE from 0 upward."""
    return (f"LIST_REDUCE(LIST_TRANSFORM(RANGE(1, LEN({x}) + 1), "
            f"i -> CAST({x}[i] * {y}[i] AS DOUBLE)), (acc, v) -> acc + v)")


def _cos_sql(a: str, b: str) -> str:
    """Mirror of similarity.cosine, built on :func:`_dot_sql`."""
    return (f"{_dot_sql(a, b)} / "
            f"NULLIF(SQRT({_dot_sql(a, a)}) * SQRT({_dot_sql(b, b)}), 0)")


@q(
    "sim_cosine_topk",
    f"""SELECT e.vec_id, {_cos_sql('e.embedding', 'q.qe')} AS cosine
        FROM embeddings e, (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
        ORDER BY cosine DESC, e.vec_id LIMIT 20""",
    cols=["vec_id", "cosine"],
    fcols=["cosine"],
)
def sim_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    return cosine_topk(emb, qvec, k=20, id_col="vec_id", vec_col="embedding")


@q(
    "sim_knn_join",
    f"""SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_cos_sql('q.embedding', 'c.embedding')} AS cosine,
         ROW_NUMBER() OVER (PARTITION BY q.vec_id
                            ORDER BY {_cos_sql('q.embedding', 'c.embedding')} DESC, c.vec_id) AS rank
  FROM (SELECT * FROM embeddings WHERE vec_id < 3) q
  JOIN embeddings c ON q.vec_id != c.vec_id
) WHERE rank <= 5""",
    cols=["query_id", "neighbor_id", "cosine", "rank"],
    fcols=["cosine"],
)
def sim_knn(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    return knn_join(queries, emb, k=5, id_col="vec_id", vec_col="embedding")


_NEAR_PAIRS_SQL = f"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        {_cos_sql('a.embedding', 'b.embedding')} AS cosine
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE {_cos_sql('a.embedding', 'b.embedding')} >= 3e-1"""


@q("sim_near_pairs", _NEAR_PAIRS_SQL, cols=["id_a", "id_b", "cosine"], fcols=["cosine"])
def sim_near_pairs(spark, sf_dir):
    # exact tier: the NumPy kernel over a broadcast corpus adds in
    # _cos_sql's order, so the oracle compares bit for bit
    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_pairs(
        emb, threshold=0.3, id_col="vec_id", vec_col="embedding"
    )


def _lsh_bucket_sql(vec: str, *, dim: int, n_planes: int, seed: int = 42) -> str:
    """Mirror of similarity.with_lsh_bucket for DuckDB: same LCG
    hyperplane literals (repr round-trips the exact doubles), same
    FLOAT-times-DOUBLE products accumulated sequentially in DOUBLE, so
    the sign bits — and therefore the buckets — match bit-for-bit."""
    bits = []
    for p in _hyperplanes(dim, n_planes, seed):
        lit = "[" + ", ".join(repr(x) for x in p) + "]"
        d = (f"LIST_REDUCE(LIST_TRANSFORM(RANGE(1, LEN({vec}) + 1), "
             f"i -> CAST({vec}[i] * ({lit})[i] AS DOUBLE)), (acc, v) -> acc + v)")
        bits.append(f"CASE WHEN {d} >= 0 THEN '1' ELSE '0' END")
    return " || ".join(bits)


@q(
    "sim_near_pairs_capped",
    f"""WITH b AS (
  SELECT vec_id, embedding, {_lsh_bucket_sql('embedding', dim=64, n_planes=4)} AS lsh_bucket
  FROM embeddings
), capped AS (
  SELECT vec_id, embedding, lsh_bucket FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY lsh_bucket
      ORDER BY substr(md5(CAST(vec_id AS VARCHAR)), 1, 8), vec_id
    ) AS rn FROM b) WHERE rn <= 200
)
SELECT a.vec_id AS id_a, c.vec_id AS id_b,
       {_cos_sql('a.embedding', 'c.embedding')} AS cosine
FROM capped a JOIN capped c
  ON a.lsh_bucket = c.lsh_bucket AND a.vec_id < c.vec_id
WHERE {_cos_sql('a.embedding', 'c.embedding')} >= 3e-1""",
    cols=["id_a", "id_b", "cosine"],
    fcols=["cosine"],
)
def sim_near_pairs_capped(spark, sf_dir):
    """Budget-bounded near-pairs — the similarity family's scale row:
    single-table LSH buckets, md5-capped occupancy (200), exact
    within-bucket cosine. Work is 2^4 * 200^2 / 2 pairs max at ANY
    corpus size."""
    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_pairs_capped(
        emb, threshold=0.3, id_col="vec_id", vec_col="embedding",
        dim=64, n_planes=4, cap=200,
    )


# r11: hyperplane-LSH DOES have a DuckDB twin — _lsh_bucket_sql
# renders each table's bucket bit-for-bit (LCG plane literals, same
# FLOAT*DOUBLE accumulation), so the multi-table candidate union and
# exact rerank are fully portable; flipped from rows-only.
_ANN_TABLE_SQL = "\nUNION\n".join(
    f"""SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       q.embedding AS qe, e.embedding AS ce
FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 3) q
JOIN embeddings e
  ON {_lsh_bucket_sql('q.embedding', dim=64, n_planes=3, seed=42 + 1000 * t)}
   = {_lsh_bucket_sql('e.embedding', dim=64, n_planes=3, seed=42 + 1000 * t)}
 AND q.vec_id <> e.vec_id"""
    for t in range(12)
)
_ANN_TOPK_SQL = f"""WITH cand AS ({_ANN_TABLE_SQL}),
scored AS (SELECT query_id, neighbor_id,
                  {_cos_sql('qe', 'ce')} AS cosine
           FROM cand)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored)
WHERE rank <= 5"""


@q(
    "sim_ann_topk",
    _ANN_TOPK_SQL,
    cols=["query_id", "neighbor_id", "cosine", "rank"],
    fcols=["cosine"],
)
def sim_ann(spark, sf_dir):
    # 3 planes x 12 tables gives 0.95 recall@5 on this near-uniform
    # synthetic corpus (neighbors barely closer than random pairs —
    # the hard case for LSH); clustered real embeddings support far
    # longer codes with fewer tables.
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    return ann_topk(
        queries, emb, k=5, id_col="vec_id", vec_col="embedding",
        dim=64, n_planes=3, n_tables=12,
    )


@q("ml_stub_udfs", None)
def ml_stubs(spark, sf_dir):
    # deterministic Arrow-batched pandas-UDF stubs (sentiment struct +
    # embedding array): model-free, no SQL equivalent → rows-only
    from .functions.ml import embedding_udf, sentiment_udf

    docs = _t(spark, sf_dir, "documents").limit(100)
    return docs.select(
        "doc_id",
        sentiment_udf("text").alias("sentiment"),
        embedding_udf("text").alias("text_emb"),
    )


# --------------------------------------------------------------------------
# Remaining inventory rows: store round-trip (S15-S18), trend flag
# (W25), any-non-null mask (P5), column-wise greatest (E2), NaN/Inf
# sanitation + symbol cleanup (P9 / string family).
# --------------------------------------------------------------------------

@q(
    "s_store_roundtrip",
    """SELECT CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS ts_epoch, value FROM events
       WHERE user_id = 7
         AND CAST(FLOOR(EPOCH(ts)) AS BIGINT)
             BETWEEN 1704067200 AND 1706745600
       ORDER BY ts_epoch DESC LIMIT 20""",
    cols=["ts_epoch", "value"],
    fcols=["value"],
)
def s_store_roundtrip(spark, sf_dir):
    """S15-S18 end to end: write an events-derived feature table into
    a partitioned store under /tmp, then serve a reverse range read
    from it. The oracle reads the same slice straight from events."""
    import tempfile

    from .store.feature_store import FeatureStore

    ev = _events(spark, sf_dir)
    feats = ev.filter(F.col("user_id") == 7).select(
        F.col("ts").alias("timestamp"),
        F.col("user_id").cast("string").alias("symbol"),
        F.lit("1m").alias("timeframe"),
        "value",
    )
    base = tempfile.mkdtemp(prefix="adi_store_")
    store = FeatureStore(spark, base)
    store.write(feats, domain="events", mode="overwrite")
    got = store.range_read(
        "events", "7", "1m", 1704067200, 1706745600, limit=20, reverse=True
    )
    return got.select("ts_epoch", "value")


@q(
    "w25_trend_flag",
    f"""SELECT suppkey, ts, okey, lnum,
        CAST((__sma - LAG(__sma, 1) {_over()}) > 0 AS INT) AS trend_up
        FROM (SELECT suppkey, ts, okey, lnum, pkey, {_roll('AVG', 'close', 10)} AS __sma
              FROM ({MARKET_SQL}))""",
    cols=IDS + ["trend_up"],
)
def w25(spark, sf_dir):
    m = _market(spark, sf_dir)
    w = _w()
    m = m.withColumn("__sma", rolling_mean("close", w, 10))
    return m.select(
        *IDS, (lag_diff("__sma", w, 1) > 0).cast("int").alias("trend_up")
    )


@q(
    "p5_any_nonnull_mask",
    f"""SELECT suppkey, ts, okey, lnum, f1, f2
        FROM (SELECT suppkey, ts, okey, lnum,
                     CASE WHEN lnum < 3 THEN close END AS f1,
                     CASE WHEN lnum > 5 THEN close END AS f2
              FROM ({MARKET_SQL}))
        WHERE COALESCE(f1, f2) IS NOT NULL""",
    cols=IDS + ["f1", "f2"],
    fcols=["f1", "f2"],
)
def p5(spark, sf_dir):
    m = _market(spark, sf_dir)
    m = m.withColumn("f1", F.when(F.col("lnum") < 3, F.col("close")))
    m = m.withColumn("f2", F.when(F.col("lnum") > 5, F.col("close")))
    return m.filter(F.coalesce("f1", "f2").isNotNull()).select(*IDS, "f1", "f2")


@q(
    "e2_columnwise_extremes",
    f"""SELECT suppkey, ts, okey, lnum,
        GREATEST(high - low, close * 1e-2, volume * 1e-1) AS g3,
        LEAST(high - low, close * 1e-2, volume * 1e-1) AS l3
        FROM ({MARKET_SQL})""",
    cols=IDS + ["g3", "l3"],
    fcols=["g3", "l3"],
)
def e2(spark, sf_dir):
    m = _market(spark, sf_dir)
    a = F.col("high") - F.col("low")
    b = F.col("close") * F.lit(1e-2)
    c = F.col("volume") * F.lit(1e-1)
    return m.select(
        *IDS, F.greatest(a, b, c).alias("g3"), F.least(a, b, c).alias("l3")
    )


@q(
    "f_sanitize",
    f"""SELECT okey, lnum,
        CASE WHEN ISNAN(__dirty) OR __dirty = 'Infinity'::DOUBLE
               OR __dirty = '-Infinity'::DOUBLE THEN NULL
             ELSE __dirty END AS value_clean,
        UPPER(REGEXP_REPLACE(__sym, '[/:]', '-', 'g')) AS symbol_clean
        FROM (SELECT okey, lnum,
                     CASE WHEN lnum % 3 = 0 THEN 'NaN'::DOUBLE
                          WHEN lnum % 3 = 1 THEN 'Infinity'::DOUBLE
                          ELSE close END AS __dirty,
                     'btc/usdt:' || CAST(suppkey AS VARCHAR) AS __sym
              FROM ({MARKET_SQL}))""",
    cols=["okey", "lnum", "value_clean", "symbol_clean"],
    fcols=["value_clean"],
)
def f_sanitize(spark, sf_dir):
    from .functions.cleaning import nan_inf_to_null, sanitize_symbol

    m = _market(spark, sf_dir)
    m = m.withColumn(
        "__dirty",
        F.when(F.col("lnum") % 3 == 0, F.lit(float("nan")))
        .when(F.col("lnum") % 3 == 1, F.lit(float("inf")))
        .otherwise(F.col("close")),
    ).withColumn(
        "__sym", F.concat(F.lit("btc/usdt:"), F.col("suppkey").cast("string"))
    )
    return m.select(
        "okey",
        "lnum",
        nan_inf_to_null("__dirty").alias("value_clean"),
        sanitize_symbol("__sym").alias("symbol_clean"),
    )


# --------------------------------------------------------------------------
# Source-normalization round trips (S1/S5) and multimodal plumbing (U-media).
# --------------------------------------------------------------------------

@q(
    "s1_normalize_ohlcv",
    """SELECT EPOCH_MS(CAST(FLOOR(EPOCH(l_shipdate)) AS BIGINT) * 1000) AS timestamp,
       l_extendedprice AS close, l_quantity AS volume,
       'BTC-USDT' AS symbol, 'lake' AS exchange, '1d' AS timeframe,
       STRFTIME(l_shipdate, '%Y-%m-%d') AS dt
       FROM lineitem
       WHERE l_orderkey <= 500 ORDER BY l_orderkey, l_linenumber""",
    cols=["timestamp", "close", "volume", "symbol", "exchange", "timeframe", "dt"],
    fcols=["close", "volume"],
)
def s1_normalize(spark, sf_dir):
    """S1 round trip: driver-side raw rows (as a CCXT fetch would
    return) -> normalize_ohlcv -> canonical MARKET_SCHEMA frame. The
    oracle derives the same frame directly in SQL."""
    from .sources.adapters import normalize_ohlcv

    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 500)
        .orderBy("l_orderkey", "l_linenumber")
        .select(
            (F.col("l_shipdate").cast("long") * 1000).alias("ms"),
            "l_extendedprice",
            "l_quantity",
        )
        .collect()
    )
    rows = [[r["ms"], 0.0, 0.0, 0.0, r["l_extendedprice"], r["l_quantity"]] for r in li]
    df = normalize_ohlcv(spark, rows, symbol="BTC/USDT", exchange="lake", timeframe="1d")
    from .functions.cleaning import sanitize_symbol

    return df.select(
        "timestamp", "close", "volume",
        sanitize_symbol("symbol").alias("symbol"),
        "exchange", "timeframe", "dt",
    )


@q(
    "s5_normalize_onchain",
    """SELECT EPOCH_MS(CAST(FLOOR(EPOCH(ts)) AS BIGINT) * 1000) AS timestamp,
       'glassnode' AS source, 'BTC' AS symbol, 'tx_volume' AS metric,
       value, STRFTIME(ts, '%Y-%m-%d') AS dt
       FROM events WHERE event_id <= 300""",
    cols=["timestamp", "source", "symbol", "metric", "value", "dt"],
    fcols=["value"],
)
def s5_normalize(spark, sf_dir):
    """S5 round trip: driver-side [epoch_ms, value] points ->
    normalize_onchain -> ONCHAIN_SCHEMA frame (ms-unit heuristic)."""
    from .sources.adapters import normalize_onchain

    ev = (
        _events(spark, sf_dir)
        .filter(F.col("event_id") <= 300)
        .select((F.col("ts").cast("long") * 1000).alias("ms"), "value")
        .collect()
    )
    df = normalize_onchain(
        spark,
        [[r["ms"], r["value"]] for r in ev],
        source="glassnode",
        symbol="BTC",
        metric="tx_volume",
    )
    return df.select("timestamp", "source", "symbol", "metric", "value", "dt")


@q(
    "s2_normalize_orderbook",
    """SELECT EPOCH_MS(1705320000000) AS timestamp,
       l_extendedprice AS price, l_quantity AS amount,
       CASE WHEN l_linenumber % 2 = 0 THEN 'bid' ELSE 'ask' END AS side,
       'BTC/USDT' AS symbol, 'lake' AS exchange
       FROM lineitem WHERE l_orderkey <= 200""",
    cols=["timestamp", "price", "amount", "side", "symbol", "exchange"],
    fcols=["price", "amount"],
)
def s2_normalize(spark, sf_dir):
    """S2 round trip: driver-side bid/ask levels (as a CCXT
    fetch_order_book snapshot would return) -> normalize_order_book ->
    long ORDERBOOK_SCHEMA frame stamped with the snapshot time."""
    from .sources.adapters import normalize_order_book

    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 200)
        .select("l_linenumber", "l_extendedprice", "l_quantity")
        .collect()
    )
    bids = [[r["l_extendedprice"], r["l_quantity"]] for r in li if r["l_linenumber"] % 2 == 0]
    asks = [[r["l_extendedprice"], r["l_quantity"]] for r in li if r["l_linenumber"] % 2 == 1]
    return normalize_order_book(
        spark, bids, asks,
        symbol="BTC/USDT", exchange="lake", snapshot_epoch_ms=1_705_320_000_000,
    )


@q(
    "s6_normalize_covalent",
    """SELECT EPOCH_MS(1705320000000) AS timestamp, 'covalent' AS source,
       'ETH' AS symbol, p_brand AS metric,
       p_retailprice / 1.00000000000000000e+02 AS value,
       'addr-' || CAST(p_partkey AS VARCHAR) AS contract_address,
       p_name AS contract_name, '2024-01-15' AS dt
       FROM part WHERE p_partkey <= 200""",
    cols=["timestamp", "source", "symbol", "metric", "value",
          "contract_address", "contract_name", "dt"],
    fcols=["value"],
)
def s6_normalize(spark, sf_dir):
    """S6 round trip: Covalent balance items -> normalize_covalent ->
    ONCHAIN_SCHEMA frame (decimal scaling 10**contract_decimals)."""
    from .sources.adapters import normalize_covalent

    parts = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_partkey") <= 200)
        .select("p_partkey", "p_brand", "p_name", "p_retailprice")
        .collect()
    )
    items = [
        {
            "contract_ticker_symbol": r["p_brand"],
            "contract_address": f"addr-{r['p_partkey']}",
            "contract_name": r["p_name"],
            "balance": r["p_retailprice"],
            "contract_decimals": 2,
        }
        for r in parts
    ]
    return normalize_covalent(
        spark, items, symbol="ETH", snapshot_epoch_ms=1_705_320_000_000
    )


@q(
    "s9_normalize_news",
    """SELECT EPOCH_MS((1704067200 + doc_id * 3600) * 1000) AS published_at,
       CAST(doc_id AS VARCHAR) AS id, text AS title,
       'https://news.example.com/' || source || '/' || CAST(doc_id AS VARCHAR) AS url,
       source, CAST(NULL AS VARCHAR) AS author,
       CAST(NULL AS VARCHAR) AS description,
       STRFTIME(EPOCH_MS((1704067200 + doc_id * 3600) * 1000), '%Y-%m-%d') AS dt
       FROM documents WHERE doc_id <= 300""",
    cols=["published_at", "id", "title", "url", "source", "author",
          "description", "dt"],
)
def s9_normalize(spark, sf_dir):
    """S9/S11 round trip: news/RSS article dicts -> normalize_news ->
    NEWS_SCHEMA frame; article id derived from the URL tail, missing
    fields materialized as typed nulls, dt partition derived."""
    from .sources.adapters import normalize_news

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") <= 300)
        .select("doc_id", "text", "source")
        .collect()
    )
    rows = [
        {
            "url": f"https://news.example.com/{r['source']}/{r['doc_id']}",
            "title": r["text"],
            "published_at": 1_704_067_200 + r["doc_id"] * 3600,
            "source": r["source"],
        }
        for r in docs
    ]
    return normalize_news(spark, rows)


@q(
    "st8_ttl_retention",
    """SELECT CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS ts_epoch, value FROM events
       WHERE user_id = 3
         AND CAST(FLOOR(EPOCH(ts)) AS BIGINT) >= 1706745600 - 2592000""",
    cols=["ts_epoch", "value"],
    fcols=["value"],
)
def st8_ttl(spark, sf_dir):
    """ST8 end to end: write an events-derived feature table into a
    partitioned store, run the TTL retention sweep (30-day window from
    a fixed 'now'), and return the surviving rows. The oracle applies
    the same retention predicate straight to events."""
    import tempfile

    from .store.feature_store import FeatureStore

    ev = _events(spark, sf_dir)
    feats = ev.filter(F.col("user_id") == 3).select(
        F.col("ts").alias("timestamp"),
        F.col("user_id").cast("string").alias("symbol"),
        F.lit("1m").alias("timeframe"),
        "value",
    )
    base = tempfile.mkdtemp(prefix="adi_ttl_")
    store = FeatureStore(spark, base)
    store.write(feats, domain="events", mode="overwrite")
    live = store.ttl_sweep(
        now_epoch=1_706_745_600, ttl_seconds=2_592_000, out_path=base + "_live"
    )
    return live.select("ts_epoch", "value")


@q(
    "st11_rollup_incremental",
    """SELECT user_id, bucket_ts, n_value, min_value, max_value,
              mean_value, std_value FROM (
  SELECT user_id,
         CAST(FLOOR(CAST(FLOOR(EPOCH(ts)) AS BIGINT) / 86400) * 86400
              AS BIGINT) AS bucket_ts,
         COUNT(value) AS n_value,
         MIN(CAST(value AS DOUBLE)) AS min_value,
         MAX(CAST(value AS DOUBLE)) AS max_value,
         SUM(CAST(value AS DOUBLE)) / COUNT(value) AS mean_value,
         SQRT(GREATEST(
           SUM(CAST(value AS DOUBLE) * CAST(value AS DOUBLE)) / COUNT(value)
           - (SUM(CAST(value AS DOUBLE)) / COUNT(value))
             * (SUM(CAST(value AS DOUBLE)) / COUNT(value)), 0.0)) AS std_value
  FROM events GROUP BY 1, 2)""",
    cols=["user_id", "bucket_ts", "n_value", "min_value", "max_value",
          "mean_value", "std_value"],
    fcols=["min_value", "max_value", "mean_value", "std_value"],
)
def st11_rollup(spark, sf_dir):
    """Continuous-aggregate round trip: ingest events as TWO
    increments (split at the time midpoint), REPLAY the second batch
    (read-side dedup must count it once), compact, and serve the
    finalized daily per-user stats. The oracle computes the same
    stats from raw events in one pass — merged partial states must
    agree with the direct aggregate."""
    import tempfile

    from .store.rollup import RollupStore

    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    # mid-DAY split: the boundary bucket's state is genuinely merged
    # across the two batches, not just unioned
    mid = "2024-01-16 12:00:00"
    store = RollupStore(
        spark, tempfile.mkdtemp(prefix="adi_rollup_") + "/t",
        keys=["user_id"], val_cols=["value"], bucket_seconds=86400,
    )
    store.upsert_rollup(ev.filter(F.col("ts") < mid), ts_col="ts", batch_id="b1")
    store.upsert_rollup(ev.filter(F.col("ts") >= mid), ts_col="ts", batch_id="b2")
    store.upsert_rollup(ev.filter(F.col("ts") >= mid), ts_col="ts", batch_id="b2")
    store.compact_rollup()
    return store.read_rollup(finalize=True).select(
        "user_id", "bucket_ts", "n_value", "min_value", "max_value",
        "mean_value", "std_value",
    )


@q("u_media_features", None)
def u_media(spark, sf_dir):
    # multimodal plumbing: binary payload column -> mapInPandas Arrow
    # batches -> typed features (decode itself is a deterministic stub;
    # image/audio libs are not in the container) -> rows-only check
    from .functions.ml import media_features

    docs = _t(spark, sf_dir, "documents").limit(50).select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("content"),
    )
    return media_features(docs)


# --------------------------------------------------------------------------
# Training-matrix flow (SURVEY §3.4): weekly bars -> feature stage ->
# social/news resample joins -> labels. The reference's flagship
# batch-analytics pipeline (build_training_matrix.py:92-165), end to
# end with a full oracle.
# --------------------------------------------------------------------------

_BARS_SQL = """
SELECT CAST(l_suppkey AS VARCHAR) AS symbol, 'lake' AS exchange, '1w' AS timeframe,
       EPOCH_MS((__e - __e % 604800) * 1000) AS timestamp,
       MAX(l_extendedprice) AS close,
       MAX(l_extendedprice * (1 + l_discount)) AS high,
       MIN(l_extendedprice * (1 - l_discount)) AS low,
       SUM(l_quantity) AS volume
FROM (SELECT *, CAST(FLOOR(EPOCH(l_shipdate)) AS BIGINT) AS __e FROM lineitem)
GROUP BY 1, 2, 3, 4"""

_SOCIAL_AGG_SQL = """
SELECT EPOCH_MS((__e - __e % 604800) * 1000) AS timestamp,
       AVG(value) AS sentiment_mean, COUNT(event_id) AS social_n
FROM (SELECT *, CAST(FLOOR(EPOCH(ts - INTERVAL 28 YEAR)) AS BIGINT) AS __e FROM events)
GROUP BY 1"""

_NEWS_AGG_SQL = """
SELECT EPOCH_MS((__e - __e % 604800) * 1000) AS timestamp, COUNT(event_id) AS news_n
FROM (SELECT *, CAST(FLOOR(EPOCH(ts - INTERVAL 28 YEAR)) AS BIGINT) AS __e
      FROM events WHERE event_type = 'click')
GROUP BY 1"""

_TM_SQL = f"""
SELECT symbol, timestamp, {', '.join(MARKET_FEATURES)}, close,
       sentiment_mean, social_n, news_n, ret_next,
       CAST(ret_next > 0 AS INT) AS y_dir
FROM (
  SELECT f.*,
         COALESCE(s.sentiment_mean, 0) AS sentiment_mean,
         COALESCE(s.social_n, 0) AS social_n,
         COALESCE(n.news_n, 0) AS news_n,
         LEAD(f.ret_1, 1) {_over(part="symbol", order="timestamp")} AS ret_next
  FROM ({_market_features_sql(_BARS_SQL, part="symbol", order=["timestamp"],
                              keep=["symbol", "timestamp", "close"])}) f
  LEFT JOIN ({_SOCIAL_AGG_SQL}) s USING (timestamp)
  LEFT JOIN ({_NEWS_AGG_SQL}) n USING (timestamp)
)
WHERE ret_next IS NOT NULL"""


@q(
    "training_matrix",
    _TM_SQL,
    cols=["symbol", "timestamp", *MARKET_FEATURES,
          "close", "sentiment_mean", "social_n", "news_n", "ret_next", "y_dir"],
    fcols=[*MARKET_FEATURES, "close", "sentiment_mean", "ret_next"],
)
def training_matrix(spark, sf_dir):
    from .datasets.training import build_training_matrix

    base = market_series_frame(spark, sf_dir)
    # pre_cluster=symbol: one exchange serves the bars aggregate AND
    # the entire downstream window cascade (subset-of-group-keys
    # clustering) — without it the plan re-shuffles the spine from
    # (symbol, ..., bucket) partitioning to (symbol) for the windows
    bars = resample(
        base,
        "1w",
        {
            "close": F.max("close"),
            "high": F.max("high"),
            "low": F.min("low"),
            "volume": F.sum("volume"),
        },
        ts_col="ts",
        keys=["symbol", "exchange", "timeframe"],
        bucket_out="timestamp",
        pre_cluster=["symbol"],
    ).withColumn("timeframe", F.lit("1w"))
    ev = _events(spark, sf_dir).withColumn(
        "ts", F.col("ts") - F.expr("INTERVAL 28 YEARS")
    )
    # r14 (guide §2.3): the news feed is a row subset of the same
    # events scan, so it rides the social rollup as a conditional
    # count (news_flag_col) — one events scan + one broadcast join
    # instead of two of each; COALESCE/zero-fill semantics identical
    social = ev.select(
        "ts", F.col("event_id").alias("id"),
        F.col("value").alias("sentiment_score"),
        (F.col("event_type") == "click").alias("is_news"),
    )
    out = build_training_matrix(
        bars, social=social, news_flag_col="is_news",
        timeframe="1w", ts_col="timestamp",
    )
    return out.select(
        "symbol", "timestamp", *MARKET_FEATURES, "close",
        "sentiment_mean", "social_n", "news_n", "ret_next", "y_dir",
    )


# --------------------------------------------------------------------------
# Strategy signals (HistoricalDataTest.py:83-103 pipeline, minus the
# out-of-scope vectorbt backtest).
# --------------------------------------------------------------------------

@q(
    "u6_sma_crossover_signals",
    f"""SELECT suppkey, ts, okey, lnum,
        CAST(__crossed = 1 AS INT) AS entry_sig,
        CAST(__crossed = -1 AS INT) AS exit_sig,
        COALESCE(LAST_VALUE(CASE WHEN __crossed = 1 THEN 1
                                 WHEN __crossed = -1 THEN 0 END IGNORE NULLS)
                 {_over(_CUM)}, 0) AS position
FROM (
  SELECT *, __above - LAG(__above, 1) {_over()} AS __crossed
  FROM (
    SELECT *, CAST(({_roll('AVG', 'close', 10)}) > ({_roll('AVG', 'close', 50)}) AS INT) AS __above
    FROM ({MARKET_SQL})
  )
)""",
    cols=IDS + ["entry_sig", "exit_sig", "position"],
)
def u6_signals(spark, sf_dir):
    from .operators.signals import with_sma_crossover_signals

    m = _market(spark, sf_dir)
    out = with_sma_crossover_signals(
        m, "close", 10, 50, keys=KEYS, order=ORDER
    )
    return out.select(*IDS, "entry_sig", "exit_sig", "position")


_BT_POS_PREV = f"COALESCE(LAG(position, 1) {_over()}, 0)"
_BT_STRAT = (
    f"COALESCE({_BT_POS_PREV} * (close / LAG(close, 1) {_over()} - 1), 0)"
    f" - 0.0005 * ABS(position - {_BT_POS_PREV})"
)


#: 2^24 — the u6 fixed-point SMA scale (envelope: frame sums exact
#: while 50 * 1.2e4 * 2^24 = 1.0e13 < 2^53; the per-key LONG running
#: sum fits while rows_per_series * 1.2e4 * 2^24 < 2^63, i.e. 4.6e7
#: bars/series)
_BT_FX_SCALE = float(1 << 24)


def _bt_above_sql(fast: int, slow: int) -> str:
    """The crossover indicator view, fixed-point twin (r14): ONE
    cumulative integer running sum of ``FLOOR(close * 2^24)`` shared
    by both windows (Spark sums primitive LONG; DuckDB sums BIGINT
    into HUGEINT — same integers either way), frame sums as lags of
    it, mask = ``row_number >= slow`` — step-for-step the DataFrame
    form in ``sma_backtest_curve_fused``, so the emitted ``__above``
    integers are bit-identical cross-engine (every step is exact
    integer arithmetic or a single IEEE double op)."""
    s = repr(_BT_FX_SCALE)
    mean = (
        "CAST(__cs - COALESCE(LAG(__cs, {n}) {over}, 0) AS DOUBLE) "
        "/ ({n} * {s})"
    )
    mf = mean.format(n=fast, over=_over(), s=s)
    ms = mean.format(n=slow, over=_over(), s=s)
    return f"""SELECT suppkey, ts, okey, lnum, pkey, close,
           CASE WHEN __rn >= {slow}
                THEN CAST(({mf}) > ({ms}) AS INT) END AS __above
    FROM (
      SELECT *,
             SUM(CAST(FLOOR(close * {s}) AS BIGINT)) {_over(_CUM)} AS __cs,
             ROW_NUMBER() {_over()} AS __rn
      FROM (SELECT suppkey, ts, okey, lnum, pkey,
                   10000 + CAST(close AS DOUBLE) / 100 AS close
            FROM ({MARKET_SQL}))
    )"""


def _bt_float_above_sql(fast: int, slow: int) -> str:
    """The crossover indicator view, sliding-frame AVG twin (the
    unfused ``with_sma_crossover_signals`` chain)."""
    return f"""SELECT *, CAST(({_roll('AVG', 'close', fast)}) > ({_roll('AVG', 'close', slow)}) AS INT) AS __above
            FROM (SELECT suppkey, ts, okey, lnum, pkey,
                         10000 + CAST(close AS DOUBLE) / 100 AS close
                  FROM ({MARKET_SQL}))"""


def _bt_summary_sql(above_view: str, *,
                    tag: tuple[int, int] | None = None) -> str:
    """One SMA-crossover backtest summary over a crossover-indicator
    view (:func:`_bt_above_sql` or :func:`_bt_float_above_sql`) as
    nested inline views (no CTEs, so combos can be UNION ALL
    branches); ``tag`` prepends the (fast, slow) combo columns for the
    param-sweep oracle."""
    head = f"{tag[0]} AS fast, {tag[1]} AS slow, " if tag else ""
    return f"""SELECT {head}suppkey, COUNT(*) AS n_bars,
       CAST(SUM(trade) AS DOUBLE) AS n_trades,
       EXP(SUM(LN(1 + strat))) - 1 AS total_return,
       MIN(drawdown) AS max_drawdown,
       CASE WHEN STDDEV_SAMP(strat) IS NULL OR STDDEV_SAMP(strat) = 0 THEN NULL
            ELSE AVG(strat) / STDDEV_SAMP(strat) END AS sharpe
FROM (
  SELECT *, equity / MAX(equity) {_over(_CUM)} - 1 AS drawdown
  FROM (
    SELECT *, EXP(SUM(LN(1 + strat)) {_over(_CUM)}) AS equity
    FROM (
      SELECT suppkey, ts, okey, lnum, pkey,
             ABS(position - {_BT_POS_PREV}) AS trade,
             {_BT_STRAT} AS strat
      FROM (
        SELECT suppkey, ts, okey, lnum, pkey, close,
               COALESCE(LAST_VALUE(CASE WHEN __crossed = 1 THEN 1
                                        WHEN __crossed = -1 THEN 0 END IGNORE NULLS)
                        {_over(_CUM)}, 0) AS position
        FROM (
          SELECT *, __above - LAG(__above, 1) {_over()} AS __crossed
          FROM (
            {above_view}
          )
        )
      )
    )
  )
) GROUP BY {'fast, slow, ' if tag else ''}suppkey"""


@q(
    "u6_backtest",
    _bt_summary_sql(_bt_above_sql(10, 50)),
    cols=["suppkey", "n_bars", "n_trades", "total_return",
          "max_drawdown", "sharpe"],
    fcols=["n_trades", "total_return", "max_drawdown", "sharpe"],
)
def u6_backtest(spark, sf_dir):
    """Full U6 closure: SMA-crossover positions piped through the
    vectorized window-algebra backtest (close-to-close fills, 5 bps
    fee per position change), summarized per series — total return,
    max drawdown, Sharpe, trade count. Reference runs vectorbt on the
    same positions (HistoricalDataTest.py:105-118); here the entire
    equity curve is one window family, so the backtest scales to any
    number of series via the partition key.

    Runs the FUSED shape with its FIXED-POINT SMA (r14 verdict
    task #1, closing the r13 decomposition's one engine-level gap):
    the O(w)-per-row sliding-frame SMA pass — measured 0.71s of the
    2.1s sf1 cell — is replaced by one shared primitive-LONG running
    sum + two lags (O(1)/row), hash-exact against the step-identical
    BIGINT SQL twin because every step is exact integer arithmetic or
    a single IEEE double op (see ``with_rolling_mean_fixed`` /
    ``_bt_above_sql``; the DECIMAL(38,0) first cut was value-perfect
    but Spark's boxed decimal window arithmetic ate the O(1) saving).
    Measured (BENCH_BACKTEST_AB_r14.json): sf1 fused_fixed 2.09s =
    fastest Spark shape, 1.21x its DuckDB twin.  The unfused float
    chain stays as ``sma_param_sweep``'s shape and the independent
    reference in ``tests/test_backtest.py``."""
    from .operators.backtest import backtest_summary, sma_backtest_curve_fused

    # TPC-H pseudo-prices swing ~100x bar to bar — compounding over
    # that underflows equity to 0 for every key. The affine damp keeps
    # per-bar returns in a realistic band; it commutes with SMA and
    # '>' so the crossover signals are IDENTICAL to u6_signals'.
    m = _market(spark, sf_dir).withColumn(
        "close", F.lit(10000.0) + F.col("close").cast("double") / 100
    )
    curve = sma_backtest_curve_fused(
        m, keys=KEYS, order=ORDER,
        price_col="close", fast=10, slow=50, fee_bps=5.0,
    )
    return backtest_summary(curve, keys=KEYS)


_SWEEP_GRID = [(5, 20), (10, 50), (20, 100)]


def _damped_market(spark, sf_dir):
    return _market(spark, sf_dir).withColumn(
        "close", F.lit(10000.0) + F.col("close").cast("double") / 100
    )


_SWEEP_SQL = "\nUNION ALL\n".join(
    _bt_summary_sql(_bt_float_above_sql(f, s), tag=(f, s))
    for f, s in _SWEEP_GRID
)


@q(
    "u6_param_sweep",
    _SWEEP_SQL,
    cols=["fast", "slow", "suppkey", "n_bars", "n_trades",
          "total_return", "max_drawdown", "sharpe"],
    fcols=["n_trades", "total_return", "max_drawdown", "sharpe"],
)
def u6_param_sweep(spark, sf_dir):
    """Strategy-parameter grid search (the reference's Optuna study,
    HistoricalDataTest.py:120-175, re-expressed data-parallel): every
    (fast, slow) combo backtested in one union-of-plans job over a
    checkpoint-pinned scan."""
    from .operators.backtest import sma_param_sweep

    return sma_param_sweep(
        _damped_market(spark, sf_dir), _SWEEP_GRID,
        keys=KEYS, order=ORDER, price_col="close", fee_bps=5.0,
    )


@q(
    "u6_best_params",
    f"""SELECT suppkey, fast AS best_fast, slow AS best_slow,
       total_return AS best_total_return
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY suppkey
              ORDER BY total_return DESC, fast ASC, slow ASC) AS __rk
  FROM ({_SWEEP_SQL})
) WHERE __rk = 1""",
    cols=["suppkey", "best_fast", "best_slow", "best_total_return"],
    fcols=["best_total_return"],
)
def u6_best_params(spark, sf_dir):
    """Argmax over the parameter sweep: best (fast, slow) per series
    by total return — one max_by hash aggregate over the sweep, with
    deterministic lexicographic tie-breaks."""
    from .operators.backtest import best_params_per_series, sma_param_sweep

    sweep = sma_param_sweep(
        _damped_market(spark, sf_dir), _SWEEP_GRID,
        keys=KEYS, order=ORDER, price_col="close", fee_bps=5.0,
    )
    return best_params_per_series(sweep, keys=KEYS, metric_col="total_return")


@q(
    "st16_backtest_stream_curve",
    f"""SELECT suppkey, ts, okey, lnum, trade, strategy_ret,
       EXP(SUM(LN(1 + strategy_ret)) {_over(_CUM)}) AS equity
FROM (
  SELECT suppkey, ts, okey, lnum, pkey,
         CAST(ABS(position - {_BT_POS_PREV}) AS DOUBLE) AS trade,
         {_BT_STRAT} AS strategy_ret
  FROM (
  SELECT suppkey, ts, okey, lnum, pkey, close,
         COALESCE(LAST_VALUE(CASE WHEN __crossed = 1 THEN 1
                                  WHEN __crossed = -1 THEN 0 END IGNORE NULLS)
                  {_over(_CUM)}, 0) AS position
  FROM (
    SELECT *, __above - LAG(__above, 1) {_over()} AS __crossed
    FROM (
      SELECT *, CAST(({_roll('AVG', 'close', 10)}) > ({_roll('AVG', 'close', 50)}) AS INT) AS __above
      FROM (SELECT suppkey, ts, okey, lnum, pkey,
                   10000 + CAST(close AS DOUBLE) / 100 AS close
            FROM ({MARKET_SQL}))
    )
  )
  )
)""",
    cols=["suppkey", "ts", "okey", "lnum", "trade", "strategy_ret", "equity"],
    fcols=["trade", "strategy_ret", "equity"],
)
def st16_backtest_stream_curve(spark, sf_dir):
    """Streaming-continuity backtest curve (ST surface): every series
    is processed in THREE sequential chunks through the O(1)-state
    carry core that backs ``apply_stateful_backtest`` — the same code
    path the real ``applyInPandasWithState`` runs per micro-batch —
    and the emitted per-bar curve is VALUE-EXACT against the DuckDB
    full-series window SQL. This pins the incremental==batch claim to
    the oracle, not just a pytest: the state carry loses nothing.
    Distributed via ``applyInPandas`` per series key; chunk state
    never leaves the executor."""
    import pandas as pd

    from .operators.signals import with_sma_crossover_signals
    from .streaming._carry import chunked_batch
    from .streaming.backtest_stream import backtest_op

    sig = with_sma_crossover_signals(
        _damped_market(spark, sf_dir), "close", 10, 50,
        keys=KEYS, order=ORDER,
    ).select("suppkey", "ts", "okey", "lnum", "pkey", "close", "position")

    out_schema = sig.select("suppkey", "ts", "okey", "lnum").schema \
        .add("trade", "double").add("strategy_ret", "double") \
        .add("equity", "double")
    sort_cols = ["ts", "okey", "lnum", "pkey"]
    op = backtest_op(
        price_col="close", position_col="position", fee_bps=5.0,
        ts_col="ts", sort_cols=sort_cols,
    )

    def per_series(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(sort_cols).reset_index(drop=True)
        n = max(1, -(-len(pdf) // 3))  # ceil(len/3): three chunks
        out = chunked_batch(op, pdf, n)
        return out[["suppkey", "ts", "okey", "lnum",
                    "trade", "strategy_ret", "equity"]]

    return sig.groupBy("suppkey").applyInPandas(per_series, out_schema)


@q(
    "st17_strategy_stream",
    f"""SELECT suppkey, ts, okey, lnum, position, equity,
       equity / MAX(equity) {_over(_CUM)} - 1 AS drawdown
FROM (
  SELECT suppkey, ts, okey, lnum, pkey, position,
         EXP(SUM(LN(1 + strategy_ret)) {_over(_CUM)}) AS equity
  FROM (
    SELECT suppkey, ts, okey, lnum, pkey, position, close,
           {_BT_STRAT} AS strategy_ret
    FROM (
      SELECT suppkey, ts, okey, lnum, pkey, close,
             COALESCE(LAST_VALUE(CASE WHEN __crossed = 1 THEN 1
                                      WHEN __crossed = -1 THEN 0 END IGNORE NULLS)
                      {_over(_CUM)}, 0) AS position
      FROM (
        SELECT *, __above - LAG(__above, 1) {_over()} AS __crossed
        FROM (
          SELECT *, CAST(({_roll('AVG', 'close', 10)}) > ({_roll('AVG', 'close', 50)}) AS INT) AS __above
          FROM (SELECT suppkey, ts, okey, lnum, pkey,
                       10000 + CAST(close AS DOUBLE) / 100 AS close
                FROM ({MARKET_SQL}))
        )
      )
    )
  )
)""",
    cols=["suppkey", "ts", "okey", "lnum", "position", "equity", "drawdown"],
    fcols=["equity", "drawdown"],
)
def st17_strategy_stream(spark, sf_dir):
    """Fused live-trading loop (ST surface): SMA-crossover signal ->
    position -> fee-aware curve, per series in three sequential chunks
    through the SAME carry core ``apply_stateful_sma_strategy`` runs
    per micro-batch (signal-warmup closes + O(1) backtest scalars).
    Carries the DuckDB full-series window SQL as a value oracle since
    the carry core's SMAs switched to the left-fold summation
    (``strategy_stream._sma_left_fold``), which reproduces Spark's
    window ``AVG`` bit-for-bit — the pandas sliding-sum rolling mean
    it replaced could flip a near-tie crossover in the last ulp, which
    kept this row rows-only through r8. Caveat (r9 ADVICE): DuckDB's
    own sliding-window AVG uses segment-tree association, not a strict
    left fold, so oracle exactness is an empirical property of this
    corpus (holds at every checked SF), not a structural guarantee —
    the HARD guarantees are chunked==batch and the real micro-batch
    equivalence pytests (tests/test_strategy_stream.py), which pin the
    streamed signals to the batch operator pair bit-for-bit."""
    import pandas as pd

    from .streaming._carry import chunked_batch
    from .streaming.strategy_stream import sma_strategy_op

    m = _damped_market(spark, sf_dir).select(
        "suppkey", "ts", "okey", "lnum", "pkey", "close"
    )
    out_schema = m.select("suppkey", "ts", "okey", "lnum").schema \
        .add("position", "long").add("equity", "double") \
        .add("drawdown", "double")
    sort_cols = ["ts", "okey", "lnum", "pkey"]
    op = sma_strategy_op(
        fast=10, slow=50, fee_bps=5.0, price_col="close", ts_col="ts",
        sort_cols=sort_cols,
    )

    def per_series(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(sort_cols).reset_index(drop=True)
        n = max(1, -(-len(pdf) // 3))
        out = chunked_batch(op, pdf, n)
        return out[["suppkey", "ts", "okey", "lnum",
                    "position", "equity", "drawdown"]]

    return m.groupBy("suppkey").applyInPandas(per_series, out_schema)


# --------------------------------------------------------------------------
# Engine-level aggregate surface beyond the reference (SURVEY §7.1
# north-star): grouping sets (ROLLUP/CUBE) and approximate aggregates.
# --------------------------------------------------------------------------

@q(
    "agg_rollup",
    """SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n, SUM(l_quantity) AS sum_qty
       FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
    cols=["l_returnflag", "l_linestatus", "n", "sum_qty"],
    fcols=["sum_qty"],
)
def agg_rollup(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), F.sum("l_quantity").alias("sum_qty")
    )


@q(
    "agg_cube",
    """SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n, SUM(l_quantity) AS sum_qty
       FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",
    cols=["l_returnflag", "l_linestatus", "n", "sum_qty"],
    fcols=["sum_qty"],
)
def agg_cube(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), F.sum("l_quantity").alias("sum_qty")
    )


def _agg_approx_sql(dialect: str = "duckdb") -> str:
    from .operators.sketches import hist_percentiles_sql, kmv_distinct_sql

    kmv = kmv_distinct_sql(
        table="lineitem", group_col="l_returnflag", key_col="l_orderkey",
        k=256, out="approx_orders", dialect=dialect,
    )
    med = hist_percentiles_sql(
        table="lineitem", group_col="l_returnflag", val_col="l_extendedprice",
        lo=0.0, hi=110000.0, nbins=1100, ps={"approx_median_price": 0.5},
    )
    return (f"SELECT k.l_returnflag, k.approx_orders, m.approx_median_price "
            f"FROM ({kmv}) k JOIN ({med}) m USING (l_returnflag)")


@q(
    "agg_approx",
    _agg_approx_sql(),
    cols=["l_returnflag", "approx_orders", "approx_median_price"],
    fcols=["approx_orders", "approx_median_price"],
)
def agg_approx(spark, sf_dir):
    # r11: flipped from rows-only (HLL/KLL are engine-specific) to
    # hash-exact by swapping in the PORTABLE sketches (rule V):
    # KMV k-minimum-values distinct (k=256, ~6% rsd — exact below 256
    # distinct) + fixed-bin histogram median (bin width 100 over
    # [0, 110000) — error <= one bin). Both estimates are
    # deterministic functions of the data, so DuckDB computes the
    # identical values. Spark-native approx_count_distinct /
    # percentile_approx remain available engine-wide; accuracy-vs-
    # exact for both families asserted in tests/test_approx_aggs.py.
    from .operators.sketches import hist_percentiles, kmv_distinct

    li = _t(spark, sf_dir, "lineitem")
    kmv = kmv_distinct(
        li, ["l_returnflag"], "l_orderkey", k=256, out="approx_orders"
    )
    med = hist_percentiles(
        li, ["l_returnflag"], "l_extendedprice",
        lo=0.0, hi=110000.0, nbins=1100, ps={"approx_median_price": 0.5},
    )
    return kmv.join(med, "l_returnflag")


# --------------------------------------------------------------------------
# ST7 — sliding + session windows (absent in the reference; free in
# Spark, exposed as first-class queries).
# --------------------------------------------------------------------------

@q(
    "st7_sliding_counts",
    f"""SELECT EPOCH_MS(s * 1000) AS bucket, event_type, COUNT(*) AS n
        FROM (SELECT event_type, UNNEST([__h, __h - 3600]) AS s
              FROM (SELECT event_type, {_EV_EPOCH} - {_EV_EPOCH} % 3600 AS __h
                    FROM events))
        GROUP BY 1, 2""",
    cols=["bucket", "event_type", "n"],
)
def st7_sliding(spark, sf_dir):
    """2h windows sliding every 1h: each event lands in exactly two
    windows (start inclusive / end exclusive, Spark F.window parity)."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .count()
        .select(
            F.col("w.start").alias("bucket"),
            "event_type",
            F.col("count").alias("n"),
        )
    )


@q(
    "st7_session_window",
    """SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events
FROM (
  SELECT *, SUM(__new) OVER (PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS __sid
  FROM (SELECT *, CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                            > INTERVAL 30 MINUTE OR
                            LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                       THEN 1 ELSE 0 END AS __new
        FROM events)
)
GROUP BY user_id, __sid""",
    cols=["user_id", "session_start", "session_end", "n_events"],
)
def st7_session(spark, sf_dir):
    """30-minute-gap session windows per user (F.session_window:
    window.end = last event + gap)."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def _portable_cents_cte(
    *,
    k: int,
    iters: int = 3,
    cents_from: str = "embeddings",
    dim: int = 64,
) -> tuple[str, str]:
    """CTE chain for similarity's coarse quantizer — the DuckDB twin
    of FIXED-POINT-mean Lloyd (`similarity.kmeans_centroids`). Seeds
    are the k lowest-id corpus vectors; each
    iteration re-assigns by the `_dot_sql` argmax (ties → lowest
    centroid_id, `_assign_expr`'s struct order) and recomputes means as
    ``SUM(FLOOR(x * 2^40)::DECIMAL(38,0))`` — integer addition is
    order-independent, so the parallel Spark aggregation and DuckDB's
    produce the same decimal, the same double quotient, the same
    float32 centroid. Returns (cte_list_sql, final_cte_name)."""
    # CAST to DOUBLE per the module's float-literal rule: a bare
    # 1099511627776.0 parses as DECIMAL in DuckDB (benign here only
    # because the other operand is FLOAT/DOUBLE, r11 advisor).
    scale = f"CAST({1 << 40} AS DOUBLE)"
    ctes = [f"""cents0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS centroid_id,
         embedding AS centroid
  FROM {cents_from}
  ORDER BY vec_id LIMIT {k})"""]
    for t in range(1, iters + 1):
        mean_cols = ", ".join(
            f"CAST((CAST(SUM(CAST(FLOOR(embedding[{i + 1}] * {scale}) "
            f"AS DECIMAL(38,0))) AS DOUBLE) / COUNT(*)) / {scale} AS REAL)"
            for i in range(dim)
        )
        ctes.append(f"""cents{t} AS (
  SELECT centroid_id, CAST(LIST_VALUE({mean_cols}) AS REAL[]) AS centroid
  FROM (
    SELECT a.centroid_id, e.embedding FROM (
      SELECT vec_id, centroid_id FROM (
        SELECT e.vec_id, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_dot_sql('e.embedding', 'c.centroid')} DESC,
                                           c.centroid_id) AS rn
        FROM {cents_from} e CROSS JOIN cents{t - 1} c) WHERE rn = 1) a
    JOIN {cents_from} e USING (vec_id))
  GROUP BY centroid_id)""")
    return ",\n".join(ctes), f"cents{iters}"


def _ivf_sql(
    *,
    k: int,
    nprobe: int,
    n_centroids: int,
    cents_from: str = "embeddings",
    queries_where: str = "vec_id < 3",
    iters: int = 3,
) -> str:
    """DuckDB twin of the IVF path (`similarity.ivf_topk`, PLANS.md
    rule V): the coarse quantizer is `_portable_cents_cte`'s
    bit-reproducible Lloyd chain, the assignment/probe argmax compares
    the identical FLOAT-product DOUBLE-accumulated dots both engines
    compute (`_dot_sql`), and the exact rerank is the proven
    `_cos_sql` contract. Ties break (dot DESC, centroid_id) in both
    engines — similarity._assign_expr's struct order."""
    cents_ctes, cents = _portable_cents_cte(
        k=n_centroids, iters=iters, cents_from=cents_from
    )
    return f"""WITH {cents_ctes},
cents AS (SELECT * FROM {cents}),
assigned AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_dot_sql('e.embedding', 'c.centroid')} DESC,
                                       c.centroid_id) AS rn
    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1
), probes AS (
  SELECT query_id, qe, centroid_id FROM (
    SELECT q.vec_id AS query_id, q.embedding AS qe, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY {_dot_sql('q.embedding', 'c.centroid')} DESC,
                                       c.centroid_id) AS rn
    FROM (SELECT vec_id, embedding FROM embeddings WHERE {queries_where}) q
    CROSS JOIN cents c) WHERE rn <= {nprobe}
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {_cos_sql('p.qe', 'a.embedding')} AS cosine,
         ROW_NUMBER() OVER (PARTITION BY p.query_id
                            ORDER BY {_cos_sql('p.qe', 'a.embedding')} DESC,
                                     a.vec_id) AS rank
  FROM probes p JOIN assigned a ON p.centroid_id = a.centroid_id
  WHERE p.query_id != a.vec_id
) WHERE rank <= {k}"""


@q(
    "sim_ivf_topk",
    _ivf_sql(k=5, nprobe=8, n_centroids=16),
    cols=["query_id", "neighbor_id", "cosine", "rank"],
    fcols=["cosine"],
)
def sim_ivf(spark, sf_dir):
    # IVF inverted-file ANN (coarse k-means quantizer + nprobe lists +
    # exact rerank). The Lloyd mean is order-independent fixed point
    # (FLOOR(x*2^40) summed as DECIMAL(38,0)), so every value is
    # DuckDB-reproducible (hash-exact; recall 0.96@nprobe=8 asserted
    # in tests/test_ivf_backfill.py).
    from .operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    return ivf_topk(
        queries, emb, k=5, id_col="vec_id", vec_col="embedding",
        n_centroids=16, nprobe=8,
    )


from .operators.quality_model import NB_SCALE as _NB_SCALE  # noqa: E402

_NB_SCALE_SQL = f"CAST({int(_NB_SCALE)} AS DOUBLE)"
_NB_SQL = f"""WITH q AS ({_QUALITY_SQL}),
tr AS (
  SELECT d.doc_id, d.text,
         CASE WHEN q.quality_score >= 0.6 THEN 1 ELSE 0 END AS y
  FROM documents d JOIN q ON d.doc_id = q.doc_id
  WHERE d.doc_id % 2 = 0
), tok AS (
  SELECT y, UNNEST({_WORDS}) AS token FROM tr
), cnt AS (
  SELECT token,
         SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS ng,
         SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS nb
  FROM tok GROUP BY token
), tot AS (
  SELECT CAST(SUM(ng) AS DOUBLE) + COUNT(*) AS dg,
         CAST(SUM(nb) AS DOUBLE) + COUNT(*) AS db
  FROM cnt
), pri AS (
  SELECT LN(CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) + 1 AS DOUBLE)
            / CAST(SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) + 1 AS DOUBLE))
           AS prior
  FROM tr
), wt AS (
  SELECT token,
         LN(CAST(ng + 1 AS DOUBLE) / dg) - LN(CAST(nb + 1 AS DOUBLE) / db)
           AS w8
  FROM cnt, tot
), oov AS (
  SELECT LN(CAST(1 AS DOUBLE) / dg) - LN(CAST(1 AS DOUBLE) / db) AS w8
  FROM tot
), htok AS (
  SELECT doc_id, UNNEST({_WORDS}) AS token
  FROM documents WHERE doc_id % 2 = 1
), sc AS (
  SELECT h.doc_id,
         SUM(CAST(FLOOR(COALESCE(w.w8, o.w8) * {_NB_SCALE_SQL})
                  AS DECIMAL(38,0))) AS s
  FROM htok h LEFT JOIN wt w USING (token) CROSS JOIN oov o
  GROUP BY h.doc_id
)
SELECT doc_id,
       CAST(s AS DOUBLE) / {_NB_SCALE_SQL} + prior AS log_odds
FROM sc CROSS JOIN pri"""


@q(
    "text_quality_nb",
    _NB_SQL,
    cols=["doc_id", "log_odds"],
    fcols=["log_odds"],
)
def text_quality_nb_q(spark, sf_dir):
    """PORTABLE learned quality classifier (r11): multinomial
    Naive-Bayes on the same weak labels as `text_quality_classifier`
    (heuristic composite >= 0.6 over the even-id half), scoring the
    held-out odd half. Training is integer token counting +
    add-1-smoothed log-ratios and scoring a rule-W fixed-point sum,
    so the ENTIRE train-and-score pipeline is a deterministic
    function of the data with a hash-exact DuckDB oracle — the
    learned-model family's exact row next to the L-BFGS logistic
    regression (rows-only, separation pytest), the way md5-minhash
    sits next to xxhash64.

    r12: the compared output is (doc_id, log_odds) — log_odds is
    fixed-point sum + a prior whose LN bit-agrees across engines
    (pinned by test_nb_libm_bit_agreement), while p_good's EXP was
    MEASURED to diverge by 1 ulp on 24/250 corpus inputs (r11 advisor
    confirmed), so its hash-exactness would be boundary luck. p_good
    stays in the library API (score_nb_quality)."""
    from .operators.quality_model import score_nb_quality, train_nb_quality
    from .operators.text import quality_features

    docs = _t(spark, sf_dir, "documents")
    weak = quality_features(
        docs.filter(F.col("doc_id") % 2 == 0), text_col="text"
    ).select(
        "doc_id", "text",
        (F.col("quality_score") >= 0.6).cast("int").alias("label"),
    )
    weights, prior, oov = train_nb_quality(weak, text_col="text")
    held = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text")
    return score_nb_quality(
        held, weights, prior=prior, oov_weight=oov,
        id_col="doc_id", text_col="text",
    ).select("doc_id", "log_odds")


@q("text_quality_classifier", None)
def text_quality_classifier_q(spark, sf_dir):
    # Learned quality gate (GPT-3/CCNet classifier step): weak-label
    # half the corpus with the heuristic composite (quality_score >=
    # 0.6), train a distributed logistic regression on hashed-term +
    # heuristic features, score the held-out half. L-BFGS has no
    # DuckDB twin → rows-only (one row per held-out doc by
    # construction); separation power pytest-asserted on planted
    # good/garbage classes in test_media_text.py.
    from .operators.quality_model import score_quality, train_quality_classifier
    from .operators.text import quality_features

    docs = _t(spark, sf_dir, "documents")
    weak = quality_features(
        docs.filter(F.col("doc_id") % 2 == 0), text_col="text"
    ).select(
        "doc_id", "text",
        (F.col("quality_score") >= 0.6).cast("double").alias("label"),
    )
    model = train_quality_classifier(weak, n_buckets=32, max_iter=20)
    held_out = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text")
    return score_quality(held_out, model, n_buckets=32).select("doc_id", "p_good")


_SEMDEDUP_CENTS_CTES, _SEMDEDUP_CENTS = _portable_cents_cte(k=16, iters=3)
_SEMDEDUP_SQL = f"""WITH RECURSIVE {_SEMDEDUP_CENTS_CTES},
cents AS (SELECT * FROM {_SEMDEDUP_CENTS}),
assigned AS (
  SELECT vec_id, embedding, cluster_id FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id AS cluster_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_dot_sql('e.embedding', 'c.centroid')} DESC,
                                       c.centroid_id) AS rn
    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM assigned a JOIN assigned b
    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  WHERE {_cos_sql('a.embedding', 'b.embedding')} >= 0.95
), edges AS (SELECT id_a AS u, id_b AS v FROM pairs
             UNION SELECT id_b, id_a FROM pairs),
reach(u, v) AS (SELECT u, v FROM edges
                UNION
                SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
comp AS (SELECT u AS vec_id, LEAST(u, MIN(v)) AS component
         FROM reach GROUP BY u)
SELECT a.vec_id, a.cluster_id, c.component,
       (c.component IS NULL OR c.component = a.vec_id) AS keep
FROM assigned a LEFT JOIN comp c ON a.vec_id = c.vec_id"""


@q(
    "sim_semantic_dedup",
    _SEMDEDUP_SQL,
    cols=["vec_id", "cluster_id", "component", "keep"],
)
def sim_semantic_dedup_q(spark, sf_dir):
    # SemDeDup: coarse clusters -> intra-cluster cosine pairs ->
    # connected components -> min-id survivor per duplicate group.
    # The fixed-point-mean Lloyd quantizer makes cluster assignment
    # DuckDB-reproducible; the component's oracle is the
    # dedup_clusters recursive-CTE transitive closure (hash-exact).
    # Survivor invariants (no surviving intra-cluster pair >=
    # threshold, determinism, dup-class collapse) are pytest-asserted
    # in test_dedup_scale.py.
    from .operators.similarity import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, id_col="vec_id", vec_col="embedding",
        n_clusters=16, threshold=0.95,
    )


@q(
    "st13_sessionize_batch",
    """SELECT event_id, user_id, session_id FROM (
  SELECT event_id, user_id,
         CAST(SUM(CASE WHEN prev IS NULL OR EPOCH(ts) - prev > 1800
                       THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_id
  FROM (SELECT event_id, user_id, ts,
               LAG(EPOCH(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events))""",
    cols=["event_id", "user_id", "session_id"],
)
def st13_sessionize_batch(spark, sf_dir):
    """Gap-based sessionization of the historical event archive
    (30-min gap) — the batch twin of the streaming session_window
    aggregate, same gap semantics."""
    from .operators.resample import sessionize

    ev = _t(spark, sf_dir, "events")
    return sessionize(
        ev, keys=["user_id"], ts_col="ts", gap_seconds=1800,
        tiebreak_cols=["event_id"],
    ).select("event_id", "user_id", "session_id")


def _st12_sql(dialect: str = "duckdb") -> str:
    from .operators.sketches import KMV_SPACE, kmv_hash_sql

    # integer literal: exact in both parsers (see sketches.kmv_distinct_sql)
    numer = f"CAST({int(255.0 * KMV_SPACE)} AS DOUBLE)"
    epoch = "CAST(ts AS DOUBLE)" if dialect == "spark" else "EPOCH(ts)"
    bucket = (f"CAST(FLOOR(CAST(FLOOR({epoch}) AS BIGINT) / 604800) "
              "* 604800 AS BIGINT)")
    return f"""WITH ev AS (
  SELECT event_type, {bucket} AS bucket_ts, user_id, value FROM events
), base AS (
  SELECT event_type, bucket_ts, COUNT(value) AS n_value
  FROM ev GROUP BY 1, 2
), hx AS (
  SELECT DISTINCT event_type, bucket_ts,
         {kmv_hash_sql('user_id', dialect=dialect)} AS __h
  FROM ev WHERE user_id IS NOT NULL
), topk AS (
  SELECT event_type, bucket_ts, __h FROM (
    SELECT event_type, bucket_ts, __h,
           ROW_NUMBER() OVER (PARTITION BY event_type, bucket_ts
                              ORDER BY __h) AS rn
    FROM hx) WHERE rn <= 256
), kmv AS (
  SELECT event_type, bucket_ts,
         CASE WHEN COUNT(*) < 256 THEN CAST(COUNT(*) AS DOUBLE)
              ELSE {numer} / (MAX(__h) + 1) END AS approx_distinct_user_id
  FROM topk GROUP BY 1, 2
)
SELECT b.event_type, b.bucket_ts, b.n_value,
       COALESCE(k.approx_distinct_user_id, CAST(0 AS DOUBLE))
         AS approx_distinct_user_id
FROM base b LEFT JOIN kmv k USING (event_type, bucket_ts)"""


@q(
    "st12_rollup_distinct",
    _st12_sql(),
    cols=["event_type", "bucket_ts", "n_value", "approx_distinct_user_id"],
    fcols=["approx_distinct_user_id"],
)
def st12_rollup_distinct(spark, sf_dir):
    # incremental approx-distinct per bucket via MERGEABLE sketch
    # states. r11: flipped from rows-only to hash-exact by running the
    # store's distinct_method="kmv" (portable k-minimum-values arrays,
    # rule V) — the two-increment merged-then-compacted state must
    # finalize to the IDENTICAL estimate DuckDB computes one-shot from
    # raw events, which additionally proves merge==one-shot inside the
    # driver gate. HLL stays the store default (smaller state);
    # accuracy + merge==one-shot for both methods pytest-asserted.
    import tempfile

    from .store.rollup import RollupStore

    ev = _t(spark, sf_dir, "events")
    mid = ev.select(
        F.expr("percentile_approx(cast(ts as double), 0.5)")
    ).first()[0]
    store = RollupStore(
        spark, tempfile.mkdtemp(prefix="adi_rollup_kmv_") + "/t",
        keys=["event_type"], val_cols=["value"], bucket_seconds=7 * 86400,
        distinct_cols=["user_id"], distinct_method="kmv",
    )
    store.upsert_rollup(
        ev.filter(F.col("ts").cast("double") < mid), ts_col="ts", batch_id="b1"
    )
    store.upsert_rollup(
        ev.filter(F.col("ts").cast("double") >= mid), ts_col="ts", batch_id="b2"
    )
    store.compact_rollup()
    return store.read_rollup(finalize=True).select(
        "event_type", "bucket_ts", "n_value", "approx_distinct_user_id"
    )


def _hist_pctl_sql(p: float) -> str:
    """DuckDB twin of ``finalize_rollup``'s histogram percentile: the
    estimate is the RIGHT EDGE of the bin holding the ceil(n*p)-th
    smallest value (under/overflow clamp to lo/hi), which for a sorted
    per-group slot list is just ``slots[ceil(n*p)]`` — deterministic
    bin-edge math, no interpolation, so the mergeable-state estimator
    has an exact SQL rendering (lo=0, hi=1000, 100 bins, width 10)."""
    idx = f"CAST(CEIL(CAST(n_value AS DOUBLE) * {p}) AS BIGINT)"
    return (
        f"CASE WHEN n_value = 0 THEN NULL "
        f"WHEN slots[{idx}] = 0 THEN 0.0 "
        f"WHEN slots[{idx}] = 101 THEN 1000.0 "
        f"ELSE slots[{idx}] * 10.0 END"
    )


@q(
    "st14_rollup_percentiles",
    f"""SELECT event_type, bucket_ts, n_value,
       {_hist_pctl_sql(0.5)} AS p50_value,
       {_hist_pctl_sql(0.95)} AS p95_value,
       {_hist_pctl_sql(0.99)} AS p99_value
FROM (
  SELECT event_type, bucket_ts,
         COUNT(slot) AS n_value,
         LIST(slot ORDER BY slot) FILTER (WHERE slot IS NOT NULL) AS slots
  FROM (
    SELECT event_type,
           CAST(FLOOR(CAST(FLOOR(EPOCH(ts)) AS BIGINT) / 604800) * 604800
                AS BIGINT) AS bucket_ts,
           CASE WHEN v IS NULL THEN NULL
                WHEN v < 0.0 THEN 0
                WHEN v >= 1000.0 THEN 101
                ELSE CAST(FLOOR((v - 0.0) / 1000.0 * 100) AS INT) + 1 END AS slot
    FROM (SELECT event_type, ts, CAST(value AS DOUBLE) AS v FROM events)
  ) GROUP BY 1, 2
)""",
    cols=["event_type", "bucket_ts", "n_value",
          "p50_value", "p95_value", "p99_value"],
    fcols=["p50_value", "p95_value", "p99_value"],
)
def st14_rollup_percentiles(spark, sf_dir):
    """Continuous-aggregate percentiles via MERGEABLE fixed-bin
    histogram states (elementwise-add merge across increments). The
    estimator — right edge of the bin holding the ceil(n*p)-th value,
    clamped at the under/overflow edges — is deterministic bin math,
    so it IS SQL-expressible and VALUE-EXACT against a DuckDB
    recomputation from raw events (the merged two-increment state
    must equal the one-shot histogram). Bin-width error bounds vs
    exact percentiles stay pytest-asserted."""
    import tempfile

    from .store.rollup import RollupStore

    ev = _t(spark, sf_dir, "events")
    mid = ev.select(
        F.expr("percentile_approx(cast(ts as double), 0.5)")
    ).first()[0]
    store = RollupStore(
        spark, tempfile.mkdtemp(prefix="adi_rollup_hist_") + "/t",
        keys=["event_type"], val_cols=["value"], bucket_seconds=7 * 86400,
        hist_cols={"value": (0.0, 1000.0, 100)},
    )
    store.upsert_rollup(
        ev.filter(F.col("ts").cast("double") < mid), ts_col="ts", batch_id="b1"
    )
    store.upsert_rollup(
        ev.filter(F.col("ts").cast("double") >= mid), ts_col="ts", batch_id="b2"
    )
    store.compact_rollup()
    return store.read_rollup(finalize=True).select(
        "event_type", "bucket_ts", "n_value",
        "p50_value", "p95_value", "p99_value",
    )


@q(
    "st15_dedup_incremental",
    "SELECT MIN(CAST(doc_id AS BIGINT)) AS id FROM documents GROUP BY text",
    cols=["id"],
)
def st15_dedup_incremental(spark, sf_dir):
    """Incremental exact+minhash dedup: three arrival batches (split
    by doc_id range, so arrival order == id order) against a persisted
    signature store. The accumulated survivor set is VALUE-EXACT
    against batch exact dedup — first-arrival-wins over id-ordered
    batches is min(doc_id) per distinct text, which IS the DuckDB
    oracle (the store's xxhash64 content key only merges distinct
    texts at 2^-64). The minhash candidate-pair side stays
    pytest-asserted (tests/test_streaming_dedup.py: accumulated pairs
    == batch minhash pairs) since xxhash64 signatures have no DuckDB
    twin."""
    import tempfile

    from .streaming.dedup_incremental import IncrementalDedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    hi = docs.agg(F.max("doc_id")).first()[0] or 0
    cuts = (hi // 3, 2 * hi // 3)
    inc = IncrementalDedup(
        spark, tempfile.mkdtemp(prefix="adi_incdedup_") + "/s",
        id_col="doc_id", text_col="text", num_hashes=32, bands=8,
    )
    inc.process_batch(docs.filter(F.col("doc_id") <= cuts[0]), "b1")
    inc.process_batch(
        docs.filter(
            (F.col("doc_id") > cuts[0]) & (F.col("doc_id") <= cuts[1])
        ),
        "b2",
    )
    inc.process_batch(docs.filter(F.col("doc_id") > cuts[1]), "b3")
    return inc.survivors().select("id")


@q(
    "sim_ivf_index_topk",
    _ivf_sql(k=5, nprobe=8, n_centroids=16),
    cols=["query_id", "neighbor_id", "cosine", "rank"],
    fcols=["cosine"],
)
def sim_ivf_index(spark, sf_dir):
    # persisted-IVF serving path: build the partitioned index once,
    # query with partition-pruned list scans (recall + pruning
    # plan-asserted in tests/test_ivf_backfill.py). The persisted
    # fixed-point-mean k-means centroids round-trip float32 parquet
    # exactly, so the served values equal the in-memory IVF and carry
    # the same DuckDB oracle (hash-exact).
    import tempfile

    from .operators.similarity import build_ivf_index, ivf_index_topk

    emb = _t(spark, sf_dir, "embeddings")
    path = tempfile.mkdtemp(prefix="adi_ivf_") + "/idx"
    build_ivf_index(emb, path, n_centroids=16)
    queries = emb.filter(F.col("vec_id") < 3)
    return ivf_index_topk(spark, path, queries, k=5, nprobe=8)


@q(
    "sim_ivf_upsert_topk",
    _ivf_sql(
        k=5, nprobe=8, n_centroids=16,
        cents_from=("(SELECT vec_id, embedding FROM embeddings "
                    "WHERE vec_id <= (SELECT MAX(vec_id) // 2 FROM embeddings))"),
    ),
    cols=["query_id", "neighbor_id", "cosine", "rank"],
    fcols=["cosine"],
)
def sim_ivf_upsert(spark, sf_dir):
    # incremental IVF maintenance (r9): build the persisted index on
    # the head of the corpus, upsert the tail in two manifest-tracked
    # batches (one deliberately replayed — must be a no-op), serve
    # top-k through the partition-pruned read path. Batch-split
    # invariance, replay idempotence, last-writer-wins re-upsert, and
    # compaction equivalence are pytest-asserted
    # (tests/test_ivf_upsert.py). With the fixed-point k-means
    # quantizer frozen over the HEAD half, the manifest/LWW machinery
    # must be value-invisible — the served top-k equals a one-shot IVF
    # over the full corpus with head-half centroids, which IS the
    # DuckDB oracle (the protocol state-machine itself stays
    # pytest-verified).
    import tempfile

    from .operators.similarity import (
        build_ivf_index,
        ivf_index_topk,
        ivf_index_upsert,
    )

    emb = _t(spark, sf_dir, "embeddings")
    hi = emb.agg(F.max("vec_id")).first()[0] or 0
    path = tempfile.mkdtemp(prefix="adi_ivf_up_") + "/idx"
    build_ivf_index(
        emb.filter(F.col("vec_id") <= hi // 2), path, n_centroids=16
    )
    mid = hi // 2 + (hi - hi // 2) // 2
    ivf_index_upsert(
        spark, path,
        emb.filter((F.col("vec_id") > hi // 2) & (F.col("vec_id") <= mid)),
        batch_id="b1",
    )
    ivf_index_upsert(
        spark, path, emb.filter(F.col("vec_id") > mid), batch_id="b2"
    )
    ivf_index_upsert(  # replayed batch: exactly-once no-op
        spark, path, emb.filter(F.col("vec_id") > mid), batch_id="b2"
    )
    return ivf_index_topk(
        spark, path, emb.filter(F.col("vec_id") < 3), k=5, nprobe=8
    )


@q(
    "a6b_robust_stats",
    """SELECT okey, lnum,
       (price - __med) / NULLIF(__mad, 0.0) AS robust_z,
       LEAST(GREATEST(price, __qlo), __qhi) AS price_clipped
FROM (
  SELECT l_orderkey AS okey, l_linenumber AS lnum, l_extendedprice AS price,
         (SELECT QUANTILE_CONT(l_extendedprice, 0.5) FROM lineitem) AS __med,
         (SELECT QUANTILE_CONT(ABS(l_extendedprice -
             (SELECT QUANTILE_CONT(l_extendedprice, 0.5) FROM lineitem)), 0.5)
          FROM lineitem) AS __mad,
         (SELECT QUANTILE_CONT(l_extendedprice, 0.01) FROM lineitem) AS __qlo,
         (SELECT QUANTILE_CONT(l_extendedprice, 0.99) FROM lineitem) AS __qhi
  FROM lineitem
)""",
    cols=["okey", "lnum", "robust_z", "price_clipped"],
    fcols=["robust_z", "price_clipped"],
)
def a6b_robust(spark, sf_dir):
    from .operators.rolling import with_quantile_clip, with_robust_zscore

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("lnum"),
        F.col("l_extendedprice").alias("price"),
    )
    out = with_robust_zscore(li, "price", out="robust_z")
    out = with_quantile_clip(out, "price", 0.01, 0.99, out="price_clipped")
    return out.select("okey", "lnum", "robust_z", "price_clipped")


# bench.py and perfbench run this name; it is the same exact near-pair
# tier (an Arrow map over the broadcast corpus) under the same oracle
q("sim_near_pairs_arrow", _NEAR_PAIRS_SQL, cols=["id_a", "id_b", "cosine"],
  fcols=["cosine"])(sim_near_pairs)


@q("flagship_arrow", None)
def flagship_arrow(spark, sf_dir):
    # alternate PHYSICAL plan for the flagship: one applyInPandas per
    # series (O(n) C-speed rolling/ewm, single shuffle) — agrees with
    # the oracle-exact expression plan to float tolerance (test-
    # asserted); rows-only since pandas float paths are not bit-equal
    from .operators.indicators import build_market_features_arrow

    m = _market(spark, sf_dir)
    return build_market_features_arrow(
        m, keys=["suppkey"], ts_col="ts",
        order_cols=["ts", "okey", "lnum", "pkey"], id_cols=["okey", "lnum"],
    )


# --------------------------------------------------------------------------
# Corpus breadth: windows over an IRREGULAR event series, a TPC-H
# Q1-style pricing summary, and top-N-per-group.
# --------------------------------------------------------------------------

_EV_OVER = "OVER (PARTITION BY user_id ORDER BY ts, event_id)"


@q(
    "w_events_irregular",
    f"""SELECT user_id, event_id, ts,
        CASE WHEN COUNT(value) {_EV_OVER.replace(')', ' ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)')} >= 5
             THEN AVG(value) {_EV_OVER.replace(')', ' ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)')} END AS val_ma5,
        value - LAG(value, 1) {_EV_OVER} AS val_diff,
        LIST_REDUCE(LIST_FILTER(
            LIST(value) {_EV_OVER.replace(')', ' ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)')},
            v -> v IS NOT NULL), (acc, v) -> acc + v) AS val_cum
        FROM events""",
    cols=["user_id", "event_id", "ts", "val_ma5", "val_diff", "val_cum"],
    fcols=["val_ma5", "val_diff", "val_cum"],
)
def w_events_irregular(spark, sf_dir):
    """The window library on an IRREGULAR (non-bar) event-time series —
    frames are row-based, so nothing assumes a fixed cadence."""
    ev = _events(spark, sf_dir)
    w = series_window(["user_id"], ["ts", "event_id"])
    return ev.select(
        "user_id", "event_id", "ts",
        rolling_mean("value", w, 5).alias("val_ma5"),
        lag_diff("value", w, 1).alias("val_diff"),
        cum_sum("value", w).alias("val_cum"),
    )


@q(
    "tpch_q1_lite",
    """SELECT l_returnflag, l_linestatus,
       SUM(l_quantity) AS sum_qty,
       AVG(l_quantity) AS avg_qty,
       AVG(l_discount) AS avg_disc,
       COUNT(*) AS count_order
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       GROUP BY l_returnflag, l_linestatus""",
    cols=["l_returnflag", "l_linestatus", "sum_qty", "avg_qty", "avg_disc", "count_order"],
    fcols=["sum_qty", "avg_qty", "avg_disc"],
)
def tpch_q1_lite(spark, sf_dir):
    """TPC-H Q1 shape with order-free-exact measures (integer quantity
    sums; small-magnitude averages — the classic pricing summary's
    big float price sums would be summation-order-sensitive across
    engines, see the module doc)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@q(
    "o_top3_orders_per_cust",
    """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
         SELECT o_custkey, o_orderkey, o_totalprice,
                ROW_NUMBER() OVER (PARTITION BY o_custkey
                                   ORDER BY o_totalprice DESC, o_orderkey) AS rnk
         FROM orders)
       WHERE rnk <= 3""",
    cols=["o_custkey", "o_orderkey", "o_totalprice", "rnk"],
    fcols=["o_totalprice"],
)
def top3_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
    )


@q(
    "tpch_q5_lite",
    """SELECT n.n_name, SUM(l.l_quantity) AS sum_qty, COUNT(*) AS n_lines
       FROM lineitem l
       JOIN orders o ON l.l_orderkey = o.o_orderkey
       JOIN customer c ON o.o_custkey = c.c_custkey
       JOIN supplier s ON l.l_suppkey = s.s_suppkey
       JOIN nation n ON s.s_nationkey = n.n_nationkey
       JOIN region r ON n.n_regionkey = r.r_regionkey
       WHERE r.r_name = 'ASIA' AND c.c_nationkey = s.s_nationkey
       GROUP BY n.n_name""",
    cols=["n_name", "sum_qty", "n_lines"],
    fcols=["sum_qty"],
)
def tpch_q5_lite(spark, sf_dir):
    """TPC-H Q5 join shape (6-table star with the local-supplier
    correlation), order-free-exact measures; Catalyst broadcasts every
    dimension and reorders freely."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(n, s["s_nationkey"] == n["n_nationkey"])
        .join(r, n["n_regionkey"] == r["r_regionkey"])
        .filter((F.col("r_name") == "ASIA") & (F.col("c_nationkey") == F.col("s_nationkey")))
        .groupBy("n_name")
        .agg(F.sum("l_quantity").alias("sum_qty"), F.count("*").alias("n_lines"))
    )


@q(
    "e4_semi_subquery",
    """SELECT o_orderkey, o_orderdate FROM orders
       WHERE EXISTS (SELECT 1 FROM lineitem
                     WHERE l_orderkey = o_orderkey AND l_quantity > 45)""",
    cols=["o_orderkey", "o_orderdate"],
)
def e4_semi(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return o.join(
        li, o["o_orderkey"] == li["l_orderkey"], "left_semi"
    ).select("o_orderkey", "o_orderdate")


@q(
    "e5_except",
    """SELECT o_custkey FROM orders
       EXCEPT
       SELECT c_custkey FROM customer WHERE c_acctbal < 1000""",
    cols=["o_custkey"],
)
def e5_except(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select("o_custkey")
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") < 1000)
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    return o.subtract(c)  # EXCEPT (distinct) semantics


@q(
    "e6_intersect",
    """SELECT o_custkey FROM orders
       INTERSECT
       SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'""",
    cols=["o_custkey"],
)
def e6_intersect(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select("o_custkey")
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    return o.intersect(c)


@q(
    "text_wordcount_top20",
    f"""SELECT word, n FROM (
         SELECT word, COUNT(*) AS n
         FROM (SELECT UNNEST({_WORDS}) AS word FROM documents)
         GROUP BY word)
       ORDER BY n DESC, word LIMIT 20""",
    cols=["word", "n"],
)
def text_wordcount(spark, sf_dir):
    """The canonical distributed query over the corpus: explode
    normalized words, count, top-20 (deterministic tiebreak)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokenize("text")).alias("word"))
        .groupBy("word")
        .count()
        .withColumnRenamed("count", "n")
        .orderBy(F.col("n").desc(), "word")
        .limit(20)
    )


# --------------------------------------------------------------------------
# SQL registration layer (SURVEY §7.1, closed r8): the sql_* twins run
# the EXACT oracle SQL text through spark.sql over the registered temp
# views — the correctness gate then verifies Spark's SQL surface parses
# and executes the same ANSI text DuckDB does, value-exact. One twin
# per query family: window agg, hash agg, cumulative window, join,
# union, filter/projection.
# --------------------------------------------------------------------------

def _spark_dialect(sql: str) -> str:
    """Minimal mechanical dialect map for oracle texts that are ANSI
    except for two DuckDB spellings Spark rejects — each rewrite is
    purely syntactic (same semantics on both engines):

    - ``CAST(x AS VARCHAR)``            -> ``CAST(x AS STRING)``
    - ``fn(args IGNORE NULLS) OVER``    -> ``fn(args) IGNORE NULLS OVER``
      (DuckDB puts the null-treatment clause inside the call
      parentheses; Spark after them)

    Anything further (QUALIFY, list lambdas, EPOCH_MS, 'g' regexp
    flags) stays out of the SQL layer rather than growing a
    transpiler; those families remain DataFrame-API-only and their
    oracle texts DuckDB-only."""
    # Guard rails (r11 advisor finding + review hardening): string
    # literals (''-escape aware) are MASKED before any guard or
    # rewrite runs, so literal contents can neither trip the guards
    # nor be corrupted by the rewrites; the one remaining refusal is
    # parameterized VARCHAR(n) OUTSIDE literals, which has no
    # mechanical Spark spelling — hand-author a twin for that.
    literals: list[str] = []

    def _mask(m: "re.Match[str]") -> str:
        literals.append(m.group(0))
        return f"\x00{len(literals) - 1}\x00"

    masked = re.sub(r"'(?:[^']|'')*'", _mask, sql)
    if re.search(r"\bVARCHAR\s*\(", masked, flags=re.I):
        raise ValueError(
            "_spark_dialect cannot rewrite parameterized VARCHAR(n); "
            "hand-author a Spark twin for this query"
        )
    out = re.sub(r"\bAS\s+VARCHAR\b", "AS STRING", masked, flags=re.I)
    out = re.sub(
        r"\b(\w+)\(([^()]*?)\s+IGNORE\s+NULLS\)", r"\1(\2) IGNORE NULLS", out
    )
    return re.sub(r"\x00(\d+)\x00", lambda m: literals[int(m.group(1))], out)


def _sql_twin(src_name: str, text: str) -> None:
    """Register ``sql_<src_name>``: ``text`` executed through
    ``spark.sql`` over the ``register_views(sf_dir)`` temp views
    (:func:`.sql.run_sql`), checked against ``src_name``'s oracle."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_session_defaults(spark)
        return run_sql(spark, sf_dir, text)

    q(f"sql_{src_name}", REGISTRY[src_name][1])(fn)


#: every registry oracle whose text parses AND runs in Spark SQL
#: verbatim (probed exhaustively in r10) — the SQL surface now covers
#: the join, window/indicator, set-op, sampling, text, streaming-twin
#: and pipeline families, not just one representative per family
_SQL_VERBATIM_TWINS = (
    # pre-r10 set
    "w04_rolling_mean", "a1_imbalance", "w16_cum_drawdown",
    "j1_equi_join", "e1_union_agg", "p_filter_flags",
    "tpch_q1_lite", "o_top3_orders_per_cust", "agg_rollup", "agg_cube",
    # r10 widening: windows/indicators
    "w01_lag_diff_lead", "w02_pct_change", "w03_log_return",
    "w05_rolling_std", "w06_rolling_sum", "w07_rolling_min_max",
    "w10_rsi_sma", "w12_bollinger", "w13_vwap", "w14_atr", "w15_obv",
    "w19_stochastic", "w20_adx", "w21_mfi", "w22_volatility",
    "w23_roc", "w25_trend_flag", "w27_rolling_corr", "w28_xsec_rank",
    "w29_rolling_outliers",
    # aggregates / orderbook / analytics
    "a4_depth", "a6_global_zscore", "a7_book_from_deltas",
    "a8_contribution_share", "a9_hhi_concentration",
    "w24_batch_orderbook",
    # joins / set ops / shape ops
    "j2_spine_join", "e2_columnwise_extremes", "e3_anti_join",
    "e4_semi_subquery", "e5_except", "e6_intersect", "o7_unpivot",
    "o4_range_read", "p5_any_nonnull_mask", "tpch_q5_lite",
    # sampling / quality / labels
    "samp_split_groups", "f_psi_drift", "f_scaler_fit_transform",
    "q_constraints", "u5_labels", "u5b_triple_barrier",
    # text / streaming twins / sessionization
    "text_render_chat", "st7_session_window",
    "st15_dedup_incremental",
)

#: oracles that need only the mechanical dialect map above
_SQL_DIALECT_TWINS = (
    "a2_spread",                # LAST_VALUE(x IGNORE NULLS) position
    "w26_ffill",                # idem (the ffill primitive)
    "u6_sma_crossover_signals",  # idem inside the position fill
    "samp_bernoulli_strata",    # idem
    "samp_top_n_per_group",     # idem
)

for _src in _SQL_VERBATIM_TWINS:
    _sql_twin(_src, REGISTRY[_src][1])
for _src in _SQL_DIALECT_TWINS:
    _sql_twin(_src, _spark_dialect(REGISTRY[_src][1]))


# The EWM twin needs a Spark-dialect text (the DuckDB oracle leans on
# LIST_REDUCE for its sequential fold): ewm_spark_sql nests the SAME
# expression layers with_ewm_multi attaches for w09's two specs at its
# shared block size _K_W09 — one idx/block/pos staging, so the spark.sql
# plan has w09_ema's windows and sorts and is bit-identical to the
# DataFrame path (unrounded, pinned by tests/test_sql_layer.py) and
# oracle-exact by inheritance.

#: the two unrounded EMAs of w09_ema as ONE Spark SQL statement
_SQL_W09_EMAS = ewm_spark_sql(
    "SELECT * FROM market",
    [
        {"col": "close", "out": "ema_12", "span": 12},
        {"col": "close", "out": "ema_26", "span": 26},
    ],
    keys=[PART], order=ORDER, keep=_EMA_KEEP, k=_K_W09,
)
_sql_twin(
    "w09_ema",
    f"SELECT suppkey, ts, okey, lnum, {SR('ema_12')} AS ema_12, "
    f"{SR('ema_26')} AS ema_26 FROM ({_SQL_W09_EMAS})",
)


# Hand-authored Spark-dialect twins (r10) for the families whose
# DuckDB oracle texts are structurally non-portable (QUALIFY, UNNEST /
# GENERATE_SERIES, EPOCH/EPOCH_MS, ASOF JOIN, 'g' regexp flags): each
# sql_* below is a Spark SQL statement expressing the SAME semantics
# (verified value-exact against the unchanged DuckDB oracle), closing
# the r9 verdict's "joins/dedup/text families have no SQL twin" gap.
# Dialect mapping used: QUALIFY -> ranked subquery; UNNEST(
# GENERATE_SERIES) -> EXPLODE(SEQUENCE); EPOCH(ts) -> CAST(ts AS
# DOUBLE); EPOCH_MS(s*1000) -> TIMESTAMP_SECONDS(s); DuckDB's 'g'
# regexp flag -> Spark regexp_replace (global by default); ASOF LEFT
# JOIN -> range LEFT JOIN + ROW_NUMBER() = 1 on the latest quote.

_SQL_SPARK_NORM = "TRIM(REGEXP_REPLACE(LOWER({c}), '\\\\s+', ' '))"

_SQL_SPARK_TEXTS: dict[str, str] = {
    "dedup_exact": f"""
SELECT doc_id, snippet FROM (
  SELECT doc_id, __snip AS snippet,
         ROW_NUMBER() OVER (
           PARTITION BY {_SQL_SPARK_NORM.format(c='__snip')}
           ORDER BY doc_id) AS __rn
  FROM (SELECT doc_id, SUBSTRING(text, 1, 30) AS __snip FROM documents)
) WHERE __rn = 1""",
    "text_wordcount_top20": f"""
SELECT word, n FROM (
  SELECT word, COUNT(*) AS n
  FROM (SELECT EXPLODE(SPLIT({_SQL_SPARK_NORM.format(c='text')}, ' ')) AS word
        FROM documents)
  GROUP BY word)
ORDER BY n DESC, word LIMIT 20""",
    "j4_find_gaps": """
SELECT user_id, expected_ts FROM (
  SELECT u.user_id, g.expected_ts
  FROM (SELECT DISTINCT user_id FROM events) u
  CROSS JOIN (SELECT EXPLODE(SEQUENCE(TIMESTAMP '2024-01-01',
                              TIMESTAMP '2024-01-30', INTERVAL 1 DAY))
                AS expected_ts) g
  WHERE NOT EXISTS (
    SELECT 1 FROM (
      SELECT DISTINCT user_id,
             TIMESTAMP_SECONDS(CAST(FLOOR(CAST(ts AS DOUBLE)) AS BIGINT)
               - CAST(FLOOR(CAST(ts AS DOUBLE)) AS BIGINT) % 86400) AS d
      FROM events) e
    WHERE e.user_id = u.user_id AND e.d = g.expected_ts))""",
    "e7_funnel": """
SELECT user_id, FLOOR((t_step_1) * 1e6 + 0.5) / 1e6 AS t_step_1,
       FLOOR((t_step_2) * 1e6 + 0.5) / 1e6 AS t_step_2,
       FLOOR((t_step_3) * 1e6 + 0.5) / 1e6 AS t_step_3, steps_completed
FROM (WITH s1 AS (SELECT user_id, MIN(CAST(ts AS DOUBLE)) AS t_step_1
              FROM events WHERE event_type = 'view' GROUP BY 1),
 s2 AS (SELECT e.user_id, MIN(CAST(e.ts AS DOUBLE)) AS t_step_2
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND CAST(e.ts AS DOUBLE) > s1.t_step_1
        GROUP BY 1),
 s3 AS (SELECT e.user_id, MIN(CAST(e.ts AS DOUBLE)) AS t_step_3
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND CAST(e.ts AS DOUBLE) > s2.t_step_2
        GROUP BY 1)
SELECT s1.user_id, t_step_1, t_step_2, t_step_3,
       CAST(CASE WHEN t_step_1 IS NOT NULL THEN 1 ELSE 0 END
            + CASE WHEN t_step_2 IS NOT NULL THEN 1 ELSE 0 END
            + CASE WHEN t_step_3 IS NOT NULL THEN 1 ELSE 0 END AS INT)
         AS steps_completed
FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id))""",
    # the ASOF backward join against the weekly-max quote frame is,
    # for THIS pairing, an exact week-floor EQUI-join: the quote frame
    # is built from the same rows, so the probe row's own week bucket
    # always exists and is always the latest bucket <= its ts (the
    # j5_range_join bucketed-rewrite idea applied to as-of). A ranked
    # range-join rewrite is NOT row-preserving here because the
    # synthetic (suppkey, okey, lnum) keys carry duplicates.
    "j3_asof_join": f"""
SELECT suppkey, ts, okey, lnum,
       FLOOR((weekly_max_asof) * 1e6 + 0.5) / 1e6 AS weekly_max_asof
FROM (
  SELECT m.suppkey, m.ts, m.okey, m.lnum, w.weekly_max AS weekly_max_asof
  FROM ({MARKET_SQL}) m
  LEFT JOIN (
    SELECT suppkey,
           TIMESTAMP_SECONDS(__e - __e % 604800) AS ts,
           MAX(close) AS weekly_max
    FROM (SELECT suppkey,
                 CAST(FLOOR(CAST(ts AS DOUBLE)) AS BIGINT) AS __e, close
          FROM ({MARKET_SQL}))
    GROUP BY 1, 2) w
    ON m.suppkey = w.suppkey
   AND w.ts = TIMESTAMP_SECONDS(
         CAST(FLOOR(CAST(m.ts AS DOUBLE)) AS BIGINT)
         - CAST(FLOOR(CAST(m.ts AS DOUBLE)) AS BIGINT) % 604800))""",
}


# r11 twins for the new portable-hash families. Dialect mapping:
# STRPOS(s, c) -> LOCATE(c, s); `//` -> DIV; XOR(a, b) -> a ^ b;
# UNNEST(list) -> EXPLODE; STRING_SPLIT -> SPLIT; LEN -> SIZE; DuckDB
# WITH RECURSIVE runs in Spark 4 as-is (probed; the greedy pack fold
# recurses once per row of the deepest shard — ~63 at sf0.01, under
# Spark's default cteRecursionLevelLimit of 100, and the twin layer
# only runs at the correctness-gate SFs).
_SQL_SPARK_SIMHASH_NIBS = ", ".join(
    f"LOCATE(SUBSTR(h, {j + 1}, 1), '0123456789abcdef') - 1 AS n{j}"
    for j in range(16)
)
_SQL_SPARK_SIMHASH_VOTES = ", ".join(
    f"SUM(CASE WHEN (n{b // 4} DIV {1 << (b % 4)}) % 2 = 1 "
    f"THEN 1 ELSE -1 END) AS v{b}"
    for b in range(64)
)
_SQL_SPARK_PACK_SHARD = " + ".join(
    f"(LOCATE(SUBSTR(k, {9 + j}, 1), '0123456789abcdef') - 1) * {16 ** (3 - j)}"
    for j in range(4)
)

_SQL_SPARK_TEXTS["dedup_simhash_pairs"] = f"""
WITH tok AS (SELECT doc_id,
                    EXPLODE(SPLIT({_SQL_SPARK_NORM.format(c='text')}, ' ')) AS t
             FROM documents),
hs AS (SELECT doc_id, MD5(t) AS h FROM tok),
nib AS (SELECT doc_id, {_SQL_SPARK_SIMHASH_NIBS} FROM hs),
votes AS (SELECT doc_id, {_SQL_SPARK_SIMHASH_VOTES} FROM nib GROUP BY doc_id),
fp AS (SELECT doc_id, ({_SIMHASH_FP}) AS sh FROM votes),
blk AS (SELECT doc_id, sh, sh DIV {1 << 52} AS block FROM fp)
SELECT id_a, id_b, hamming FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(BIT_COUNT(a.sh ^ b.sh) AS BIGINT) AS hamming
  FROM blk a JOIN blk b ON a.block = b.block AND a.doc_id < b.doc_id)
WHERE hamming <= 6"""

_SQL_SPARK_TEXTS["samp_pack_sequences"] = f"""
WITH RECURSIVE staged AS (
  SELECT doc_id, SIZE(SPLIT({_SQL_SPARK_NORM.format(c='text')}, ' ')) AS n_tokens,
         MD5(CONCAT('s42:', CAST(doc_id AS STRING))) AS k
  FROM documents),
shd AS (SELECT doc_id, n_tokens, k,
               CAST(({_SQL_SPARK_PACK_SHARD}) % 8 AS INT) AS shard
        FROM staged),
ordd AS (SELECT doc_id, n_tokens, shard,
                ROW_NUMBER() OVER (PARTITION BY shard
                                   ORDER BY k, doc_id) AS rn
         FROM shd),
walk(shard, rn, doc_id, n_tokens, bin, cur) AS (
  SELECT shard, rn, doc_id, n_tokens, CAST(0 AS BIGINT), n_tokens
  FROM ordd WHERE rn = 1
  UNION ALL
  SELECT o.shard, o.rn, o.doc_id, o.n_tokens,
         CASE WHEN w.cur + o.n_tokens > 512 THEN w.bin + 1 ELSE w.bin END,
         CASE WHEN w.cur + o.n_tokens > 512 THEN o.n_tokens
              ELSE w.cur + o.n_tokens END
  FROM walk w JOIN ordd o ON o.shard = w.shard AND o.rn = w.rn + 1)
SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens, shard, bin
FROM walk ORDER BY shard, bin, doc_id"""


# r11-continuation twins for the portable sketch family: the only
# dialect split is the hex-prefix parse (DuckDB '0x…'::BIGINT vs Spark
# CONV) plus EPOCH(ts) -> CAST(ts AS DOUBLE); both texts are generated
# from the same builders, so the twin and the oracle cannot drift.
# The registered oracle text carries the @q fcols rounding projection,
# so the Spark-dialect text applies the same SR() rounding explicitly
# (the sql_w09_ema precedent).
_SQL_SPARK_TEXTS["agg_approx"] = (
    f"SELECT l_returnflag, {SR('approx_orders')} AS approx_orders, "
    f"{SR('approx_median_price')} AS approx_median_price "
    f"FROM ({_agg_approx_sql(dialect='spark')})"
)
_SQL_SPARK_TEXTS["st12_rollup_distinct"] = (
    f"SELECT event_type, bucket_ts, n_value, "
    f"{SR('approx_distinct_user_id')} AS approx_distinct_user_id "
    f"FROM ({_st12_sql(dialect='spark')})"
)


for _src, _text in _SQL_SPARK_TEXTS.items():
    _sql_twin(_src, _text)
