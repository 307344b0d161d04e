"""Order-book microstructure operators (SURVEY §2 A1-A4, W24, O3).

Parity source: ``/root/reference/algo-data-ingestion/app/features/
processors/orderbook_features.py``. Input is the long-format snapshot
table ``[ts, price, amount, side('bid'|'ask'), ...]``.

All operators are a single groupBy/pivot or ranked-window stage —
one shuffle keyed by the snapshot timestamp (plus side for depth),
which partitions evenly at scale because ts cardinality grows with
data volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .rolling import ffill, series_window


def imbalance_series(df: DataFrame, *, ts_col: str = "ts",
                     side_col: str = "side", amount_col: str = "amount",
                     keys=()) -> DataFrame:
    """Per-(keys, ts) (bid_vol - ask_vol) / (bid_vol + ask_vol), 0.0
    when the book is empty — ``orderbook_features.py:94-118`` (pivot +
    kernel).

    Spark shape: conditional sums in one aggregate (no pivot needed),
    map-side partial aggregation before the shuffle.
    """
    bid = F.sum(F.when(F.col(side_col) == "bid", F.col(amount_col)).otherwise(F.lit(0.0)))
    ask = F.sum(F.when(F.col(side_col) == "ask", F.col(amount_col)).otherwise(F.lit(0.0)))
    agg = df.groupBy(*list(keys), ts_col).agg(bid.alias("bid_vol"), ask.alias("ask_vol"))
    total = F.col("bid_vol") + F.col("ask_vol")
    return agg.withColumn(
        "imbalance",
        F.when(total != 0, (F.col("bid_vol") - F.col("ask_vol")) / total).otherwise(F.lit(0.0)),
    )


def spread_series(df: DataFrame, *, ts_col: str = "ts", side_col: str = "side",
                  price_col: str = "price", keys=()) -> DataFrame:
    """Per-ts best-ask minus best-bid, ask forward-filled onto bid
    timestamps, missing spread -> 0 — ``orderbook_features.py:121-137``
    (groupby max/min + reindex-ffill + fillna(0)).

    ``keys`` (symbol, exchange, ...) partition the forward-fill window;
    without them the ffill serializes through one task, so pass them
    for anything beyond a single-series frame.
    """
    keys = list(keys)
    best = df.groupBy(*keys, ts_col).agg(
        F.max(F.when(F.col(side_col) == "bid", F.col(price_col))).alias("best_bid"),
        F.min(F.when(F.col(side_col) == "ask", F.col(price_col))).alias("best_ask"),
    )
    w = series_window(keys, ts_col)
    best = best.withColumn("best_ask_ff", ffill("best_ask", w))
    out = best.filter(F.col("best_bid").isNotNull()).withColumn(
        "spread", F.coalesce(F.col("best_ask_ff") - F.col("best_bid"), F.lit(0.0))
    )
    return out.select(
        *keys, ts_col, "best_bid", F.col("best_ask_ff").alias("best_ask"), "spread"
    )


#: rows per (keys, ts) group at or above which :func:`depth_series`
#: runs the prune tier instead of the fused single-exchange window tier
#: (interleaved min-of-N A/B, r6/r7: 238 rows/group → window wins ~10%;
#: 714 → prune wins ~20%; 2400 → prune wins ~13%)
AUTO_PRUNE_MIN_ROWS_PER_GROUP = 500.0


def depth_series(df: DataFrame, n_levels: int = 5, *, ts_col: str = "ts",
                 side_col: str = "side", price_col: str = "price",
                 amount_col: str = "amount", keys=(),
                 tiebreak_cols=(),
                 rows_per_group: float | None = None) -> DataFrame:
    """Top-N levels per (keys, ts, side) pivoted to ``bid_depth_i`` /
    ``ask_depth_i`` amount columns — ``orderbook_features.py:140-157``.
    Levels rank by price (bids descending, asks ascending), then
    ``tiebreak_cols``, then amount, so tied prices resolve
    deterministically.

    ``rows_per_group`` — the expected rows per (keys, ts) group — picks
    one of two physical tiers, both producing identical rows
    (pytest-asserted):

    - **window** (below ``AUTO_PRUNE_MIN_ROWS_PER_GROUP``): ONE
      exchange on (keys, ts) and one Window operator ordered side-major
      ('ask' < 'bid', so an ask's level is its row_number and a bid's
      is row_number − n_ask, with n_ask an unbounded-frame sum over the
      same spec); the conditional-max pivot reuses the window's
      partitioning, so rank, filter and pivot share the post-shuffle
      stage. The partition count is pinned to
      ``spark.sql.shuffle.partitions`` so AQE does not byte-coalesce
      this CPU-heavy, small-bytes stage.
    - **prune** (at or above it): a per-(keys, ts, side) rank whose
      literal ``row_number() <= n`` filter becomes a partial
      WindowGroupLimit below the exchange, so each scan task ships at
      most ~2n rows per group instead of the whole book, at the price
      of a second, tiny exchange for the pivot.

    The crossover is measured (r6/r7, see the constant; min-of-5 r6:
    window 0.88 s vs prune 1.64 s at sf0.1 ~24 rows/group, 3.76 s vs
    3.48 s at sf3 ~720 rows/group). Three other shapes — a collect/
    sort_array object aggregate, salted partial top-k, and a per-side
    window over a (keys, ts) repartition — were measured in r5–r11 and
    lost or tied at every scale (artifacts/r05, r08, r11).

    Without a hint, ONE count + HLL-distinct job over the group-key
    columns estimates it at plan-build time (warned: it makes the call
    eager; hot-path callers pass the hint — a parquet footer row count
    over a known group cardinality is enough, see the a4 registry
    query). A streaming frame cannot run that job and resolves to the
    window tier.
    """
    keys = list(keys)
    if rows_per_group is None and df.isStreaming:
        rows_per_group = 0.0
    if rows_per_group is None:
        import warnings

        warnings.warn(
            "depth_series() without rows_per_group runs an eager "
            "count+HLL estimate job at plan-build time; pass "
            "rows_per_group= to keep plan construction lazy",
            RuntimeWarning,
            stacklevel=2,
        )
        est = df.select(
            F.count(F.lit(1)).alias("__n"),
            F.approx_count_distinct(
                F.xxhash64(*[F.col(c) for c in (*keys, ts_col)])
            ).alias("__g"),
        ).first()
        rows_per_group = est["__n"] / max(est["__g"], 1) if est["__n"] else 0.0
    sort_key = F.when(
        F.col(side_col) == "bid", -F.col(price_col)
    ).otherwise(F.col(price_col))
    order = [sort_key, *[F.col(c) for c in tiebreak_cols], F.col(amount_col)]
    df = df.filter(F.col(side_col).isin("bid", "ask"))

    if rows_per_group >= AUTO_PRUNE_MIN_ROWS_PER_GROUP:
        w = Window.partitionBy(ts_col, *keys, side_col).orderBy(*order)
        ranked = df.withColumn("__lvl", F.row_number().over(w))
    else:
        n_shuffle = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
        df = df.repartition(n_shuffle, *[F.col(c) for c in (*keys, ts_col)])
        # partition keys listed TS-FIRST: the window's sort radix-compares
        # an 8-byte prefix of the leading column only, and a
        # high-cardinality ts resolves most comparisons there (~11% off
        # the query at sf3, r6; identical rows either way)
        w_rn = Window.partitionBy(ts_col, *keys).orderBy(F.col(side_col), *order)
        # same partitioning AND ordering as w_rn (frame differs), so rank
        # and count evaluate in ONE Window operator pass
        n_ask = F.sum(F.when(F.col(side_col) == "ask", 1).otherwise(0)).over(
            w_rn.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        lvl = F.row_number().over(w_rn) - F.when(
            F.col(side_col) == "bid", n_ask
        ).otherwise(F.lit(0))
        ranked = df.withColumn("__lvl", lvl)
    ranked = ranked.filter(F.col("__lvl") <= n_levels)
    return ranked.groupBy(*keys, ts_col).agg(*[
        F.max(
            F.when(
                (F.col(side_col) == side) & (F.col("__lvl") == i),
                F.col(amount_col),
            )
        ).alias(f"{side}_depth_{i}")
        for side in ("bid", "ask")
        for i in range(1, n_levels + 1)
    ])


def batch_orderbook(df: DataFrame, *, ts_col: str = "ts", side_col: str = "side",
                    price_col: str = "price", amount_col: str = "amount",
                    keys=()) -> DataFrame:
    """Fused imbalance + spread per (keys, ts) — ``orderbook_features.py:163-185``.

    Deviation note: the reference pairs prices with pivot aggfunc
    'first' (input-order dependent); we use best bid (max) / best ask
    (min), the economically meaningful and deterministic choice.
    Fusion is free: both aggregates share one groupBy stage.
    """
    agg = df.groupBy(*list(keys), ts_col).agg(
        F.sum(F.when(F.col(side_col) == "bid", F.col(amount_col)).otherwise(F.lit(0.0))).alias("bid_vol"),
        F.sum(F.when(F.col(side_col) == "ask", F.col(amount_col)).otherwise(F.lit(0.0))).alias("ask_vol"),
        F.max(F.when(F.col(side_col) == "bid", F.col(price_col))).alias("best_bid"),
        F.min(F.when(F.col(side_col) == "ask", F.col(price_col))).alias("best_ask"),
    )
    total = F.col("bid_vol") + F.col("ask_vol")
    return agg.select(
        *list(keys),
        ts_col,
        F.when(total != 0, (F.col("bid_vol") - F.col("ask_vol")) / total)
         .otherwise(F.lit(0.0)).alias("imbalance"),
        (F.col("best_ask") - F.col("best_bid")).alias("spread"),
    )


def book_state_at(
    deltas: DataFrame,
    as_of,
    *,
    ts_col: str = "ts",
    side_col: str = "side",
    price_col: str = "price",
    amount_col: str = "amount",
    keys=(),
    tiebreak_cols=(),
) -> DataFrame:
    """Reconstruct the live order book AT a point in time from an
    incremental L2 delta feed — the production exchange format the
    reference never handles (its adapters fetch full snapshots;
    ``orderbook_features.py`` assumes long-format snapshots). Each
    delta row sets a (keys, side, price) level's absolute size;
    ``amount = 0`` removes the level. The book at ``as_of`` is, per
    level, the LAST delta at or before it, zeros dropped.

    Shape: filter to ``ts <= as_of`` (pushed to the scan), one
    ``max_by`` aggregate keyed on the level — level cardinality is
    bounded (price grid), so this is a small-group hash aggregate,
    never a window over history. Compose with :func:`depth_series` on
    the result for top-N features of the reconstructed book."""
    keys = list(keys)
    # deterministic last-write-wins: order the max_by key by (ts,
    # tiebreaks) as a struct — struct comparison is lexicographic
    ord_key = F.struct(
        F.col(ts_col), *[F.col(c) for c in tiebreak_cols]
    )
    state = (
        deltas.filter(F.col(ts_col) <= F.lit(as_of))
        .groupBy(*keys, side_col, price_col)
        .agg(
            F.max_by(F.col(amount_col), ord_key).alias(amount_col),
            F.max(F.col(ts_col)).alias("last_update_ts"),
        )
    )
    return state.filter(F.col(amount_col) != 0)
