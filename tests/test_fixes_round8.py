"""Round-8 ADVICE fixes, pinned by behavior:

1. strategy/backtest carry cores order tied timestamps
   deterministically (sort_cols passthrough + stable sort) and the
   chunked strategy equals the batch operator pair on non-unique ts.
2. all five stateful stream operators buffer a group's micro-batch
   chunks and sort ONCE, so out-of-order Arrow chunking cannot feed
   bars out of time order.
3. IncrementalDedup._read propagates real read failures instead of
   silently resetting the store; a missing path still means "new
   store".
4. Bands-before-keys append ordering: a crash between the two appends
   (orphan band rows, no keys marker) replays cleanly — the batch is
   NOT treated as seen, and the duplicated band rows produce no
   duplicate pairs.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F, types as T

from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.indicators import (
    MARKET_FEATURES,
)
from algorithmic_data_ingestion_for_cryptocurrencies_spark.streaming import (
    backtest_stream,
    stateful,
    strategy_stream,
)

FAST, SLOW, FEE_BPS = 5, 15, 10.0


@pytest.fixture(scope="module")
def tied_ts_pdf():
    """Two bars per timestamp, tiebreak column k — ts alone is NOT
    unique, mirroring the market fixture's (ts, okey, lnum, pkey)."""
    rng = random.Random(41)
    rows, px = [], 100.0
    for t in range(140):
        ts = pd.Timestamp("2024-03-01") + pd.Timedelta(minutes=t)
        for k in (1, 2):
            px *= 1 + rng.uniform(-0.02, 0.021)
            rows.append((ts, k, px))
    return pd.DataFrame(rows, columns=["ts", "k", "close"])


def test_chunked_strategy_tied_ts_deterministic_and_batch_exact(
    spark, tied_ts_pdf
):
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.backtest import (
        backtest_positions,
    )
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.signals import (
        with_sma_crossover_signals,
    )
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.streaming._carry import (
        chunked_batch,
    )
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.streaming.strategy_stream import (
        sma_strategy_op,
    )

    df = spark.createDataFrame(tied_ts_pdf).withColumn("sym", F.lit("X"))
    sig = with_sma_crossover_signals(
        df, "close", FAST, SLOW, keys=["sym"], order=["ts", "k"]
    )
    expected = backtest_positions(
        sig, keys=["sym"], order=["ts", "k"],
        price_col="close", position_col="position", fee_bps=FEE_BPS,
    ).orderBy("ts", "k").toPandas()

    op = sma_strategy_op(
        fast=FAST, slow=SLOW, fee_bps=FEE_BPS, sort_cols=["ts", "k"]
    )
    outs = [chunked_batch(op, tied_ts_pdf, 37) for _ in range(2)]
    # run-to-run determinism on tied bars
    pd.testing.assert_frame_equal(outs[0], outs[1])
    for col in ("position", "trade", "strategy_ret", "equity", "drawdown"):
        np.testing.assert_allclose(
            outs[0][col].astype(float).to_numpy(),
            expected[col].astype(float).to_numpy(),
            rtol=1e-12, atol=1e-15, err_msg=col,
        )


class _FakeState:
    """Minimal GroupState stand-in for driving the stateful fns
    directly (exists/get/update are all applyInPandasWithState uses)."""

    def __init__(self):
        self.exists = False
        self._val = None

    @property
    def get(self):
        return self._val

    def update(self, val):
        self.exists = True
        self._val = val


class _CaptureGroupFn:
    """Stand-in streaming frame: ``apply_stateful_*`` hands it the
    per-group function it would run under applyInPandasWithState, so
    the test drives each operator's real function."""

    schema = T.StructType([
        T.StructField("sym", T.StringType()),
        T.StructField("position", T.LongType()),
    ])

    def groupBy(self, *keys):
        return self

    def applyInPandasWithState(self, fn, **_):
        return fn


_CURVE = ["trade", "strategy_ret", "equity", "drawdown"]
# (apply fn, kwargs, value columns); operators taking ``sort_cols`` run
# on the tied-ts frame with ``k`` as tiebreak, the ts-ordered ones on
# its unique-ts half
_REORDER_CASES = {
    "rolling_mean": (stateful.apply_stateful_rolling_mean,
                     dict(value_col="close", window=5), ["rolling_mean"]),
    "ewm": (stateful.apply_stateful_ewm,
            dict(value_col="close", span=12), ["ewm"]),
    "market_features": (stateful.apply_stateful_market_features,
                        dict(ts_col="ts"), list(MARKET_FEATURES)),
    "backtest": (backtest_stream.apply_stateful_backtest,
                 dict(fee_bps=FEE_BPS, sort_cols=["ts", "k"]), _CURVE),
    "sma_strategy": (strategy_stream.apply_stateful_sma_strategy,
                     dict(fast=FAST, slow=SLOW, fee_bps=FEE_BPS,
                          sort_cols=["ts", "k"]),
                     ["entry_sig", "exit_sig", "position", *_CURVE]),
}


@pytest.mark.parametrize("op", list(_REORDER_CASES))
def test_stateful_reorders_arrow_chunks(tied_ts_pdf, op):
    """Feeding a group's micro-batch as two chunks in REVERSED order
    must equal the single-chunk in-order run: every operator buffers,
    concats and sorts once before the carry. An empty micro-batch
    emits nothing and leaves the state unset."""
    apply, kw, cols = _REORDER_CASES[op]
    fn = apply(_CaptureGroupFn(), keys=["sym"], **kw)

    pdf = tied_ts_pdf if "sort_cols" in kw else tied_ts_pdf[tied_ts_pdf["k"] == 1]
    pdf = pdf.sort_values(["ts", "k"], kind="stable").reset_index(drop=True)
    pdf = pdf.assign(
        high=pdf["close"] * 1.01, low=pdf["close"] * 0.99,
        volume=1.0 + np.arange(len(pdf)) % 5,
        position=(np.arange(len(pdf)) // 7) % 2,  # some trades
        sym="X",
    )

    def run(chunks, state):
        return pd.concat(fn(("X",), iter(chunks), state), ignore_index=True)

    ordered_state, scrambled_state = _FakeState(), _FakeState()
    ordered = run([pdf], ordered_state)
    mid = len(pdf) // 2
    scrambled = run([pdf.iloc[mid:], pdf.iloc[:mid]], scrambled_state)
    assert len(scrambled) == len(ordered) == len(pdf)
    assert (scrambled["ts"].to_numpy() == ordered["ts"].to_numpy()).all()
    for col in cols:
        np.testing.assert_allclose(
            scrambled[col].astype(float).to_numpy(),
            ordered[col].astype(float).to_numpy(),
            rtol=1e-12, err_msg=col,
        )
    assert scrambled_state.exists
    np.testing.assert_equal(scrambled_state.get, ordered_state.get)

    # empty micro-batch: no emission, state untouched
    s = _FakeState()
    assert list(fn(("X",), iter([pdf.iloc[:0]]), s)) == []
    assert not s.exists


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _doc_rows(n=30):
    boiler = "the quarterly report shows strong growth in all regions "
    rows = []
    for i in range(n):
        if i % 5 == 0:
            rows.append((i, boiler * 3))
        elif i % 5 == 1:
            rows.append((i, boiler * 3 + f"footnote variant {i} here"))
        else:
            rows.append(
                (i, f"unique doc {i} " + " ".join(f"t{i}w{j}" for j in range(25)))
            )
    return rows


def test_incremental_dedup_read_failure_propagates(spark, tmp_path):
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.streaming.dedup_incremental import (
        IncrementalDedup,
    )

    inc = IncrementalDedup(
        spark, str(tmp_path / "store"), id_col="doc_id", text_col="text",
        num_hashes=32, bands=8,
    )
    # missing path: a brand-new store reads as empty, no error
    assert inc.keys().count() == 0

    # corrupt keys table: must RAISE, not silently reset to empty
    keys_dir = tmp_path / "store" / "keys"
    keys_dir.mkdir(parents=True)
    (keys_dir / "part-corrupt.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception) as ei:
        inc.keys().count()
    assert "PATH_NOT_FOUND" not in str(ei.value)


def test_incremental_dedup_orphan_bands_replay(spark, tmp_path):
    """Crash between the bands append and the keys append: the store
    holds orphan band rows for a batch id that keys/ never committed.
    Reprocessing that batch must run fully (not replay-skip), and the
    duplicated band rows must not duplicate pairs."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.dedup import (
        banded_buckets,
        exact_dedup,
        minhash_dedup_pairs,
        minhash_signatures,
    )
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.streaming.dedup_incremental import (
        IncrementalDedup,
    )

    docs = _mk_docs(spark, _doc_rows(30))
    kw = dict(num_hashes=32, bands=8, n=3, threshold=0.5)
    inc = IncrementalDedup(
        spark, str(tmp_path / "store"), id_col="doc_id", text_col="text", **kw
    )
    b1 = docs.filter(F.col("doc_id") < 15)
    b2 = docs.filter(F.col("doc_id") >= 15)
    _, p1 = inc.process_batch(b1, "b1")
    pairs = {(r.id_a, r.id_b) for r in p1.collect()}

    # simulate the crash: append b2's band rows WITHOUT the keys marker
    b2_new = exact_dedup(
        b2.select(
            F.col("doc_id").alias("id"),
            F.xxhash64("text").alias("key"),
            F.col("text").alias("__text"),
        ),
        ["key"], tiebreak_col="id",
    ).join(inc.keys().select("key"), "key", "left_anti")
    sig = minhash_signatures(
        b2_new.select("id", "__text"), id_col="id", text_col="__text",
        num_hashes=32, n=3,
    )
    banded_buckets(sig, num_hashes=32, bands=8).withColumn(
        "__batch_id", F.lit("b2")
    ).write.mode("append").parquet(str(tmp_path / "store" / "bands"))

    # replay of b2 is NOT skipped (keys marker absent)...
    assert "b2" not in inc.seen_batch_ids()
    u2, p2 = inc.process_batch(b2, "b2")
    assert u2.count() > 0
    pairs |= {(r.id_a, r.id_b) for r in p2.collect()}

    # ...and the accumulated + store-recomputed pair sets still equal
    # the batch pipeline, orphan band duplicates notwithstanding
    deduped = exact_dedup(
        docs.withColumn("key", F.xxhash64("text")), ["key"],
        tiebreak_col="doc_id",
    ).select("doc_id", "text")
    want = {
        (r.id_a, r.id_b)
        for r in minhash_dedup_pairs(
            deduped, id_col="doc_id", text_col="text", **kw
        ).collect()
    }
    assert pairs == want and want
    got_store = [
        (r.id_a, r.id_b) for r in inc.all_pairs_from_store().collect()
    ]
    assert set(got_store) == want
    assert len(got_store) == len(set(got_store)), "duplicate pair emitted"
