"""Regression tests for the round-1 defects (VERDICT.md "What's
wrong" #1-#7): EWM long-series stability, MinHash seed independence,
SimHash plan build, lang-id plan build, exact-dedup tie handling,
as-of join column collision. Every previously-untested module gets at
least a behavior-level test here.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators import dedup, text
from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.asof import asof_join
from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.ewm import (
    with_ewm,
    with_ewm_exact,
)
from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.indicators import (
    with_rsi_wilder,
)


@pytest.fixture(scope="module")
def long_series_pdf():
    rng = np.random.default_rng(7)
    n = 60_000  # sf0.01 oracle scale; >> 4.2k, where the round-1
    # closed form went Inf/NaN
    return pd.DataFrame(
        {"k": "a", "i": np.arange(n), "x": 100 + np.cumsum(rng.normal(0, 1, n))}
    )


@pytest.mark.parametrize("span,alpha", [(12, None), (26, None), (None, 1 / 14.0)])
def test_ewm_long_series_matches_pandas(spark, long_series_pdf, span, alpha):
    sdf = spark.createDataFrame(long_series_pdf)
    res = (
        with_ewm(sdf, "x", "y", keys=["k"], order="i", span=span, alpha=alpha)
        .orderBy("i")
        .toPandas()
    )
    exp = long_series_pdf["x"].ewm(
        **({"span": span} if span else {"alpha": alpha}), adjust=False
    ).mean()
    assert res["y"].notna().all()
    rel = np.abs(res["y"].to_numpy() - exp.to_numpy()) / np.abs(exp.to_numpy())
    assert rel.max() < 1e-9


def test_ewm_leading_nulls(spark, long_series_pdf):
    pdf = long_series_pdf.head(500).copy()
    pdf.loc[:4, "x"] = None
    res = with_ewm(spark.createDataFrame(pdf), "x", "y", keys=["k"], order="i", span=12)
    out = res.orderBy("i").toPandas()
    assert out["y"][:5].isna().all()
    exp = pdf["x"].ewm(span=12, adjust=False).mean()
    m = ~exp.isna()
    rel = np.abs(out["y"][m].to_numpy() - exp[m].to_numpy()) / np.abs(exp[m].to_numpy())
    assert rel.max() < 1e-9


def test_ewm_exact_agrees(spark, long_series_pdf):
    pdf = long_series_pdf.head(2000)
    sdf = spark.createDataFrame(pdf)
    a = with_ewm(sdf, "x", "y", keys=["k"], order="i", span=12).orderBy("i").toPandas()
    b = with_ewm_exact(sdf, "x", "y", keys=["k"], order="i", span=12).orderBy("i").toPandas()
    assert np.allclose(a["y"], b["y"], rtol=1e-9)


def test_rsi_wilder_all_gain_is_100(spark):
    pdf = pd.DataFrame({"k": "a", "i": range(50), "close": np.arange(50, dtype=float) + 1})
    out = (
        with_rsi_wilder(spark.createDataFrame(pdf), "close", 14, keys=["k"], order="i")
        .orderBy("i")
        .toPandas()
    )
    # monotone-up series: avg_loss == 0 -> RSI 100 (pandas inf semantics)
    assert (out["rsi_14"][1:] == 100.0).all()
    assert np.isnan(out["rsi_14"][0])


@pytest.fixture(scope="module")
def docs_sdf(spark):
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "the quick brown fox jumps over the lazy dog again and again today",
                    "the quick brown fox jumps over the lazy dog again and again tomorrow",
                    "completely different content about spark dataframes and windows",
                ],
            }
        )
    )


def test_minhash_signature_hashes_are_independent(docs_sdf):
    for family in ("xx64", "md5"):
        rows = dedup.minhash_signatures(
            docs_sdf, id_col="doc_id", text_col="text", num_hashes=32,
            hash_family=family,
        ).collect()
        assert len(rows) == 3
        for r in rows:
            # round-1 bug: 1 distinct of k
            assert len(set(r["sig"])) >= 30, (family, r["sig"])


def test_banded_buckets_rejects_unknown_hash_family(docs_sdf):
    sig = dedup.minhash_signatures(
        docs_sdf, id_col="doc_id", text_col="text", num_hashes=8
    )
    with pytest.raises(ValueError, match="hash_family"):
        dedup.banded_buckets(sig, num_hashes=8, bands=4, hash_family="MD5")


def test_minhash_est_jaccard_tracks_exact(docs_sdf):
    est = dedup.minhash_dedup_pairs(
        docs_sdf, id_col="doc_id", text_col="text", num_hashes=64, bands=16, threshold=0.3
    ).collect()
    exact = dedup.jaccard_similar_pairs(
        docs_sdf, id_col="doc_id", text_col="text", threshold=0.3
    ).collect()
    assert [(r["id_a"], r["id_b"]) for r in est] == [(1, 2)]
    assert [(r["id_a"], r["id_b"]) for r in exact] == [(1, 2)]
    assert abs(est[0]["est_jaccard"] - exact[0]["jaccard"]) < 0.25


def test_simhash_builds_and_discriminates(docs_sdf):
    rows = dedup.simhash_near_pairs(
        docs_sdf, id_col="doc_id", text_col="text", max_hamming=10
    ).collect()
    assert [(r["id_a"], r["id_b"]) for r in rows] == [(1, 2)]
    fp = dedup.simhash_md5_fingerprints(
        docs_sdf, id_col="doc_id", text_col="text"
    ).collect()
    assert len(fp) == 3
    assert all(r["sh"] >= 0 for r in fp)  # sign bit kept clear


def test_lang_id(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                "the cat and the dog is in a house of it",
                "el perro y el gato en la casa de los padres",
                "der hund und die katze ist nicht ein zu haus",
                "xyz qqq zzz",
            ],
        }
    )
    out = text.with_lang_id(spark.createDataFrame(pdf)).orderBy("doc_id").collect()
    assert [r["lang_pred"] for r in out] == ["en", "es", "de", "und"]


def test_exact_dedup_keeps_one_on_ties(spark):
    pdf = pd.DataFrame({"id": [1, 1, 2], "text": ["Same  Text", "same text", "other"]})
    out = dedup.exact_dedup(spark.createDataFrame(pdf), ["text"], tiebreak_col="id")
    assert out.count() == 2


def test_asof_join_preserves_colliding_left_column(spark):
    left = spark.createDataFrame(
        pd.DataFrame({"k": ["a"] * 3, "t": [1, 5, 9], "v": [10.0, 20.0, 30.0]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"k": ["a"] * 2, "t": [2, 6], "v": [100.0, 200.0]})
    )
    out = asof_join(left, right, on="t", keys=["k"]).orderBy("t").toPandas()
    assert list(out["v"]) == [10.0, 20.0, 30.0]  # left col intact
    assert out["v_asof"].tolist()[0] is None or np.isnan(out["v_asof"][0])
    assert out["v_asof"].tolist()[1:] == [100.0, 200.0]


def test_asof_join_rejects_empty_keys(spark):
    df = spark.range(3).withColumn("t", F.col("id"))
    with pytest.raises(ValueError):
        asof_join(df, df, on="t", keys=[])


def test_asof_forward_direction_and_tolerance(spark):
    """Forward as-of: earliest right row at-or-after the probe, exact
    ties match, tolerance bounds the look-ahead, and unknown
    directions raise."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("a", 10), ("a", 15), ("a", 30), ("b", 10)], ["k", "ts"]
    )
    right = spark.createDataFrame(
        [("a", 10, 1.0), ("a", 20, 2.0), ("b", 50, 9.0)], ["k", "ts", "v"]
    )
    out = {
        (r["k"], r["ts"]): r["v_fwd"]
        for r in asof_join(
            left, right, on="ts", keys=["k"], value_cols=["v"],
            suffix="_fwd", direction="forward",
        ).collect()
    }
    assert out[("a", 10)] == 1.0      # exact tie matches
    assert out[("a", 15)] == 2.0      # next at 20
    assert out[("a", 30)] is None     # nothing after
    assert out[("b", 10)] == 9.0

    tol = {
        (r["k"], r["ts"]): r["v_fwd"]
        for r in asof_join(
            left, right, on="ts", keys=["k"], value_cols=["v"],
            suffix="_fwd", direction="forward", tolerance_seconds=5,
        ).collect()
    }
    assert tol[("a", 15)] == 2.0      # 5s look-ahead: 20-15 <= 5
    assert tol[("b", 10)] is None     # 50-10 > 5

    with _pytest.raises(ValueError):
        asof_join(left, right, on="ts", keys=["k"], direction="nearest")


def test_book_state_at_last_write_wins_and_removals(spark):
    """Level updates apply last-write-wins at the as-of point; zero
    amounts remove levels; later deltas are invisible."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.orderbook import (
        book_state_at,
    )

    rows = [
        # (sym, ts, side, price, amount, seq)
        ("X", 1, "bid", 100.0, 5.0, 1),
        ("X", 2, "bid", 100.0, 7.0, 2),   # update same level
        ("X", 3, "bid", 100.0, 0.0, 3),   # removal
        ("X", 1, "ask", 101.0, 4.0, 4),
        ("X", 2, "ask", 101.0, 6.0, 5),   # survives: last write at ts<=4
        ("X", 9, "ask", 101.0, 1.0, 6),   # after as_of: invisible
        ("X", 2, "ask", 102.0, 3.0, 7),
    ]
    df = spark.createDataFrame(
        rows, ["symbol", "ts", "side", "price", "amount", "seq"]
    )
    got = {
        (r["side"], r["price"]): (r["amount"], r["last_update_ts"])
        for r in book_state_at(
            df, 4, keys=["symbol"], tiebreak_cols=["seq"]
        ).collect()
    }
    assert ("bid", 100.0) not in got            # removed at ts=3
    assert got[("ask", 101.0)] == (6.0, 2)      # last write <= as_of
    assert got[("ask", 102.0)] == (3.0, 2)

    # same-ts duplicate deltas: tiebreak decides deterministically
    dup = spark.createDataFrame(
        [("X", 1, "bid", 99.0, 1.0, 1), ("X", 1, "bid", 99.0, 2.0, 2)],
        ["symbol", "ts", "side", "price", "amount", "seq"],
    )
    r = book_state_at(dup, 1, keys=["symbol"], tiebreak_cols=["seq"]).collect()
    assert r[0]["amount"] == 2.0


def test_exact_dedup_agg_strategy_matches_window(spark):
    """The map-side-combining aggregate tier picks the identical
    survivor set as the row_number window tier (non-null keys)."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(11)
    pdf = pd.DataFrame({
        "id": np.arange(400),
        "grp": rng.integers(0, 5, 400),
        "text": [f"doc {i % 37} body" for i in range(400)],
    })
    df = spark.createDataFrame(pdf)
    a = dedup.exact_dedup(df, ["text"], tiebreak_col="id").toPandas()
    b = dedup.exact_dedup(
        df, ["text"], tiebreak_col="id", strategy="agg"
    ).toPandas()
    a = a.sort_values("id").reset_index(drop=True)
    b = b.sort_values("id").reset_index(drop=True)[a.columns]
    pd.testing.assert_frame_equal(a, b)
