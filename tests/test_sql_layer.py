"""SQL registration layer (SURVEY §7.1, closed r8): every capability
reachable from plain ``spark.sql`` over registered views, value-equal
to the DataFrame API path."""

from __future__ import annotations

import importlib.util
import os

import pytest

SF_DIR = "/root/testdata/sf0.001"


def test_register_views_registers_tables_and_domain(spark):
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.sql import register_views

    names = register_views(spark, SF_DIR)
    for t in ("lineitem", "orders", "customer", "documents",
              "embeddings", "market", "book"):
        assert t in names
    # views are live logical plans: filters still push to the scan
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.plans.inspect import explain_str

    df = spark.sql(
        "SELECT l_orderkey, l_quantity FROM lineitem WHERE l_quantity > 45"
    )
    plan = explain_str(df, "formatted")
    assert "PushedFilters" in plan and "GreaterThan(l_quantity" in plan
    assert df.count() > 0

    with pytest.raises(FileNotFoundError):
        register_views(spark, "/nonexistent-dir", strict=True)
    assert register_views(spark, "/nonexistent-dir") == []


def _twin_sources():
    """Every registered sql_* twin, derived from the registry so new
    twins are covered automatically (r10: 61 twins across the window,
    indicator, join, set-op, sampling, text and streaming families)."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.driver_queries import REGISTRY

    return sorted(n[4:] for n in REGISTRY if n.startswith("sql_"))


@pytest.mark.parametrize("src", _twin_sources())
def test_sql_twin_equals_dataframe_api(spark, src):
    """The sql_* twin executes the oracle SQL text verbatim through
    spark.sql; rows must equal the DataFrame-API query exactly."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.driver_queries import REGISTRY

    df_api = REGISTRY[src][0](spark, SF_DIR)
    sql_api = REGISTRY[f"sql_{src}"][0](spark, SF_DIR)
    assert df_api.columns == sql_api.columns
    assert sql_api.exceptAll(df_api).count() == 0
    assert df_api.exceptAll(sql_api).count() == 0


def test_sql_w09_emas_bit_identical_to_dataframe_api(spark):
    """sql_w09_ema's unrounded two-EMA statement nests the layers
    w09_ema's with_ewm_multi attaches, at the same shared block size
    _K_W09, so ema_12 and ema_26 agree bit for bit BEFORE the
    6-decimal rounding both queries apply (a per-span block size for
    ema_12 moves the last bits of about half its values, which the
    rounded twin comparison cannot see)."""
    import struct

    from algorithmic_data_ingestion_for_cryptocurrencies_spark.driver_queries import (
        _K_W09,
        _SQL_W09_EMAS,
        IDS,
        KEYS,
        ORDER,
        _market,
    )
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.ewm import (
        with_ewm_multi,
    )
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.sql import register_views

    register_views(spark, SF_DIR)
    cols = IDS + ["ema_12", "ema_26"]
    sql_rows = spark.sql(_SQL_W09_EMAS).select(*cols).collect()
    df_rows = with_ewm_multi(
        _market(spark, SF_DIR),
        [
            {"col": "close", "out": "ema_12", "span": 12},
            {"col": "close", "out": "ema_26", "span": 26},
        ],
        keys=KEYS, order=ORDER, k=_K_W09,
    ).select(*cols).collect()

    def bits(rows):
        return {
            tuple(r[:4]): tuple(
                None if v is None else struct.pack("<d", v) for v in r[4:]
            )
            for r in rows
        }

    a, b = bits(sql_rows), bits(df_rows)
    assert len(a) == len(sql_rows) == len(df_rows) == len(b) > 0
    differ = [key for key in a if a[key] != b.get(key)]
    assert not differ, (len(differ), differ[:3])


def _window_sort_counts(df):
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.plans.inspect import explain_str

    tree = explain_str(df, "formatted").split("\n\n")[0]
    ops = [ln.lstrip("+- :").split(" (")[0] for ln in tree.splitlines()]
    return ops.count("Window"), ops.count("Sort")


def test_sql_w09_ema_plans_the_windows_of_w09_ema(spark):
    """The twin's one ewm_spark_sql call stages idx/block/pos once for
    both EMAs, as with_ewm_multi does, so it plans as many Window and
    Sort nodes as w09_ema (one call per EMA re-derived them and planned
    8 Window and 4 Sort nodes against w09_ema's 4 and 2)."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.driver_queries import REGISTRY

    w09 = _window_sort_counts(REGISTRY["w09_ema"][0](spark, SF_DIR))
    twin = _window_sort_counts(REGISTRY["sql_w09_ema"][0](spark, SF_DIR))
    assert w09[0] > 0 and w09[1] > 0
    assert twin == w09


def _oracle_compare():
    spec = importlib.util.spec_from_file_location(
        "oracle_check",
        os.path.join(os.path.dirname(__file__), "..", "tools", "oracle_check.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.TABLES, mod.compare


def _assert_oracle_exact(spark, name):
    """The registry's Spark callable and its DuckDB oracle text agree
    exactly under the local correctness gate's comparison."""
    duckdb = pytest.importorskip("duckdb")
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.driver_queries import REGISTRY

    tables, compare = _oracle_compare()
    fn, sql = REGISTRY[name]
    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    sdf = fn(spark, SF_DIR).toPandas()
    ok, msg = compare(name, sdf, con.sql(sql).df())
    assert len(sdf) > 0
    assert ok and msg == "exact", msg


@pytest.mark.parametrize(
    "name", ["w11_macd", "flagship_market_features", "training_matrix"]
)
def test_market_feature_oracles_exact(spark, name):
    """Both renderings of the MACD / market-feature stage agree."""
    _assert_oracle_exact(spark, name)


@pytest.mark.parametrize(
    "name", ["sim_near_pairs", "sim_near_pairs_arrow", "sim_near_pairs_capped"]
)
def test_near_pair_oracles_exact(spark, name):
    """The NumPy near-pair kernel adds in _cos_sql's order, so every
    near-pair tier is exact against its DuckDB twin."""
    _assert_oracle_exact(spark, name)


@pytest.mark.parametrize(
    "name",
    ["dedup_minhash_pairs", "dedup_jaccard_pairs", "st15_dedup_incremental"],
)
def test_dedup_oracles_exact(spark, name):
    """The batch MinHash and Jaccard pair operators and the incremental
    store's survivors agree exactly with their DuckDB twins."""
    _assert_oracle_exact(spark, name)


def test_bigram_lm_oracle_exact(spark):
    """The fused bigram LM (int64 token keys, vocabulary from the
    bigram-count table) agrees exactly with its DuckDB twin (string
    keys, vocabulary from a separate pass over the training tokens)."""
    _assert_oracle_exact(spark, "text_bigram_lm")
