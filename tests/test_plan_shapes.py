"""Plan-shape discipline (VERDICT r1 next-step #5 'plan-shape
asserted'): the 100 TB properties are checked by LOOKING AT THE PLAN —
pushdown reaches the scan, small sides broadcast, no cartesian
products or unpartitioned windows sneak into the flagship pipeline.
"""

from __future__ import annotations

import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from algorithmic_data_ingestion_for_cryptocurrencies_spark.plans.inspect import explain_str
from algorithmic_data_ingestion_for_cryptocurrencies_spark.sources.lake import read_lake, write_lake


@pytest.fixture(scope="module")
def lake_path(spark, ohlcv_sdf):
    tmp = tempfile.mkdtemp(prefix="adi_lake_")
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.functions.time_norm import add_dt

    write_lake(add_dt(ohlcv_sdf), tmp, partition_by=("symbol", "dt"), ts_col="timestamp")
    return tmp


def test_lake_read_pushes_partition_and_data_filters(spark, lake_path):
    df = read_lake(
        spark,
        lake_path,
        dt_between=("2024-01-01", "2024-01-02"),
        where=F.col("close") > 100.0,
        columns=["timestamp", "close", "dt"],
    )
    plan = explain_str(df, "formatted")
    assert "PartitionFilters" in plan and "dt" in plan
    assert "PushedFilters" in plan and "GreaterThan(close" in plan


def test_flagship_plan_has_no_cartesian_or_global_window(spark, ohlcv_sdf):
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.indicators import (
        build_market_features,
    )

    feats = build_market_features(ohlcv_sdf, dropna_final=True)
    plan = explain_str(feats, "formatted")
    assert "CartesianProduct" not in plan
    # every window must be partitioned by the series keys
    for line in plan.splitlines():
        if "windowspecdefinition(" in line.lower():
            assert "symbol" in line, f"unpartitioned window: {line}"


def test_spine_join_broadcasts_small_aggregates(spark, ohlcv_sdf):
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.joins import spine_join

    agg = ohlcv_sdf.groupBy("timestamp").agg(F.count("*").alias("n"))
    out = spine_join(ohlcv_sdf, [agg], on=["timestamp"], broadcast_aggs=True)
    assert "BroadcastHashJoin" in explain_str(out, "formatted")


def test_spine_join_auto_does_not_force_broadcast_of_large_agg(spark):
    """r5 verdict #5: the default must NOT pin a broadcast hint on an
    aggregate whose cardinality grows with the data — at 60M rows a
    forced broadcast shipped a 15M-row aggregate to every task. With
    'auto', the static plan keeps a shuffle join on a large estimated
    agg side (AQE may still upgrade at runtime from real stats)."""
    import os

    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.joins import spine_join

    sf1 = "/root/repo/testdata_scaled/sf1"
    if not os.path.isdir(sf1):
        import pytest

        pytest.skip("scaled tier not generated")
    o = spark.read.parquet(f"{sf1}/orders.parquet")
    li = spark.read.parquet(f"{sf1}/lineitem.parquet")
    agg = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.sum("l_quantity").alias("total_qty")
    )
    out = spine_join(o, [agg], on=["o_orderkey"], fill_zero_cols=["total_qty"])
    plan = explain_str(out, "formatted")
    assert "BroadcastHashJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)


def test_global_zscore_avoids_global_window(spark, ohlcv_sdf):
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.rolling import (
        with_global_zscore,
    )

    out = with_global_zscore(ohlcv_sdf, "close")
    plan = explain_str(out, "formatted")
    # agg + broadcast join, NOT a Window over an empty partition spec
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_bucketed_tables_join_without_shuffle(spark, tmp_path_factory):
    """Bucketing evidence for the 100 TB path: two tables bucketed on
    the join key co-locate, so the sort-merge join runs with NO
    Exchange on either side (the pre-shuffled layout a nightly
    pipeline would maintain for its hottest join keys)."""
    import tempfile

    wh = tempfile.mkdtemp(prefix="adi_wh_")
    orders = spark.range(10_000).selectExpr(
        "id AS o_orderkey", "id % 97 AS o_custkey", "cast(id * 1.5 as double) AS total"
    )
    lines = spark.range(40_000).selectExpr(
        "id % 10000 AS l_orderkey", "cast(id % 7 as double) AS qty"
    )
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lines")
    # external tables: warehouse.dir is a static conf on a shared session
    (orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
     .option("path", f"{wh}/b_orders").saveAsTable("b_orders"))
    (lines.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
     .option("path", f"{wh}/b_lines").saveAsTable("b_lines"))

    # disable auto-broadcast so the join would otherwise shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("b_orders").join(
            spark.table("b_lines"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        plan = explain_str(j, "formatted")
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located: no shuffle at all
        assert j.count() == 40_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lines")


def test_range_join_plans_as_equi_join(spark):
    """The bucketed rewrite must never degrade to a cartesian/nested-
    loop plan — that is its entire reason to exist."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.joins import (
        range_interval_join,
    )

    pts = spark.range(0, 10_000).select(
        F.timestamp_seconds(1704067200 + F.col("id") * 60).alias("ts"),
        F.col("id").alias("pid"),
    )
    iv = spark.range(0, 500).select(
        F.timestamp_seconds(1704067200 + F.col("id") * 3600).alias("ws"),
        F.timestamp_seconds(1704067200 + (F.col("id") + 2) * 3600).alias("we"),
        F.col("id").alias("iid"),
    )
    out = range_interval_join(pts, iv, ts="ts", start="ws", end="we", bucket_seconds=3600)
    plan = explain_str(out, "formatted")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_bernoulli_sample_plan_is_shuffle_free(spark):
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.sampling import (
        hash_bernoulli_sample,
    )

    df = spark.range(0, 10_000).withColumnRenamed("id", "doc_id")
    out = hash_bernoulli_sample(df, id_col="doc_id", rate=0.1)
    plan = explain_str(out, "formatted")
    assert "Exchange" not in plan, "sampling must stay a narrow filter"


def test_resample_pre_cluster_shares_exchange_with_windows(spark):
    """pre_cluster on a subset of the group keys must leave ONE data
    exchange serving both the resample aggregate and a downstream
    per-key window (the training-matrix spine shape; r3 verdict #2)."""
    from pyspark.sql import Window

    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.resample import resample

    df = spark.createDataFrame(
        [("a", 1704067200 + i * 60, float(i)) for i in range(10)],
        ["symbol", "epoch", "v"],
    ).select("symbol", F.timestamp_seconds("epoch").alias("ts"), "v")
    bars = resample(
        df, "1h", {"close": F.max("v")},
        ts_col="ts", keys=["symbol"], bucket_out="bucket",
        pre_cluster=["symbol"],
    )
    out = bars.withColumn(
        "lagv", F.lag("close").over(Window.partitionBy("symbol").orderBy("bucket"))
    )
    plan = explain_str(out, "formatted").split("\n\n")[0]
    assert plan.count("Exchange") == 1, plan

    with pytest.raises(ValueError):
        resample(df, "1h", {"c": F.max("v")}, ts_col="ts",
                 keys=["symbol"], pre_cluster=["nope"])


def test_chunk_prep_pipeline_is_single_dedup_exchange(spark):
    """Capstone #2 (scrub -> chunk -> exact dedup -> repetition gate):
    everything around the dedup survivor must stay narrow — one data
    exchange for the dedup shuffle plus the serial-fixture fan-out
    repartition, nothing else. The dedup is the min_by AGGREGATE tier
    (r6): a partial aggregate below the exchange collapses co-located
    duplicate chunks map-side before the wire."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.driver_queries import REGISTRY

    df = REGISTRY["pipeline_chunk_prep"][0](spark, "/root/testdata/sf0.001")
    plan = explain_str(df, "formatted").split("\n\n")[0]
    assert plan.count("Exchange") <= 2, plan
    assert "CartesianProduct" not in plan
    # min_by dedup: aggregate (partial+final around the exchange), no
    # row_number window anywhere in the pipeline
    assert plan.count("SortAggregate") + plan.count("HashAggregate") >= 2, plan
    assert "Window" not in plan, plan


def test_depth_series_window_tier_matches_prune_tier(spark):
    """The two physical tiers must be row-identical on tied prices
    (deterministic tiebreaks) whichever way the tier is chosen: a
    shallow hint, a deep hint, or no hint (the warned estimate job).
    The fused window tier must be a SINGLE exchange (rank, filter, and
    pivot all share the (keys, ts) partitioning) with no
    ObjectHashAggregate and exactly one Window operator (rank + n_ask
    fold into one window spec); the prune tier's rank filter must reach
    a WindowGroupLimit."""
    import random

    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.orderbook import (
        depth_series,
    )

    rng = random.Random(7)
    rows = []
    for ts in range(50):
        for k in range(rng.randint(1, 8)):
            rows.append((
                ts % 3, ts, k, rng.choice([9.0, 10.0, 11.0]),  # tied prices
                float(rng.randint(1, 5)),
                "bid" if k % 2 == 0 else "ask",
            ))
    df = spark.createDataFrame(
        rows, ["symbol", "ts", "okey", "price", "amount", "side"]
    )
    kw = dict(keys=["symbol"], tiebreak_cols=["okey"])
    win = depth_series(df, 3, rows_per_group=0, **kw)
    prune = depth_series(df, 3, rows_per_group=1e4, **kw)
    with pytest.warns(RuntimeWarning, match="rows_per_group"):
        unhinted = depth_series(df, 3, **kw)
    want = win.orderBy("symbol", "ts").collect()
    assert len(want) == 50
    assert prune.orderBy("symbol", "ts").collect() == want
    assert unhinted.orderBy("symbol", "ts").collect() == want

    plan = explain_str(win, "formatted").split("\n\n")[0]
    assert "ObjectHashAggregate" not in plan
    assert "WindowGroupLimit" not in plan
    assert plan.count("Exchange") == 1, plan
    win_ops = [ln for ln in plan.splitlines() if ln.lstrip("+- *(0123456789) ").startswith("Window")]
    assert len(win_ops) == 1, plan
    # the unhinted estimate on this shallow book selects the window tier
    uplan = explain_str(unhinted, "formatted").split("\n\n")[0]
    assert "WindowGroupLimit" not in uplan
    assert uplan.count("Exchange") == 1, uplan

    # prune tier: the rank filter must reach a WindowGroupLimit so the
    # per-(group, side) top-n prunes MAP-SIDE before the exchange
    pplan = explain_str(prune, "formatted").split("\n\n")[0]
    assert "WindowGroupLimit" in pplan, pplan


def test_corpus_curation_pipeline_is_single_exchange(spark):
    """Capstone pipeline (quality gate -> lang filter -> exact dedup ->
    stratified sample) must stay narrow except the one dedup shuffle:
    quality scoring and hash sampling are projections/filters, and the
    dedup survivor is a WindowGroupLimit-pushed rank over the content
    key."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.driver_queries import REGISTRY

    df = REGISTRY["pipeline_corpus_curation"][0](spark, "/root/testdata/sf0.001")
    plan = explain_str(df, "formatted").split("\n\n")[0]
    assert plan.count("Exchange") == 1
    assert "CartesianProduct" not in plan


def test_global_cumsum_windows_are_bounded_or_partitioned(spark):
    """The only unpartitioned window in global_cumsum must run over the
    per-partition totals (#partitions rows), never over the data: the
    data-sized window is partitioned by the physical partition id, and
    the exchange on the data is a RangePartitioning."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.sampling import (
        global_cumsum,
    )

    df = (
        spark.range(0, 10_000).withColumnRenamed("id", "k")
        .withColumn("v", (F.col("k") % 13).cast("long"))
    )
    # pin=False exposes the raw two-branch plan (production pins the
    # exchange with localCheckpoint, which truncates the visible plan)
    out = global_cumsum(df, val_col="v", order_cols=["k"], num_partitions=8, pin=False)
    plan = explain_str(out, "formatted")
    assert "rangepartitioning(" in plan.lower()
    # the data-sized window is partitioned by __pid; the unpartitioned
    # one sits above a bucket-grain aggregate (its input is the
    # groupBy(__pid) totals, rows = #partitions)
    data_windows = [
        line for line in plan.splitlines()
        if "windowspecdefinition(__pid#" in line.lower()
    ]
    assert data_windows, "per-partition prefix window missing"


def test_mixture_sample_broadcasts_rates_and_keeps_filter_narrow(spark):
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.sampling import (
        mixture_sample,
    )

    df = (
        spark.range(0, 5_000).withColumnRenamed("id", "doc_id")
        .withColumn("lang", F.when(F.col("doc_id") % 3 == 0, "en").otherwise("de"))
        .withColumn("n_tokens", (F.col("doc_id") % 97 + 1).cast("long"))
    )
    out = mixture_sample(
        df, id_col="doc_id", stratum_col="lang", tokens_col="n_tokens",
        target_shares={"en": 0.5, "de": 0.5},
    )
    plan = explain_str(out, "formatted")
    # the data side joins the per-stratum rates via broadcast — the
    # corpus itself is never shuffled
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_connected_components_never_exceeds_pair_graph(spark):
    """CC output plan is flat (lineage truncated by localCheckpoint):
    no iteration stack in the final plan, no cartesian products."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 50, 2)], "id_a long, id_b long"
    )
    out = connected_components(pairs)
    plan = explain_str(out, "formatted")
    assert "CartesianProduct" not in plan
    # converged labeling is served from the checkpointed RDD, not a
    # re-derivation of every round
    assert "Scan ExistingRDD" in plan or "LogicalRDD" in plan


def test_knn_join_prunes_topk_map_side(spark):
    """Plan rule D: the brute-force kNN rank filter stays literally
    row_number() <= k, so InsertWindowGroupLimit prunes on BOTH sides
    of the exchange — only k rows per (query, mapper) cross the wire
    instead of the full scored corpus."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.similarity import (
        knn_join,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3)
    plan = explain_str(knn_join(q, emb, k=5), "formatted").split("\n\n")[0]
    assert plan.count("WindowGroupLimit") >= 2, plan  # partial + final
    assert "CartesianProduct" not in plan or "BroadcastNestedLoop" in plan


def test_sft_prep_pipeline_exchange_budget(spark):
    """Capstone #3 (scrub -> entropy gate -> render -> rendered-dedup)
    must stay within its documented exchange budget: the entropy
    aggregates, the doc_id join back, and the dedup rank — no
    cartesian products, no data-sized unpartitioned windows."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.driver_queries import REGISTRY

    df = REGISTRY["pipeline_sft_prep"][0](spark, "/root/testdata/sf0.001")
    plan = explain_str(df, "formatted").split("\n\n")[0]
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange") <= 5, plan
    for line in plan.splitlines():
        if "windowspecdefinition(" in line.lower():
            assert "rendered" in line or "doc_id" in line, line


def test_backtest_curve_is_one_exchange_one_sort(spark):
    """The whole backtest curve (rank/lag, cumulative log-equity,
    running peak) must plan as ONE window family: a single exchange on
    the series key and a single sort — adding curve columns must not
    add passes."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.backtest import (
        backtest_positions,
    )

    df = spark.createDataFrame(
        [("s", t, 100.0 + t, t % 2) for t in range(10)],
        ["sym", "ts", "close", "position"],
    )
    out = backtest_positions(
        df, keys=["sym"], order="ts",
        price_col="close", position_col="position", fee_bps=5.0,
    )
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.plans.inspect import (
        physical_plan,
    )

    plan = physical_plan(out)
    n_exchange = plan.count("Exchange hashpartitioning")
    n_sort = sum(1 for ln in plan.splitlines() if "- Sort " in ln)
    assert n_exchange == 1, f"curve should shuffle once, got {n_exchange}\n{plan}"
    assert n_sort == 1, f"curve should sort once, got {n_sort}\n{plan}"
    for line in plan.splitlines():
        if "windowspecdefinition(" in line.lower():
            assert "sym" in line, f"unpartitioned window: {line}"


def test_param_sweep_summary_is_hash_agg_only_per_combo(spark):
    """Each sweep combo contributes its own window pass, but the
    summaries must stay hash aggregates — the sweep plan may not
    contain a cartesian product, and the argmax must be a single
    aggregate over the union (no join, no extra window)."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.backtest import (
        best_params_per_series,
        sma_param_sweep,
    )

    df = spark.createDataFrame(
        [("s", t, 100.0 + (t * 7) % 13) for t in range(60)],
        ["sym", "ts", "close"],
    )
    sweep = sma_param_sweep(
        df, [(3, 10), (5, 20)], keys=["sym"], order="ts",
        price_col="close", fee_bps=5.0,
    )
    best = best_params_per_series(sweep, keys=["sym"])
    plan = explain_str(best, "formatted")
    assert "CartesianProduct" not in plan
    assert "Join" not in plan, "argmax must be an aggregate, not a join"


def test_scrub_pii_single_project_with_codegen_cse(spark):
    """r8 CSE audit (verdict #8): scrub_pii's count/replace chain must
    collapse into ONE Project (no Generate/Window split), where
    whole-stage-codegen subexpression elimination shares each
    cumulative regexp_replace between its count consumer and the next
    stage — measured equal to an explicit materialize_once-barriered
    variant at 500k docs (5.9 s both, min-of-3 interleaved), so no
    barrier is warranted. The assert pins the single-operator shape
    (operator-LOCAL CSE applies only within one operator) and that
    codegen actually emitted shared-subexpression functions."""
    import contextlib
    import io

    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.text import scrub_pii

    df = spark.createDataFrame(
        [(1, "visit http://x.co mail a@b.c call +1 (555) 123-4567")],
        ["doc_id", "text"],
    )
    out = scrub_pii(df)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # one Project over the relation: nothing splits the chain across
    # operators, so codegen CSE can share the replace trees
    assert plan.count("Project") == 1, plan
    assert "Generate" not in plan and "Window" not in plan, plan
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain(mode="codegen")
    code = buf.getvalue()
    assert "WholeStageCodegen" in code
    assert code.count("subExpr") > 0, "codegen emitted no shared subexpressions"


def test_spread_series_single_window_evaluation(spark):
    """spread_series references the forward-filled best_ask twice
    (spread arithmetic + projection); both must resolve to the ONE
    Window operator's output attribute — a single windowspecdefinition
    in the physical plan, never a re-derived window per consumer."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.orderbook import (
        spread_series,
    )

    df = spark.createDataFrame(
        [("s", 1, 10.0, "bid"), ("s", 1, 11.0, "ask"), ("s", 2, 10.5, "bid")],
        ["symbol", "ts", "price", "side"],
    )
    out = spread_series(df, keys=["symbol"])
    full = explain_str(out, "formatted")
    tree = full.split("\n\n")[0]
    win_ops = [
        ln for ln in tree.splitlines()
        if ln.lstrip("+-* (0123456789)").startswith("Window")
    ]
    assert len(win_ops) == 1, tree
    assert full.lower().count("windowspecdefinition") == 1, full


def test_ivf_serve_plan_two_exchanges_no_crossjoin(spark):
    """r11 map-only assignment (PLANS.md rule X): the in-memory
    portable IVF serve plan is exactly the equi-join on centroid_id
    plus the per-query rerank window — no CartesianProduct or
    BroadcastNestedLoop anywhere, and at most 3 exchanges (join sides
    + window; AQE may fuse further). The former crossJoin+groupBy
    assignment shape would show up here as extra exchanges."""
    from pyspark.sql import functions as F

    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.similarity import (
        ivf_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = ivf_topk(
        emb.filter(F.col("vec_id") < 3), emb,
        k=5, n_centroids=8, nprobe=4,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan
    assert plan.count("Exchange") <= 3, plan


def test_funnel_window_shape_single_exchange(spark):
    """r13 funnel rewrite guard: one scan of events, ONE data exchange
    (on the user key), three dependent Window nodes, and a final agg
    that reuses the window partitioning — no per-step re-scan, no
    second exchange."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.funnel import (
        funnel_steps,
    )

    ev = spark.createDataFrame(
        [(1, "view", 10.0), (1, "click", 20.0), (1, "purchase", 30.0),
         (2, "view", 5.0)],
        "user_id long, event_type string, ts double",
    )
    plan = explain_str(funnel_steps(ev, ["view", "click", "purchase"]),
                       "formatted").split("\n\n")[0]
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Window") == 3, plan


def test_fused_backtest_window_node_budget(spark):
    """r13 fused-backtest guard: the whole curve (fixed-point SMA pair
    + position closed form + log-equity cumsum + running peak) plans at
    most 5 Window nodes over one series exchange."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.backtest import (
        sma_backtest_curve_fused,
    )

    df = spark.createDataFrame(
        [("a", t, 100.0 + t) for t in range(10)],
        "key string, ts long, close double",
    )
    out = sma_backtest_curve_fused(df, keys=["key"], order="ts",
                                   price_col="close", fast=2, slow=3)
    plan = explain_str(out, "formatted").split("\n\n")[0]
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Window") <= 5, plan


def test_scrub_plan_has_no_token_grain_object_aggregate(spark):
    """r13 scrub reshape guard: remove_duplicated_spans must not plan
    the retired token-grain shape — no posexplode of the token array
    feeding a join, and no ObjectHashAggregate over (pos, token)
    structs; the only collect is the tiny span-grain interval set."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "a b c d e f g h i j")],
        "doc_id long, text string",
    )
    out = dedup.remove_duplicated_spans(docs, id_col="doc_id",
                                        text_col="text", k=8)
    plan = explain_str(out, "formatted").split("\n\n")[0]
    # the positioned-gram explode appears once per semi-join branch
    # (agg side + probe side = 2 Generates); the retired shape added a
    # THIRD — the posexploded token grain feeding the anti-join
    assert plan.count("Generate") == 2, plan
    assert "posexplode" not in plan, plan
    # token re-assembly must not be an object aggregate over structs
    assert "sort_array" not in plan.lower(), plan
