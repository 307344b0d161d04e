"""Round-3 operators: deterministic sampling, bucketed range join,
lake compaction."""

from __future__ import annotations

import pathlib

import pytest
from pyspark.sql import functions as F

from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.joins import (
    range_interval_join,
)
from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.sampling import (
    hash_bernoulli_sample,
    hash_top_n_per_group,
    rate_to_hex8,
)
from algorithmic_data_ingestion_for_cryptocurrencies_spark.sources.lake import (
    compact_lake,
)


# ------------------------------------------------------------------ sampling
def test_rate_to_hex8_bounds():
    assert rate_to_hex8(0.0) == "00000000"
    assert rate_to_hex8(1.0) == "ffffffff"
    assert rate_to_hex8(0.25) == "40000000"
    with pytest.raises(ValueError):
        rate_to_hex8(1.5)


def test_bernoulli_sample_deterministic_and_calibrated(spark):
    df = spark.range(0, 20000).withColumnRenamed("id", "doc_id")
    s1 = hash_bernoulli_sample(df, id_col="doc_id", rate=0.25)
    s2 = hash_bernoulli_sample(df.repartition(13), id_col="doc_id", rate=0.25)
    a = {r.doc_id for r in s1.collect()}
    b = {r.doc_id for r in s2.collect()}
    assert a == b, "sample must be invariant to partitioning"
    # md5 is uniform: 20k draws at p=0.25 → ±4σ ≈ ±245
    assert abs(len(a) - 5000) < 250


def test_bernoulli_rate_one_is_exact_keep_all(spark):
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.sampling import (
        rate_to_threshold,
    )

    # 'g' sorts above every hex8 string, so `hex8 < 'g'` is always true
    assert rate_to_threshold(1.0) == "g"
    assert rate_to_threshold(0.25) == "40000000"
    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    # uniform rate=1.0 short-circuits: no filter in the plan at all
    out = hash_bernoulli_sample(df, id_col="doc_id", rate=1.0)
    assert out is df
    # stratified: the keep-all stratum keeps every row, even ones whose
    # md5 prefix would be 'ffffffff' (exercised via the sentinel)
    strat = df.withColumn("lang", F.lit("rare"))
    kept = hash_bernoulli_sample(
        strat, id_col="doc_id", stratum_col="lang", rates={"en": 0.1},
        default_rate=1.0,
    )
    assert kept.count() == 1000


def test_bernoulli_strata_rates(spark):
    df = (
        spark.range(0, 10000)
        .withColumnRenamed("id", "doc_id")
        .withColumn("lang", F.when(F.col("doc_id") % 2 == 0, "en").otherwise("rare"))
    )
    out = hash_bernoulli_sample(
        df, id_col="doc_id", stratum_col="lang",
        rates={"en": 0.1}, default_rate=1.0,
    )
    counts = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts["rare"] == 5000, "default_rate=1.0 keeps every row"
    assert 380 < counts["en"] < 620


def test_top_n_per_group_cap_and_determinism(spark):
    df = (
        spark.range(0, 3000)
        .withColumnRenamed("id", "doc_id")
        .withColumn("g", (F.col("doc_id") % 3).cast("string"))
    )
    out1 = hash_top_n_per_group(df, id_col="doc_id", group_cols=["g"], n=7)
    out2 = hash_top_n_per_group(df.repartition(11), id_col="doc_id", group_cols=["g"], n=7)
    rows1 = sorted((r.g, r.doc_id) for r in out1.collect())
    rows2 = sorted((r.g, r.doc_id) for r in out2.collect())
    assert rows1 == rows2
    per_g = out1.groupBy("g").count().collect()
    assert all(r["count"] == 7 for r in per_g)


def test_deterministic_shuffle_is_seeded_and_stable(spark):
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.sampling import (
        deterministic_shuffle,
    )

    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    o1 = [r.doc_id for r in deterministic_shuffle(df, id_col="doc_id", seed="a").collect()]
    o2 = [r.doc_id for r in deterministic_shuffle(df.repartition(7), id_col="doc_id", seed="a").collect()]
    o3 = [r.doc_id for r in deterministic_shuffle(df, id_col="doc_id", seed="b").collect()]
    assert o1 == o2, "same seed → same total order, any partitioning"
    assert o1 != o3, "different seed → different order"
    assert o1 != sorted(o1), "order is actually shuffled"


def test_contamination_check_scores(spark):
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.dedup import (
        contamination_check,
    )

    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")], ["doc_id", "text"]
    )
    ev = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog"),  # verbatim leak
            (11, "quick brown fox sits under a red tree today"),  # partial overlap
            (12, "completely different words appear in this sentence here"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r
        for r in contamination_check(
            train, ev, id_col="doc_id", text_col="text", n=3, threshold=0.5
        ).collect()
    }
    assert out[10].score == 1.0 and out[10].contaminated
    assert 0.0 < out[11].score < 0.5 and not out[11].contaminated
    assert out[12].score == 0.0 and not out[12].contaminated


# ------------------------------------------------------------------ range join
def test_range_interval_join_matches_naive(spark):
    pts = spark.createDataFrame(
        [(i, f"2024-01-{d:02d} 12:00:00") for i, d in enumerate(range(1, 29))],
        ["pid", "ts_s"],
    ).select("pid", F.col("ts_s").cast("timestamp").alias("ts"))
    iv = spark.createDataFrame(
        [
            (100, "2024-01-03 00:00:00", "2024-01-05 00:00:00"),   # 2-day span
            (200, "2024-01-04 12:00:00", "2024-01-20 12:00:00"),   # long span, crosses buckets
            (300, "2024-01-25 12:00:00", "2024-01-25 13:00:00"),   # sub-bucket
            (400, "2024-02-10 00:00:00", "2024-02-11 00:00:00"),   # no matches
        ],
        ["iid", "s_s", "e_s"],
    ).select(
        "iid",
        F.col("s_s").cast("timestamp").alias("ws"),
        F.col("e_s").cast("timestamp").alias("we"),
    )
    got = range_interval_join(
        pts, iv, ts="ts", start="ws", end="we", bucket_seconds=3 * 86400
    )
    naive = pts.join(iv, (pts.ts >= iv.ws) & (pts.ts < iv.we), "inner")
    got_set = sorted((r.pid, r.iid) for r in got.collect())
    naive_set = sorted((r.pid, r.iid) for r in naive.collect())
    assert got_set == naive_set
    assert got_set, "fixture must produce matches"
    # half-open: a point exactly at an interval end is excluded
    assert all(iid != 400 for _, iid in got_set)


def test_range_interval_join_with_keys(spark):
    pts = spark.createDataFrame(
        [("a", "2024-01-02 00:00:00"), ("b", "2024-01-02 00:00:00")],
        ["k", "ts_s"],
    ).select("k", F.col("ts_s").cast("timestamp").alias("ts"))
    iv = spark.createDataFrame(
        [("a", "2024-01-01 00:00:00", "2024-01-03 00:00:00")],
        ["k", "s_s", "e_s"],
    ).select(
        "k",
        F.col("s_s").cast("timestamp").alias("ws"),
        F.col("e_s").cast("timestamp").alias("we"),
    )
    got = range_interval_join(
        pts, iv, ts="ts", start="ws", end="we", keys=["k"], bucket_seconds=86400
    )
    assert [(r.k,) for r in got.collect()] == [("a",)]


def test_range_interval_join_date_columns(spark):
    # DATE->BIGINT casts are disallowed in Spark; the operator must
    # route DATE through TIMESTAMP itself (ADVICE r3)
    pts = spark.createDataFrame(
        [(1, "2024-01-02"), (2, "2024-01-10")], ["pid", "d_s"]
    ).select("pid", F.col("d_s").cast("date").alias("ts"))
    iv = spark.createDataFrame(
        [(100, "2024-01-01", "2024-01-05")], ["iid", "s_s", "e_s"]
    ).select(
        "iid",
        F.col("s_s").cast("date").alias("ws"),
        F.col("e_s").cast("date").alias("we"),
    )
    got = range_interval_join(
        pts, iv, ts="ts", start="ws", end="we", bucket_seconds=86400
    )
    assert sorted((r.pid, r.iid) for r in got.collect()) == [(1, 100)]


# ------------------------------------------------------------------ compaction
def test_compact_lake_reduces_files_preserves_rows(spark, tmp_path: pathlib.Path):
    base = str(tmp_path / "lake")
    df = (
        spark.range(0, 5000)
        .withColumn("part", (F.col("id") % 2).cast("string"))
        .withColumn("timestamp", F.timestamp_seconds(1704067200 + F.col("id")))
    )
    # fragment: 40 writer tasks per partition value
    df.repartition(40).write.partitionBy("part").parquet(base)
    n_before = len(list(pathlib.Path(base).rglob("*.parquet")))
    before = df.select(F.sum(F.col("id")).alias("s")).collect()[0].s

    compact_lake(spark, base, partition_by=("part",), ts_col="timestamp")

    files_after = list(pathlib.Path(base).rglob("*.parquet"))
    back = spark.read.parquet(base)
    after = back.select(F.sum(F.col("id")).alias("s")).collect()[0].s
    assert after == before
    assert back.count() == 5000
    assert len(files_after) < n_before
    assert not (tmp_path / "lake__compact").exists()
    assert not (tmp_path / "lake__pre_compact").exists()


def test_compact_lake_self_heals_stranded_swap(spark, tmp_path: pathlib.Path):
    # Simulate a crash inside the swap window: the table was renamed to
    # __pre_compact but the compacted tree never landed at the base
    # path. A rerun must restore the original and complete (ADVICE r3).
    base = str(tmp_path / "lake")
    df = (
        spark.range(0, 1000)
        .withColumn("timestamp", F.timestamp_seconds(1704067200 + F.col("id")))
    )
    df.repartition(8).write.parquet(base)
    (tmp_path / "lake").rename(tmp_path / "lake__pre_compact")
    assert not (tmp_path / "lake").exists()

    compact_lake(spark, base, partition_by=(), ts_col="timestamp")

    back = spark.read.parquet(base)
    assert back.count() == 1000
    assert not (tmp_path / "lake__pre_compact").exists()


# ------------------------------------------------------------------ packing
def test_pack_sequences_invariants(spark):
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.sampling import (
        pack_sequences,
    )

    df = (
        spark.range(0, 2000)
        .withColumnRenamed("id", "doc_id")
        .withColumn("n_tokens", (F.col("doc_id") % 300 + 1).cast("int"))
    )
    out = pack_sequences(
        df, id_col="doc_id", tokens_col="n_tokens", budget=512, n_shards=4, seed="a"
    ).toPandas()
    assert len(out) == 2000, "every document lands in exactly one window"
    fill = out.groupby(["shard", "bin"])["n_tokens"].sum()
    assert (fill <= 512).all(), "no window exceeds the token budget"
    # bins are dense per shard (greedy opens them in sequence)
    for s_, grp in out.groupby("shard"):
        bins = sorted(grp["bin"].unique())
        assert bins == list(range(len(bins)))
    # packing efficiency: greedy first-fit over uniform sizes ≳ 75% full
    assert fill.iloc[:-1].mean() > 0.75 * 512

    out2 = pack_sequences(
        spark.range(0, 2000).withColumnRenamed("id", "doc_id")
        .withColumn("n_tokens", (F.col("doc_id") % 300 + 1).cast("int"))
        .repartition(17),
        id_col="doc_id", tokens_col="n_tokens", budget=512, n_shards=4, seed="a",
    ).toPandas()
    a = out.sort_values("doc_id").reset_index(drop=True)
    b = out2.sort_values("doc_id").reset_index(drop=True)
    assert a.equals(b), "packing must be partitioning-invariant"


def test_pack_sequences_oversized_doc_gets_own_bin(spark):
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.sampling import (
        pack_sequences,
    )

    df = spark.createDataFrame(
        [(1, 100), (2, 9000), (3, 100)], ["doc_id", "n_tokens"]
    )
    out = pack_sequences(
        df, id_col="doc_id", tokens_col="n_tokens", budget=512, n_shards=1
    ).toPandas()
    big_bin = out.loc[out.doc_id == 2, "bin"].iloc[0]
    assert (out[out.bin == big_bin].doc_id == 2).all(), "oversized doc is alone in its bin"


def test_mixture_sample_hits_target_token_shares(spark):
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.sampling import (
        mixture_sample,
    )

    # en hugely overrepresented; de is the binding stratum (kept ~whole)
    rows = (
        [(i, "en", 100) for i in range(4000)]
        + [(10_000 + i, "de", 100) for i in range(500)]
        + [(20_000 + i, "xx", 100) for i in range(300)]
    )
    df = spark.createDataFrame(rows, ["doc_id", "lang", "n_tokens"])
    out = mixture_sample(
        df, id_col="doc_id", stratum_col="lang", tokens_col="n_tokens",
        target_shares={"en": 0.5, "de": 0.5},
    ).toPandas()
    tok = out.groupby("lang")["n_tokens"].sum()
    assert "xx" not in tok.index, "non-target strata are dropped"
    assert tok["de"] == 500 * 100, "binding stratum is kept whole"
    # en downsampled to ~its target share (md5 sampling noise ~sqrt(n))
    assert abs(tok["en"] - 500 * 100) < 0.15 * 500 * 100
    out2 = mixture_sample(
        df.repartition(13), id_col="doc_id", stratum_col="lang",
        tokens_col="n_tokens", target_shares={"en": 0.5, "de": 0.5},
    ).toPandas()
    assert sorted(out2.doc_id) == sorted(out.doc_id), "deterministic"


def test_global_cumsum_matches_single_window(spark):
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.sampling import (
        global_cumsum,
    )
    from pyspark.sql import Window

    df = (
        spark.range(0, 5000).withColumnRenamed("id", "k")
        .withColumn("v", (F.col("k") * 37 % 101).cast("long"))
        .withColumn("ord", F.md5(F.col("k").cast("string")))
        .repartition(11)
    )
    got = (
        global_cumsum(df, val_col="v", order_cols=["ord", "k"], out="cum",
                      num_partitions=7)
        .select("k", "cum").toPandas().sort_values("k").reset_index(drop=True)
    )
    w = Window.orderBy("ord", "k")
    want = (
        df.withColumn("cum", F.sum("v").over(w))
        .select("k", "cum").toPandas().sort_values("k").reset_index(drop=True)
    )
    assert got.equals(want)


def test_take_token_budget_respects_budget_and_is_monotonic(spark):
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.sampling import (
        take_token_budget,
    )

    df = (
        spark.range(0, 1000).withColumnRenamed("id", "doc_id")
        .withColumn("n_tokens", (F.col("doc_id") % 97 + 1).cast("long"))
        .withColumn("ord", F.md5(F.col("doc_id").cast("string")))
    )
    small = take_token_budget(
        df, tokens_col="n_tokens", order_cols=["ord", "doc_id"], budget=5_000
    ).toPandas()
    large = take_token_budget(
        df, tokens_col="n_tokens", order_cols=["ord", "doc_id"], budget=20_000
    ).toPandas()
    assert small.n_tokens.sum() <= 5_000 < small.n_tokens.sum() + 98
    assert set(small.doc_id) <= set(large.doc_id), "budget growth only adds docs"


def test_hash_split_group_aware_and_calibrated(spark):
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.sampling import (
        hash_split,
    )

    df = (
        spark.range(0, 20_000).withColumnRenamed("id", "doc_id")
        .withColumn("grp", (F.col("doc_id") % 1000).cast("string"))
    )
    out = hash_split(
        df, id_col="doc_id", group_col="grp", seed="t1",
        weights={"train": 0.8, "val": 0.1, "test": 0.1},
    ).toPandas()
    # group-aware: one split per group, always
    assert (out.groupby("grp")["split"].nunique() == 1).all()
    # calibrated at the group level (1000 groups, ~sqrt noise)
    shares = out.drop_duplicates("grp")["split"].value_counts(normalize=True)
    assert abs(shares["train"] - 0.8) < 0.05
    assert abs(shares["val"] - 0.1) < 0.04
    # complete coverage and determinism under repartitioning
    assert set(out.split) == {"train", "val", "test"}
    out2 = hash_split(
        df.repartition(13), id_col="doc_id", group_col="grp", seed="t1",
        weights={"train": 0.8, "val": 0.1, "test": 0.1},
    ).toPandas()
    assert out.sort_values("doc_id").split.tolist() == out2.sort_values("doc_id").split.tolist()


def test_global_cumsum_correct_without_exchange_reuse(spark):
    """r4 advice: the row-prefix and per-partition-offset branches both
    consume the repartitionByRange exchange, whose boundaries are
    sampled per execution. The pinned (localCheckpoint) frame must keep
    the cumsum exact even when ReuseExchange cannot deduplicate the
    branches."""
    from pyspark.sql import functions as F

    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.sampling import (
        global_cumsum,
    )

    old = spark.conf.get("spark.sql.exchange.reuse", "true")
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try:
        df = (
            spark.range(0, 20_000).withColumnRenamed("id", "k")
            .withColumn("v", (F.col("k") % 13).cast("long"))
        )
        got = {
            r["k"]: r["cum"]
            for r in global_cumsum(
                df, val_col="v", order_cols=["k"], num_partitions=8
            ).collect()
        }
        run = 0
        for k in range(20_000):
            run += k % 13
            assert got[k] == run, f"wrong cumsum at k={k}"
    finally:
        spark.conf.set("spark.sql.exchange.reuse", old)


def test_hash_split_null_keys_assigned_and_grouped(spark):
    """r4 advice: NULL split keys must land in a real split (not fall
    through the when-chain unassigned), and a NULL group must stay
    together in ONE split."""
    from pyspark.sql import functions as F

    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.sampling import (
        hash_split,
    )

    df = spark.range(0, 100).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 4 == 0, F.lit(None)).otherwise(
            (F.col("id") % 7).cast("string")
        ).alias("grp"),
    )
    out = hash_split(
        df, id_col="doc_id", group_col="grp",
        weights={"train": 0.8, "val": 0.1, "test": 0.1},
    )
    rows = out.collect()
    assert all(r["split"] in {"train", "val", "test"} for r in rows)
    null_splits = {r["split"] for r in rows if r["grp"] is None}
    assert len(null_splits) == 1  # NULL group sticks together

    # NULL id without group_col: still assigned, deterministically
    df2 = spark.createDataFrame([(None,), ("a",)], "doc_id string")
    out2 = hash_split(df2, id_col="doc_id", weights={"x": 0.5, "y": 0.5})
    assert all(r["split"] in {"x", "y"} for r in out2.collect())


def test_purged_folds_embargo_and_coverage(spark):
    """Folds tile the time span; the validation fold is contiguous;
    embargo rows adjacent to it are neither train nor val; everything
    far from the boundary trains."""
    from pyspark.sql import functions as F

    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.sampling import (
        purged_train_mask,
    )

    df = spark.range(0, 1000).select(
        F.col("id").alias("rid"),
        F.timestamp_seconds(1_700_000_000 + F.col("id") * 60).alias("ts"),
    )
    out = purged_train_mask(
        df, ts_col="ts", n_folds=5, val_fold=3, embargo_seconds=600
    ).collect()
    by_id = {r["rid"]: r for r in out}
    assert {r["fold_id"] for r in out} == {1, 2, 3, 4, 5}
    val_ids = sorted(r["rid"] for r in out if r["is_val"])
    assert val_ids == list(range(val_ids[0], val_ids[-1] + 1))  # contiguous
    # embargo: the 10 rows (600s/60s) on each side are excluded from train
    for rid in range(val_ids[0] - 10, val_ids[0]):
        assert not by_id[rid]["is_train"] and not by_id[rid]["is_val"]
    for rid in range(val_ids[-1] + 1, val_ids[-1] + 11):
        assert not by_id[rid]["is_train"] and not by_id[rid]["is_val"]
    assert by_id[0]["is_train"] and by_id[999]["is_train"]


def test_standardizer_fit_transform_no_leakage(spark):
    """Transform must use the TRAINING statistics everywhere: applying
    train-fitted stats to a shifted test slice yields nonzero mean in
    z-space (the leak-free behavior), and zero-variance features
    surface as NULL."""
    from pyspark.sql import functions as F

    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.sampling import (
        apply_standardizer,
        fit_standardizer,
    )

    train = spark.createDataFrame(
        [("a", float(v), 5.0) for v in (1, 2, 3, 4)], ["k", "x", "const"]
    )
    test = spark.createDataFrame(
        [("a", float(v), 9.0) for v in (11, 12, 13, 14)], ["k", "x", "const"]
    )
    stats = fit_standardizer(train, cols=["x", "const"], keys=["k"])
    z = apply_standardizer(test, stats, cols=["x", "const"], keys=["k"]).collect()
    import statistics

    mean_train, std_train = 2.5, statistics.pstdev([1, 2, 3, 4])
    for r in z:
        assert abs(r["x_z"] - (r["x"] - mean_train) / std_train) < 1e-12
        assert r["const_z"] is None  # zero variance surfaces as NULL


def test_sessionize_gap_semantics(spark):
    """New session exactly when the gap strictly exceeds the
    threshold; boundary-equal gaps continue the session; sessions are
    per-key ordinals."""
    from pyspark.sql import functions as F

    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.resample import (
        sessionize,
    )

    rows = [
        ("u1", 0), ("u1", 100), ("u1", 1900),   # gap 1800 exactly: same session
        ("u1", 3701),                            # gap 1801: new session
        ("u2", 50),
    ]
    df = spark.createDataFrame(rows, ["user", "t"]).select(
        "user", F.timestamp_seconds("t").alias("ts"), F.col("t")
    )
    got = {
        (r["user"], r["t"]): r["session_id"]
        for r in sessionize(
            df, keys=["user"], ts_col="ts", gap_seconds=1800,
            tiebreak_cols=["t"],
        ).collect()
    }
    assert got[("u1", 0)] == got[("u1", 100)] == got[("u1", 1900)] == 1
    assert got[("u1", 3701)] == 2
    assert got[("u2", 50)] == 1


def test_purged_mask_empty_val_fold_keeps_training_set(spark):
    """r5-advice regression: an empty validation fold gives NULL
    embargo bounds; the embargo predicate must coalesce to False so
    every row stays trainable instead of silently dropping the whole
    training set."""
    from pyspark.sql import functions as F

    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.sampling import (
        purged_train_mask,
    )

    df = spark.range(0, 100).select(
        F.col("id").alias("rid"),
        F.timestamp_seconds(1_700_000_000 + F.col("id") * 60).alias("ts"),
    )
    # fold ids are 1..n_folds; fold 99 can never be populated
    out = purged_train_mask(
        df, ts_col="ts", n_folds=5, val_fold=99, embargo_seconds=600
    ).collect()
    assert all(not r["is_val"] for r in out)
    assert all(r["is_train"] for r in out)
