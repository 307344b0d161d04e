"""Continuous-aggregate rollup invariants: incremental == one-shot,
batch replay counts once, compaction preserves results."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from algorithmic_data_ingestion_for_cryptocurrencies_spark.store.rollup import (
    RollupStore,
    finalize_rollup,
    merge_rollup_states,
    rollup_state,
)


def _raw(spark, n=5000, seed=5):
    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame(
        {
            "k": rng.integers(0, 7, n),
            "ts": pd.Timestamp("2024-03-01")
            + pd.to_timedelta(rng.integers(0, 10 * 86400, n), unit="s"),
            "v": rng.normal(100.0, 5.0, n),
        }
    )
    return spark.createDataFrame(pdf)


def _direct(spark, df):
    """One-shot reference aggregate over the raw rows."""
    state = rollup_state(
        df, keys=["k"], ts_col="ts", bucket_seconds=3600, val_cols=["v"],
        batch_id="all",
    )
    return finalize_rollup(
        merge_rollup_states(state, keys=["k"], val_cols=["v"]), val_cols=["v"]
    )


def _sorted(pdf):
    return pdf.sort_values(["k", "bucket_ts"]).reset_index(drop=True)


def test_incremental_rollup_equals_one_shot_and_survives_replay(spark, tmp_path):
    df = _raw(spark)
    store = RollupStore(
        spark, str(tmp_path / "r"), keys=["k"], val_cols=["v"],
        bucket_seconds=3600,
    )
    # three increments split mid-bucket (hour grain, day splits → many
    # buckets span increments), plus a replay of the middle batch
    b1 = df.filter(F.col("ts") < "2024-03-04 07:30:00")
    b2 = df.filter(
        (F.col("ts") >= "2024-03-04 07:30:00") & (F.col("ts") < "2024-03-07 13:10:00")
    )
    b3 = df.filter(F.col("ts") >= "2024-03-07 13:10:00")
    for bid, b in (("b1", b1), ("b2", b2), ("b2", b2), ("b3", b3)):
        store.upsert_rollup(b, ts_col="ts", batch_id=bid)

    got = _sorted(store.read_rollup().toPandas())
    want = _sorted(_direct(spark, df).toPandas())
    assert got.n_v.equals(want.n_v) and got.k.equals(want.k)
    for c in ("min_v", "max_v", "mean_v", "std_v"):
        np.testing.assert_allclose(got[c], want[c], rtol=1e-12)

    # compaction: one state row per (k, bucket), same finalized values
    store.compact_rollup()
    states = spark.read.parquet(store.path).toPandas()
    assert states.batch_id.unique().tolist() == ["__compacted_g1"]
    assert len(states) == len(want)
    after = _sorted(store.read_rollup().toPandas())
    for c in ("n_v", "min_v", "max_v", "mean_v", "std_v"):
        np.testing.assert_allclose(after[c], got[c], rtol=1e-12)

    # post-compaction increments keep working
    extra = _raw(spark, n=500, seed=9)
    store.upsert_rollup(extra, ts_col="ts", batch_id="b4")
    final = _sorted(store.read_rollup().toPandas())
    full = _sorted(_direct(spark, df.unionByName(extra)).toPandas())
    np.testing.assert_allclose(final.mean_v, full.mean_v, rtol=1e-12)
    assert final.n_v.equals(full.n_v)


def test_rollup_state_shuffles_one_row_per_bucket(spark):
    df = _raw(spark, n=2000)
    state = rollup_state(
        df.repartition(8), keys=["k"], ts_col="ts", bucket_seconds=86400,
        val_cols=["v"], batch_id="x",
    )
    # partial aggregation: the exchange carries bucket-grain rows, so
    # the plan must place HashAggregate below the shuffle
    plan = state._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 2, plan
    assert state.count() == df.select("k", (F.col("ts").cast("long") / 86400).cast("long")).distinct().count()


def test_streaming_rollup_ingest_exactly_once(spark, tmp_path):
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.streaming.ingest import (
        read_file_stream,
        start_rollup_ingest,
    )

    df = _raw(spark, n=3000)
    src = tmp_path / "src"
    # three source files → three micro-batches at maxFilesPerTrigger=1
    pdf = df.toPandas()
    for i in range(3):
        spark.createDataFrame(pdf.iloc[i * 1000:(i + 1) * 1000]).coalesce(1) \
            .write.mode("overwrite").parquet(str(src / f"f{i}"))
    store = RollupStore(
        spark, str(tmp_path / "roll"), keys=["k"], val_cols=["v"],
        bucket_seconds=3600,
    )
    stream = read_file_stream(
        spark, str(src) + "/*", df.schema, max_files_per_trigger=1
    )
    q = start_rollup_ingest(
        stream, rollup_store=store, ts_col="ts",
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    got = _sorted(store.read_rollup().toPandas())
    want = _sorted(_direct(spark, df).toPandas())
    assert got.n_v.equals(want.n_v)
    np.testing.assert_allclose(got.mean_v, want.mean_v, rtol=1e-12)

    # crash-replay: re-appending a micro-batch under its original
    # batch_id must not change the aggregate (read-side dedup)
    replay = spark.createDataFrame(pdf.iloc[1000:2000])
    store.upsert_rollup(replay, ts_col="ts", batch_id="stream-1")
    again = _sorted(store.read_rollup().toPandas())
    assert again.n_v.equals(want.n_v)
    np.testing.assert_allclose(again.mean_v, want.mean_v, rtol=1e-12)


def test_replay_after_compaction_counts_once(spark, tmp_path):
    """r4 advice (medium): a micro-batch replayed AFTER compaction
    folded it (crash between the parquet append and the streaming
    checkpoint commit, compaction running before restart) must not be
    double-counted — the manifest records folded batch_ids and both
    the upsert and the read side drop re-appends."""
    df = _raw(spark, n=2000)
    store = RollupStore(
        spark, str(tmp_path / "r"), keys=["k"], val_cols=["v"],
        bucket_seconds=3600,
    )
    b1 = df.filter(F.col("ts") < "2024-03-05")
    b2 = df.filter(F.col("ts") >= "2024-03-05")
    store.upsert_rollup(b1, ts_col="ts", batch_id="b1")
    store.upsert_rollup(b2, ts_col="ts", batch_id="b2")
    store.compact_rollup()

    # replay b2 post-compaction: upsert must no-op entirely
    files_before = sorted(store._data_files())
    store.upsert_rollup(b2, ts_col="ts", batch_id="b2")
    assert sorted(store._data_files()) == files_before

    # even a raw re-append under a folded batch_id is read-side inert
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.store.rollup import (
        rollup_state,
    )

    rollup_state(
        b2, keys=["k"], ts_col="ts", bucket_seconds=3600, val_cols=["v"],
        batch_id="b2",
    ).write.mode("append").parquet(store.path)

    got = _sorted(store.read_rollup().toPandas())
    want = _sorted(_direct(spark, df).toPandas())
    assert got.n_v.equals(want.n_v)
    np.testing.assert_allclose(got.mean_v, want.mean_v, rtol=1e-12)


def test_compaction_crash_before_commit_is_invisible(spark, tmp_path):
    """The manifest rename is the commit point: new-generation state
    files that landed WITHOUT a manifest update (crash mid-compaction)
    must not change what readers see, and the next compaction must
    sweep them."""
    df = _raw(spark, n=1500)
    store = RollupStore(
        spark, str(tmp_path / "r"), keys=["k"], val_cols=["v"],
        bucket_seconds=3600,
    )
    store.upsert_rollup(df, ts_col="ts", batch_id="b1")
    want = _sorted(store.read_rollup().toPandas())

    # simulate a crash after step 2 (uncommitted generation-1 files in
    # the live dir, manifest still at generation 0)
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.store.rollup import (
        merge_rollup_states,
        rollup_state,
    )

    orphan = merge_rollup_states(
        rollup_state(
            df, keys=["k"], ts_col="ts", bucket_seconds=3600,
            val_cols=["v"], batch_id="x",
        ),
        keys=["k"], val_cols=["v"],
    ).withColumn("batch_id", F.lit("__compacted_g1"))
    orphan.write.mode("append").parquet(store.path)

    got = _sorted(store.read_rollup().toPandas())
    assert got.n_v.equals(want.n_v)
    np.testing.assert_allclose(got.mean_v, want.mean_v, rtol=1e-12)

    # recovery: the next compaction commits generation 2 and sweeps
    # the orphaned generation-1 files
    store.compact_rollup()
    after = _sorted(store.read_rollup().toPandas())
    assert after.n_v.equals(want.n_v)
    np.testing.assert_allclose(after.mean_v, want.mean_v, rtol=1e-12)
    tags = spark.read.parquet(store.path).select("batch_id").distinct()
    assert [r["batch_id"] for r in tags.collect()] == ["__compacted_g2"]


def test_rollup_incremental_approx_distinct(spark, tmp_path):
    """KMV distinct states must merge across batches and compaction:
    the incremental approx-distinct equals the one-shot estimate on
    the same data, stays close to exact (k=256: ~3 rsd = 20% above
    k, exact below), and survives compaction + a post-compaction
    replay unchanged."""
    df = _raw(spark, n=4000, seed=11).withColumn(
        "u", (F.abs(F.hash("v")) % 500).cast("long")
    )
    store = RollupStore(
        spark, str(tmp_path / "r"), keys=["k"], val_cols=["v"],
        bucket_seconds=7 * 86400, distinct_cols=["u"],
    )
    b1 = df.filter(F.col("ts") < "2024-03-06")
    b2 = df.filter(F.col("ts") >= "2024-03-06")
    store.upsert_rollup(b1, ts_col="ts", batch_id="b1")
    store.upsert_rollup(b2, ts_col="ts", batch_id="b2")

    got = {
        (r["k"], r["bucket_ts"]): r["approx_distinct_u"]
        for r in store.read_rollup().collect()
    }
    one_shot = rollup_state(
        df, keys=["k"], ts_col="ts", bucket_seconds=7 * 86400,
        val_cols=["v"], batch_id="all", distinct_cols=["u"],
    )
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.store.rollup import (
        finalize_rollup as _fin,
        merge_rollup_states as _mrg,
    )

    want = {
        (r["k"], r["bucket_ts"]): r["approx_distinct_u"]
        for r in _fin(
            _mrg(one_shot, keys=["k"], val_cols=["v"], distinct_cols=["u"]),
            val_cols=["v"], distinct_cols=["u"],
        ).collect()
    }
    assert got == want  # state merge is exact-deterministic on same data

    exact = {
        (r["k"], r["bucket_ts"]): r["x"]
        for r in df.withColumn(
            "bucket_ts",
            (F.floor(F.col("ts").cast("long") / (7 * 86400)) * (7 * 86400)).cast("long"),
        ).groupBy("k", "bucket_ts").agg(F.countDistinct("u").alias("x")).collect()
    }
    for key, est in got.items():
        assert abs(est - exact[key]) / exact[key] < 0.20

    store.compact_rollup()
    store.upsert_rollup(b2, ts_col="ts", batch_id="b2")  # replay: inert
    after = {
        (r["k"], r["bucket_ts"]): r["approx_distinct_u"]
        for r in store.read_rollup().collect()
    }
    assert after == got


def test_compaction_retention_drops_old_buckets(spark, tmp_path):
    """min_bucket_ts at compaction expires old buckets (TTL fused into
    the rewrite); surviving buckets keep exact values and later
    increments still work."""
    df = _raw(spark, n=3000, seed=3)
    store = RollupStore(
        spark, str(tmp_path / "r"), keys=["k"], val_cols=["v"],
        bucket_seconds=86400,
    )
    store.upsert_rollup(df, ts_col="ts", batch_id="b1")
    before = _sorted(store.read_rollup().toPandas())
    cutoff = int(pd.Timestamp("2024-03-05").timestamp())
    store.compact_rollup(min_bucket_ts=cutoff)

    after = _sorted(store.read_rollup().toPandas())
    assert after.bucket_ts.min() >= cutoff
    kept = before[before.bucket_ts >= cutoff].reset_index(drop=True)
    assert after.n_v.equals(kept.n_v)
    np.testing.assert_allclose(after.mean_v, kept.mean_v, rtol=1e-12)

    extra = _raw(spark, n=300, seed=4)
    store.upsert_rollup(
        extra.filter(F.col("ts") >= "2024-03-05"), ts_col="ts", batch_id="b2"
    )
    assert store.read_rollup().count() >= len(kept)


def test_rollup_histogram_percentiles_merge_and_bound(spark, tmp_path):
    """Histogram states merge across batches and compaction; finalized
    percentile estimates stay within one bin width of exact; NULL for
    empty buckets never fabricates values."""
    df = _raw(spark, n=6000, seed=21)
    lo, hi, nbins = 70.0, 130.0, 60  # bin width 1.0 over N(100, 5)
    store = RollupStore(
        spark, str(tmp_path / "r"), keys=["k"], val_cols=["v"],
        bucket_seconds=7 * 86400, hist_cols={"v": (lo, hi, nbins)},
    )
    b1 = df.filter(F.col("ts") < "2024-03-06")
    b2 = df.filter(F.col("ts") >= "2024-03-06")
    store.upsert_rollup(b1, ts_col="ts", batch_id="b1")
    store.upsert_rollup(b2, ts_col="ts", batch_id="b2")

    got = {
        (r["k"], r["bucket_ts"]): r
        for r in store.read_rollup().collect()
    }
    exact = {
        (r["k"], r["bucket_ts"]): r
        for r in df.withColumn(
            "bucket_ts",
            (F.floor(F.col("ts").cast("long") / (7 * 86400)) * (7 * 86400)).cast("long"),
        ).groupBy("k", "bucket_ts").agg(
            F.expr("percentile(v, 0.5)").alias("p50"),
            F.expr("percentile(v, 0.95)").alias("p95"),
            F.expr("percentile(v, 0.99)").alias("p99"),
        ).collect()
    }
    width = (hi - lo) / nbins
    for key, r in got.items():
        for p in ("p50", "p95", "p99"):
            assert abs(r[f"{p}_v"] - exact[key][p]) <= 2 * width, (key, p)

    store.compact_rollup()
    after = {
        (r["k"], r["bucket_ts"]): r for r in store.read_rollup().collect()
    }
    for key in got:
        for p in ("p50_v", "p95_v", "p99_v"):
            assert after[key][p] == got[key][p]  # merge-invariant


def test_manifest_never_absent_and_stale_generations_resolved(spark, tmp_path):
    """r5-advice regression: the commit must never pass through a
    no-manifest window. Manifests are generation-suffixed; a crash
    mid-sweep (old AND new manifest both on disk) resolves to the max
    generation, and a reader never resets to generation 0 while
    __compacted_g{N} rows exist."""
    import json as _json
    import os

    df = _raw(spark, n=1500)
    store = RollupStore(
        spark, str(tmp_path / "r"), keys=["k"], val_cols=["v"],
        bucket_seconds=3600,
    )
    store.upsert_rollup(df, ts_col="ts", batch_id="b1")
    want = _sorted(store.read_rollup().toPandas())
    store.compact_rollup()

    names = sorted(
        n for n in os.listdir(store.path) if n.startswith("_rollup_manifest")
    )
    assert names == ["_rollup_manifest.g1.json"]

    # crash mid-sweep: a stale generation-0-era manifest survives next
    # to the committed one — read must pick the higher generation
    stale = tmp_path / "r" / "_rollup_manifest.g0.json"
    stale.write_text(_json.dumps({"generation": 0, "compacted_batch_ids": []}))
    got = _sorted(store.read_rollup().toPandas())
    assert got.n_v.equals(want.n_v)
    np.testing.assert_allclose(got.mean_v, want.mean_v, rtol=1e-12)
    assert store._read_manifest()["generation"] == 1

    # a torn (half-written) NEWEST manifest falls back to the previous
    # committed generation instead of erroring or resetting to 0
    torn = tmp_path / "r" / "_rollup_manifest.g2.json"
    torn.write_text('{"generation": 2, "compacted_batch')
    assert store._read_manifest()["generation"] == 1
    torn.unlink()

    # next compaction sweeps the stale manifest and commits g2
    store.upsert_rollup(df, ts_col="ts", batch_id="b2")
    store.compact_rollup()
    names = sorted(
        n for n in os.listdir(store.path) if n.startswith("_rollup_manifest")
    )
    assert names == ["_rollup_manifest.g2.json"]


def test_kmv_rollup_null_group_key_gets_state(spark, tmp_path):
    """Review fix (r11): a group keyed by NULL must still receive its
    KMV distinct state — the state join is null-safe, so the NULL
    group reports the true distinct count (a plain equi-join silently
    finalized it to 0)."""
    rows = [
        (None, "2024-03-01 00:00:00", 1.0, 10),
        (None, "2024-03-01 01:00:00", 2.0, 11),
        (None, "2024-03-01 02:00:00", 3.0, 10),
        ("k1", "2024-03-01 00:00:00", 4.0, 12),
    ]
    df = spark.createDataFrame(
        rows, "k string, ts string, v double, u long"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    store = RollupStore(
        spark, str(tmp_path / "r"), keys=["k"], val_cols=["v"],
        bucket_seconds=7 * 86400, distinct_cols=["u"],
    )
    store.upsert_rollup(df, ts_col="ts", batch_id="b1")
    got = {r["k"]: r["approx_distinct_u"] for r in store.read_rollup().collect()}
    assert got[None] == 2.0   # users 10, 11 — not 0
    assert got["k1"] == 1.0
