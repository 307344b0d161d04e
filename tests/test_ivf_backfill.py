"""IVF ANN recall and the ST5 gap-detect -> backfill -> verify round
trip (the reference's §3.3 admin flow)."""

from __future__ import annotations

import math
import struct
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.similarity import (
    ivf_topk,
    knn_join,
)


def test_ivf_recall_vs_exact(spark):
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20)
    exact = {(r["query_id"], r["neighbor_id"]) for r in knn_join(q, emb, k=5).collect()}
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(q, emb, k=5, n_centroids=16, nprobe=8).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.9


def test_portable_mean_tracks_float_mean_bitwise_close(spark):
    """The fixed-point Lloyd mean deviates from a float64 mean by at
    most the 2^-40 input quantization plus one float32 rounding step.
    Reference: NumPy Lloyd in float64 with the same k lowest-id seeds,
    the same argmax (ties to the lowest centroid id; empty clusters
    drop) and 3 iterations, each centroid rounded to float32 as the
    quantizer stores it. Per-element agreement to 1e-6 absolute (a
    diverging assignment would amplify any real error)."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.similarity import (
        kmeans_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pdf = emb.select("vec_id", "embedding").toPandas().sort_values("vec_id")
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    ref = {i: mat[i].astype(np.float32) for i in range(8)}
    for _ in range(3):
        ids = sorted(ref)
        cents = np.stack([ref[c] for c in ids]).astype(np.float64)
        assign = np.asarray(ids)[np.argmax(mat @ cents.T, axis=1)]
        ref = {
            c: mat[assign == c].mean(axis=0).astype(np.float32)
            for c in np.unique(assign)
        }
    got = {r["centroid_id"]: np.asarray(r["centroid"], dtype=np.float64)
           for r in kmeans_centroids(emb, 8, iterations=3).collect()}
    assert set(got) == {int(c) for c in ref}
    worst = max(float(np.max(np.abs(got[c] - ref[c]))) for c in got)
    assert worst <= 1e-6, worst


def test_gap_detect_and_backfill_roundtrip(spark):
    """§3.3 parity: write features with a hole, detect exactly the
    missing bars, backfill them, verify the gap closes."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.store.feature_store import (
        FeatureStore,
    )

    import pandas as pd

    n = 48
    ts = pd.date_range("2024-01-01", periods=n, freq="1h")
    pdf = pd.DataFrame(
        {
            "timestamp": ts.astype("datetime64[us]"),
            "symbol": "BTC/USDT",
            "timeframe": "1h",
            "value": np.arange(n, dtype=float),
        }
    )
    hole = pdf.iloc[10:20]          # 10 missing bars
    present = pd.concat([pdf.iloc[:10], pdf.iloc[20:]])

    with tempfile.TemporaryDirectory() as tmp:
        store = FeatureStore(spark, tmp)
        store.write(spark.createDataFrame(present), domain="market")

        missing = store.find_missing_bars(
            "market", "BTC/USDT", "1h", "2024-01-01 00:00:00", "2024-01-02 23:00:00"
        )
        got = sorted(r["expected_ts"] for r in missing.collect())
        assert got == sorted(hole["timestamp"].dt.to_pydatetime())

        # backfill exactly the missing bars, then the gap is closed
        store.write(spark.createDataFrame(hole), domain="market")
        assert (
            store.find_missing_bars(
                "market", "BTC/USDT", "1h", "2024-01-01 00:00:00", "2024-01-02 23:00:00"
            ).count()
            == 0
        )
        # and the store serves the full contiguous range
        full = store.range_read(
            "market", "BTC/USDT", "1h",
            int(pd.Timestamp("2024-01-01").timestamp()),
            int(pd.Timestamp("2024-01-02 23:00:00").timestamp()),
        )
        assert full.count() == n


def _pair_key(rows):
    """Multiset of (id_a, id_b, cosine bits); NaN as one marker, since
    its payload bits are not part of the contract."""
    return sorted(
        (r[0], r[1], "nan" if math.isnan(r[2]) else struct.pack("<d", r[2]))
        for r in rows
    )


def _cosine_reference(df, threshold):
    """Independent reference: crossJoin every row with every row and
    score with similarity.cosine (the HOF form _cos_sql mirrors)."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.similarity import cosine

    a = df.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = df.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine("va", "vb").alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


@pytest.mark.parametrize(
    "case",
    ["sf0.01", "empty", "null_vector", "null_element", "single", "zero_vector",
     "nan_element", "duplicate_ids", "small_batches", "mixed_lengths"],
)
def test_near_pairs_kernel_matches_cosine_reference(spark, case):
    """The exact tier's NumPy kernel gives the reference's pairs with
    bit-identical cosines on adversarial corpora: a NULL vector or a
    NULL element scores no pair, a zero vector scores none (0 norm),
    a NaN element pairs with every vector (Spark orders NaN above
    every number), duplicate ids pair with every other id but not each
    other, and pairs come out the same when the collect, the block ids
    and the output are split into 3-row Arrow batches. Mixed vector
    lengths raise."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.similarity import (
        embedding_near_pairs,
    )

    schema = "vec_id long, embedding array<float>"
    threshold = 0.1
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    ).filter(F.col("vec_id") < 60)
    v7 = emb.filter(F.col("vec_id") == 7).first()["embedding"]
    extra = {
        "null_vector": [(10_001, None)],
        "null_element": [(10_001, [None] + v7[1:])],
        "zero_vector": [(10_001, [0.0] * len(v7))],
        "nan_element": [(10_001, [float("nan")] + v7[1:])],
        "duplicate_ids": [(5, v7), (7, v7)],
    }.get(case)
    if case == "sf0.01":
        emb, threshold = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet"), 0.3
    elif case == "empty":
        emb = emb.limit(0)
    elif case == "single":
        emb = emb.filter(F.col("vec_id") == 7)
    elif case == "mixed_lengths":  # the HOF would NULL these pairs silently
        mixed = emb.unionByName(spark.createDataFrame([(10_001, v7[1:])], schema))
        with pytest.raises(ValueError, match="mixed lengths"):
            embedding_near_pairs(mixed, threshold)
        return
    elif extra:
        emb = emb.unionByName(spark.createDataFrame(extra, schema))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    if case == "small_batches":
        spark.conf.set(key, "3")
    try:
        got_df = embedding_near_pairs(emb, threshold)
        got = _pair_key(got_df.collect())
    finally:
        spark.conf.set(key, old)
    want = _pair_key(_cosine_reference(emb, threshold).collect())
    assert got_df.dtypes == [("id_a", "bigint"), ("id_b", "bigint"), ("cosine", "double")]
    assert got == want
    assert bool(got) == (case not in ("empty", "single"))
    if case == "nan_element":
        assert sum(1 for r in got if r[2] == "nan") == emb.count() - 1
    if case == "duplicate_ids":  # both 5s pair with both 7s
        assert sum(1 for r in got if r[:2] == (5, 7)) >= 2


def test_arrow_flagship_matches_expression_plan(spark):
    import numpy as np

    from algorithmic_data_ingestion_for_cryptocurrencies_spark.driver_queries import (
        REGISTRY,
        _market,
    )
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.indicators import (
        build_market_features_arrow,
    )

    sf = "/root/testdata/sf0.001"
    a = build_market_features_arrow(
        _market(spark, sf), keys=["suppkey"], ts_col="ts",
        order_cols=["ts", "okey", "lnum", "pkey"], id_cols=["okey", "lnum"],
    ).toPandas()
    fn, _sql = REGISTRY["flagship_market_features"]
    b = fn(spark, sf).toPandas()  # rounded to 1e-6 by the registry
    mrg = a.merge(b, on=["suppkey", "ts", "okey", "lnum"], suffixes=("_a", "_b"))
    assert len(mrg) == len(a) == len(b)
    for c in ["ret_1", "ema_12", "macd_signal_9", "rsi_14", "oi_obv"]:
        x, y = mrg[c + "_a"].to_numpy(), mrg[c + "_b"].to_numpy()
        m = ~(np.isnan(x) | np.isnan(y))
        assert (np.isnan(x) == np.isnan(y)).all()
        assert np.abs(x[m] - y[m]).max() <= 5.1e-7  # rounding quantum


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_routed_to_lsh(routed):
    """The bucketed LSH join: a Join, no cartesian, no Arrow map."""
    p = _plan(routed)
    assert "CartesianProduct" not in p and "Join" in p, p
    assert "MapInArrow" not in p
    assert routed.columns == ["id_a", "id_b", "cosine"]
    routed.limit(5).collect()  # executes end-to-end


def test_arrow_near_pairs_cap_guard_routes_to_lsh(spark, monkeypatch):
    """When the corpus at its measured length would broadcast past
    BROADCAST_PIN_MAX_BYTES, the Arrow kernel tier must not collect to
    the driver: it routes to the bucketed LSH join with no dim given."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators import similarity
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.similarity import (
        embedding_near_pairs,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    monkeypatch.setattr(similarity, "BROADCAST_PIN_MAX_BYTES", 10_000)
    _assert_routed_to_lsh(embedding_near_pairs(emb, 0.3))


def test_exact_near_pairs_cap_guard_never_goes_quadratic(spark):
    """Above max_exact_vectors the exact tier must neither collect to
    the driver nor plan all pairs: it routes to the bucketed LSH join
    with no dim given. Under both caps the kernel tier runs (r3
    verdict #4)."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.similarity import (
        embedding_near_pairs,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    _assert_routed_to_lsh(embedding_near_pairs(emb, 0.3, max_exact_vectors=10))

    exact = embedding_near_pairs(emb, 0.3)
    p = _plan(exact)
    assert "MapInArrow" in p and "Join" not in p and "CartesianProduct" not in p
    assert exact.columns == ["id_a", "id_b", "cosine"]


def test_capped_near_pairs_bounded_and_subset_of_exact(spark):
    """The budgeted tier must (a) never score more than cap vectors
    per bucket, (b) emit a SUBSET of the exact all-pairs result with
    identical cosines on shared pairs, (c) be invariant to input
    partitioning (deterministic md5 cap)."""
    from pyspark.sql import functions as F

    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.similarity import (
        embedding_near_pairs,
        embedding_near_pairs_capped,
        with_lsh_bucket,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    cap = 20

    capped = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_pairs_capped(
            emb, 0.3, dim=dim, n_planes=2, cap=cap
        ).collect()
    }
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_pairs(emb, 0.3).collect()
    }
    assert capped, "capped tier found no pairs at all"
    assert set(capped) <= set(exact)
    assert all(exact[p] == capped[p] for p in capped)  # bit-identical

    # occupancy after the cap: every bucket <= cap survivors
    occ = (
        with_lsh_bucket(emb, vec_col="embedding", dim=dim, n_planes=2)
        .groupBy("lsh_bucket").count().collect()
    )
    assert any(r["count"] > cap for r in occ), "cap never binds — weak test"

    repart = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_pairs_capped(
            emb.repartition(7), 0.3, dim=dim, n_planes=2, cap=cap
        ).collect()
    }
    assert repart == set(capped)


def test_persisted_ivf_index_prunes_partitions_and_recalls(spark, tmp_path):
    """The stored IVF layout's probe must be PLAIN PARTITION PRUNING:
    the lists scan carries a centroid_id partition filter (asserted in
    the plan), and recall vs exact kNN stays high."""
    from pyspark.sql import functions as F

    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_centroids=16)

    q = emb.filter(F.col("vec_id") < 20)
    out = ivf_index_topk(spark, path, q, k=5, nprobe=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid_id" in plan, plan

    approx = {(r["query_id"], r["neighbor_id"]) for r in out.collect()}
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_join(q, emb, k=5).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.9


def test_ivf_and_semantic_dedup_empty_corpus(spark):
    """Empty-corpus edges return typed empty frames (the map-only
    assignment guard, r11): no crash building expressions over zero
    centroids."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.similarity import (
        semantic_dedup,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).limit(0)
    out = ivf_topk(emb, emb, k=3, n_centroids=8)
    assert out.count() == 0
    assert out.columns == ["query_id", "neighbor_id", "cosine", "rank"]
    sd = semantic_dedup(emb, n_clusters=8, threshold=0.9)
    assert sd.count() == 0
    assert sd.columns == ["vec_id", "cluster_id", "component", "keep"]


def test_assignment_tiers_agree_above_threshold(spark, monkeypatch):
    """The large-k broadcast-join assignment tier (above
    ASSIGN_EXPR_MAX_CENTROIDS, the 100k-cluster SemDeDup regime) must
    produce row-identical results to the map-only expression tier —
    same argmax, same (dot DESC, centroid_id) tie order. The Lloyd
    step inside the quantizer switches tier with the same cap, so the
    centroids must agree too."""
    import algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)

    def run():
        return {
            (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
            for r in ivf_topk(
                q, emb, k=5, n_centroids=80, nprobe=20, iterations=1
            ).collect()
        }

    monkeypatch.setattr(sim, "ASSIGN_EXPR_MAX_CENTROIDS", 128)
    small = run()  # expression tier (80 <= 128)
    monkeypatch.setattr(sim, "ASSIGN_EXPR_MAX_CENTROIDS", 64)
    large = run()  # join tier (80 > 64)
    assert small == large


def test_null_vector_assignment_is_null_in_both_tiers(spark, monkeypatch):
    """Dirty-input contract (r11 advisor): a NULL or malformed (null
    element) vector gets a NULL centroid assignment in BOTH tiers —
    the map-only greatest() expression must not fall through the
    struct tiebreak to centroid 0, and the broadcast-join tier must
    not differ. Probe lists are NULL for the same inputs."""
    import algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.similarity as sim

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None), (2, [None, 1.0])],
        "vec_id int, embedding array<float>",
    )
    crows = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.5, 0.5])]
    cents = spark.createDataFrame(
        crows, "centroid_id int, centroid array<float>"
    )
    for cap in (64, 2):  # expression tier, then broadcast-join tier
        monkeypatch.setattr(sim, "ASSIGN_EXPR_MAX_CENTROIDS", cap)
        got = {
            r["vec_id"]: r["centroid_id"]
            for r in sim._assigned_frame(
                df, cents, crows, vec_col="embedding"
            ).collect()
        }
        assert got == {0: 0, 1: None, 2: None}, (cap, got)

    probes = {
        r["vec_id"]: r["p"]
        for r in df.select(
            "vec_id", sim._probe_expr("embedding", crows, 2).alias("p")
        ).collect()
    }
    assert probes[0] == [0, 2] and probes[1] is None and probes[2] is None


def test_null_vectors_through_kmeans_probe_and_ivf(spark, monkeypatch):
    """r12 review: the NULL-assignment contract must hold through the
    CONSUMERS, not just the expression helpers — (a) kmeans_centroids
    completes on a dirty corpus (the NULL group is excluded from the
    means; previously int(None) crashed the Lloyd collect), (b) both
    _probed_frame tiers DROP a NULL query identically, (c) end-to-end
    ivf_topk: a NULL query emits no rows, a NULL corpus vector is
    never a neighbor."""
    import algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.similarity as sim

    clean = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(40)
    )
    dim = len(clean.first()["embedding"])
    dirty = clean.unionByName(
        spark.createDataFrame(
            [(10_001, None), (10_002, [None] + [1.0] * (dim - 1))],
            "vec_id long, embedding array<float>",
        ).select("vec_id", F.col("embedding").cast("array<float>"))
    )

    cents = sim.kmeans_centroids(dirty, 4, iterations=2)
    assert cents.count() >= 1  # Lloyd completed on dirty input

    crows = sim._cent_rows(sim.kmeans_centroids(clean, 8, iterations=1))
    cents_df = spark.createDataFrame(
        crows, "centroid_id int, centroid array<float>"
    )
    q = dirty.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qvec")
    )
    probed = {}
    for cap in (64, 2):  # expr tier, then join tier
        monkeypatch.setattr(sim, "ASSIGN_EXPR_MAX_CENTROIDS", cap)
        probed[cap] = {
            (r["query_id"], r["centroid_id"])
            for r in sim._probed_frame(q, cents_df, crows, 3).collect()
        }
    assert probed[64] == probed[2]  # tier identity on dirty input
    assert not any(qid >= 10_001 for qid, _ in probed[64])  # nulls dropped

    out = sim.ivf_topk(
        dirty.filter(F.col("vec_id").isin(10_001, int(clean.first()["vec_id"]))),
        dirty, k=3, n_centroids=4, nprobe=4, iterations=1,
    ).collect()
    assert out, "clean query must still return neighbors"
    assert all(r["query_id"] != 10_001 for r in out)
    assert all(r["neighbor_id"] not in (10_001, 10_002) for r in out)
