"""Round-7 advice regressions: HOF bucket-id binding in the hashing
trick, rollup manifest all-torn refusal, empty-input guards in the
semantic-dedup path, and validity preservation in the scaled-tier
embedding perturbation."""

from __future__ import annotations

import importlib.util
import json
import os

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.dedup import tokenize
from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.quality_model import (
    hashed_term_features,
)
from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.similarity import (
    kmeans_centroids,
    semantic_dedup,
)


def test_hashed_term_buckets_bind_bucket_id_not_array_index(spark):
    """r7-advice (high): a two-parameter lambda (`lambda t, i=i:`) is
    treated by PySpark's HOF binding as (element, index), so every
    bucket count collapsed to the same index-coincidence value. The
    fixed factory must yield counts that (a) differ across buckets for
    a real vocabulary, (b) match an independent explode+groupBy
    computation of the same xxhash64 bucket map bucket-for-bucket."""
    n_buckets = 16
    text = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "alpha alpha beta zeta nine ten eleven twelve"
    )
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")

    vec = hashed_term_features(df, n_buckets=n_buckets).first()["term_buckets"]
    assert len(vec) == n_buckets
    # counts are length-normalized: they must total exactly 1
    assert abs(sum(vec) - 1.0) < 1e-12
    # a 15-distinct-token vocabulary cannot land every bucket on the
    # same count — under the (element, index) bug all 16 were equal
    assert len(set(vec)) > 2

    # independent path: explode the same tokenizer, bucket via the same
    # hash expression, groupBy — must agree bucket-for-bucket
    toks = df.select(F.explode(tokenize(F.col("text"))).alias("t"))
    n = toks.count()
    got = {
        r["b"]: r["cnt"] / n
        for r in toks.select(
            F.pmod(F.xxhash64("t"), F.lit(n_buckets)).alias("b")
        ).groupBy("b").agg(F.count("*").alias("cnt")).collect()
    }
    for b in range(n_buckets):
        assert abs(vec[b] - got.get(b, 0.0)) < 1e-12, f"bucket {b}"

    # degenerate single-token doc: exactly one bucket carries 1.0
    one = hashed_term_features(
        spark.createDataFrame([(2, "foo foo foo")], "doc_id long, text string"),
        n_buckets=n_buckets,
    ).first()["term_buckets"]
    assert sorted(set(one)) == [0.0, 1.0] and sum(one) == 1.0


def test_rollup_all_torn_manifests_raise_not_reset(spark, tmp_path):
    """r7-advice (medium): if manifest files EXIST but none parses,
    the reader must refuse rather than silently resolving to
    generation 0 (which would un-compact the store after older
    manifests were swept). Torn-newest fallback to an older good
    generation still works (covered in test_rollup.py)."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.store.rollup import (
        RollupStore,
    )

    df = spark.createDataFrame(
        [("a", "2024-03-04 01:00:00", 1.0), ("a", "2024-03-04 01:30:00", 2.0)],
        "k string, ts string, v double",
    ).withColumn("ts", F.to_timestamp("ts"))
    store = RollupStore(
        spark, str(tmp_path / "r"), keys=["k"], val_cols=["v"],
        bucket_seconds=3600,
    )
    store.upsert_rollup(df, ts_col="ts", batch_id="b1")
    store.compact_rollup()
    # corrupt the sole committed manifest (drop the Hadoop local-FS
    # .crc sidecar so the corruption reads as a torn JSON, not a
    # checksum IO error — that case is covered below)
    path = tmp_path / "r" / "_rollup_manifest.g1.json"
    assert path.exists()
    path.write_text('{"generation": 1, "compacted_batch')
    crc = tmp_path / "r" / "._rollup_manifest.g1.json.crc"
    if crc.exists():
        crc.unlink()
    with pytest.raises(IOError, match="refusing to reset"):
        store._read_manifest()

    # transient/checksum IO error on the sole manifest must ALSO
    # propagate (the pre-fix bare except swallowed it and reset to
    # generation 0): leave a stale .crc that mismatches the bytes
    # regenerate a crc by letting hadoop write it, then corrupt bytes
    # without touching the sidecar
    fs, HPath = store._fs()
    out = fs.create(HPath(str(path)), True)
    out.write(bytearray(b'{"generation": 1, "compacted_batch_ids": []}'))
    out.close()
    path.write_text('{"generation": 1, "compacted_batch_ids": [    ]}')
    with pytest.raises(Exception, match="Checksum|refusing"):
        store._read_manifest()


def test_semantic_dedup_and_kmeans_empty_input(spark):
    """r7-advice (low): empty embeddings frame returns empty,
    correctly-typed results instead of IndexError."""
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>"
    )
    cents = kmeans_centroids(empty, 4)
    assert cents.count() == 0
    assert [f.name for f in cents.schema.fields] == ["centroid_id", "centroid"]

    out = semantic_dedup(empty, n_clusters=4)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "vec_id", "cluster_id", "component", "keep",
    ]


def _load_make_scaled():
    spec = importlib.util.spec_from_file_location(
        "make_scaled_sf",
        os.path.join(os.path.dirname(__file__), "..", "tools", "make_scaled_sf.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_perturb_embeddings_preserves_nulls_and_rejects_ragged():
    """r7-advice (low): the sign-flip rebuild must carry the validity
    bitmap through ListArray.from_arrays, and ragged widths must fail
    loudly instead of silently skipping perturbation."""
    mod = _load_make_scaled()

    vecs = pa.array(
        [[1.0, -2.0, 3.0, 4.0], None, [0.5, 0.5, -0.5, 1.5]],
        type=pa.list_(pa.float32()),
    )
    t = pa.table({"vec_id": pa.array([0, 1, 2], type=pa.int64()), "embedding": vecs})
    out = mod._perturb_embeddings(t, "embedding", r=3)
    col = out["embedding"].combine_chunks()
    assert col.null_count == 1 and not col.is_valid()[1].as_py()
    a0 = np.asarray(col[0].as_py())
    a2 = np.asarray(col[2].as_py())
    # sign flip only: magnitudes bit-identical, intra-replica dot exact
    np.testing.assert_array_equal(np.abs(a0), [1.0, 2.0, 3.0, 4.0])
    orig0 = np.asarray([1.0, -2.0, 3.0, 4.0], dtype=np.float32)
    orig2 = np.asarray([0.5, 0.5, -0.5, 1.5], dtype=np.float32)
    assert float(np.dot(a0, a2)) == float(np.dot(orig0, orig2))
    # r=0-style identity is NOT expected here (r>0 flips); but a second
    # call with the same r is deterministic
    out2 = mod._perturb_embeddings(t, "embedding", r=3)
    assert out["embedding"].equals(out2["embedding"])

    ragged = pa.table({
        "embedding": pa.array([[1.0, 2.0], [3.0]], type=pa.list_(pa.float32()))
    })
    with pytest.raises(ValueError, match="ragged"):
        mod._perturb_embeddings(ragged, "embedding", r=1)
