"""r15: the Arrow run-min md5 signature must be bit-identical to the
JVM 64-MIN aggregate shape it replaced (same Carter-Wegman int64
arithmetic, layout-independent merge), including under adversarial
layouts where a doc's shingle rows are NOT contiguous."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.dedup import (
    _md5_banded_signatures,
    _md5_signatures_agg,
    _md5_signatures_from_staged,
    banded_buckets,
    exploded_shingles,
    minhash_dedup_pairs,
    minhash_signatures,
)


def _staged(spark, docs):
    ex = exploded_shingles(
        docs, id_col="doc_id", text_col="text", n=3
    ).withColumnRenamed("shingle", "__shingle")
    v = (
        F.conv(F.substring(F.md5("__shingle"), 1, 8), 16, 10)
        .cast("long")
        .alias("__v")
    )
    return ex.select("id", v)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different text with no shared shingles at all"),
        (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (5, "short doc"),  # fewer tokens than n -> whole-doc shingle
        (6, "a b c d e f g h i j k l m n o p q r s t u v w x y z " * 20),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _as_map(rows):
    return {r["id"]: list(r["sig"]) for r in rows}


def test_arrow_signature_matches_agg_shape(spark, docs):
    staged = _staged(spark, docs)
    ref = _as_map(_md5_signatures_agg(staged, num_hashes=64).collect())
    got = _as_map(_md5_signatures_from_staged(staged, num_hashes=64).collect())
    assert got == ref and len(got) == 6


def test_arrow_signature_layout_independent(spark, docs):
    """Shuffle the staged rows so same-id rows are interleaved across
    partitions and non-contiguous: the run-min partials then emit
    multiple rows per doc and the merge aggregate must still fold them
    to the identical signature."""
    staged = _staged(spark, docs)
    scrambled = staged.repartition(7).sortWithinPartitions("__v")
    ref = _as_map(_md5_signatures_agg(staged, num_hashes=64).collect())
    got = _as_map(
        _md5_signatures_from_staged(scrambled, num_hashes=64).collect()
    )
    assert got == ref


def test_arrow_signature_string_ids(spark):
    rows = [
        ("doc-a", "alpha beta gamma delta epsilon zeta eta theta"),
        ("doc-b", "alpha beta gamma delta epsilon zeta eta iota"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    staged = _staged(spark, docs)
    ref = _as_map(_md5_signatures_agg(staged, num_hashes=16).collect())
    got = _as_map(_md5_signatures_from_staged(staged, num_hashes=16).collect())
    assert got == ref and set(got) == {"doc-a", "doc-b"}


def test_arrow_banded_buckets_match_jvm(spark, docs):
    """hashlib.md5 over the '|'-joined decimal band slice must be
    byte-identical to the JVM md5(concat_ws(transform(slice(...))))
    chain banded_buckets builds."""
    staged = _staged(spark, docs)
    ref_sig = _md5_signatures_agg(staged, num_hashes=64)
    ref = {
        (r.id, r.band): (r.bucket, list(r.sig))
        for r in banded_buckets(
            ref_sig, num_hashes=64, bands=16, hash_family="md5"
        ).collect()
    }
    got = {
        (r.id, r.band): (r.bucket, list(r.sig))
        for r in _md5_banded_signatures(
            staged, num_hashes=64, bands=16
        ).collect()
    }
    assert got == ref and len(got) == 6 * 16


def test_minhash_pairs_end_to_end_unchanged(spark, docs):
    """The full md5-family pair query over the Arrow signature emits
    the expected near-dup pairs with the expected estimates."""
    pairs = minhash_dedup_pairs(
        docs, id_col="doc_id", text_col="text",
        num_hashes=64, bands=16, n=3, threshold=0.5, hash_family="md5",
    ).collect()
    got = {(r.id_a, r.id_b): r.est_jaccard for r in pairs}
    assert got[(1, 4)] == 1.0  # exact dup pair always survives
    assert all(a < b for (a, b) in got)
    assert all(0.5 <= e <= 1.0 for e in got.values())


def test_xx64_family_unchanged_pure_jvm(spark, docs):
    """The xx64 production tier must stay on the JVM expression path
    (no Python boundary nodes in its plan)."""
    sig = minhash_signatures(
        docs, id_col="doc_id", text_col="text", num_hashes=8, n=3,
        hash_family="xx64",
    )
    plan = sig._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" not in plan and "ArrowEval" not in plan


def test_arrow_signature_flushes_every_n_docs(spark, docs, monkeypatch):
    """With a flush every 2 docs and 7-row Arrow batches, one partition
    emits many partial batches and carries a doc's run across both batch
    and flush boundaries; the signatures must still equal the oracle."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators import dedup

    monkeypatch.setattr(dedup, "MINHASH_PARTIAL_FLUSH_DOCS", 2)
    staged = _staged(spark, docs)
    ref = _as_map(_md5_signatures_agg(staged, num_hashes=64).collect())
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        got = _as_map(
            _md5_signatures_from_staged(staged.coalesce(1), num_hashes=64).collect()
        )
    finally:
        spark.conf.set(key, old)
    assert got == ref and len(got) == 6
