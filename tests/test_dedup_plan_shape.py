"""Dedup self-join plan discipline (r15, verdict #1): the r14
shuffle-hash hints claimed the banded/shingled signature subtree is
built ONCE and reused on the second join side — but the static plan
prints the subtree under both inputs, so the claim is only visible in
the EXECUTED (AQE final) plan as a ``ReusedExchange`` node. This test
pins that runtime behavior so a Spark upgrade or hint regression that
silently starts building the signature subtree twice fails loudly.
"""

from __future__ import annotations

import re

from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators import dedup
from algorithmic_data_ingestion_for_cryptocurrencies_spark.plans.inspect import explain_str


def _final_plan(df) -> str:
    """Executed-plan text, truncated to the AQE Final Plan section."""
    df.collect()
    plan = explain_str(df, "formatted")
    return plan.split("== Initial Plan ==")[0]


def test_minhash_self_join_reuses_exchange_at_runtime(spark):
    docs = spark.createDataFrame(
        [
            (i, f"the quick brown fox {i % 7} jumps over {i % 5} lazy dogs and "
                f"then runs far away {i % 3}")
            for i in range(80)
        ],
        ["doc_id", "text"],
    )
    pairs = dedup.minhash_dedup_pairs(
        docs, id_col="doc_id", text_col="text", num_hashes=8, bands=4,
        threshold=0.5,
    )
    final = _final_plan(pairs)
    assert "ShuffledHashJoin" in final, final
    assert "ReusedExchange" in final, (
        "banded-signature exchange was NOT reused at runtime — the "
        "signature subtree is being built twice:\n" + final
    )


def test_jaccard_self_join_reuses_exchange_at_runtime(spark):
    docs = spark.createDataFrame(
        [
            (i, f"alpha beta gamma {i % 6} delta epsilon {i % 4} zeta eta "
                f"theta iota kappa {i % 3}")
            for i in range(80)
        ],
        ["doc_id", "text"],
    )
    pairs = dedup.jaccard_similar_pairs(
        docs, id_col="doc_id", text_col="text", n=3, threshold=0.5
    )
    final = _final_plan(pairs)
    assert "ShuffledHashJoin" in final, final
    assert "ReusedExchange" in final, final


def _pairs_plans(monkeypatch, cls) -> list[str]:
    """Capture the executed plan of every ``process_batch`` pairs frame:
    the frame is ``localCheckpoint``'ed inside ``process_batch``, so
    its plan is taken (after executing it) just before the checkpoint."""
    plans = []
    checkpoint = cls.localCheckpoint

    def spy(self, *args, **kwargs):
        if self.columns == ["id_a", "id_b", "est_jaccard"]:
            self.collect()
            plans.append(explain_str(self, "formatted"))
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    return plans


def _final_blocks(plan: str) -> list[str]:
    """The node blocks (``(n) Name`` + its detail lines) of the AQE
    final plan in a formatted executed plan."""
    final_tree = plan.split("== Initial Plan ==")[0]
    final_ids = set(re.findall(r"\((\d+)\)", final_tree))
    blocks = {
        m.group(1): m.group(0)
        for m in re.finditer(r"(?ms)^\((\d+)\) .*?(?=^\(\d+\) |\Z)", plan)
    }
    return [blocks[i] for i in sorted(final_ids, key=int) if i in blocks]


def _incremental_docs(spark):
    boiler = "the quarterly report shows strong growth in all regions "
    return spark.createDataFrame(
        [(i, boiler * 3 + (f"variant {i}" if i % 2 else "")) for i in range(30)],
        "doc_id long, text string",
    )


def _incremental_store(spark, path):
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.streaming.dedup_incremental import (
        IncrementalDedup,
    )

    return IncrementalDedup(
        spark, path, id_col="doc_id", text_col="text",
        num_hashes=32, bands=8, threshold=0.5,
    )


def test_incremental_band_join_carries_no_signatures(spark, tmp_path, monkeypatch):
    """The incremental store's new-vs-(store ∪ new) band join runs on
    narrow (band, bucket, id) rows, like the batch operator's: in the
    executed plan of ``process_batch``'s pairs, no operator that
    carries a band column also carries a signature — the signatures
    are attached once per unique pair, after the join."""
    from pyspark.sql import functions as F

    docs = _incremental_docs(spark)
    plans = _pairs_plans(monkeypatch, type(docs))
    inc = _incremental_store(spark, str(tmp_path / "store"))
    inc.process_batch(docs.filter(F.col("doc_id") < 15), "b1")
    _, pairs = inc.process_batch(docs.filter(F.col("doc_id") >= 15), "b2")
    assert pairs.count() > 0
    plan = plans[-1]

    final = _final_blocks(plan)
    assert any(re.search(r"Left keys \[2\]: \[band#\d+, bucket#", b) for b in final), plan
    for block in final:
        for cols in re.findall(r"^(?:Input|Output) \[\d+\]: \[(.*)\]$", block, re.M):
            if re.search(r"\bband#", cols):
                assert not re.search(r"\bsig#", cols), block


def test_new_store_first_batch_shuffles_no_signatures(spark, tmp_path, monkeypatch):
    """A brand-new store stands in for its missing tables with a frame
    of known size 0, so the first batch attaches the signatures to its
    pairs through a broadcast: no shuffle exchange in the executed
    pairs plan carries a signature column (``sig``, or ``sig_a`` and
    ``sig_b`` as the attach renames it). The batch is read from
    parquet, as a stream's is, so its own size is known too."""
    _incremental_docs(spark).write.parquet(str(tmp_path / "docs"))
    docs = spark.read.parquet(str(tmp_path / "docs"))
    plans = _pairs_plans(monkeypatch, type(docs))
    _, pairs = _incremental_store(spark, str(tmp_path / "store")).process_batch(docs, "b1")
    assert pairs.count() > 0
    exchanges = [
        b for b in _final_blocks(plans[-1])
        if re.match(r"\(\d+\) (Exchange|ShuffleQueryStage)\b", b)
    ]
    for block in exchanges:
        for cols in re.findall(r"^(?:Input|Output) \[\d+\]: \[(.*)\]$", block, re.M):
            assert not re.search(r"\bsig(_a|_b)?#", cols), block
