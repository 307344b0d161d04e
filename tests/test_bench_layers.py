"""The per-rep layer record of ``tools/bench_scaled.py``: build and
exec account for the rep's wall time, every field is present, and a
repeated rep compiles no generated classes."""

from __future__ import annotations

import importlib.util
import os

import pytest

from algorithmic_data_ingestion_for_cryptocurrencies_spark.driver_queries import REGISTRY

_spec = importlib.util.spec_from_file_location(
    "bench_scaled",
    os.path.join(os.path.dirname(__file__), "..", "tools", "bench_scaled.py"),
)
bench_scaled = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench_scaled)

FIELDS = {
    "wall_s", "build_s", "exec_s", "build_jobs",
    "analysis_ms", "optimization_ms", "planning_ms",
    "stages", "tasks", "task_s", "gc_s",
    "shuffle_write_bytes", "spill_bytes", "peak_mem_bytes",
    "python_run_s", "codegen_compiles", "codegen_ms",
}


@pytest.mark.parametrize("name", ["g1_pagerank", "dedup_minhash_pairs"])
def test_layer_record_accounts_for_the_rep(spark, name):
    feeds = bench_scaled.SparkFeeds(spark)
    rec = bench_scaled.measure_rep(spark, feeds, REGISTRY[name][0], bench_scaled.WARM_DIR)
    assert set(rec) == FIELDS
    assert rec["build_s"] + rec["exec_s"] == pytest.approx(rec["wall_s"], abs=1e-9)
    assert rec["build_s"] > 0 and rec["exec_s"] > 0
    if name == "g1_pagerank":
        # the eager localCheckpoint iterations run while the frame is built
        assert rec["build_jobs"] >= 1
        assert rec["stages"] >= 1
    else:
        # the md5 signature run-min is the Arrow/Python worker stage
        assert rec["python_run_s"] > 0
    assert rec["codegen_compiles"] >= 0 and rec["codegen_ms"] >= 0
    # a second rep finds every generated class in the codegen cache
    again = bench_scaled.measure_rep(spark, feeds, REGISTRY[name][0], bench_scaled.WARM_DIR)
    assert again["codegen_compiles"] == 0 and again["codegen_ms"] == 0
