"""Resumable single-engine scaled-tier bench (r5/r6 lesson: long
DuckDB tiers exceed any one command window, so each query's result is
flushed to the output JSON as soon as it finishes and an interrupted
run resumes past completed queries).

    python tools/bench_scaled.py --engine spark --sf-dir testdata_scaled/sf3 \
        --out /tmp/sf3_spark.json --runs 2 \
        --skip sim_near_pairs,sim_near_pairs_arrow,j5_range_join

The per-round BENCH_SCALED_r{N}.json is assembled from these partials
(one file per engine x tier) with matched-set totals.

On the Spark engine each timed rep splits into build (``fn(spark,
sf_dir)``) and exec (the noop write), and the min rep's layer record
(:func:`measure_rep`) lands under ``layers``: build seconds and the
jobs launched while building, Catalyst phase times, per-stage totals
and Python worker time, read from Spark's status stores with the UI
off (``perfbench/spark_feeds.py``) after the timed window closes, and
the generated classes the rep compiled (Spark's codegen metrics).
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from perfbench.spark_feeds import PYTHON_METRICS, SparkFeeds, catalyst_phases  # noqa: E402

#: min-of-5 set (r8, verdict #2): the high-variance shingle/shuffle
#: queries AND the floor family — committed scaled cells for these must
#: be min-of-5 so the scaled artifact can never disagree with the
#: min-of-5 floor artifact on a shared (query, tier) cell (the r7
#: e7_funnel contradiction: a bad min-of-2 pair shipped 4.16 s while
#: the floor artifact's min-of-5 of the same query read 2.38 s).
RUNS5 = {
    "dedup_jaccard_pairs", "dedup_minhash_pairs", "a4_depth",
    "dedup_cross_doc_repetition", "text_bigram_lm", "pipeline_chunk_prep",
    "a1_imbalance", "a5_resample", "e1_union_agg", "e7_funnel",
    "sim_knn_join",
}

#: Spark-only min-of-5 additions (r8): the expensive window-chain
#: queries whose min-of-2 cells swung ±50% with documented host drift
#: (interleaved A/B showed u6 15.4 s -> 27.5 s across reps at FIXED
#: partition counts) while the SAME campaign's DuckDB cells moved <12%
#: — Spark's JVM/executor threads are far more sensitive to the box's
#: multi-minute load waves, so only the Spark side needs the extra
#: reps (5x DuckDB reps on a 457 s flagship cell would cost 38 min for
#: noise DuckDB does not exhibit).
RUNS5_SPARK = RUNS5 | {
    "flagship_market_features", "u6_backtest",
    "g1_pagerank", "training_matrix",
}

#: sf dir of each query's untimed warm-up run (Spark engine)
WARM_DIR = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _load(path: str) -> dict:
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return {}


def _flush(path: str, data: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
    os.replace(tmp, path)


def codegen_totals(spark) -> tuple[int, float]:
    """Generated classes this JVM has compiled so far (``CodegenMetrics``
    compilation count) and their total compile time in ms (the exact
    ``CodeGenerator.compileTime`` sum; the metric's histogram only
    samples)."""
    jvm = spark._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    compile_ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return compiles.getCount(), compile_ns / 1e6


def measure_rep(spark, feeds: SparkFeeds, fn, sf_dir: str) -> dict:
    """One timed rep of a registry query ``fn`` on the noop sink, on a
    clean block manager, and its layer record. ``wall_s`` is timed as
    one span and splits into ``build_s`` (``fn(spark, sf_dir)``) and
    ``exec_s`` (the write). Everything else is read after the timed
    window: ``build_jobs`` counts the jobs submitted while building,
    the Catalyst phases come from planning the frame's own
    QueryExecution, and the stage and Python-worker totals cover every
    job and SQL execution of the rep. ``codegen_compiles`` and
    ``codegen_ms`` count the generated classes compiled during the rep
    (0 once Spark's codegen cache holds all of the query's classes)."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.session import (
        clear_persisted_blocks,
    )

    # sweep blocks pinned by PRIOR queries/runs (iterative operators
    # localCheckpoint by design) so every run measures this query on a
    # clean block manager, not the session's accumulated history —
    # measured 72 s vs 117 s on the sf10 pagerank cell with/without
    clear_persisted_blocks(spark, blocking=True)
    feeds.mark()
    c0, cms0 = codegen_totals(spark)
    e0 = time.time()
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    t1 = time.perf_counter()
    e1 = time.time()
    df.write.mode("overwrite").format("noop").save()
    t2 = time.perf_counter()
    c1, cms1 = codegen_totals(spark)

    feeds.drain()
    jobs = sum(e0 <= sub_ms / 1000.0 <= e1 for _job, sub_ms in feeds.new_jobs())
    stages = feeds.stage_totals()
    python = feeds.sql_totals(PYTHON_METRICS)
    df._jdf.queryExecution().executedPlan()
    phases = catalyst_phases(df._jdf)
    feeds.mark()
    return {
        "wall_s": t2 - t0, "build_s": t1 - t0, "exec_s": t2 - t1,
        "build_jobs": jobs,
        **{f"{p}_ms": phases.get(p, 0.0) for p in ("analysis", "optimization", "planning")},
        **dataclasses.asdict(stages),
        "python_run_s": python.get("python.run_s", 0.0),
        "codegen_compiles": c1 - c0, "codegen_ms": cms1 - cms0,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--engine", choices=("spark", "duckdb"), required=True)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--no-runs5", action="store_true",
                    help="honor --runs exactly; disable the min-of-5 "
                         "override for the variance/floor families "
                         "(use for quick smoke passes)")
    ap.add_argument("--skip", default="")
    ap.add_argument("--queries", default="",
                    help="comma-separated override of the headline list")
    ap.add_argument("--outlier-rerun", default="",
                    help="path to a prior round's scaled artifact "
                         "(assembled BENCH_SCALED_r{N}.json or a partial "
                         "from this tool); after the first pass, any "
                         "Spark cell > 1.3x its prior-round cell AND "
                         "> 2 s absolute is re-measured in a second "
                         "window with the same min-of-reps estimator and "
                         "merged by per-query min — the r12 two-window "
                         "protocol, codified (verdict r12 task #6). "
                         "Merged cells are recorded under "
                         "second_window_min_cells; the candidate set and "
                         "thresholds under outlier_rerun.")
    args = ap.parse_args()

    skip = {s for s in args.skip.split(",") if s}

    def reps_for(name: str, family: set[str]) -> int:
        """min-of-5 override for the variance/floor families so the
        committed scaled artifact can never disagree with the min-of-5
        floor artifact on a shared cell; --no-runs5 restores plain
        --runs for smoke passes, and any raise is LOGGED so a quick
        --runs 1 pass is never silently 5x as expensive."""
        if args.no_runs5 or name not in family:
            return args.runs
        if args.runs < 5:
            print(f"note: {name}: min-of-5 override raises --runs "
                  f"{args.runs} -> 5 (disable with --no-runs5)",
                  flush=True)
        return max(args.runs, 5)
    todo = [q for q in (args.queries.split(",") if args.queries else HEADLINE)
            if q and q not in skip]
    state = _load(args.out)
    state.setdefault("engine", args.engine)
    state.setdefault("sf_dir", args.sf_dir)
    state.setdefault("runs", args.runs)
    state.setdefault("queries", {})
    state.setdefault("errors", {})
    state.setdefault("layers", {})

    from algorithmic_data_ingestion_for_cryptocurrencies_spark.driver_queries import REGISTRY

    if args.engine == "spark":
        from algorithmic_data_ingestion_for_cryptocurrencies_spark.session import (
            clear_persisted_blocks,
            get_spark,
            shuffle_partitions_for_dir,
        )

        nsp = shuffle_partitions_for_dir(args.sf_dir)
        state["spark_shuffle_partitions"] = nsp
        spark = get_spark("adi-bench-scaled", shuffle_partitions=nsp)
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        feeds = SparkFeeds(spark)

        def run_one(name: str) -> tuple[float | None, dict | None]:
            fn, _sql = REGISTRY[name]
            try:
                fn(spark, WARM_DIR).write.mode("overwrite").format("noop").save()
            except Exception:
                pass
            best = None
            for _ in range(reps_for(name, RUNS5_SPARK)):
                rec = measure_rep(spark, feeds, fn, args.sf_dir)
                if best is None or rec["wall_s"] < best["wall_s"]:
                    best = rec
            clear_persisted_blocks(spark, blocking=True)
            return best["wall_s"], best
    else:
        import duckdb

        con = duckdb.connect()
        for t in TABLES:
            p = os.path.join(args.sf_dir, f"{t}.parquet")
            if not os.path.exists(p):
                continue
            glob = f"{p}/*.parquet" if os.path.isdir(p) else p
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{glob}'")

        def run_one(name: str) -> tuple[float | None, dict | None]:
            _fn, sql = REGISTRY[name]
            if sql is None:
                return None, None
            best = None
            for _ in range(reps_for(name, RUNS5)):
                t0 = time.perf_counter()
                con.sql(sql).fetchall()
                best = min(best or 9e9, time.perf_counter() - t0)
            return best, None

    for name in todo:
        if name in state["queries"] or name in state["errors"]:
            continue
        try:
            got, layers = run_one(name)
        except Exception as e:
            state["errors"][name] = str(e)[:300]
            _flush(args.out, state)
            print(f"ERR {name}: {str(e)[:120]}", flush=True)
            continue
        if got is not None:
            state["queries"][name] = round(got, 3)
            print(f"{name}: {got:.3f}s", flush=True)
        if layers is not None:
            state["layers"][name] = layers
        _flush(args.out, state)

    # r12 two-window protocol, codified (r12 verdict task #6): Spark
    # cells are host-load-wave sensitive in a way the same campaign's
    # DuckDB cells are not (measured since r8), so first-window
    # outliers vs the PRIOR round get one second-window re-measurement
    # and merge by per-query min — the same min-over-reps estimator the
    # artifact already documents, applied across windows.
    OUTLIER_FACTOR, OUTLIER_ABS_SEC = 1.3, 2.0
    if (args.outlier_rerun and args.engine == "spark"
            and not state.get("outlier_rerun", {}).get("done")):
        ref = _load(args.outlier_rerun)
        tier_key = os.path.basename(args.sf_dir.rstrip("/"))
        if "tiers" in ref:  # assembled BENCH_SCALED artifact
            refq = ref["tiers"].get(tier_key, {}).get("spark_queries", {})
        else:  # a partial from this tool
            refq = ref.get("queries", {})
        outliers = sorted(
            n for n, t in state["queries"].items()
            if refq.get(n) and t > OUTLIER_FACTOR * refq[n]
            and t > OUTLIER_ABS_SEC
        )
        merged = []
        for name in outliers:
            # same try/except-and-record pattern as the first pass (r14
            # advisor fix): one transient rerun failure must not crash
            # the tool mid-artifact with outlier_rerun.done unset
            try:
                got, layers = run_one(name)
            except Exception as e:
                state["errors"][f"rerun:{name}"] = str(e)[:300]
                _flush(args.out, state)
                print(f"ERR rerun {name}: {str(e)[:120]}", flush=True)
                continue
            second = f"{got:.3f}s" if got is not None else "None"
            print(f"outlier-rerun {name}: first={state['queries'][name]:.3f}s "
                  f"second={second} prior={refq[name]:.3f}s", flush=True)
            if got is not None and got < state["queries"][name]:
                state["queries"][name] = round(got, 3)
                state["layers"][name] = layers
                merged.append(name)
            _flush(args.out, state)
        state["second_window_min_cells"] = sorted(
            set(state.get("second_window_min_cells", [])) | set(merged)
        )
        state["outlier_rerun"] = {
            "done": True, "ref": args.outlier_rerun,
            "factor": OUTLIER_FACTOR, "abs_sec": OUTLIER_ABS_SEC,
            "candidates": outliers,
        }
        _flush(args.out, state)
    print(json.dumps({"done": True, "n": len(state['queries'])}), flush=True)


if __name__ == "__main__":
    main()
