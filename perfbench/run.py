"""Benchmark of the engine's user-facing workloads.

Usage, from the repository root:

    python3 perfbench/run.py --workload corpus_curate --seed 1 --seconds 6 --trace 0

Workloads (see BENCHMARK.json and perfbench/LAYERS.md):
  ingest_serve     scheduled availableNow ingest ticks into the lake and
                   feature store, each followed by a batch of store reads
  corpus_curate    passes over the dedup, near-pair, curation, chunking
                   and quality queries (Arrow/Python workers, self-joins)

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end
metrics, in CPU seconds of the process tree; ``--trace 1`` reports the
per-layer metrics and writes every span to ``.perfbench_out/``. All
scratch data lives in a fresh ``.perfbench_work/`` directory under the
checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[0] = ROOT  # the checkout root, not this directory

DRIVER_MEMORY = "2g"
#: task threads, unless SPARK_GRAFT_CPUS says otherwise. The JVM's JIT and
#: GC threads and the Python workers need cores too; with a task thread
#: on every core of a 4-core host, the CPU of a pass followed the host's
#: load (LAYERS.md)
SPARK_CORES = 2
PACKAGE = "algorithmic_data_ingestion_for_cryptocurrencies_spark"


def git_commit() -> str:
    """HEAD of the checkout, or "unknown" when it is not a git work tree
    of its own."""
    try:
        top, head = subprocess.run(
            ["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
            capture_output=True, text=True, timeout=30, check=True).stdout.split()
    except (OSError, subprocess.SubprocessError, ValueError):
        return "unknown"
    return head if os.path.realpath(top) == os.path.realpath(ROOT) else "unknown"


def source_digest() -> str:
    """SHA-256 over the engine's and the benchmark's Python sources, so
    two records can be told to come from the same code, with or without
    git and uncommitted changes."""
    h = hashlib.sha256()
    for top in (PACKAGE, "perfbench"):
        for path, _dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(path, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def fingerprint(seed: int, cores: int) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "driver_memory": DRIVER_MEMORY,
        "shuffle_partitions": cores,
        "git_commit": git_commit(),
        "source_digest": source_digest(),
        "seed": seed,
    }


def tail(samples: list[float], scale: float, unit: str) -> tuple[dict, dict]:
    """``(p50, tail)`` metrics of ``samples`` times ``scale``. The tail
    is the highest percentile with at least ten samples beyond it; below
    20 samples it would not lie above the median, so it is ``None``."""
    xs = sorted(x * scale for x in samples)
    n = len(xs)
    p50 = {"value": statistics.median(xs) if xs else None, "unit": unit, "n": n}
    tl = {"value": None, "unit": unit, "n": n}
    if n >= 20:
        tl.update(value=xs[n - 11], pct=round(100.0 * (n - 10) / n, 1))
    return p50, tl


def user_metrics(workload: str, out, setup_s: float, peak_rss_mb: float) -> dict:
    """Every user-facing figure by name and unit, in wall time except
    ``setup_s`` (CPU seconds, as in the end-to-end metrics). A figure
    the workload has no operation for is ``None``."""
    serve = workload == "ingest_serve"
    # a workload's latencies are store reads on ingest_serve, queries elsewhere
    latencies = [t for ts in out.op_s.values() for t in ts]
    query = tail([] if serve else latencies, 1.0, "s")
    read = tail(latencies if serve else [], 1e3, "ms")
    batch = tail(out.batch_s, 1.0, "s")
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "pass_s": {"value": statistics.median(out.pass_s), "unit": "s"},
        "query_p50_s": query[0], "query_tail_s": query[1],
        "rows_per_s": {"value": out.rows / out.rows_s if out.rows_s else None, "unit": "1/s"},
        "batch_p50_s": batch[0], "batch_tail_s": batch[1],
        "read_p50_ms": read[0], "read_tail_ms": read[1],
        "stored_bytes_ratio": {"value": out.info.get("stored_bytes_ratio"), "unit": "ratio"},
        "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
        "error_rate": {"value": out.failed / max(out.attempted, 1), "unit": "ratio"},
    }


def tracing_overhead(untraced_path: str, detail: dict) -> dict:
    """Traced minus untraced end-to-end figures, against the untraced
    run of the same workload and seed, if that run left its record and
    ran the same code for the same number of passes."""
    try:
        with open(untraced_path) as f:
            base = json.load(f)
    except OSError:
        return {"skipped": "no untraced record of this workload and seed"}
    if base["fingerprint"].get("source_digest") != detail["fingerprint"]["source_digest"]:
        return {"skipped": "the untraced record ran other code"}
    if len(base["passes"]) != len(detail["passes"]):
        return {"skipped": "the untraced record made another number of passes"}
    over = {k: v - base["end_to_end"][k] for k, v in detail["end_to_end"].items()}
    over["pass_s"] = statistics.median(detail["passes"]) - statistics.median(base["passes"])
    return over


def start_spark(work: str, cores: int):
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark("perfbench", shuffle_partitions=cores, extra_conf={
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })


def shutdown(spark) -> None:
    """Stop the session, end the JVM it launched and wait until every
    process under this one has exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    from perfbench.tracing import process_tree

    deadline = time.monotonic() + 30
    while len(process_tree()) > 1 and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in process_tree():
        if pid != os.getpid():
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # fail fast (and print no result) when the engine is not here
    import algorithmic_data_ingestion_for_cryptocurrencies_spark  # noqa: F401

    from perfbench.tracing import Tracer, TreeRss, jit_cpu_s, jit_threads_seen, tree_cpu_s
    from perfbench.workloads import PER_LAYER, WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    cores = int(os.environ.setdefault(
        "SPARK_GRAFT_CPUS", str(min(SPARK_CORES, len(os.sched_getaffinity(0))))))

    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Spark's Python workers import the engine from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tempfile.tempdir = None  # re-read TMPDIR

    tracer = Tracer(enabled=bool(args.trace))
    ctx = Ctx(spark=None, tracer=tracer, work_dir=work, seed=args.seed, seconds=args.seconds)
    wl = WORKLOADS[args.workload](ctx)
    spark = None
    try:
        with TreeRss() as rss:
            clock = [("start", time.perf_counter(), tree_cpu_s())]

            def lap(phase: str) -> None:
                clock.append((phase, time.perf_counter(), tree_cpu_s()))

            wl.generate()
            lap("generate")
            spark = ctx.spark = start_spark(work, cores)
            if args.trace:
                from perfbench.spark_feeds import SparkFeeds

                ctx.feeds = SparkFeeds(spark)
            lap("session")
            wl.warm()
            lap("warm")
            cold_s, cold_cpu_s = clock[-1][1] - clock[-2][1], clock[-1][2] - clock[-2][2]
            for _ in range(wl.warm_passes):
                wl.prepare_pass()
                lap("prepare")
                wl.run_pass()
                lap("warm")
            setup_jit_s = jit_cpu_s()
            wl.end_warm()
            wl.check_warm()
            lap("check_warm")
            wl.measure(warm_s=cold_s, warm_cpu_s=cold_cpu_s)
            lap("measure")
            wl.final_checks()
            lap("check")
            shutdown(spark)
            spark = None
            lap("shutdown")
        phases, phase_cpu = {}, {}
        for a, b in zip(clock, clock[1:]):  # a phase met twice is summed
            phases[b[0]] = phases.get(b[0], 0.0) + b[1] - a[1]
            phase_cpu[b[0]] = phase_cpu.get(b[0], 0.0) + b[2] - a[2]
        setup_s = phase_cpu["session"] + phase_cpu["warm"]
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    out = wl.out
    # CPU seconds, not wall time: on a shared VM the host takes back a
    # varying share of every core (steal). Over seeds, wall times spread
    # by 0.3-0.4 of their median and the process tree's CPU far less.
    # JIT compilation is left out and reported apart (LAYERS.md says why)
    e2e = {
        "setup_s": (setup_s, "s"),
        "pass_cpu_s": (statistics.median(out.pass_cpu_s), "s"),
        # one clock tick at least, so the geometric mean is defined
        "op_cpu_ms": (1e3 * statistics.geometric_mean(
            max(c, 0.01) for cs in out.op_cpu_s.values() for c in cs), "ms"),
    }
    detail = {
        "workload": args.workload,
        "fingerprint": fingerprint(args.seed, cores),
        "user_metrics": user_metrics(args.workload, out, setup_s, rss.peak_bytes / 2**20),
        "passes": out.pass_s,
        "op_s": out.op_s,
        "op_cpu_s": out.op_cpu_s,
        "end_to_end": {k: v for k, (v, _u) in e2e.items()},
        "phase_s": phases,
        "phase_cpu_s": phase_cpu,
        "pass_cpu_s": out.pass_cpu_s,
        "jit_cpu_s": {"setup": setup_jit_s, "passes": out.pass_jit_s,
                      "threads_seen": jit_threads_seen()},
        "errors": out.errors,
        **out.info,
    }
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-s{args.seed}"
    if args.trace:
        for p in out.layers:
            p["mem.peak_rss_mb"] = rss.peak_bytes / 2**20
        layers = {k: statistics.median([p.get(k, 0.0) for p in out.layers]) for k in PER_LAYER}
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        detail["tracing_overhead"] = tracing_overhead(
            os.path.join(out_dir, f"result-{stem}.json"), detail)
        tracer.dump(os.path.join(out_dir, f"trace-{stem}.json"),
                    {**detail, "per_pass": out.layers, "per_op": out.op_layers})
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        with open(os.path.join(out_dir, f"result-{stem}.json"), "w") as f:
            json.dump(detail, f)
    print(json.dumps(detail))
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
