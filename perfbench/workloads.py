"""The benchmark workloads.

Each is a closed loop with one client: an operation starts only after
the previous one finished. A workload generates its inputs from the
seed, warms up (every plan once, as the timed passes run it), then runs
a fixed number of timed passes sized to the time budget. Input
generation, output checks and, with tracing on, the reading of each
layer's counters all happen outside the timed regions.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

from . import checks, datagen
from .spark_feeds import PYTHON_METRICS, SCAN_METRICS, SparkFeeds, catalyst_phases
from .tracing import Tracer, jit_cpu_s, tree_cpu_s

#: per-layer metric -> unit; every pass starts them at zero, so a layer a
#: workload never touches reads 0
PER_LAYER = {
    "build.s": "s", "build.jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.s": "s", "exec.task_s": "s", "exec.gc_s": "s", "exec.stages": "count",
    "exec.tasks": "count", "exec.shuffle_write_bytes": "B", "exec.spill_bytes": "B",
    "exec.peak_mem_bytes": "B",
    "python.run_s": "s", "python.init_s": "s",
    "python.bytes_sent": "B", "python.bytes_returned": "B",
    "lake.write_s": "s", "lake.files_written": "count", "lake.bytes_written": "B",
    "lake.stored_bytes_ratio": "ratio",
    "indicators.build_s": "s",
    "store.write_s": "s", "store.files_written": "count", "store.files_total": "count",
    "store.read_build_s": "s", "store.read_exec_s": "s",
    "store.files_scanned_per_read": "ratio", "store.rows_scanned_per_row_returned": "ratio",
    "stream.start_s": "s", "stream.batch_p50_s": "s", "stream.add_batch_ms": "ms",
    "stream.latest_offset_ms": "ms", "stream.query_planning_ms": "ms",
    "stream.wal_commit_ms": "ms", "stream.commit_offsets_ms": "ms",
    "jvm.jit_s": "s", "mem.peak_rss_mb": "MB", "trace.pass_s": "s",
}

#: span names that count as driver-side frame construction
BUILD_SPANS = ("build", "indicators.build", "store.read_build")


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    work_dir: str
    seed: int
    seconds: float
    feeds: SparkFeeds | None = None


@dataclass
class Outcome:
    pass_s: list[float] = field(default_factory=list)
    pass_cpu_s: list[float] = field(default_factory=list)
    pass_jit_s: list[float] = field(default_factory=list)
    batch_s: list[float] = field(default_factory=list)
    op_s: dict[str, list[float]] = field(default_factory=dict)
    op_cpu_s: dict[str, list[float]] = field(default_factory=dict)
    rows: float = 0.0
    rows_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    layers: list[dict[str, float]] = field(default_factory=list)
    op_layers: dict[str, list[dict[str, float]]] = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)
    info: dict = field(default_factory=dict)

    def record(self, op: str, seconds: float, cpu_s: float) -> None:
        """One user operation's latency and the CPU seconds the process
        tree spent on it, kept per operation name."""
        self.op_s.setdefault(op, []).append(seconds)
        self.op_cpu_s.setdefault(op, []).append(cpu_s)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what[:300])


class Workload:
    """Shared loop: ``generate`` (untimed), ``warm`` and ``warm_passes``
    untimed passes (set-up), ``end_warm`` and ``check_warm`` (untimed),
    then for every pass ``prepare_pass`` (untimed), ``run_pass`` (timed)
    and ``check_pass`` (untimed), and at the end ``final_checks``."""

    #: typical pass length on a 4-core host; sets the pass count per budget
    nominal_pass_s: float
    #: passes run as the timed ones but untimed, after ``warm``. Until the
    #: JIT has compiled the hot code, its compiler threads take cores
    #: from the work, and the work's CPU follows the host's load
    warm_passes: int

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.out = Outcome()
        self.layer = dict.fromkeys(PER_LAYER, 0.0)

    def generate(self) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        raise NotImplementedError

    def end_warm(self) -> None:
        """Drop the samples the warm-up passes left."""
        out = self.out
        out.op_s.clear()
        out.op_cpu_s.clear()
        out.batch_s.clear()
        out.op_layers.clear()
        out.rows = out.rows_s = 0.0

    def check_warm(self) -> None:
        pass

    def prepare_pass(self) -> None:
        pass

    def run_pass(self) -> float:
        raise NotImplementedError

    def check_pass(self) -> None:
        pass

    def final_checks(self) -> None:
        pass

    def measure(self, warm_s: float, warm_cpu_s: float) -> None:
        """A fixed number of passes for the time budget, so every run of
        every commit does the same work in the same order. A pass with a
        failure counts at least as long, and at least as much CPU, as the
        cold warm-up pass, so a failure never reads as a cheaper pass."""
        for _ in range(max(1, round(self.ctx.seconds / self.nominal_pass_s))):
            self.layer = dict.fromkeys(PER_LAYER, 0.0)
            failed = self.out.failed
            self.prepare_pass()
            j0 = jit_cpu_s()
            c0 = tree_cpu_s()
            t = self.run_pass()
            cpu = tree_cpu_s() - c0
            jit = jit_cpu_s() - j0
            self.check_pass()
            if self.out.failed != failed:
                t, cpu = max(t, warm_s), max(cpu, warm_cpu_s)
            self.out.pass_s.append(t)
            self.out.pass_cpu_s.append(cpu)
            self.out.pass_jit_s.append(jit)
            if self.ctx.feeds is not None:
                self.layer["trace.pass_s"] = t
                self.layer["jvm.jit_s"] = jit
                self.out.layers.append(self.layer)

    # -- traced-run helpers -------------------------------------------------

    def add(self, key: str, v: float) -> None:
        self.layer[key] = self.layer.get(key, 0.0) + v

    def read_layers(self, op_ids: set[int], op_s: float,
                    phases_of=None) -> tuple[dict[str, float], dict[str, float]]:
        """After one operation: stage, SQL and span counters, added to
        the current pass's per-layer totals. Returns the operation's own
        counters and its SQL metric sums."""
        feeds, tr = self.ctx.feeds, self.ctx.tracer
        feeds.drain()
        build_s = sum(tr.span_seconds(n, op_ids) for n in BUILD_SPANS)
        windows = [(s["start"], s["end"]) for s in tr.spans
                   if s["name"] in BUILD_SPANS and s["op"] in op_ids]
        jobs = 0
        for _job, sub_ms in feeds.new_jobs():
            t = sub_ms / 1000.0 - tr.epoch_offset
            jobs += any(a <= t <= b for a, b in windows)
        st = feeds.stage_totals()
        sql = feeds.sql_totals({**PYTHON_METRICS, **SCAN_METRICS})
        op = {
            "build.s": build_s, "build.jobs": float(jobs), "exec.s": op_s - build_s,
            "exec.stages": st.stages, "exec.tasks": st.tasks, "exec.task_s": st.task_s,
            "exec.gc_s": st.gc_s, "exec.shuffle_write_bytes": st.shuffle_write_bytes,
            "exec.spill_bytes": st.spill_bytes,
        }
        for key in PYTHON_METRICS.values():
            op[key] = sql.get(key, 0.0)
        if phases_of is not None:
            ph = catalyst_phases(phases_of)
            for p in ("analysis", "optimization", "planning"):
                op[f"catalyst.{p}_ms"] = ph.get(p, 0.0)
        for k, v in op.items():
            self.add(k, v)
        self.layer["exec.peak_mem_bytes"] = max(self.layer["exec.peak_mem_bytes"],
                                                st.peak_mem_bytes)
        feeds.mark()
        return op, sql


# -- batch queries -----------------------------------------------------------

class BatchQueries(Workload):
    """Passes over registry queries, each forced end to end with the
    noop sink. The order is fixed: which query runs first after the
    warm-up moves a whole pass by about 10%, more than the spread
    between runs of one order."""

    queries: tuple[str, ...] = ()
    tables_of: dict[str, tuple[str, ...]] = {}

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        from algorithmic_data_ingestion_for_cryptocurrencies_spark.driver_queries import REGISTRY

        self.registry = REGISTRY
        self.data_dir = os.path.join(ctx.work_dir, "tables")
        self.table_rows: dict[str, int] = {}
        self.spark_digest: dict[str, tuple[int, int]] = {}

    def input_rows(self, q: str) -> int:
        return sum(self.table_rows[t] for t in self.tables_of.get(q, ()))

    def warm(self) -> None:
        # every plan once, written to the noop sink as the timed passes do
        from algorithmic_data_ingestion_for_cryptocurrencies_spark.session import (
            clear_persisted_blocks,
        )

        spark = self.ctx.spark
        for q in self.queries:
            clear_persisted_blocks(spark, blocking=True)
            self.out.attempted += 1
            try:
                self.registry[q][0](spark, self.data_dir).write.mode("overwrite") \
                    .format("noop").save()
            except Exception as e:  # noqa: BLE001 - a failing query is a counted error
                self.out.fail(f"{q}: {type(e).__name__}: {e}")
        if self.ctx.feeds is not None:
            self.ctx.feeds.mark()

    def run_pass(self) -> float:
        from algorithmic_data_ingestion_for_cryptocurrencies_spark.session import (
            clear_persisted_blocks,
        )

        spark, tr = self.ctx.spark, self.ctx.tracer
        total = 0.0
        for q in self.queries:
            clear_persisted_blocks(spark, blocking=True)
            self.out.attempted += 1
            df = None
            c0 = tree_cpu_s()
            with tr.operation(q):
                t0 = time.perf_counter()
                try:
                    with tr.span("build"):
                        df = self.registry[q][0](spark, self.data_dir)
                    with tr.span("exec"):
                        df.write.mode("overwrite").format("noop").save()
                except Exception as e:  # noqa: BLE001
                    self.out.fail(f"{q}: {type(e).__name__}: {e}")
                dt = time.perf_counter() - t0
            total += dt
            self.out.record(q, dt, tree_cpu_s() - c0)
            self.out.rows += self.input_rows(q)
            self.out.rows_s += dt
            if self.ctx.feeds is not None and df is not None:
                # re-plan the frame's own QueryExecution (the noop write
                # planned a copy) so its tracker holds every phase
                df._jdf.queryExecution().executedPlan()
                op, _sql = self.read_layers({tr.op}, dt, phases_of=df._jdf)
                self.out.op_layers.setdefault(q, []).append(op)
        return total

    def final_checks(self) -> None:
        """Collect every query's result once more and compare it with the
        registry's DuckDB twin."""
        from algorithmic_data_ingestion_for_cryptocurrencies_spark.session import (
            clear_persisted_blocks,
        )

        spark = self.ctx.spark
        for q in self.queries:
            clear_persisted_blocks(spark, blocking=True)
            self.out.attempted += 1
            try:
                self.spark_digest[q] = checks.digest(
                    self.registry[q][0](spark, self.data_dir).toPandas())
            except Exception as e:  # noqa: BLE001
                self.out.fail(f"{q} (collect): {type(e).__name__}: {e}")
        sqls = {q: self.registry[q][1] for q in self.queries
                if self.registry[q][1] is not None and q in self.spark_digest}
        tables = sorted({t for ts in self.tables_of.values() for t in ts})
        try:
            oracle = checks.duckdb_digests(self.data_dir, tables, sqls)
        except Exception as e:  # noqa: BLE001
            self.out.attempted += 1
            self.out.fail(f"duckdb: {type(e).__name__}: {e}")
            return
        for q, want in oracle.items():
            self.out.attempted += 1
            got = self.spark_digest[q]
            if got != want:
                self.out.fail(f"{q}: spark (rows, digest) {got} != duckdb {want}")
        self.out.info["checked"] = {q: self.spark_digest[q][0] for q in self.spark_digest}


class CorpusCurate(BatchQueries):
    queries = ("dedup_minhash_pairs", "dedup_jaccard_pairs", "sim_near_pairs_arrow",
               "pipeline_corpus_curation", "pipeline_chunk_prep", "text_quality")
    tables_of = {q: ("documents",) for q in queries} | {
        "sim_near_pairs_arrow": ("embeddings",)}
    size = datagen.CorpusSize()
    nominal_pass_s = 7.0
    warm_passes = 0
    near_threshold = 0.3  # the registry query's cosine threshold

    def generate(self) -> None:
        os.makedirs(self.data_dir)
        self.table_rows = datagen.write_corpus_tables(self.data_dir, self.ctx.seed, self.size)
        self.out.info["inputs"] = dict(self.table_rows)

    def final_checks(self) -> None:
        super().final_checks()
        q = "sim_near_pairs_arrow"
        if q in self.spark_digest:  # no SQL twin: bound the row count instead
            self.out.attempted += 1
            lo, hi = checks.near_pair_count_bounds(self.data_dir, self.near_threshold)
            rows = self.spark_digest[q][0]
            if not lo <= rows <= hi:
                self.out.fail(f"{q}: {rows} rows outside reference [{lo}, {hi}]")


# -- scheduled ingest plus serving ------------------------------------------

class IngestServe(Workload):
    """Each tick: one new file of 1m bars arrives, one availableNow
    ``start_market_ingest`` run commits it to the lake and the feature
    store, then a seeded batch of feature-store reads is served.

    The read mix is an assumption. The reference reads its store from
    two endpoints (``batch_read`` for point lookups, ``range_read`` with
    limit and order) and from backfill planning (a ``batch_read`` probe
    of expected epochs), but records no traffic share for them."""

    symbols = 20
    bars_per_file = 60
    reads_per_tick = (("point", 3), ("batch", 2), ("range", 2), ("missing", 1))
    batch_keys = 5
    range_limit = 20
    nominal_pass_s = 5.0
    warm_passes = 1
    tick_timeout_s = 120

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        from algorithmic_data_ingestion_for_cryptocurrencies_spark import schemas
        from algorithmic_data_ingestion_for_cryptocurrencies_spark.streaming import ingest

        w = ctx.work_dir
        self.src, self.lake, self.store_dir, self.ckpt = (
            os.path.join(w, d) for d in ("bars", "lake", "store", "checkpoint"))
        self.schema = schemas.MARKET_SCHEMA
        self.ingest = ingest
        self.store = None
        self.rng = np.random.default_rng([ctx.seed, 7])
        self.feed: datagen.BarFeed | None = None
        self.committed = 0
        self.bars_due = 0  # bars in the files the next tick ingests
        self.plans: list[tuple] = []
        self.results: list[tuple] = []
        self._seen_files = {"lake": set(), "store": set()}

    def generate(self) -> None:
        os.makedirs(self.src)
        self.feed = datagen.BarFeed(self.src, self.ctx.seed, self.symbols, self.bars_per_file)
        self.out.info["inputs"] = {"symbols": self.symbols, "bars_per_file": self.bars_per_file}
        # the warm-up tick's file, and one read of each kind after it
        self.bars_due = self.feed.write_next()
        self.plans = self.plan_reads([k for k, _n in self.reads_per_tick])

    def install_wrappers(self) -> None:
        """Traced run: spans around the public layer entry points the
        ingest path calls (looked up at call time, so patching the
        module attributes reaches them)."""
        from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators import indicators
        from algorithmic_data_ingestion_for_cryptocurrencies_spark.sources import lake

        tr = self.ctx.tracer
        lake.write_lake = tr.wrap(lake.write_lake, "lake.write")
        indicators.build_market_features = tr.wrap(
            indicators.build_market_features, "indicators.build")
        self.store.write = tr.wrap(self.store.write, "store.write")

    # -- one tick ------------------------------------------------------------

    def tick(self, warm: bool = False) -> float:
        tr = self.ctx.tracer
        self.out.attempted += 1
        with tr.operation("tick"):
            t0 = time.perf_counter()
            with tr.span("stream.start"):
                q = self.ingest.start_market_ingest(
                    self.ingest.read_file_stream(self.ctx.spark, self.src, self.schema),
                    lake_path=self.lake, checkpoint=self.ckpt, feature_store=self.store)
            t_started = time.perf_counter()
            finished = q.awaitTermination(self.tick_timeout_s)
            dt = time.perf_counter() - t0
        if not finished:
            q.stop()
            self.out.fail(f"ingest tick still running after {self.tick_timeout_s} s")
            return dt
        if q.exception() is not None:
            self.out.fail(f"ingest tick: {q.exception()}")
            return dt
        bars, self.bars_due = self.bars_due, 0
        self.committed += bars
        if warm:
            return dt
        self.out.rows += bars
        self.out.rows_s += dt
        progress = q.recentProgress
        trig = [p["durationMs"].get("triggerExecution", 0) / 1000.0 for p in progress]
        self.out.batch_s.extend(trig)
        if self.ctx.feeds is not None:
            self.add("stream.start_s", t_started - t0)
            self.layer["stream.batch_p50_s"] = statistics.median(trig) if trig else 0.0
            for key, phase in (("add_batch", "addBatch"), ("latest_offset", "latestOffset"),
                               ("query_planning", "queryPlanning"),
                               ("wal_commit", "walCommit"),
                               ("commit_offsets", "commitOffsets")):
                self.add(f"stream.{key}_ms",
                         sum(p["durationMs"].get(phase, 0) for p in progress))
            ops = {tr.op}
            self.add("lake.write_s", tr.span_seconds("lake.write", ops))
            self.add("indicators.build_s", tr.span_seconds("indicators.build", ops))
            self.add("store.write_s", tr.span_seconds("store.write", ops))
            self.read_layers(ops, dt)
        return dt

    def _new_files(self, key: str, root: str) -> tuple[int, int]:
        n = b = 0
        for path, size in _parquet_files(root):
            if path not in self._seen_files[key]:
                self._seen_files[key].add(path)
                n, b = n + 1, b + size
        return n, b

    # -- reads ---------------------------------------------------------------

    def _bar_key(self) -> tuple[str, int]:
        f = int(self.rng.integers(0, self.feed.files))
        sym = datagen.symbol_name(int(self.rng.integers(0, self.symbols)))
        return sym, int(self.feed.epochs(f)[int(self.rng.integers(0, self.bars_per_file))])

    def plan_reads(self, kinds: list[str]) -> list[tuple]:
        """Seeded reads of the given kinds, in a seeded order, with the
        rows each must return once the files written so far are in."""
        bars = self.feed.bars
        last = int(self.feed.epochs(self.feed.files - 1)[-1])
        plans = []
        for i in self.rng.permutation(len(kinds)):
            kind = kinds[i]
            sym, ep = self._bar_key()
            if kind == "point":
                plans.append((kind, (sym, ep), [ep]))
            elif kind == "batch":
                eps = sorted({self._bar_key()[1] for _ in range(self.batch_keys)})
                want = [e for e in eps if (sym, e) in bars]
                plans.append((kind, (sym, eps + [last + 60]), want))
            elif kind == "range":
                end = ep + 60 * int(self.rng.integers(5, 200))
                reverse = bool(self.rng.integers(0, 2))
                inside = [e for e in range(ep, min(end, last) + 1, 60) if (sym, e) in bars]
                want = (inside[::-1] if reverse else inside)[:self.range_limit]
                plans.append((kind, (sym, ep, end, reverse), want))
            else:  # never ingested: an unknown symbol or a future bar
                if self.rng.integers(0, 2):
                    plans.append(("point", ("ZZ/USDT", ep), []))
                else:
                    plans.append(("point", (sym, last + 3600), []))
        return plans

    def read(self, plan: tuple) -> float:
        kind, args, _want = plan
        tr = self.ctx.tracer
        self.out.attempted += 1
        df = rows = None
        c0 = tree_cpu_s()
        with tr.operation(f"read.{kind}"):
            t0 = time.perf_counter()
            try:
                with tr.span("store.read_build"):
                    if kind == "point":
                        df = self.store.read("market", args[0], "1m", args[1])
                    elif kind == "batch":
                        df = self.store.batch_read("market", args[0], "1m", args[1])
                    else:
                        df = self.store.range_read("market", args[0], "1m", args[1], args[2],
                                                   limit=self.range_limit, reverse=args[3])
                    df = df.select("ts_epoch", "hl_spread")
                with tr.span("store.read_exec"):
                    rows = df.collect()
            except Exception as e:  # noqa: BLE001
                self.out.fail(f"read {kind} {args}: {type(e).__name__}: {e}")
            dt = time.perf_counter() - t0
        self.out.record(f"read.{kind}", dt, tree_cpu_s() - c0)
        if rows is not None:
            self.results.append((plan, rows))
        if self.ctx.feeds is not None and df is not None:
            ops = {tr.op}
            self.add("store.read_build_s", tr.span_seconds("store.read_build", ops))
            self.add("store.read_exec_s", tr.span_seconds("store.read_exec", ops))
            _op, sql = self.read_layers(ops, dt, phases_of=df._jdf)
            self.add("read.count", 1)
            self.add("read.files", sql.get("scan.files", 0.0))
            self.add("read.rows_scanned", sql.get("scan.rows", 0.0))
            self.add("read.rows_returned", len(rows or ()))
        return dt

    def _check_read(self, plan: tuple, rows) -> None:
        kind, args, want = plan
        got = [r["ts_epoch"] for r in rows]
        if kind == "batch":
            got, want = sorted(got), sorted(want)
        if got != want:
            self.out.fail(f"read {kind} {args}: epochs {got[:5]} != {want[:5]}")
            return
        for r in rows:
            h, lo, c = self.feed.bars[(args[0], r["ts_epoch"])]
            if r["hl_spread"] != (h - lo) / c:
                self.out.fail(f"read {kind} {args}: hl_spread {r['hl_spread']} != {(h - lo) / c}")
                return

    # -- loop ----------------------------------------------------------------

    def warm(self) -> None:
        from algorithmic_data_ingestion_for_cryptocurrencies_spark.store.feature_store import (
            FeatureStore,
        )

        self.store = FeatureStore(self.ctx.spark, self.store_dir)
        if self.ctx.tracer.enabled:
            self.install_wrappers()
        self.tick(warm=True)
        for plan in self.plans:
            self.read(plan)

    def end_warm(self) -> None:
        super().end_warm()
        if self.ctx.feeds is not None:
            self._new_files("lake", self.lake)
            self._new_files("store", self.store_dir)
            self.ctx.feeds.mark()

    def prepare_pass(self) -> None:
        """The next file arrives; the tick's reads are planned."""
        self.bars_due = self.feed.write_next()
        self.plans = self.plan_reads([k for k, n in self.reads_per_tick for _ in range(n)])

    def run_pass(self) -> float:
        total = self.tick()
        for plan in self.plans:
            total += self.read(plan)
        return total

    def check_warm(self) -> None:
        """Check every read since the last check against the generated bars."""
        for plan, rows in self.results:
            self._check_read(plan, rows)
        self.results.clear()

    def check_pass(self) -> None:
        """Check the pass's reads; with tracing on, also list the files on disk."""
        self.check_warm()
        if self.ctx.feeds is None:
            return
        n, b = self._new_files("lake", self.lake)
        self.add("lake.files_written", n)
        self.add("lake.bytes_written", b)
        n, _b = self._new_files("store", self.store_dir)
        self.add("store.files_written", n)
        store_files = list(_parquet_files(self.store_dir))
        self.layer["store.files_total"] = len(store_files)
        self.layer["lake.stored_bytes_ratio"] = (
            sum(s for _p, s in _parquet_files(self.lake)) + sum(s for _p, s in store_files)
        ) / self.feed.bytes
        n = self.layer.pop("read.count", 0.0)
        self.layer["store.files_scanned_per_read"] = self.layer.pop("read.files", 0.0) / max(n, 1)
        scanned = self.layer.pop("read.rows_scanned", 0.0)
        self.layer["store.rows_scanned_per_row_returned"] = scanned / max(
            self.layer.pop("read.rows_returned", 0.0), 1.0)

    def final_checks(self) -> None:
        spark = self.ctx.spark
        for name, path in (("lake", self.lake), ("store", self.store_dir)):
            self.out.attempted += 1
            n = spark.read.parquet(path).count()
            if n != self.committed:
                self.out.fail(f"{name} holds {n} rows, {self.committed} bars were committed")
        self.out.info["bars_committed"] = self.committed
        self.out.info["source_bytes"] = self.feed.bytes
        self.out.info["stored_bytes_ratio"] = sum(
            s for root in (self.lake, self.store_dir) for _p, s in _parquet_files(root)
        ) / self.feed.bytes


def _parquet_files(root: str):
    for path, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(path, f)
                yield p, os.path.getsize(p)


WORKLOADS = {
    "ingest_serve": IngestServe,
    "corpus_curate": CorpusCurate,
}
