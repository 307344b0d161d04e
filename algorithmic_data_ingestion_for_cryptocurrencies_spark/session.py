"""SparkSession factory tuned for this engine.

Defaults are sized for the local[32] test harness but every knob is the
one you'd tune on a 1000-executor cluster too: UTC session timezone
(all reference timestamps are tz-aware UTC — see
``algo-data-ingestion/app/common/time_norm.py:44`` in the reference),
AQE with partition coalescing + skew-join handling, Arrow for the few
Pandas-UDF operators, and non-ANSI permissive arithmetic so division-
by-zero yields NULL (pandas/NumPy-style tolerance; the reference never
raises on bad math).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "adi-spark"

#: ``spark.sql.codegen.cache.maxEntries`` (Spark default 100). Spark
#: keys its generated-class cache on the source text and evicts the
#: least recently used class. One scheduled ingest tick
#: (``start_market_ingest`` into a FeatureStore) with its 8 store reads,
#: and one pass of the perfbench corpus_curate queries, each cycle
#: through more than 100 classes, so at the default every warm pass
#: recompiled 68-103 and ~104 classes. At 1000 a warm corpus pass
#: compiles none and an ingest pass 15-18, all in store reads, whose
#: epoch literals are inlined into the generated code (measured on a
#: 4-core host with 2 task threads).
CODEGEN_CACHE_ENTRIES = 1000


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_memory() -> str:
    """Local-mode driver heap: ``SPARK_DRIVER_MEM`` wins; otherwise a
    quarter of physical RAM clamped to [2, 24] GiB. The 128 GiB bench
    harness resolves to 24g (~750 MB/task at 32 threads — real executor
    sizing); a laptop resolves to something its JVM can actually start
    with instead of a hard-coded bench-box figure."""
    if "SPARK_DRIVER_MEM" in os.environ:
        return os.environ["SPARK_DRIVER_MEM"]
    total_gib = 0
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_gib = int(line.split()[1]) // (1024 * 1024)
                    break
    except OSError:
        pass
    return f"{max(2, min(24, total_gib // 4))}g" if total_gib else "8g"


def shuffle_partitions_for_dir(path: str, cores: int | None = None) -> int:
    """Shuffle-partition count sized to the DATA, not the core count:
    one partition per ~20 MB of on-disk parquet (≈100-160 MB of
    in-flight row data per task after decode), floored at the core
    count. Sort-heavy stages (windows, sort-merge joins) spill once a
    task's partition outgrows its execution-memory share — measured on
    the flagship window chain: 60M rows at 32 partitions ran 74 s
    (spilling) vs 35 s at 64; 180M rows (sf30) at the old ~32 MB
    divisor (98 partitions) 132.3 s vs 90.7 s at 128 vs 82.3 s at 160
    — the r7→r8 change from 32 MB to 20 MB lands sf30 at ~157, right
    at the measured optimum. On a real cluster this is the same
    arithmetic executors do with AQE's ``initialPartitionNum`` /
    target partition bytes; AQE coalescing still shrinks small stages,
    so oversizing is cheap and undersizing is not.

    CONTRACT: ``path`` is a DATASET directory whose top-level entries
    are the tables (``<dir>/lineitem.parquet`` as a file or a
    directory of part files) — pass the sf dir, never a single table
    directory (the "largest entry" of a table dir would be one part
    file and the count would collapse to the core floor). Only
    parquet data is counted: a top-level entry qualifies as a table
    candidate only if it is a ``*.parquet`` file or a directory
    containing ``*.parquet`` parts, so checkpoint/metadata siblings
    (``_checkpoint``, ``.crc`` droppings) never inflate the count.
    """
    cores = cores or default_parallelism()
    # size to the LARGEST single table under the dir, not the dir
    # total: sorts and joins run over the dominant fact table, and
    # sibling tables a query never touches must not inflate its
    # partition count (r8 interleaved A/B at sf30: dir-total sizing
    # gave 199 partitions and 97.5 s on the flagship vs 85.1 s at the
    # lineitem-sized 157; sf10 was flat 64-96).
    largest = 0
    try:
        entries = [os.path.join(path, e) for e in os.listdir(path)]
    except OSError:
        entries = []
    for entry in entries:
        size = 0
        if os.path.isdir(entry):
            for root, _dirs, files in os.walk(entry):
                for f in files:
                    if not f.endswith(".parquet"):
                        continue
                    try:
                        size += os.path.getsize(os.path.join(root, f))
                    except OSError:
                        pass
        elif entry.endswith(".parquet"):
            try:
                size = os.path.getsize(entry)
            except OSError:
                pass
        largest = max(largest, size)
    return max(cores, largest // (20 * 1024 * 1024))


def clear_persisted_blocks(spark: SparkSession, *, blocking: bool = False) -> int:
    """Unpersist every RDD still pinned in the block manager —
    including blocks from ``localCheckpoint`` frames whose Python
    references are gone but whose JVM cleanup (weak-reference driven)
    has not run yet. Iterative operators (pagerank, connected
    components, the fused bigram LM) pin per-round blocks by design;
    within one query that memory is bounded, but a long-lived session
    running many queries back to back (a bench harness, a notebook)
    accumulates dead blocks that squeeze execution memory and show up
    as run-over-run slowdown (measured: the sf10 pagerank cell ran
    72 s on a clean session vs 117 s immediately after a prior run —
    entirely block-manager pressure, not plan). Returns the number of
    RDDs unpersisted.

    ``blocking=True`` waits for the block managers to actually drop
    the blocks before returning (r14 pagerank-sf30 ruling: with the
    async sweep, a back-to-back rerun of an |E|-cache-scale query
    starts while the previous run's GB-sized blocks are still mid-
    removal — measured as run-over-run 1.7-1.9x degradation and, in
    one controlled window, a hard
    ``SparkOutOfMemoryError: UNABLE_TO_ACQUIRE_MEMORY`` inside
    UnsafeExternalSorter when the execution pool hit zero.  Bench
    harnesses timing repeated runs in one session should always pass
    blocking=True; the async default stays for latency-sensitive
    library callers)."""
    jsc = spark.sparkContext._jsc.sc()
    persistent = jsc.getPersistentRDDs()
    n = persistent.size()
    it = persistent.values().iterator()
    while it.hasNext():
        it.next().unpersist(blocking)
    return n


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    *,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``shuffle_partitions`` defaults to the local core count — at
    cluster scale you would size it to ~2-3x total executor cores or
    simply rely on AQE coalescing, which is enabled here.
    """
    cores = default_parallelism()
    builder = (
        SparkSession.builder.master(
            os.environ.get("SPARK_MASTER", f"local[{cores}]")
        )
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # pandas-parity arithmetic: x/0 -> NULL, lossy casts -> NULL.
        .config("spark.sql.ansi.enabled", "false")
        # files: keep scan partitions big enough to amortize task setup
        .config("spark.sql.files.maxPartitionBytes", "256m")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # local mode: the driver JVM IS the executor — 32 concurrent
        # tasks need real heap once localCheckpoint pins blocks
        # (unevictable) next to hash-agg execution memory, but the
        # default must not exceed what the host actually has
        .config("spark.driver.memory", default_driver_memory())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
