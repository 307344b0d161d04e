"""Feature store: the reference's Redis KV + sorted-time-index store
(``algo-data-ingestion/app/features/store/redis_store.py``) re-expressed
as a partitioned, time-sorted Parquet table.

Key semantics parity:
- key = (domain, symbol, timeframe, epoch_sec), symbol sanitized
  ``/``,``:`` -> ``-`` and uppercased (``redis_store.py:104-118``);
- point / batch reads (``redis_store.py:151-168,198-219``);
- range reads with limit + reverse (ZRANGEBYSCORE semantics,
  ``redis_store.py:221-259``);
- TTL retention sweep (``app/features/jobs/backfill.py:191-215``);
- gap detection vs an expected bar grid (``backfill.py:45-76``).

Scale design: partition pruning on (domain, symbol, timeframe) limits
every point/range read's scan to one directory, though building the
read still lists the whole store; rows are written sorted by ``ts``
so Parquet row-group min/max stats subsume the Redis ZSET index
(SURVEY §1.1, §4). Payloads stay *columnar* (one column per feature)
— the JSON-blob shape of Redis is an access-API detail, not a
storage one.

Read schema: each instance keeps one read schema per domain and hands
it to ``spark.read.schema``, so building a read launches no
schema-inference job. ``write`` records the schema it writes (data
columns in frame order, then the key columns as strings); a later
write adds its new columns and raises on a type conflict. A domain
this instance has not written is inferred once from its
``domain=<d>`` directory, key columns forced to string. Staleness:
the schema is per instance, so columns another process adds to a
domain appear here after this instance writes that domain with them,
or in a new instance.
"""

from __future__ import annotations

import threading
import time
from collections.abc import Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..functions.cleaning import sanitize_symbol, sanitize_symbol_str
from ..operators.joins import expected_grid, find_gaps

KEY_COLS = ("domain", "symbol", "timeframe")


def _merge_schema(known: T.StructType | None, frame: T.StructType) -> T.StructType:
    """Read schema of a domain: ``known``'s data columns, then the
    frame's new ones in frame order, then the key columns as strings.
    Raises ``TypeError`` when a column changes type."""
    data = [f for f in known.fields if f.name not in KEY_COLS] if known else []
    types = {f.name: f.dataType for f in data}
    for f in frame.fields:
        if f.name in KEY_COLS:
            continue
        if f.name not in types:
            data.append(T.StructField(f.name, f.dataType, True))
        elif types[f.name].simpleString() != f.dataType.simpleString():
            raise TypeError(
                f"feature store column {f.name!r} is "
                f"{types[f.name].simpleString()}, cannot write "
                f"{f.dataType.simpleString()}"
            )
    return T.StructType(data + [T.StructField(k, T.StringType(), True) for k in KEY_COLS])


class FeatureStore:
    def __init__(self, spark: SparkSession, base_path: str, *,
                 metrics_registry=None):
        """``metrics_registry`` (a ``streaming.metrics.MetricsRegistry``)
        turns on the reference-parity store metrics — write/read
        counters by domain+op and an op-latency histogram
        (``feature_writes_total`` / ``feature_reads_total`` /
        ``feature_op_latency_seconds``; the Grafana feature-store
        dashboard under ``monitoring/grafana/`` reads exactly these).
        Latency covers the Spark ACTION for writes and the plan BUILD
        for reads (reads are lazy; execution cost lands on whichever
        job consumes the frame). The build reads no Parquet footer
        (see the module docstring's read schema), except the first
        read of a domain this instance has not written."""
        self.spark = spark
        self.base_path = base_path
        # per-domain read schemas; a foreachBatch writer thread and
        # reader threads may share the instance
        self._schemas: dict[str, T.StructType] = {}
        self._schemas_lock = threading.Lock()
        self._m_writes = self._m_reads = self._m_latency = None
        if metrics_registry is not None:
            self._m_writes = metrics_registry.counter(
                "feature_writes_total", "Feature-store writes.", ("domain",)
            )
            self._m_reads = metrics_registry.counter(
                "feature_reads_total",
                "Feature-store reads by op.", ("domain", "op"),
            )
            self._m_latency = metrics_registry.histogram(
                "feature_op_latency_seconds",
                "Feature-store op latency.", ("op",),
            )

    def _observe(self, op: str, domain: str, t0: float) -> None:
        if self._m_latency is None:
            return
        if op == "write":
            self._m_writes.inc({"domain": domain})
        else:
            self._m_reads.inc({"domain": domain, "op": op})
        self._m_latency.observe(time.perf_counter() - t0, {"op": op})

    # -- write ---------------------------------------------------------------

    def write(self, df: DataFrame, *, domain: str, ts_col: str = "timestamp",
              mode: str = "append") -> None:
        """Append feature rows; adds the store key columns + epoch
        seconds, sanitizes symbols, sorts by time within partitions."""
        t0 = time.perf_counter()
        out = df.withColumn("domain", F.lit(domain))
        if "symbol" in out.columns:
            out = out.withColumn("symbol", sanitize_symbol("symbol"))
        out = out.withColumn("ts_epoch", F.col(ts_col).cast("long"))
        # overwrite replaces the whole store, so no recorded schema survives it
        overwrite = mode == "overwrite"
        # a type conflict raises before anything is written
        _merge_schema(None if overwrite else self._schemas.get(domain), out.schema)
        (
            out.sortWithinPartitions("ts_epoch")
            .write.mode(mode)
            .partitionBy(*KEY_COLS)
            .parquet(self.base_path)
        )
        with self._schemas_lock:
            if overwrite:
                self._schemas.clear()
            self._schemas[domain] = _merge_schema(self._schemas.get(domain), out.schema)
        self._observe("write", domain, t0)

    # -- read ----------------------------------------------------------------

    def _read_schema(self, domain: str) -> T.StructType | None:
        """The domain's read schema; inferred (one Spark job) the first
        time for a domain this instance has not written. ``None`` when
        the store holds no such domain."""
        schema = self._schemas.get(domain)
        if schema is not None:
            return schema
        try:
            inferred = (
                self.spark.read.option("mergeSchema", "true")
                .option("basePath", self.base_path)
                .parquet(f"{self.base_path}/domain={domain}")
                .schema
            )
        except AnalysisException as e:
            if e.getCondition() == "PATH_NOT_FOUND":
                return None
            raise
        with self._schemas_lock:
            # keeps a schema that a write recorded meanwhile
            return self._schemas.setdefault(domain, _merge_schema(None, inferred))

    def _scan(self, domain: str, symbol: str, timeframe: str) -> DataFrame:
        schema = self._read_schema(domain)
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(self.base_path).filter(
            (F.col("domain") == domain)
            & (F.col("symbol") == sanitize_symbol_str(symbol))
            & (F.col("timeframe") == timeframe)
        )

    def read(self, domain: str, symbol: str, timeframe: str, ts_epoch: int) -> DataFrame:
        """Point read — filter on the full key (``redis_store.py:151-168``)."""
        t0 = time.perf_counter()
        out = self._scan(domain, symbol, timeframe).filter(
            F.col("ts_epoch") == ts_epoch
        )
        self._observe("point", domain, t0)
        return out

    def batch_read(self, domain: str, symbol: str, timeframe: str,
                   ts_epochs: Sequence[int]) -> DataFrame:
        """Batch point read (MGET parity, ``redis_store.py:198-219``)."""
        t0 = time.perf_counter()
        out = self._scan(domain, symbol, timeframe).filter(
            F.col("ts_epoch").isin(list(ts_epochs))
        )
        self._observe("batch", domain, t0)
        return out

    def range_read(self, domain: str, symbol: str, timeframe: str,
                   start_epoch: int, end_epoch: int, *,
                   limit: int | None = None, reverse: bool = False) -> DataFrame:
        """Range read with limit/reverse (ZRANGEBYSCORE parity,
        ``redis_store.py:221-259``). orderBy + limit plans as a
        top-k, not a global sort."""
        t0 = time.perf_counter()
        out = self._scan(domain, symbol, timeframe).filter(
            F.col("ts_epoch").between(start_epoch, end_epoch)
        )
        out = out.orderBy(F.col("ts_epoch").desc() if reverse else F.col("ts_epoch").asc())
        out = out.limit(limit) if limit else out
        self._observe("range", domain, t0)
        return out

    # -- maintenance ---------------------------------------------------------

    def ttl_sweep(self, now_epoch: int, ttl_seconds: int, out_path: str) -> DataFrame:
        """Retention: rewrite the store keeping only live rows
        (Parquet is immutable; Delta would DELETE in place). Returns
        the surviving frame (parity: ``backfill.py:191-215``)."""
        df = self.spark.read.parquet(self.base_path)
        live = df.filter(F.col("ts_epoch") >= now_epoch - ttl_seconds)
        live.write.mode("overwrite").partitionBy(*KEY_COLS).parquet(out_path)
        return live

    def find_missing_bars(self, domain: str, symbol: str, timeframe: str,
                          start: str, end: str) -> DataFrame:
        """Expected-grid anti-join gap detection
        (``backfill.py:45-76``): bar timestamps in [start, end] with
        no stored feature row."""
        present = self._scan(domain, symbol, timeframe).select(
            F.timestamp_seconds(F.col("ts_epoch")).alias("expected_ts")
        )
        grid = expected_grid(self.spark, start, end, timeframe)
        return find_gaps(present, grid, on=["expected_ts"])
