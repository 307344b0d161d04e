"""Incremental time-bucket rollups (continuous aggregates).

The streaming-ingest side of the engine lands raw rows in micro-batches
(:mod:`..streaming.ingest`); analytics wants per-bucket stats over the
whole history without rescanning it. The standard warehouse answer is a
*continuous aggregate* (TimescaleDB) / *materialized rollup* (Druid,
Pinot): keep per-bucket **partial aggregation states** that are
(a) mergeable — state(A ∪ B) = merge(state(A), state(B)) — and
(b) cheap to finalize into count/mean/min/max/std.

Design (append + compact, the log-structured shape that scales):

- :func:`rollup_state` turns raw rows into per-(keys, bucket) states,
  tagged with a caller-supplied ``batch_id``. One map-side-combined
  ``groupBy`` — an increment touching B buckets shuffles B rows.
- :func:`upsert_rollup` APPENDS the increment's state rows to the
  rollup table (new Parquet files only — no read-modify-write of
  existing data, so concurrent readers never see a torn table).
  Re-running a failed/duplicated batch re-appends byte-identical rows;
  :func:`read_rollup` drops exact duplicates on (keys, bucket,
  batch_id) first, which makes the upsert **idempotent per batch_id**.
- :func:`read_rollup` merges all batch states per bucket at query time
  (sum/sum/min/max/sum — one aggregate over the state table, which is
  ~#buckets × #batches-since-compaction rows, not raw-data-sized) and
  optionally finalizes.
- :func:`RollupStore.compact_rollup` collapses the accumulated batch
  states into one ``__compacted_g{N}`` state per bucket, bounding
  read-side merge work; run it on the scheduler cadence
  (:mod:`..streaming.scheduler`).

Compaction commit protocol (r4 advice: the old read→delete→swap lost
concurrent appends and double-counted batches replayed after
compaction). Compaction never rewrites the directory in place:

1. snapshot = the data files present at compaction start;
2. the merged state is written under a NEW generation tag
   (``__compacted_g{N}``) and its files are MOVED INTO the table dir
   alongside the old ones — appends racing past the snapshot are
   other files and are never touched;
3. the sidecar manifest (``_rollup_manifest.g{N}.json`` — underscore
   prefix, invisible to parquet readers; generation-suffixed so the
   commit rename targets a FRESH name and the previous manifest is
   never deleted before its successor exists — readers resolve the
   max generation, so no crash window can reset the store to
   generation 0) is atomically renamed into place recording the new
   generation AND every batch_id folded into
   it. **The manifest rename is the commit point**: readers keep only
   the manifest's generation of compacted rows and drop any row whose
   batch_id the manifest lists as folded — so a crash before the
   rename leaves the old state fully live (new-gen rows invisible),
   a crash after it leaves the new state fully live (snapshot files'
   rows all dropped), and a micro-batch REPLAYED after compaction
   (crash between the parquet append and the streaming checkpoint
   commit) re-appends rows that the read side discards;
4. only then are the snapshot files deleted — a crash mid-delete
   leaves garbage files whose rows the manifest already filters out,
   swept by the next compaction.

In-process, :class:`RollupStore` serializes upserts against
compaction with an instance lock (the streaming ``foreachBatch`` and
the scheduled compaction share the driver). Multi-driver writers need
external coordination — same caveat as ``sources.lake.compact_lake``
(and manifest-rename atomicity is filesystem-level: local FS/HDFS
yes, bare object stores need their conditional-put primitive).

No counterpart in the reference (its Redis store keeps only final
feature values — ``redis_store.py`` — and recomputes aggregates from
raw on every backfill); this is the beyond-reference scale surface.
"""

from __future__ import annotations

import functools
import operator
import threading
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators.sketches import kmv_estimate_expr, kmv_hash
from . import genfile

COMPACTED_PREFIX = "__compacted"
MANIFEST_PREFIX = "_rollup_manifest"
#: KMV sample size of the approx-distinct state: the k smallest
#: distinct hashes kept per bucket (relative error ~1/sqrt(k-2))
KMV_K = 256


def rollup_state(
    df: DataFrame,
    *,
    keys: Sequence[str],
    ts_col: str,
    bucket_seconds: int,
    val_cols: Sequence[str],
    batch_id: str,
    distinct_cols: Sequence[str] = (),
    hist_cols: "dict[str, tuple[float, float, int]] | None" = None,
) -> DataFrame:
    """Per-(keys, bucket_ts) mergeable aggregation state for each value
    column: count, sum, min, max, sum of squares. ``bucket_ts`` is the
    bucket's start epoch second.

    ``hist_cols`` maps a column to fixed bin edges ``(lo, hi, nbins)``
    and adds a MERGEABLE histogram state (``array<long>`` of
    ``nbins + 2`` counts: underflow, bins, overflow): histograms of
    the same binning merge by element-wise addition, so the rollup
    gains approximate PERCENTILES over the stream (finalized to
    p50/p95/p99 by cumulative interpolation) — the continuous-
    aggregate percentile feature, with deterministic fixed bins
    instead of a sketch so the state is engine-portable and the
    estimate error is bounded by the bin width.

    ``distinct_cols`` adds an incremental APPROX-DISTINCT state per
    column — "unique users per bucket maintained incrementally over
    the stream", which no exact state can do without keeping the full
    value set. The state is the portable k-minimum-values set (rule V,
    ``operators/sketches.py``): the :data:`KMV_K` smallest distinct
    52-bit md5 hashes per bucket, a sorted ``array<bigint>``. KMV sets
    merge across batches and compactions (union, keep the k smallest)
    and the estimate is a deterministic function of the data, so the
    rollup's approx-distinct column has a hash-exact DuckDB oracle."""
    b = (
        F.floor(F.col(ts_col).cast("long") / F.lit(bucket_seconds))
        * F.lit(bucket_seconds)
    ).cast("long")
    aggs: list[F.Column] = []
    for c in val_cols:
        v = F.col(c).cast("double")
        aggs += [
            F.count(c).alias(f"n_{c}"),
            F.sum(v).alias(f"sum_{c}"),
            F.min(v).alias(f"min_{c}"),
            F.max(v).alias(f"max_{c}"),
            F.sum(v * v).alias(f"sumsq_{c}"),
        ]
    for c, (lo, hi, nbins) in (hist_cols or {}).items():
        v = F.col(c).cast("double")
        idx = F.when(v < lo, F.lit(0)).when(v >= hi, F.lit(nbins + 1)).otherwise(
            (F.floor((v - lo) / (hi - lo) * nbins) + 1).cast("int")
        )
        # one conditional count per bin (nbins+2 sum aggregates, then
        # assembled into the array) — the partial aggregate reduces
        # MAP-SIDE with O(nbins) state per group, unlike a
        # collect_list of one-hot arrays which would materialize
        # rows x (nbins+2) longs per hot bucket before reducing
        aggs.append(
            F.array(*[
                F.sum(
                    F.when(idx == i, F.lit(1)).otherwise(F.lit(0)).cast("long")
                )
                for i in range(nbins + 2)
            ]).alias(f"hist_{c}")
        )
    out = (
        df.withColumn("bucket_ts", b)
        .groupBy(*keys, "bucket_ts")
        .agg(*aggs)
    )
    jcols = [*keys, "bucket_ts"]
    for c in distinct_cols:
        # rank pre-pass per column: distinct hashes, per-bucket k
        # smallest (WindowGroupLimit keeps in-flight state O(k) per
        # group), collected into the sorted array state — one extra
        # exchange per distinct col, the price of a portable,
        # engine-reproducible state
        hashes = (
            df.withColumn("bucket_ts", b)
            .filter(F.col(c).isNotNull())
            .select(*keys, "bucket_ts", kmv_hash(c).alias("__h"))
            .distinct()
        )
        w = Window.partitionBy(*jcols).orderBy("__h")
        st = (
            hashes.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= KMV_K)
            .groupBy(*jcols)
            .agg(F.array_sort(F.collect_list("__h")).alias(f"kmv_{c}"))
            # NULL-SAFE join keys (review fix): a group keyed by NULL
            # (or a NULL-ts bucket) must still receive its state — a
            # plain equi-join drops it and the column would silently
            # finalize to 0 instead of the true count
            .select(
                *[F.col(k).alias(f"__r_{k}") for k in jcols],
                f"kmv_{c}",
            )
        )
        cond = functools.reduce(
            operator.and_,
            [out[k].eqNullSafe(st[f"__r_{k}"]) for k in jcols],
        )
        out = (
            out.join(st, cond, "left")
            .drop(*[f"__r_{k}" for k in jcols])
            .withColumn(
                f"kmv_{c}",
                F.coalesce(f"kmv_{c}", F.array().cast("array<bigint>")),
            )
        )
    return out.withColumn("batch_id", F.lit(batch_id))


def merge_rollup_states(
    states: DataFrame, *, keys: Sequence[str], val_cols: Sequence[str],
    distinct_cols: Sequence[str] = (),
    hist_cols: "dict[str, tuple[float, float, int]] | None" = None,
) -> DataFrame:
    """Merge partial states across batches: counts/sums/sumsq add,
    min/max combine, KMV sets union + re-truncate to the k smallest
    (bounded by states-per-group × k). Associative
    + commutative, so any merge order (and any partial compaction
    history) yields the same state."""
    aggs: list[F.Column] = []
    for c in val_cols:
        aggs += [
            F.sum(f"n_{c}").alias(f"n_{c}"),
            F.sum(f"sum_{c}").alias(f"sum_{c}"),
            F.min(f"min_{c}").alias(f"min_{c}"),
            F.max(f"max_{c}").alias(f"max_{c}"),
            F.sum(f"sumsq_{c}").alias(f"sumsq_{c}"),
        ]
    for c in distinct_cols:
        aggs.append(
            F.slice(
                F.array_sort(
                    F.array_distinct(F.flatten(F.collect_list(f"kmv_{c}")))
                ),
                1, KMV_K,
            ).alias(f"kmv_{c}")
        )
    for c, (_lo, _hi, nbins) in (hist_cols or {}).items():
        # element-wise sum per bin slot (map-side combining, O(nbins)
        # state) rather than collecting one array per batch per group
        aggs.append(
            F.array(*[
                F.sum(F.element_at(F.col(f"hist_{c}"), i + 1))
                for i in range(nbins + 2)
            ]).alias(f"hist_{c}")
        )
    return states.groupBy(*keys, "bucket_ts").agg(*aggs)


def finalize_rollup(
    state: DataFrame, *, val_cols: Sequence[str],
    distinct_cols: Sequence[str] = (),
    hist_cols: "dict[str, tuple[float, float, int]] | None" = None,
    percentiles: Sequence[float] = (0.5, 0.95, 0.99),
) -> DataFrame:
    """Finalize merged states into count/mean/min/max/std (population
    std via E[x²]−E[x]², clamped at 0 against FP negatives) and KMV
    distinct states into approx-distinct estimates
    ``(k-1)·2^52/(h_k+1)`` (double; exact count below k; identical to
    ``operators/sketches.kmv_distinct``, so the rollup column matches
    its DuckDB oracle)."""
    out = state
    for c, (lo, hi, nbins) in (hist_cols or {}).items():
        h = F.col(f"hist_{c}")
        total = F.aggregate(h, F.lit(0).cast("long"), lambda a, x: a + x)
        width = (hi - lo) / nbins
        for p in percentiles:
            # first bin where the cumulative count reaches p*total,
            # linearly interpolated inside the bin; clamps at the
            # under/overflow edges
            target = F.ceil(total.cast("double") * p)
            cum = F.transform(
                F.sequence(F.lit(0), F.lit(nbins + 1)),
                lambda i: F.aggregate(
                    F.slice(h, 1, (i + 1).cast("int")),
                    F.lit(0).cast("long"), lambda a, x: a + x,
                ),
            )
            idx = F.array_position(
                F.transform(cum, lambda cv: cv >= target), True
            )  # 1-based position into [underflow, b1..bn, overflow]
            est = F.when(idx <= 1, F.lit(float(lo))).when(
                idx >= nbins + 2, F.lit(float(hi))
            ).otherwise(F.lit(lo) + (idx.cast("double") - 1.0) * width)
            name = f"p{int(p * 100)}_{c}"
            out = out.withColumn(name, F.when(total > 0, est))
        out = out.drop(f"hist_{c}")
    for c in distinct_cols:
        out = out.withColumn(
            f"approx_distinct_{c}",
            kmv_estimate_expr(F.col(f"kmv_{c}"), KMV_K),
        ).drop(f"kmv_{c}")
    for c in val_cols:
        n = F.col(f"n_{c}").cast("double")
        mean = F.col(f"sum_{c}") / n
        var = F.greatest(
            F.col(f"sumsq_{c}") / n - mean * mean, F.lit(0.0)
        )
        out = (
            out.withColumn(f"mean_{c}", mean)
            .withColumn(f"std_{c}", F.sqrt(var))
            .drop(f"sum_{c}", f"sumsq_{c}")
        )
    return out


class RollupStore:
    """Append/compact continuous-aggregate table at ``path``."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        keys: Sequence[str],
        val_cols: Sequence[str],
        bucket_seconds: int,
        distinct_cols: Sequence[str] = (),
        hist_cols: "dict[str, tuple[float, float, int]] | None" = None,
    ):
        self.spark = spark
        self.path = path
        self.keys = list(keys)
        self.val_cols = list(val_cols)
        self.distinct_cols = list(distinct_cols)
        self.hist_cols = dict(hist_cols or {})
        self.bucket_seconds = bucket_seconds
        # serializes in-process ingest vs compaction: without it a
        # compaction snapshot can catch HALF of an in-flight append's
        # files, fold a partial batch, and record its batch_id as
        # compacted — silently dropping the other half on read
        self._lock = threading.Lock()

    # -- manifest -----------------------------------------------------

    def _fs(self):
        return genfile.hadoop_fs(self.spark, self.path)

    def _read_manifest(self) -> dict:
        """Committed manifest = the highest-generation parseable
        manifest file (:mod:`.genfile` protocol — shared with the IVF
        index since r11). Manifests are never deleted before their
        successor exists, so the store can never silently reset to
        generation 0 while ``__compacted_g{N}`` rows exist; torn
        files fall back, unparseable-with-no-sibling raises."""
        return genfile.read_committed(
            self.spark, self.path, MANIFEST_PREFIX,
            default={"generation": 0, "compacted_batch_ids": []},
            store_desc="rollup store",
        )

    def _write_manifest(self, manifest: dict) -> None:
        """Commit = atomic rename onto the NEW generation-suffixed
        name (``_rollup_manifest.g{N}.json``); superseded manifests are
        swept only after the new one exists
        (:func:`.genfile.commit_generation`, which also fails loudly on
        a false-returning rename)."""
        genfile.commit_generation(
            self.spark, self.path, MANIFEST_PREFIX, manifest,
            store_desc="rollup store",
        )

    def _data_files(self) -> list[str]:
        """Visible parquet part files currently in the table dir."""
        fs, Path = self._fs()
        root = Path(self.path)
        if not fs.exists(root):
            return []
        out = []
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if st.isFile() and not name.startswith(("_", ".")):
                out.append(st.getPath().toString())
        return out

    def _live_states(self, df: DataFrame, manifest: dict) -> DataFrame:
        """Filter a raw state scan down to the committed view: only the
        manifest's generation of compacted rows (uncommitted/stale
        generations are invisible), no batch the manifest already
        folded (post-compaction replays count zero), exact-duplicate
        appends count once."""
        gen_tag = f"{COMPACTED_PREFIX}_g{manifest['generation']}"
        live = df.filter(
            (~F.col("batch_id").startswith(COMPACTED_PREFIX))
            | (F.col("batch_id") == F.lit(gen_tag))
        )
        folded = manifest["compacted_batch_ids"]
        if folded:
            live = live.filter(~F.col("batch_id").isin(folded))
        return live.dropDuplicates([*self.keys, "bucket_ts", "batch_id"])

    # -- public surface ----------------------------------------------

    def upsert_rollup(
        self, increment: DataFrame, *, ts_col: str, batch_id: str
    ) -> None:
        """Aggregate the raw increment to states and append. Safe to
        re-run with the same ``batch_id`` — before OR after a
        compaction folded it (read-side dedup + manifest filter)."""
        with self._lock:
            if batch_id in self._read_manifest()["compacted_batch_ids"]:
                return  # replay of an already-compacted batch: no-op
            state = rollup_state(
                increment,
                keys=self.keys,
                ts_col=ts_col,
                bucket_seconds=self.bucket_seconds,
                val_cols=self.val_cols,
                batch_id=batch_id,
                distinct_cols=self.distinct_cols,
                hist_cols=self.hist_cols,
            )
            state.write.mode("append").parquet(self.path)

    def read_rollup(self, *, finalize: bool = True) -> DataFrame:
        """Merged (optionally finalized) per-bucket stats over the
        committed view (see :meth:`_live_states`)."""
        manifest = self._read_manifest()
        states = self._live_states(
            self.spark.read.parquet(self.path), manifest
        )
        merged = merge_rollup_states(
            states, keys=self.keys, val_cols=self.val_cols,
            distinct_cols=self.distinct_cols, hist_cols=self.hist_cols,
        )
        if not finalize:
            return merged
        return finalize_rollup(
            merged, val_cols=self.val_cols,
            distinct_cols=self.distinct_cols, hist_cols=self.hist_cols,
        )

    def compact_rollup(self, *, min_bucket_ts: int | None = None) -> None:
        """Collapse the current snapshot's batch states into one
        ``__compacted_g{N}`` state per bucket. Crash-safe at every
        boundary and append-concurrent (module docstring, steps 1-4):
        files landing after the snapshot listing are never read,
        rewritten, or deleted.

        ``min_bucket_ts`` applies RETENTION during the rewrite:
        buckets strictly older are dropped from the new generation
        (and their bytes reclaimed with the snapshot sweep) — the
        continuous-aggregate TTL, fused into the compaction pass so
        expiry costs no extra table rewrite. Pass an explicit epoch
        threshold (caller derives it from its clock/policy; the store
        stays deterministic)."""
        with self._lock:
            manifest = self._read_manifest()
            snapshot = self._data_files()
            if not snapshot:
                return
            raw = self.spark.read.parquet(*snapshot)
            # the new generation must exceed every generation ON DISK,
            # not just the committed one: an uncommitted generation
            # orphaned by a crashed compaction would otherwise collide
            # with this attempt's tag and spring back to life (double
            # count) the moment the manifest commits it
            max_disk_gen = raw.select(
                F.max(
                    F.when(
                        F.col("batch_id").startswith(COMPACTED_PREFIX),
                        F.regexp_extract("batch_id", r"_g(\d+)$", 1).cast("int"),
                    )
                ).alias("g")
            ).first()["g"] or 0
            gen = max(manifest["generation"], max_disk_gen) + 1
            gen_tag = f"{COMPACTED_PREFIX}_g{gen}"

            states = self._live_states(raw, manifest)
            if min_bucket_ts is not None:
                states = states.filter(F.col("bucket_ts") >= min_bucket_ts)
            folded = [
                r["batch_id"]
                for r in states.select("batch_id").distinct().collect()
                if not r["batch_id"].startswith(COMPACTED_PREFIX)
            ]
            merged = merge_rollup_states(
                states, keys=self.keys, val_cols=self.val_cols,
                distinct_cols=self.distinct_cols, hist_cols=self.hist_cols,
            ).withColumn("batch_id", F.lit(gen_tag))

            # stage the new generation, then move its part files INTO
            # the live dir (rows stay invisible: readers filter on the
            # manifest generation until the commit below)
            base = self.path.rstrip("/")
            tmp = base + f"__compact_g{gen}_tmp"
            merged.write.mode("overwrite").parquet(tmp)
            fs, Path = self._fs()
            for st in fs.listStatus(Path(tmp)):
                name = st.getPath().getName()
                if st.isFile() and not name.startswith(("_", ".")):
                    fs.rename(st.getPath(), Path(base + "/" + name))
            fs.delete(Path(tmp), True)

            # COMMIT: new generation + folded batch ids become visible
            self._write_manifest({
                "generation": gen,
                "compacted_batch_ids": sorted(
                    set(manifest["compacted_batch_ids"]) | set(folded)
                ),
            })

            # sweep superseded files (their live rows are all in the
            # new generation; a crash here only leaves garbage that
            # the manifest filters and the next compaction deletes)
            for f in snapshot:
                fs.delete(Path(f), False)
