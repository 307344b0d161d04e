"""Dump formatted physical plans.

With no arguments, regenerate PLANS.md: plans for representative
queries with commentary on the 100 TB property each demonstrates
(sf dir from ``SF_DIR``, default sf0.01).

With a tag, write one ``explain("formatted")`` file per named query,
``<out-dir>/<query>_<tag>.txt``, on a session with shuffle partitions
sized to the sf dir. ``--exec`` first executes each query through its own
QueryExecution, so the file holds the AQE FINAL plan
(isFinalPlan=true, suffix ``_executed``): runtime decisions such as
exchange reuse in a self-join only show there.

Usage: python tools/dump_plans.py
       python tools/dump_plans.py <tag> [--exec] [--out-dir DIR] <query> [query ...]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

SECTIONS = {
    "flagship_market_features": (
        "One scan; ALL rolling/window expressions share a single sort per window "
        "spec (fused EWM block structure keeps the MACD family in the same "
        "partitioning); no cartesian products; scan reads only the projected "
        "columns."
    ),
    "w04_rolling_mean": (
        "Minimal window query: parquet scan with pruned ReadSchema -> one "
        "exchange on the series key -> one WindowExec computing mask count and "
        "mean in the same frame."
    ),
    "j1_equi_join": (
        "Dimension join: customer broadcast (BroadcastHashJoin), orders never "
        "shuffles."
    ),
    "a6_global_zscore": (
        "Global standardization WITHOUT a global window: two-pass agg + "
        "broadcast join (a Window.partitionBy() with no keys would serialize "
        "the table through one task)."
    ),
    "dedup_jaccard_pairs": (
        "Inverted-index self-join: shingle exchange is built once and reused "
        "(ReusedExchange) for both join sides; set sizes ride along as a window "
        "count, so no extra scan or per-document broadcast."
    ),
    "j5_range_join": (
        "Non-equi point-in-interval join rewritten as a bucketed EQUI join: "
        "the plan is a hash equi join on the bucket key (broadcast at this "
        "SF; a shuffle SMJ when both sides are large, AQE-splittable) with "
        "the exact range predicate as the join's post-condition — no "
        "CartesianProduct and no per-pair BroadcastNestedLoopJoin, which is "
        "what the naive range predicate would plan as."
    ),
    "samp_bernoulli_strata": (
        "Hash-Bernoulli sampling is a pure narrow filter: zero exchanges, the "
        "md5-threshold predicate sits directly over the scan — sampling 100 TB "
        "costs exactly one read."
    ),
    "dedup_contamination": (
        "Train/eval shingle containment: distinct train shingles aggregate "
        "map-side, the eval side joins on the shingle key as a standard "
        "shuffle join (AQE-splittable under hot shingles), and the per-doc "
        "score aggregates on the doc id that rode the explode projection."
    ),
    "a4_depth": (
        "FUSED single-exchange rank tier (r5): one window over (keys, ts) "
        "ordered side-major — ask level = row_number, bid level = "
        "row_number - n_ask with n_ask an unbounded-frame sum in the SAME "
        "window spec (one Window operator) — and the conditional-max pivot "
        "reuses the window's partitioning, so rank, filter, and pivot all "
        "run in the single post-shuffle stage. Replaced the r4 two-exchange "
        "per-(keys,ts,side) window + pivot shuffle (1.33s/1.13s vs "
        "0.55s/0.99s at sf0.1/sf1; see Plan rules B/C below)."
    ),
    "sim_near_pairs_capped": (
        "Budgeted near-pairs (r5): LSH bucket projection (narrow), "
        "md5-ordered per-bucket cap (one window exchange on the bucket key, "
        "WindowGroupLimit-pruned), then a within-bucket self equi-join — "
        "total scored pairs bounded by 2^n_planes * cap^2 / 2 at ANY corpus "
        "size. The similarity family's answer to 'what survives 100 TB': "
        "work per bucket is constant and the bucket count is a knob."
    ),
    "training_matrix": (
        "Single-exchange spine (r4): resample(pre_cluster=symbol) "
        "hash-partitions the raw bars once on a SUBSET of the aggregate's "
        "group keys; that one exchange satisfies the resample groupBy AND "
        "every downstream window stage. Social/news rollups broadcast onto "
        "the spine; labels ride the last window cluster's ordering through "
        "the broadcast joins (no extra sort)."
    ),
    "text_chunking": (
        "Context-window chunking as projection + explode: ZERO exchanges — "
        "chunking a 100 TB corpus costs exactly one read."
    ),
    "text_repetition": (
        "Within-doc duplicate-ngram ratio entirely in array expressions: "
        "no explode, no shuffle, whole-stage codegen end to end."
    ),
    "samp_token_budget": (
        "Global running sum WITHOUT a single-partition window over the data: "
        "RangePartitioning exchange on the order key, per-partition prefix "
        "sums windowed by the physical partition id, and the only "
        "unpartitioned window runs over the BOUNDED per-partition totals "
        "(rows = #partitions) that broadcast back — the data-sized stages "
        "all run at full parallelism."
    ),
    "samp_split_groups": (
        "Group-aware split assignment is a pure narrow projection: zero "
        "exchanges, seeded-md5 CASE ranges directly over the scan."
    ),
    "st11_rollup_incremental": (
        "Continuous-aggregate read: the state-table scan merges per-batch "
        "partial states with ONE hash aggregate (map-side combined); "
        "incremental maintenance appended bucket-grain rows, never "
        "rewriting history."
    ),
    "u5b_triple_barrier": (
        "Triple-barrier labels WITHOUT a self-join: the future closes ride "
        "a bounded rowsBetween(1, horizon) collect_list frame — O(horizon) "
        "state per row inside the one series exchange — and the first-touch "
        "scan is a higher-order filter over that small array. The oracle "
        "cross-checks with an O(rows x horizon) self-join; the Spark plan "
        "never materializes row pairs."
    ),
    "pipeline_sft_prep": (
        "SFT-export capstone: PII scrub and template render are pure "
        "projections; the entropy gate is two map-side-combined aggregates "
        "(the token explode keeps each doc in one partition) joined back on "
        "doc_id; the rendered-dedup survivor is one rank shuffle. Exchange "
        "budget plan-guarded in tests."
    ),
    "g1_pagerank": (
        "Iterative graph scoring with bounded plans: each power iteration "
        "is one src-keyed join plus one dst-keyed aggregate over the edge "
        "list, and the rank frame is localCheckpoint-pinned per round so "
        "iteration k+1 never nests k join trees (same discipline as "
        "connected components). Linear in |E|; driver sees only scalar "
        "counts."
    ),
    "dedup_cluster_survivors": (
        "Pairs -> connected components -> survivors: the iterative CC "
        "rounds run on the PAIR graph (tiny vs the corpus, lineage "
        "truncated per round); the corpus-sized work is one LEFT equi-join "
        "against the labeling plus a bucket-grain size aggregate — nothing "
        "quadratic, nothing driver-side."
    ),
}

# Generalized, measured plan-shape rules (r4 verdict #6). Each rule is
# guarded by a pytest named in-line; numbers are min-of-N on local[32].
EPILOGUE = """\
## Plan rules — when each shape wins (measured)

**A. Aggregation exchange placement.** TRUE reducing aggregates
(sum/count/min/max/avg) keep Catalyst's map-side partial: the partial
shrinks every group to one row per mapper, so the exchange carries
group-grain data — never fight this default. COLLECT-style aggregates
(`collect_list`/`collect_set`) are the exception: the partial reduces
NOTHING (every element still crosses the wire, boxed), and on a compact
scan it serializes the object work onto however few splits the scan
produced — so put the exchange FIRST (explicit repartition on the group
keys, which the aggregate then reuses; still one shuffle) and run the
object aggregation at full reduce parallelism. Measured: a4_depth
object tier 12.6x -> ~2x DuckDB (r3->r4). That tier was later
removed (rule B's fused window tier replaced it), so no test guards
this rule now.

**B. Fuse a window with its downstream aggregation by partition
alignment.** When a rank-then-pivot (or rank-then-groupBy) pipeline
windows on a SUPERSET of the aggregation keys, it pays two exchanges.
Partition the window by exactly the downstream group keys and push the
extra distinction into the ORDER BY instead (a4_depth: side-major
ordering, ask level = row_number, bid level = row_number - n_ask) —
the aggregate then reuses the window's partitioning and the whole
pipeline is one exchange. Measured: 0.55s/0.99s (sf0.1/sf1) vs
1.33s/1.13s for the two-exchange shape. Guarded by
`test_depth_series_window_tier_matches_prune_tier`.

**C. One Window operator per (partitionBy, orderBy) spec.** Window
expressions sharing partitioning AND ordering evaluate in a single
Window pass even with different frames — derive auxiliary per-group
scalars (counts, totals) as unbounded-frame aggregates over the SAME
ordered spec rather than a separate unordered window, which plans a
second operator. Guarded by the one-Window assertion in
`test_depth_series_window_tier_matches_prune_tier`.

**D. Keep top-k filters literally `row_number() <= k`.** Spark's
InsertWindowGroupLimit only fires on a filter over the raw rank
function; it then prunes MAP-SIDE, so only k rows per (group, mapper)
reach the exchange — the difference between shipping |corpus| rows and
shipping k*P rows in knn_join. A filter on a DERIVED rank expression
(like rule B's `rn - n_ask`) does not prune; rule B trades that prune
for an exchange, which wins at bounded group sizes (order-book levels)
and loses for unbounded groups — pick per operator. Guarded by
`test_knn_join_prunes_topk_map_side`.

**E. Repartition once on the key subset shared by a pipeline.** When
an aggregate and later windows/joins all key on a subset (symbol,
bucket), one explicit repartition on that subset satisfies every
downstream distribution (resample `pre_cluster`, the training_matrix
single-exchange spine). Guarded by
`test_resample_pre_cluster_shares_exchange_with_windows`.

**F. Higher-order functions beat unrolled expression chains above tiny
widths.** An `element_at` multiply-add chain stays inside whole-stage
codegen but blows the JIT inlining/huge-method limit almost
immediately: measured 0.40x (faster) at dim=4, 8-10x SLOWER at
dim>=8, 3-5x slower end-to-end at dim=64 (the r4 regression). The
interpreted-but-tight ArrayAggregate loop (`zip_with` + `aggregate`
in `similarity.dot`/`norm`) is the only scoring path; the unrolled
tier, which only a dim<=4 embedding could reach, was deleted.
"""


def main() -> None:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("tag", nargs="?", help="file-name tag, e.g. before|after; omit to regenerate PLANS.md")
    ap.add_argument("queries", nargs="*", help="registry query names")
    ap.add_argument("--exec", dest="execute", action="store_true",
                    help="execute each query first and dump the AQE-final plan")
    ap.add_argument("--out-dir", default="plans", help="directory for the per-query files")
    args = ap.parse_intermixed_args()
    if args.tag is not None and not args.queries:
        ap.error("name at least one query to dump")

    from algorithmic_data_ingestion_for_cryptocurrencies_spark.driver_queries import REGISTRY
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.plans.inspect import explain_str
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.session import (
        clear_persisted_blocks,
        get_spark,
        shuffle_partitions_for_dir,
    )

    sf = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
    if args.tag is not None:
        spark = get_spark("plandump", shuffle_partitions=shuffle_partitions_for_dir(sf))
        os.makedirs(args.out_dir, exist_ok=True)
        for name in args.queries:
            fn, _sql = REGISTRY[name]
            df = fn(spark, sf)
            if args.execute:
                clear_persisted_blocks(spark, blocking=True)
                # collect THROUGH the DataFrame's own QueryExecution (a
                # .write would plan a new one and leave this one
                # isFinalPlan=false); results dumped this way are small
                print(f"{name}: executed, {len(df.collect())} rows")
            text = explain_str(df, "formatted")
            suffix = f"{args.tag}_executed" if args.execute else args.tag
            path = os.path.join(args.out_dir, f"{name}_{suffix}.txt")
            with open(path, "w") as f:
                mode = "executed/AQE-final" if args.execute else "static"
                f.write(f"-- {name} @ {sf} ({mode})\n")
                f.write(text)
            print(f"wrote {path} ({len(text)} bytes)")
        return
    spark = get_spark("plandump")
    out = [
        "# PLANS — physical-plan evidence for the scale design",
        "",
        "Generated by `tools/dump_plans.py` (Spark `explain('formatted')` at sf0.01).",
        "Each plan demonstrates a specific 100 TB property; see commentary per query.",
        "",
    ]
    for name, why in SECTIONS.items():
        fn, _sql = REGISTRY[name]
        plan = explain_str(fn(spark, sf), "formatted")
        head = plan.split("\n\n")[0]
        out.append(f"## {name}\n\n{why}\n\n```\n{head}\n```\n")
    out.append(EPILOGUE)
    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as f:
        f.write("\n".join(out))


if __name__ == "__main__":
    main()
