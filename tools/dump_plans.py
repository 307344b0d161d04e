"""Dump formatted physical plans.

With no arguments, refresh PLANS.md: the fenced plan block of each
section named in ``SECTIONS`` is replaced by that query's current plan
(sf dir from ``SF_DIR``, default sf0.01); the commentary, the other
sections and the plan rules are left as they are.

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

#: PLANS.md sections whose fenced plan block this tool regenerates;
#: the commentary around each block, the other sections (hand-drawn
#: plan sketches) and the plan rules are hand-written and kept as is
SECTIONS = (
    "flagship_market_features", "w04_rolling_mean", "j1_equi_join",
    "a6_global_zscore", "dedup_jaccard_pairs", "j5_range_join",
    "samp_bernoulli_strata", "dedup_contamination", "a4_depth",
    "sim_near_pairs_capped", "training_matrix", "text_chunking",
    "text_repetition", "samp_token_budget", "samp_split_groups",
    "st11_rollup_incremental", "u5b_triple_barrier", "pipeline_sft_prep",
    "g1_pagerank", "dedup_cluster_survivors",
)

PLANS_MD = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "PLANS.md")


def replace_plan_blocks(text: str, plans: dict[str, str]) -> str:
    """``text`` with the first bare-fenced (```` ``` ````) block under
    each ``## <name>`` heading replaced by ``plans[name]``; every other
    line is kept. Blocks with a language tag are commentary, never the
    plan; a plan block left open fails loudly."""
    lines = text.split("\n")
    out: list[str] = []
    todo = dict(plans)
    section = None
    in_fence = False
    i = 0
    while i < len(lines):
        line = lines[i]
        out.append(line)
        i += 1
        if line.startswith("```"):
            if not in_fence and line == "```" and section in todo:
                # skip the old block up to its closing fence
                while i < len(lines) and lines[i] != "```" and not lines[i].startswith("## "):
                    i += 1
                if i == len(lines) or lines[i] != "```":
                    raise SystemExit(f"PLANS.md plan block of {section!r} is never closed")
                out += [todo.pop(section), lines[i]]
                i += 1
            else:
                in_fence = not in_fence
        elif line.startswith("## ") and not in_fence:
            section = line[3:]
    if todo:
        raise SystemExit(f"PLANS.md has no plan block for {sorted(todo)}")
    return "\n".join(out)


def main() -> None:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("tag", nargs="?", help="file-name tag, e.g. before|after; omit to refresh PLANS.md")
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
    plans = {
        name: explain_str(REGISTRY[name][0](spark, sf), "formatted").split("\n\n")[0]
        for name in SECTIONS
    }
    with open(PLANS_MD) as f:
        text = f.read()
    with open(PLANS_MD, "w") as f:
        f.write(replace_plan_blocks(text, plans))


if __name__ == "__main__":
    main()
