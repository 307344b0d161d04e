"""Assemble BENCH_SCALED_r{N}.json from per-engine/per-tier partials
produced by tools/bench_scaled.py.

    python tools/assemble_scaled_bench.py --round 7 \
        --tier sf1:/tmp/sf1_spark.json:/tmp/sf1_duck.json \
        --tier sf10:/tmp/sf10_spark.json:/tmp/sf10_duck.json \
        --note "..." --out BENCH_SCALED_r07.json

The matched set is the intersection of query names present on both
engines for that tier; rows-only queries (no DuckDB twin) appear in
spark_queries but not in the matched totals — by design, not skipped.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tier", action="append", required=True,
                    help="name:spark_json[:duck_json]")
    ap.add_argument("--note", default="")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    tiers: dict = {}
    for spec in args.tier:
        parts = spec.split(":")
        name, spark_path = parts[0], parts[1]
        duck_path = parts[2] if len(parts) > 2 and parts[2] else None
        with open(spark_path) as f:
            sp = json.load(f)
        tier = {
            "spark_runs": sp.get("runs"),
            "spark_shuffle_partitions": sp.get("spark_shuffle_partitions"),
            "spark_queries": sp["queries"],
        }
        # carry the two-window-protocol record (r13: the --outlier-rerun
        # flag writes these into the spark partial) and the per-query
        # layer records through
        for k in ("second_window_min_cells", "outlier_rerun", "post_swap_cells",
                  "layers"):
            if k in sp:
                tier[k] = sp[k]
        if duck_path:
            with open(duck_path) as f:
                du = json.load(f)
            tier["duck_runs"] = du.get("runs")
            tier["duckdb_queries"] = du["queries"]
            matched = sorted(set(sp["queries"]) & set(du["queries"]))
            s_tot = round(sum(sp["queries"][q] for q in matched), 2)
            d_tot = round(sum(du["queries"][q] for q in matched), 2)
            tier.update(
                matched_n=len(matched),
                matched_spark_total=s_tot,
                matched_duckdb_total=d_tot,
                matched_ratio=round(s_tot / d_tot, 3) if d_tot else None,
            )
        tiers[name] = tier

    out = {"metric": "scaled_bench_tiers", "unit": "sec",
           "note": args.note, "tiers": tiers}
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=False)
    summary = {n: t.get("matched_ratio") for n, t in tiers.items()}
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
