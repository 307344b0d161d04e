"""a4_depth sf3 cell ruling (r13 verdict task #3): the cell read
2.93x DuckDB / 1.75x its sort floor in the r12 (hot-host) campaign,
after 1.51x (r11) and ~1.3x (r10) — a hair-over-slack wobble history
on a ~2.4 s cell. This tool puts every relevant number for the ruling
in ONE interleaved quiet window per tier:

- shipped:       the registry a4_depth exactly as benched (tier picked
                 from its footer-derived rows-per-group hint)
- window/prune:  the two physical tiers, forced by a rows_per_group
                 hint of 0 / AUTO_PRUNE_MIN_ROWS_PER_GROUP
- floor:         bare book exchange+sort (the shape-matched minimal
                 data motion, same columns the shipped plan carries)
- duckdb:        the oracle twin, same estimator

plus derived ratios. The four-shape hold (r11, closed: object /
window / prune / salted all measured, none beats the shipped pick
beyond noise; the object and salted tiers were removed since) is
tier-independent — this extends its evidence to the sf3 cell
specifically.

Usage: python tools/bench_depth_ruling.py [sf_dir ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from algorithmic_data_ingestion_for_cryptocurrencies_spark import driver_queries as dq
from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.orderbook import (
    AUTO_PRUNE_MIN_ROWS_PER_GROUP,
    depth_series,
)
from algorithmic_data_ingestion_for_cryptocurrencies_spark.session import (
    clear_persisted_blocks,
    get_spark,
    shuffle_partitions_for_dir,
)

KW = dict(keys=["symbol"], tiebreak_cols=["okey", "lnum", "amount"])


def main() -> None:
    tiers = sys.argv[1:] or ["testdata_scaled/sf3"]
    reps = int(os.environ.get("AB_REPS", "5"))
    spark = get_spark("ab-depth-ruling")
    spark.sparkContext.setLogLevel("ERROR")
    noop = lambda df: df.write.mode("overwrite").format("noop").save()
    out: dict = {"metric": "depth_sf3_ruling", "unit": "sec",
                 "reps_min_of": reps, "tiers": {}}
    shipped_fn, oracle_sql = dq.REGISTRY["a4_depth"]
    for sf_dir in tiers:
        n_shuffle = shuffle_partitions_for_dir(sf_dir)
        spark.conf.set("spark.sql.shuffle.partitions", str(n_shuffle))
        book = dq._book(spark, sf_dir)

        def floor_shape():
            return book.repartition(
                n_shuffle, "symbol", "ts"
            ).sortWithinPartitions(
                "ts", "symbol", "price", "okey", "lnum"
            )

        shapes = {
            "shipped": lambda: shipped_fn(spark, sf_dir),
            "window": lambda: depth_series(book, 3, rows_per_group=0.0, **KW),
            "prune": lambda: depth_series(
                book, 3, rows_per_group=AUTO_PRUNE_MIN_ROWS_PER_GROUP, **KW
            ),
            "floor_book_sort": floor_shape,
        }
        best = {k: None for k in shapes}
        for rep in range(reps):
            order = list(shapes) if rep % 2 == 0 else list(reversed(shapes))
            for k in order:
                clear_persisted_blocks(spark, blocking=True)
                t0 = time.perf_counter()
                noop(shapes[k]())
                dt = time.perf_counter() - t0
                best[k] = dt if best[k] is None else min(best[k], dt)

        import duckdb

        con = duckdb.connect()
        p = os.path.join(sf_dir, "lineitem.parquet")
        glob = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.sql(f"CREATE VIEW lineitem AS SELECT * FROM '{glob}'")
        duck = None
        for _ in range(reps):
            t0 = time.perf_counter()
            con.sql(oracle_sql).fetchall()
            duck = min(duck or 9e9, time.perf_counter() - t0)
        con.close()

        cell = {k: round(v, 3) for k, v in best.items()}
        cell["duckdb"] = round(duck, 3)
        cell["shipped_vs_duck"] = round(best["shipped"] / duck, 3)
        cell["shipped_over_floor"] = round(
            best["shipped"] / best["floor_book_sort"], 3
        )
        cell["best_tier_vs_duck"] = round(
            min(best["window"], best["prune"]) / duck, 3
        )
        out["tiers"][sf_dir] = cell
        print(sf_dir, cell, flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
