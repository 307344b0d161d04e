"""SQL registration layer (SURVEY §7.1): every engine capability is
reachable from BOTH the DataFrame API and plain ``spark.sql``.

:func:`register_views` registers the domain parquet tables as temp
views (timestamp-normalized exactly like the DataFrame loaders, so the
two APIs see identical data), plus the derived ``market`` / ``book``
views the operator queries are phrased over. After registration, any
ANSI-SQL query — including every dialect-neutral oracle string in the
registry — runs verbatim through ``spark.sql``; the ``sql_*`` registry
entries in :mod:`driver_queries` execute the SAME text Spark-side and
DuckDB-side, so the correctness gate covers the SQL surface too.

Scale note: a temp view is just a named logical plan — filters and
column pruning still push to the parquet scan through it, and Catalyst
sees exactly the plan a DataFrame chain would build. Nothing here
materializes anything.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: the driver's pre-registered table universe (TESTDATA.md)
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def register_views(
    spark: SparkSession,
    sf_dir: str,
    *,
    strict: bool = False,
) -> list[str]:
    """Register the :data:`TABLES` under ``sf_dir`` as temp views,
    plus the ``market`` and ``book`` views derived from ``lineitem``.
    Missing parquet files are skipped unless ``strict`` (scaled bench
    tiers carry only the tables their queries touch). Returns the
    registered view names."""
    from .driver_queries import BOOK_SQL, MARKET_SQL, _events, _t

    names: list[str] = []
    for t in TABLES:
        if not os.path.exists(os.path.join(sf_dir, f"{t}.parquet")):
            if strict:
                raise FileNotFoundError(f"{sf_dir}/{t}.parquet")
            continue
        df = _events(spark, sf_dir) if t == "events" else _t(spark, sf_dir, t)
        df.createOrReplaceTempView(t)
        names.append(t)
    if "lineitem" in names:
        spark.sql(f"CREATE OR REPLACE TEMPORARY VIEW market AS {MARKET_SQL}")
        spark.sql(f"CREATE OR REPLACE TEMPORARY VIEW book AS {BOOK_SQL}")
        names += ["market", "book"]
    return names


def run_sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """One-shot convenience: register the views, run ``query``."""
    register_views(spark, sf_dir)
    return spark.sql(query)
