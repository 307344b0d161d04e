"""Output checks, run outside every timed region.

A batch query's result is reduced to ``(rows, digest)``, where the
digest is an order-independent sum of per-row hashes over the columns
in name order. Spark's result and the registry's DuckDB twin of the
same query must agree on both. The registry already rounds float
columns identically on both sides, so equal results hash equally.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def _normalise(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_datetime64_any_dtype(col):
            if getattr(col.dtype, "tz", None) is not None:
                col = col.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = col.astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_bool_dtype(col) or pd.api.types.is_numeric_dtype(col):
            # one numeric kind for every int width / nullable / float;
            # "+ 0.0" folds -0.0 into 0.0
            df[c] = col.astype("float64") + 0.0
        else:
            df[c] = col.astype(str)
    return df


def digest(df: pd.DataFrame) -> tuple[int, int]:
    """``(row count, order-independent digest)`` of a result frame."""
    if len(df) == 0:
        return 0, 0
    h = pd.util.hash_pandas_object(_normalise(df), index=False).to_numpy(np.uint64)
    return len(df), int(h.sum(dtype=np.uint64))


def duckdb_digests(table_dir: str, tables: list[str], sqls: dict[str, str]) -> dict[str, tuple[int, int]]:
    """Run each SQL twin on DuckDB over the generated tables."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")
        return {name: digest(con.sql(sql).df()) for name, sql in sqls.items()}
    finally:
        con.close()


def near_pair_count_bounds(table_dir: str, threshold: float) -> tuple[int, int]:
    """Row-count bounds for a cosine near-pair self-join (``id_a <
    id_b``): pairs clearly above the threshold must all be present,
    pairs within float-summation noise of it may go either way."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{table_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    ids = t.column("vec_id").to_numpy()
    mat = np.stack(t.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    upper = ids[:, None] < ids[None, :]
    eps = 1e-5
    sure = int(((sims >= threshold + eps) & upper).sum())
    maybe = int(((sims >= threshold - eps) & upper).sum())
    return sure, maybe
