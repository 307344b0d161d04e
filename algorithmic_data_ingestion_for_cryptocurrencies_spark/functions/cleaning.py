"""Scalar cleaning/sanitation helpers.

Parity targets in ``/root/reference/algo-data-ingestion/``:
- NaN/Inf -> NULL JSON sanitation: ``app/ingestion_service/routes.py:97-113``
- symbol/partition sanitization: ``app/features/store/redis_store.py:62-65``,
  ``app/ingestion_service/utils.py:53-58``
- column coalesce normalization (text := text|content|selftext):
  ``app/ingestion_service/routes.py:409-419,940-947``
- article-id-from-URL: ``app/adapters/news_adapter.py:96-97``
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, functions as F


def nan_inf_to_null(col: Column | str) -> Column:
    """NaN / +-Inf -> NULL (JSON-sanitation parity)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        F.isnan(c) | (c == float("inf")) | (c == float("-inf")), F.lit(None)
    ).otherwise(c)


def sanitize_numeric_columns(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Apply :func:`nan_inf_to_null` to every (or the given) float column."""
    targets = cols or [
        f.name for f in df.schema.fields if f.dataType.typeName() in ("double", "float")
    ]
    out = df
    for c in targets:
        out = out.withColumn(c, nan_inf_to_null(c))
    return out


def sanitize_symbol(col: Column | str) -> Column:
    """``BTC/USDT`` -> ``BTC-USDT`` (also ``:`` -> ``-``), uppercased."""
    c = F.col(col) if isinstance(col, str) else col
    return F.upper(F.regexp_replace(c, "[/:]", "-"))


def sanitize_symbol_str(symbol: str) -> str:
    """Plain-string twin of :func:`sanitize_symbol`, for read keys."""
    return re.sub("[/:]", "-", symbol).upper()


def sanitize_partition_value(col: Column | str) -> Column:
    """Partition-path-safe value: ``/`` -> ``-``, spaces -> ``_``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.regexp_replace(c, "/", "-"), " ", "_")


def coalesce_text(df: DataFrame, out: str = "text",
                  candidates: tuple[str, ...] = ("text", "content", "selftext", "summary")) -> DataFrame:
    """text := first non-null of the candidate columns present."""
    present = [F.col(c) for c in candidates if c in df.columns]
    if not present:
        return df.withColumn(out, F.lit(None).cast("string"))
    return df.withColumn(out, F.coalesce(*present))


def id_from_url(col: Column | str) -> Column:
    """Last path segment of a URL as a stable article id."""
    c = F.col(col) if isinstance(col, str) else col
    return F.element_at(F.split(c, "/"), -1)
