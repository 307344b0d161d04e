"""Portable approximate aggregates — engine-reproducible sketches.

Spark's native sketches (``approx_count_distinct`` = HyperLogLog++,
``percentile_approx`` = KLL) are correct and fast but their estimates
are implementation-defined: no other engine reproduces the exact
value, so queries built on them can only ever be rows-only checked.
This module provides the PORTABLE alternatives (PLANS.md rule V):
estimators that are deterministic functions of the data values, so
DuckDB — or any engine — computes the IDENTICAL number and the
queries carry hash-exact oracles.

* :func:`kmv_distinct` — k-minimum-values distinct-count estimator
  (Bar-Yossef et al. 2002, "Counting distinct elements in a data
  stream"): hash every key to a uniform 52-bit integer, keep the k
  smallest distinct hashes per group, estimate ``(k-1) * 2^52 / h_k``.
  Relative error ~ 1/sqrt(k-2) (k=256 → ~6%). The k-min SET is also a
  MERGEABLE state — union two sets, keep the k smallest — which is
  the approx-distinct state the rollup store persists
  (:mod:`..store.rollup`).

* :func:`hist_percentiles` — fixed-bin histogram percentile, the
  standalone twin of the rollup store's ``hist_cols`` estimator:
  deterministic bin-edge math (right edge of the bin holding the
  ceil(n*p)-th smallest value), error bounded by one bin width.

Design notes for 100 TB:

- The KMV rank filter (``row_number <= k`` over hash order) is a
  WindowGroupLimit in Spark 4: each shuffle partition keeps only its
  local top-k before the exchange, so the state per group in flight
  is O(k), never O(distinct).
- The histogram works at BIN grain after the first aggregate —
  counts per (group, slot), one cumulative window over ``nbins``
  rows per group, no per-row sort anywhere.
- 52-bit hashes (13 hex digits of md5) are exact in IEEE doubles, so
  the final floating-point estimate arithmetic is unambiguous
  cross-engine; Spark renders via ``conv(hex, 16, 10)``, DuckDB via
  ``('0x' || hex)::BIGINT`` — same integer.

The reference has no sketch surface (its aggregations are eager
pandas); this family is beyond-reference scale tooling.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

#: 13 lowercase-hex digits = 52 bits: the widest md5 prefix whose
#: integer value is exactly representable in a double — keeps every
#: downstream float op (division, comparison) bit-identical across
#: engines.
KMV_HEX_DIGITS = 13
KMV_SPACE = float(1 << 52)


def kmv_hash(col: Column | str) -> Column:
    """Uniform 52-bit integer hash of a key (md5-prefix, rule V):
    the value-determining hash every engine reproduces."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(
        F.substring(F.md5(c.cast("string")), 1, KMV_HEX_DIGITS), 16, 10
    ).cast("bigint")


def kmv_estimate_expr(state: Column, k: int) -> Column:
    """Finalize a sorted k-min hash array into the distinct estimate:
    exact size below ``k``, else ``(k-1)·2^52/(h_k + 1)``. Shared by
    :func:`kmv_distinct` and the rollup store's distinct states so the
    two estimators cannot drift."""
    return (
        F.when(F.size(state) < k, F.size(state).cast("double"))
        .otherwise(
            F.lit(float(k - 1)) * F.lit(KMV_SPACE)
            / (F.element_at(state, k) + F.lit(1))
        )
    )


def kmv_distinct(
    df: DataFrame,
    group_cols: Sequence[str],
    key_col: str,
    *,
    k: int = 256,
    out: str = "approx_distinct",
) -> DataFrame:
    """Per-group approximate ``COUNT(DISTINCT key)`` via k-minimum
    values. Groups with fewer than ``k`` distinct keys report the
    EXACT count (the k-min set is then the full hash set); above that
    the estimator is ``(k-1) * 2^52 / (h_k + 1)`` where ``h_k`` is the
    k-th smallest distinct hash (the ``+1`` guards the measure-zero
    ``h_k = 0`` division identically in every engine).

    The estimate depends only on the SET of k smallest hash values —
    row_number tie order between equal hashes cannot change ``MAX``
    or ``COUNT`` — so it is reproducible regardless of partitioning.
    NULL keys are excluded (COUNT(DISTINCT) semantics — and the two
    engines disagree on NULL placement in window ORDER BY, so an
    unfiltered NULL would also break the cross-engine contract).
    """
    dedup = (
        df.filter(F.col(key_col).isNotNull())
        .select(*group_cols, key_col)
        .distinct()
        .select(*group_cols, kmv_hash(key_col).alias("__h"))
    )
    w = Window.partitionBy(*group_cols).orderBy("__h")
    top = (
        dedup.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
    )
    est = (
        F.when(F.count(F.lit(1)) < k, F.count(F.lit(1)).cast("double"))
        .otherwise(
            F.lit(float(k - 1)) * F.lit(KMV_SPACE)
            / (F.max("__h") + F.lit(1))
        )
    )
    return top.groupBy(*group_cols).agg(est.alias(out))


def hist_slot(
    val: Column | str, *, lo: float, hi: float, nbins: int
) -> Column:
    """Clamped 1-based bin slot (0 = underflow, nbins+1 = overflow) —
    the exact slot math of ``store/rollup.py`` hist_cols, shared so
    the standalone and rollup estimators stay value-identical. The
    ``(v - lo) / (hi - lo) * nbins`` form (NOT ``(v - lo) / width``)
    is the bit-exact cross-engine contract — do not refactor it."""
    v = (F.col(val) if isinstance(val, str) else val).cast("double")
    return (
        F.when(v.isNull(), F.lit(None).cast("int"))
        .when(v < lo, F.lit(0))
        .when(v >= hi, F.lit(nbins + 1))
        .otherwise(
            (F.floor((v - F.lit(lo)) / F.lit(hi - lo) * nbins) + 1).cast("int")
        )
    )


def hist_percentiles(
    df: DataFrame,
    group_cols: Sequence[str],
    val_col: str,
    *,
    lo: float,
    hi: float,
    nbins: int,
    ps: Mapping[str, float],
) -> DataFrame:
    """Per-group approximate percentiles from a fixed-bin histogram:
    the estimate is the RIGHT EDGE of the bin holding the
    ceil(n*p)-th smallest value (underflow clamps to ``lo``, overflow
    to ``hi``) — deterministic bin-edge math, error <= one bin width,
    and an exact SQL rendering in any engine. ``ps`` maps output
    column name -> percentile in (0, 1].

    Work shape: one count aggregate at (group, slot) grain, one
    cumulative window over the <= nbins+2 slot rows per group —
    bin-grain cost no matter how many input rows.
    """
    width = (hi - lo) / nbins
    counts = (
        df.select(*group_cols, hist_slot(val_col, lo=lo, hi=hi, nbins=nbins).alias("__slot"))
        .filter(F.col("__slot").isNotNull())
        .groupBy(*group_cols, "__slot")
        .count()
    )
    w_cum = (
        Window.partitionBy(*group_cols)
        .orderBy("__slot")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*group_cols)
    cum = counts.select(
        *group_cols,
        "__slot",
        F.sum("count").over(w_cum).alias("__cum"),
        F.sum("count").over(w_all).alias("__n"),
    )

    def edge(slot: Column) -> Column:
        return (
            F.when(slot == 0, F.lit(float(lo)))
            .when(slot == nbins + 1, F.lit(float(hi)))
            .otherwise(slot.cast("double") * F.lit(width) + F.lit(float(lo)))
        )

    aggs = [
        edge(
            F.min(
                F.when(
                    F.col("__cum") >= F.ceil(F.col("__n") * F.lit(p)),
                    F.col("__slot"),
                )
            )
        ).alias(name)
        for name, p in ps.items()
    ]
    return cum.groupBy(*group_cols).agg(*aggs)


def _dlit(x: float) -> str:
    """Float literal for DuckDB arithmetic: bare decimal literals
    parse as DECIMAL (whose arithmetic differs from Spark's doubles —
    e.g. ``CEIL(n * 0.95)`` can flip at exact boundaries), so every
    literal is CAST to DOUBLE; the cast rounds the shortest-repr
    decimal back to the identical IEEE double Python/Spark hold."""
    return f"CAST({float(x)!r} AS DOUBLE)"


def kmv_hash_sql(expr: str, *, dialect: str = "duckdb") -> str:
    """SQL rendering of :func:`kmv_hash` (same 52-bit integer): DuckDB
    parses the hex prefix via a ``'0x…'::BIGINT`` cast, Spark via
    ``CONV(hex, 16, 10)`` — the one dialect split in the sketch SQL
    (everything else is engine-shared CASE/FLOOR/window text)."""
    if dialect == "spark":
        return (f"CAST(CONV(SUBSTRING(MD5(CAST({expr} AS STRING)), 1, "
                f"{KMV_HEX_DIGITS}), 16, 10) AS BIGINT)")
    return (f"('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, "
            f"{KMV_HEX_DIGITS}))::BIGINT")


def kmv_distinct_sql(
    *,
    table: str,
    group_col: str,
    key_col: str,
    k: int = 256,
    out: str = "approx_distinct",
    dialect: str = "duckdb",
) -> str:
    """DuckDB twin of :func:`kmv_distinct` (single group column)."""
    # (k-1) * 2^52 precomputed: exact in a double (the mantissa is
    # just k-1's bits), so one literal == Spark's runtime product.
    # Rendered as an INTEGER literal — Spark parses scientific-
    # notation literals through DECIMAL, which silently rounds the
    # 19-digit value to 16 significant digits (measured: a 2e-11
    # relative estimator skew); an integer parses exactly everywhere.
    numer = f"CAST({int(float(k - 1) * KMV_SPACE)} AS DOUBLE)"
    return f"""SELECT {group_col},
       CASE WHEN COUNT(*) < {k} THEN CAST(COUNT(*) AS DOUBLE)
            ELSE {numer} / (MAX(__h) + 1)
       END AS {out}
FROM (
  SELECT {group_col}, __h,
         ROW_NUMBER() OVER (PARTITION BY {group_col} ORDER BY __h) AS __rn
  FROM (SELECT {group_col}, {kmv_hash_sql(key_col, dialect=dialect)} AS __h
        FROM (SELECT DISTINCT {group_col}, {key_col} FROM {table}
              WHERE {key_col} IS NOT NULL))
) WHERE __rn <= {k}
GROUP BY {group_col}"""


def hist_percentiles_sql(
    *,
    table: str,
    group_col: str,
    val_col: str,
    lo: float,
    hi: float,
    nbins: int,
    ps: Mapping[str, float],
) -> str:
    """DuckDB twin of :func:`hist_percentiles` (single group col)."""
    width = (hi - lo) / nbins
    slot = (
        f"CASE WHEN v IS NULL THEN NULL "
        f"WHEN v < {_dlit(lo)} THEN 0 "
        f"WHEN v >= {_dlit(hi)} THEN {nbins + 1} "
        f"ELSE CAST(FLOOR((v - {_dlit(lo)}) / {_dlit(hi - lo)} "
        f"* {nbins}) AS INT) + 1 END"
    )
    sels = ", ".join(
        f"""CASE WHEN __p{i} = 0 THEN {_dlit(lo)}
             WHEN __p{i} = {nbins + 1} THEN {_dlit(hi)}
             ELSE CAST(__p{i} AS DOUBLE) * {_dlit(width)} + {_dlit(lo)}
        END AS {name}"""
        for i, name in enumerate(ps)
    )
    mins = ", ".join(
        f"MIN(CASE WHEN __cum >= CEIL(__n * {_dlit(p)}) THEN __slot END) "
        f"AS __p{i}"
        for i, p in enumerate(ps.values())
    )
    return f"""SELECT {group_col}, {sels} FROM (
  SELECT {group_col}, {mins} FROM (
    SELECT {group_col}, __slot,
           SUM(c) OVER (PARTITION BY {group_col} ORDER BY __slot) AS __cum,
           SUM(c) OVER (PARTITION BY {group_col}) AS __n
    FROM (SELECT {group_col}, __slot, COUNT(*) AS c
          FROM (SELECT {group_col}, {slot} AS __slot
                FROM (SELECT {group_col}, CAST({val_col} AS DOUBLE) AS v
                      FROM {table}))
          WHERE __slot IS NOT NULL
          GROUP BY 1, 2)
  ) GROUP BY {group_col})"""
