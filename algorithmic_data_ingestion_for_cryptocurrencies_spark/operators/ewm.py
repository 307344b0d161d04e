"""Exponentially-weighted mean (EWM/EMA) — the one reference operator
with no native Spark window expression (SURVEY §7.3 "hard parts").

Reference semantics: pandas ``ewm(span=n, adjust=False).mean()``
(``algo-data-ingestion/app/features/factory/market_factory.py:51-52``,
``app/features/processors/ta_indicators.py:127-131``) and
``ewm(alpha=1/n, adjust=False)`` for Wilder RSI
(``ta_indicators.py:73-74``).

Implementation note — why blocks. The naive closed form

    y_t = r^t * ( x_0 + a * Σ_{j=1..t} x_j * r^(-j) ),  r = 1 - a

overflows double once ``r^(-t)`` exceeds ~1e308 (t ≈ 4.2k rows at
span=12 — a real defect found in round 1). :func:`with_ewm` therefore
**renormalizes per block**: each series is split into blocks of ``K``
rows with ``r^K ≈ 1e-9``, the closed form runs with a bounded exponent
(≤ ``r^-K``) inside each block, and the carry from earlier blocks is a
3-term geometric chain over per-block boundary values::

    y_t = L_b(t) + r^(p+1) * (Lend_{b-1} + ρ·Lend_{b-2} + ρ²·Lend_{b-3})

with ``ρ = r^K``, ``p`` = in-block position. Truncating the chain after
3 terms drops weight ≤ ρ³ ≈ 1e-27 — far below double precision — so the
result matches the exact recursion to machine precision at ANY length.

All powers ``r^±p`` are looked up from Python-precomputed constant
tables (split hi/lo by 16) rather than runtime ``pow``: JVM ``Math.pow``
and C++ ``std::pow`` are not both correctly-rounded, and the DuckDB
oracle (:func:`ewm_sql`) must reproduce bit-identical doubles. Both
engines evaluate the same multiply/divide/sum graph on the same
embedded constants.

NaN semantics = pandas ``ignore_na=True`` positioning: positions are
counted over non-null values, and null rows re-emit the previous EWM
value. Identical to pandas defaults when nulls only lead the series —
the only case the reference produces.

:func:`with_ewm_exact` remains as the ``applyInPandas`` per-series
fallback (bit-identical to pandas for any alpha, at Arrow cost).
"""

from __future__ import annotations

import math
from collections.abc import Collection, Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

_CHUNK = 16
_CHAIN = 3  # carry terms; truncation error ~ rho^3 <= 1e-27


def _alpha(span: int | None, alpha: float | None, com: float | None) -> float:
    if sum(x is not None for x in (span, alpha, com)) != 1:
        raise ValueError("give exactly one of span / alpha / com")
    if span is not None:
        return 2.0 / (span + 1.0)
    if com is not None:
        return 1.0 / (1.0 + com)
    return float(alpha)


def _block_size(r: float) -> int:
    """K such that r^K ≈ 1e-9: bounded exponents in-block, negligible
    3-term-chain truncation (ρ³ ≈ 1e-27) across blocks."""
    if r <= 0.0:  # alpha == 1: EWM is identity
        return 1
    k = max(1, math.ceil(9.5 / max(-math.log10(r), 1e-12)))
    if k > 8192:
        raise ValueError(
            f"alpha too small (r={r}): block size {k} impractical; "
            "use with_ewm_exact for near-unity r"
        )
    return k


def block_size_for(
    span: int | None = None, alpha: float | None = None, com: float | None = None
) -> int:
    """Public block-size helper so oracle SQL renderings can mirror the
    shared ``k`` chosen by :func:`with_ewm_multi`."""
    return _block_size(1.0 - _alpha(span, alpha, com))


def _pow_tables(r: float, k: int) -> tuple[list[float], list[float], float]:
    """(hi, lo, rho): r^-p == hi[p // 16] * lo[p % 16] (one rounding),
    rho = r^K. Python-computed constants embedded in both engines."""
    if r <= 0.0:
        return [1.0], [1.0] * _CHUNK, 0.0
    rinv = 1.0 / r
    lo = [rinv**j for j in range(_CHUNK)]
    base = rinv**_CHUNK
    n_hi = (k - 1) // _CHUNK + 1
    hi = [base**i for i in range(n_hi)]
    return hi, lo, r**k


def with_ewm(
    df: DataFrame,
    col: str,
    out: str,
    *,
    keys: Sequence[str],
    order: str | Sequence[str],
    span: int | None = None,
    alpha: float | None = None,
    com: float | None = None,
) -> DataFrame:
    """Append EWM-mean column ``out`` (adjust=False), JVM-native,
    numerically stable at any series length (block renormalization).
    Use :func:`with_ewm_multi` to share one block size across EWMs."""
    return with_ewm_multi(
        df,
        [{"col": col, "out": out, "span": span, "alpha": alpha, "com": com}],
        keys=keys,
        order=order,
    )


def _ewm_layers(
    specs: Sequence[dict],
    *,
    keys: Sequence[str],
    order: str | Sequence[str],
    k: int | None,
    staged: Collection[str] = (),
) -> tuple[list[dict[str, str]], list[str], list[str]]:
    """The block-renormalized EWM graph as Spark-SQL text: returns
    ``(layers, stage_cols, tmp_cols)``. ``layers`` is the ordered list
    ``idx, block/pos, u, L, Le, out`` of ``{column: expression}``
    dicts — each layer reads only columns of earlier layers (or of the
    input), so a consumer attaches them in order. Position columns
    already in ``staged`` (left by a ``keep_stage`` pass) are reused,
    not re-rendered; the idx and block/pos layers are then empty.
    ``stage_cols`` are the ``__mew_*`` position columns, ``tmp_cols``
    every helper column the layers name (``out`` excluded)."""
    parsed = []
    for s in specs:
        a = _alpha(s.get("span"), s.get("alpha"), s.get("com"))
        parsed.append((s["col"], s["out"], a, 1.0 - a, s.get("pos_col", s["col"])))
    k = k or max(_block_size(r) for _c, _o, _a, r, _p in parsed)
    for _c, _o, _a, r, _p in parsed:
        if r > 0.0 and k * -math.log10(r) > 300:
            raise ValueError(
                f"shared block size {k} overflows r^-k for r={r}; "
                "fuse only EWMs with comparable decay rates"
            )

    keys = list(keys)
    order_cols = [order] if isinstance(order, str) else list(order)
    ordr = ", ".join(f"`{c}`" for c in order_cols)
    part_keys = ", ".join(f"`{c}`" for c in keys)
    over_cum = (
        f"OVER ({'PARTITION BY ' + part_keys + ' ' if keys else ''}ORDER BY {ordr} "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )

    # stage shared per-position-column block columns once (reusing any
    # left by a previous keep_stage pass — same k is the caller's
    # responsibility and is what makes the window specs line up)
    cols = list(dict.fromkeys(p for _c, _o, _a, _r, p in parsed))
    stage: dict[str, tuple[str, str, str]] = {}
    tmp: list[str] = []
    idx_layer: dict[str, str] = {}
    bp_layer: dict[str, str] = {}
    for c in cols:
        x_idx, x_b, x_p = f"__mew_{c}_idx", f"__mew_{c}_b", f"__mew_{c}_p"
        if x_idx not in staged:
            idx_layer[x_idx] = f"COUNT(`{c}`) {over_cum} - 1"
            bp_layer[x_b] = (
                f"CASE WHEN `{x_idx}` >= 0 THEN FLOOR(`{x_idx}` / {k}) ELSE 0 END"
            )
            bp_layer[x_p] = (
                f"CASE WHEN `{x_idx}` >= 0 THEN `{x_idx}` % {k} ELSE 0 END"
            )
        stage[c] = (x_idx, x_b, x_p)
        tmp += [x_idx, x_b, x_p]
    stage_cols = list(tmp)

    u_layer: dict[str, str] = {}
    L_layer: dict[str, str] = {}
    Le_layer: dict[str, str] = {}
    out_layer: dict[str, str] = {}
    for c, out, a, r, pos in parsed:
        hi, lo, rho = _pow_tables(r, k)
        x_idx, x_b, x_p = stage[pos]
        x_u, x_L, x_Le = f"__{out}_u", f"__{out}_L", f"__{out}_Le"

        hi_arr, lo_arr = _sql_array(hi), _sql_array(lo)
        rinvp = (
            f"(element_at({hi_arr}, CAST((FLOOR(`{x_p}` / {_CHUNK}) + 1) AS INT)) * "
            f"element_at({lo_arr}, CAST((`{x_p}` % {_CHUNK} + 1) AS INT)))"
        )
        rp = f"({_d(1.0)} / {rinvp})"

        u_layer[x_u] = (
            f"CASE WHEN `{c}` IS NULL THEN NULL "
            f"WHEN `{x_idx}` = 0 THEN CAST(`{c}` AS DOUBLE) "
            f"ELSE {_d(a)} * CAST(`{c}` AS DOUBLE) * {rinvp} END"
        )
        over_blk = (
            f"OVER (PARTITION BY {part_keys + ', ' if keys else ''}`{x_b}` "
            f"ORDER BY {ordr} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        )
        L_layer[x_L] = f"{rp} * SUM(`{x_u}`) {over_blk}"

        # per-block boundary value, then a 3-lag geometric carry chain
        Le_layer[x_Le] = (
            f"MAX_BY(`{x_L}`, `{x_p}`) "
            f"OVER (PARTITION BY {part_keys + ', ' if keys else ''}`{x_b}`)"
        )
        over_b = (
            f"OVER ({'PARTITION BY ' + part_keys + ' ' if keys else ''}"
            f"ORDER BY `{x_b}`"
        )
        lags = [
            f"COALESCE(MAX(`{x_Le}`) {over_b} "
            f"RANGE BETWEEN {i} PRECEDING AND {i} PRECEDING), {_d(0.0)})"
            for i in range(1, _CHAIN + 1)
        ]
        carry = f"{lags[0]} + {_d(rho)} * {lags[1]} + {_d(rho * rho)} * {lags[2]}"
        out_layer[out] = (
            f"CASE WHEN `{x_idx}` >= 0 "
            f"THEN `{x_L}` + {rp} * {_d(r)} * ({carry}) END"
        )
        tmp += [x_u, x_L, x_Le]

    layers = [idx_layer, bp_layer, u_layer, L_layer, Le_layer, out_layer]
    return layers, stage_cols, tmp


def with_ewm_multi(
    df: DataFrame,
    specs: Sequence[dict],
    *,
    keys: Sequence[str],
    order: str | Sequence[str],
    k: int | None = None,
    keep_stage: bool = False,
) -> DataFrame:
    """Compute several EWMs in one fused pass: all specs share the
    block size ``k`` (default: max of the per-spec sizes) so their
    windows have IDENTICAL partition specs — Catalyst then evaluates
    every per-block sum/boundary/chain in a shared WindowExec instead
    of re-sorting per EWM (a MACD goes from 8 window stages to 4).

    Each spec: ``{col, out, span|alpha|com}`` plus optional
    ``pos_col`` — derive positions from that column's null pattern
    instead of the spec's own (valid whenever the two patterns are
    provably identical, e.g. a MACD line vs its source close: it lets
    a dependent second pass reuse the staged block columns and hence
    the same window partitioning). ``keep_stage=True`` leaves the
    staged position columns in place for such a follow-up pass (the
    follow-up, run without ``keep_stage``, drops them).
    """
    # The whole stage is rendered as Spark-SQL text and attached with a
    # handful of batched ``withColumns(F.expr(...))`` calls: building
    # the same graph node-by-node through the Column API costs ~2000
    # py4j round trips (~1 s of driver latency per MACD, measured
    # round 3), while the parsed SQL produces the IDENTICAL Catalyst
    # expression tree — same multiply/divide/sum graph on the same
    # embedded constants, so oracle bit parity is untouched.
    layers, stage_cols, tmp = _ewm_layers(
        specs, keys=keys, order=order, k=k, staged=df.columns
    )
    for layer in layers:
        if layer:  # idx and block/pos are empty when every stage is reused
            df = df.withColumns({n: F.expr(s) for n, s in layer.items()})
    if keep_stage:
        tmp = [c for c in tmp if c not in stage_cols]
    return df.drop(*tmp)


def with_ewm_exact(
    df: DataFrame,
    col: str,
    out: str,
    *,
    keys: Sequence[str],
    order: str | Sequence[str],
    span: int | None = None,
    alpha: float | None = None,
    com: float | None = None,
) -> DataFrame:
    """Append EWM-mean column ``out`` via pandas recursion per series
    key group (``applyInPandas``) — bit-identical to pandas."""
    from pyspark.sql import types as T

    a = _alpha(span, alpha, com)
    order_cols = [order] if isinstance(order, str) else list(order)
    # fresh StructType: StructType.add mutates the receiver in place,
    # which would corrupt the input DataFrame's cached schema
    out_schema = T.StructType(list(df.schema.fields) + [T.StructField(out, T.DoubleType())])

    def compute(pdf):
        pdf = pdf.sort_values(order_cols)
        pdf[out] = pdf[col].ewm(alpha=a, adjust=False).mean()
        return pdf

    return df.groupBy(*keys).applyInPandas(compute, schema=out_schema)


def _d(v: float) -> str:
    """A float constant guaranteed to parse as a bit-exact DOUBLE in
    DuckDB: plain decimal-point literals parse as DECIMAL (which both
    overflows in products and rounds differently when an array literal
    unifies element types); scientific notation with 17 significant
    digits parses directly as DOUBLE and round-trips exactly."""
    return format(v, ".17e")


def _sql_list(vals: list[float]) -> str:
    return "[" + ", ".join(_d(v) for v in vals) + "]"


def _sql_array(vals: list[float]) -> str:
    """Spark-SQL array literal of bit-exact doubles (``_sql_list`` is
    the DuckDB-dialect twin)."""
    return "array(" + ", ".join(_d(v) for v in vals) + ")"


def ewm_sql(
    inner: str,
    value_expr: str,
    out: str,
    *,
    keys: Sequence[str],
    order: Sequence[str],
    keep: Sequence[str],
    span: int | None = None,
    alpha: float | None = None,
    com: float | None = None,
    k: int | None = None,
) -> str:
    """DuckDB rendering of the SAME block-renormalized formula as
    :func:`with_ewm` (same embedded power tables, same multiply/sum
    graph → bit-identical doubles).

    ``inner`` is a SQL relation (subquery or table name), ``keep`` the
    columns to project alongside ``out``. ``k`` must match the Spark
    side's block size when :func:`with_ewm_multi` shares one.
    """
    a = _alpha(span, alpha, com)
    r = 1.0 - a
    k = k or _block_size(r)
    hi, lo, rho = _pow_tables(r, k)

    part = ", ".join(keys) if keys else "1"
    ordr = ", ".join(order)
    keep_cols = ", ".join(keep)
    hi_sql, lo_sql = _sql_list(hi), _sql_list(lo)

    return f"""
SELECT {keep_cols},
       CASE WHEN __idx >= 0
            THEN __L + (1.0 / __rinvp) * {_d(r)} * (
                 COALESCE(MAX(__Le) OVER (PARTITION BY {part} ORDER BY __b
                          RANGE BETWEEN 1 PRECEDING AND 1 PRECEDING), 0.0)
               + {_d(rho)} * COALESCE(MAX(__Le) OVER (PARTITION BY {part} ORDER BY __b
                          RANGE BETWEEN 2 PRECEDING AND 2 PRECEDING), 0.0)
               + {_d(rho * rho)} * COALESCE(MAX(__Le) OVER (PARTITION BY {part} ORDER BY __b
                          RANGE BETWEEN 3 PRECEDING AND 3 PRECEDING), 0.0))
            ELSE NULL END AS {out}
FROM (
  SELECT *, MAX_BY(__L, __p) OVER (PARTITION BY {part}, __b) AS __Le
  FROM (
    -- the prefix sum MUST be a sequential left-to-right fold: DuckDB's
    -- cumulative windowed SUM uses blocked accumulation whose rounding
    -- differs from Spark's running-window accumulator by ~1 ulp, which
    -- flips values at rounding boundaries. list_reduce fixes the order.
    SELECT *, (1.0 / __rinvp) *
              CASE WHEN LEN(__luf) > 0
                   THEN LIST_REDUCE(__luf, (acc, v) -> acc + v) END AS __L
    FROM (
      SELECT *, LIST_FILTER(__lu, v -> v IS NOT NULL) AS __luf
      FROM (
        SELECT *, LIST(__u) OVER (PARTITION BY {part}, __b ORDER BY {ordr}
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS __lu
        FROM (
      SELECT *,
             CASE WHEN __x IS NULL THEN NULL
                  WHEN __idx = 0 THEN __x
                  ELSE {_d(a)} * __x * __rinvp END AS __u
      FROM (
        SELECT *,
               {hi_sql}[(__p // {_CHUNK}) + 1] * {lo_sql}[(__p % {_CHUNK}) + 1] AS __rinvp
        FROM (
          SELECT *,
                 CASE WHEN __idx >= 0 THEN __idx // {k} ELSE 0 END AS __b,
                 CASE WHEN __idx >= 0 THEN __idx % {k} ELSE 0 END AS __p
          FROM (
            SELECT *,
                   CAST({value_expr} AS DOUBLE) AS __x,
                   COUNT({value_expr}) OVER (PARTITION BY {part} ORDER BY {ordr}
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS __idx
            FROM ({inner})
          )
        )
      )
    )
      )
    )
  )
)
"""


def ewm_spark_sql(
    inner: str,
    col: str,
    out: str,
    *,
    keys: Sequence[str],
    order: Sequence[str],
    keep: Sequence[str],
    span: int | None = None,
    alpha: float | None = None,
    com: float | None = None,
    k: int | None = None,
) -> str:
    """Spark-dialect text twin of :func:`ewm_sql` (SURVEY §7.1 SQL
    surface): the layers :func:`with_ewm_multi` attaches through
    ``withColumns`` (one :func:`_ewm_layers` build), nested as
    ``SELECT *, … FROM (…)`` over ``inner`` and projected to ``keep``
    plus ``out`` — so ``spark.sql(ewm_spark_sql(...))`` evaluates the
    same expression graph and, at the same ``k``, is bit-identical to
    the DataFrame API path. The DuckDB rendering needs LIST_REDUCE for
    a sequential fold; Spark's running-window SUM already folds
    left-to-right, so the blocked prefix sum is a plain window here."""
    layers, _stage, _tmp = _ewm_layers(
        [{"col": col, "out": out, "span": span, "alpha": alpha, "com": com}],
        keys=keys, order=order, k=k,
    )
    sql = inner
    for layer in layers[:-1]:
        sel = ", ".join(f"{e} AS `{n}`" for n, e in layer.items())
        sql = f"SELECT *, {sel} FROM ({sql})"
    keep_cols = ", ".join(f"`{c}`" for c in keep)
    return f"SELECT {keep_cols}, {layers[-1][out]} AS `{out}` FROM ({sql})"
