"""Carry driver shared by the five stateful stream operators (rolling
mean, EWM, market features, backtest, SMA strategy).

The reference's ``StatefulTAProcessor`` (``algo-data-ingestion/app/
features/processors/stateful_processor.py:11-41``) has one rule: carry
the series tail, so chunked output equals full-batch output. Each
operator is a :class:`CarryOp` — a chunk step
``(pdf, carry | None) -> (out, carry)``, its state struct and its output
columns — and this module runs every op the same way. Per group and
micro-batch (:func:`group_fn`):

1. decode the engine's per-key state into a carry dict keyed by the
   state struct's field names (``None`` on the key's first batch);
2. order the group's Arrow chunks (:func:`_ordered_chunks`);
3. fold the step over them;
4. attach the key columns and select the output columns;
5. update the state only if something was emitted.

:func:`apply_carry` wires an op onto a streaming frame
(``applyInPandasWithState``, append mode, no timeout; key types come
from the input schema) and :func:`chunked_batch` folds the same step
over a pandas frame in fixed-size row slices — the chunked == batch
harness behind the tests and the st16/st17 registry queries.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from typing import NamedTuple

import pandas as pd
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


class CarryOp(NamedTuple):
    """A stateful stream operator. ``state`` and ``out`` are
    ``(name, Spark type)`` pairs in struct order; an output type of
    ``None`` copies the input column's type. ``sort_cols`` orders a
    group's rows; ``batch_order`` picks how its chunks are consumed
    (see :func:`_ordered_chunks`)."""

    step: Callable[[pd.DataFrame, dict | None], tuple[pd.DataFrame, dict]]
    state: Sequence[tuple[str, str]]
    out: Sequence[tuple[str, str | None]]
    sort_cols: Sequence[str]
    batch_order: str = "buffer"


def _ordered_chunks(pdf_iter, *, batch_order: str, cols):
    """Yield sorted pandas frames for one group's micro-batch.

    ``"buffer"``: concatenate every Arrow chunk first (tolerates
    arbitrary row order within the micro-batch; peak memory
    O(micro-batch)).

    ``"chunk"``: fold chunk-by-chunk — each chunk is sorted internally
    and yielded immediately, so peak per-group memory is O(Arrow chunk)
    even on an unthrottled backfill first-trigger. The price is an
    ordering contract WITHIN the micro-batch: each chunk must start at
    or after the previous chunk's last sort key. A violation raises
    (the query fails visibly) rather than silently producing a wrong
    result — after a grouped shuffle Spark does not order rows within a
    group, so use this mode when the source feeds each group's rows in
    order (single upstream partition per key, pre-sorted files) and
    ``"buffer"`` otherwise.
    """
    cols = list(cols)
    if batch_order == "buffer":
        chunks = [p for p in pdf_iter if len(p)]
        if chunks:
            yield (chunks[0] if len(chunks) == 1
                   else pd.concat(chunks, ignore_index=True))
        return
    if batch_order != "chunk":
        raise ValueError(f"unknown batch_order: {batch_order!r}")
    prev_max = None
    for pdf in pdf_iter:
        if not len(pdf):
            continue
        s = pdf.sort_values(cols, kind="stable").reset_index(drop=True)
        lo = tuple(s[c].iloc[0] for c in cols)
        if prev_max is not None and lo < prev_max:
            raise ValueError(
                "batch_order='chunk': an Arrow chunk starts before the "
                f"previous chunk's last row ({lo!r} < {prev_max!r}) — "
                "this micro-batch is not chunk-ordered; use "
                "batch_order='buffer' or order the source per group"
            )
        prev_max = tuple(s[c].iloc[-1] for c in cols)
        yield s


def group_fn(op: CarryOp, key_cols: Sequence[str]):
    """The per-group function ``applyInPandasWithState`` runs for
    ``op`` (steps 1-5 of the module docstring)."""
    fields = [name for name, _ in op.state]
    key_cols = list(key_cols)
    cols = [name for name, _ in op.out] + key_cols

    def fn(key, pdf_iter, state: GroupState):
        carry = dict(zip(fields, state.get)) if state.exists else None
        emitted = False
        for pdf in _ordered_chunks(
            pdf_iter, batch_order=op.batch_order, cols=op.sort_cols
        ):
            out, carry = op.step(pdf, carry)
            for k, v in zip(key_cols, key):
                out[k] = v
            emitted = True
            yield out[cols]
        if emitted:
            state.update(tuple(carry[f] for f in fields))

    return fn


def apply_carry(stream_df, keys: Sequence[str], op: CarryOp):
    """Wire ``op`` onto a (streaming) DataFrame grouped by ``keys``.
    Output: ``op.out`` then the keys, typed from the input schema."""
    keys = list(keys)

    def ddl(fields):
        return ", ".join(
            f"{name} {t or stream_df.schema[name].dataType.simpleString()}"
            for name, t in fields
        )

    return stream_df.groupBy(*keys).applyInPandasWithState(
        group_fn(op, keys),
        outputStructType=ddl([*op.out, *((k, None) for k in keys)]),
        stateStructType=ddl(op.state),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def chunked_batch(op: CarryOp, pdf: pd.DataFrame, chunk_size: int) -> pd.DataFrame:
    """Fold ``op.step`` over ``pdf`` in ``chunk_size``-row slices,
    carrying state between them (chunked == full-batch harness).
    Slices are taken in ``pdf``'s GIVEN row order — pass a frame
    sorted on ``op.sort_cols``; each step sorts only its own slice."""
    carry = None
    outs = []
    for lo in range(0, len(pdf), chunk_size):
        out, carry = op.step(pdf.iloc[lo:lo + chunk_size], carry)
        outs.append(out)
    return pd.concat(outs, ignore_index=True)
