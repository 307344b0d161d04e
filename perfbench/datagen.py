"""Seeded input generators for the benchmark workloads.

Every table mirrors the schema and value ranges of the engine's test
tables (see FIXTURES.md / TESTDATA.md), so the registry queries and
their DuckDB twins run unchanged on the generated directory. The same
seed always yields the same bytes.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.42, 0.15, 0.14, 0.15, 0.14]


@dataclass(frozen=True)
class CorpusSize:
    documents: int = 1_500
    embeddings: int = 600
    dim: int = 64
    near_dup_share: float = 0.05


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path)
    return os.path.getsize(path)


def write_corpus_tables(out_dir: str, seed: int, size: CorpusSize) -> dict[str, int]:
    """``documents`` (bag-of-words texts with planted near-duplicates,
    for the dedup and quality queries) and ``embeddings`` (unit
    vectors, for the near-pair query). Returns rows per table."""
    rng = np.random.default_rng([seed, 2])
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(size.documents):
        if i > 20 and rng.random() < size.near_dup_share:
            # near duplicate: an earlier document with one word swapped
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = str(rng.choice(words))
            texts.append(" ".join(toks) + " dup")
        else:
            texts.append(" ".join(rng.choice(words, int(rng.integers(10, 101)))))
    documents = pa.table({
        "doc_id": np.arange(size.documents, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, size.documents, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(size.documents)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    _write(documents, os.path.join(out_dir, "documents.parquet"))

    vec = rng.normal(0.0, 1.0, (size.embeddings, size.dim)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": np.arange(size.embeddings, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, size.embeddings).astype(np.int32),
    })
    _write(embeddings, os.path.join(out_dir, "embeddings.parquet"))
    return {"documents": size.documents, "embeddings": size.embeddings}


# -- OHLCV bar files for the ingest workload --------------------------------

BAR_SCHEMA = pa.schema([
    ("timestamp", pa.timestamp("us", tz="UTC")),
    ("symbol", pa.string()),
    ("exchange", pa.string()),
    ("timeframe", pa.string()),
    ("open", pa.float64()),
    ("high", pa.float64()),
    ("low", pa.float64()),
    ("close", pa.float64()),
    ("volume", pa.float64()),
    ("dt", pa.string()),
])

BAR_EPOCH0 = 1_700_000_000  # first bar, epoch seconds (a minute boundary)


def symbol_name(i: int) -> str:
    return f"C{i:02d}/USDT"


class BarFeed:
    """Arriving 1m OHLCV files: file ``k`` holds minutes
    ``[k * bars_per_file, (k + 1) * bars_per_file)`` for every symbol.
    Keeps the generated ``(symbol, epoch) -> (high, low, close)`` so
    reads can be checked against what was ingested."""

    def __init__(self, src_dir: str, seed: int, symbols: int, bars_per_file: int):
        self.src_dir = src_dir
        self.symbols = symbols
        self.bars_per_file = bars_per_file
        self.files = 0
        self.bytes = 0
        self.bars: dict[tuple[str, int], tuple[float, float, float]] = {}
        self._rng = np.random.default_rng([seed, 3])
        self._last = np.full(symbols, 100.0)

    def epochs(self, k: int) -> np.ndarray:
        start = BAR_EPOCH0 + k * self.bars_per_file * 60
        return start + 60 * np.arange(self.bars_per_file, dtype=np.int64)

    def write_next(self) -> int:
        """Write the next file; returns the number of bars in it."""
        k, n, s = self.files, self.bars_per_file, self.symbols
        ep = self.epochs(k)
        steps = self._rng.normal(0.0, 0.4, (s, n))
        prev = self._last
        close = np.round(prev[:, None] + np.cumsum(steps, axis=1), 4)
        self._last = close[:, -1]
        spread = np.round(self._rng.uniform(0.01, 0.6, (s, n)), 4)
        high, low = close + spread, close - spread
        open_ = np.column_stack([prev, close[:, :-1]])
        cols = {
            "timestamp": np.tile(ep * 1_000_000, s),
            "symbol": np.repeat([symbol_name(i) for i in range(s)], n),
            "close": close.ravel(), "high": high.ravel(), "low": low.ravel(),
        }
        for sym, e, h, lo, c in zip(
            cols["symbol"], cols["timestamp"] // 1_000_000, cols["high"],
            cols["low"], cols["close"],
        ):
            self.bars[(str(sym), int(e))] = (float(h), float(lo), float(c))
        days = [dt.datetime.fromtimestamp(int(e), dt.timezone.utc).strftime("%Y-%m-%d")
                for e in ep]
        table = pa.table({
            "timestamp": pa.array(cols["timestamp"], pa.timestamp("us", tz="UTC")),
            "symbol": pa.array(cols["symbol"]),
            "exchange": pa.array(["binance"] * (s * n)),
            "timeframe": pa.array(["1m"] * (s * n)),
            "open": open_.ravel(),
            "high": cols["high"], "low": cols["low"], "close": cols["close"],
            "volume": np.round(self._rng.uniform(1.0, 50.0, s * n), 3),
            "dt": pa.array(days * s),
        }, schema=BAR_SCHEMA)
        path = os.path.join(self.src_dir, f"bars_{k:05d}.parquet")
        self.bytes += _write(table, path)
        self.files += 1
        return s * n
