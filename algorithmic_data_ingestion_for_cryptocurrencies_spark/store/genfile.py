"""Shared generation-file commit protocol (r11: extracted from
:mod:`.rollup` and :mod:`..operators.similarity`, which had grown two
copies of the same machinery — the r10 verdict's acknowledged debt).

The protocol: a store's committed state is named by a tiny JSON
*generation file* ``{prefix}.g{N}.json`` in the store root. Commit is
an atomic rename of a hidden tmp file onto a FRESH generation-suffixed
name (never onto an existing name), superseded generations are swept
only AFTER the new one exists, and readers resolve the highest
*parseable* generation — so:

- a crash before the rename leaves the previous generation fully
  committed (the new state's data files are invisible);
- a crash after the rename leaves the new generation committed;
- a crash mid-sweep leaves stale lower-generation files that readers
  resolve away by taking the max;
- a torn/corrupt NEWEST file falls back to the previous parseable
  generation, never to a missing directory;
- present-but-unparseable files with NO parseable sibling raise
  instead of silently resetting the store to generation 0 (whose data
  a past compaction may have swept);
- transient IO/checksum errors propagate (only *parse* failures mean
  "torn write") — swallowing them could resolve to generation 0 after
  older files were swept;
- ``FileSystem.rename`` reporting failure by returning ``False`` is
  checked on the commit rename (r10 review: an unchecked false
  followed by the sweep would delete the last good pointer).

Rename atomicity is filesystem-level: local FS/HDFS yes; bare object
stores need their conditional-put primitive. No directory is ever
renamed, so the layout itself is object-store safe.

Used by :class:`.rollup.RollupStore` (``_rollup_manifest.g{N}.json``)
and the persisted IVF index
(``_ivf_lists.g{N}.json`` in :mod:`..operators.similarity`).
"""

from __future__ import annotations

import json
import re

__all__ = [
    "hadoop_fs",
    "read_small_file",
    "list_generation_files",
    "read_committed",
    "commit_generation",
]


def hadoop_fs(spark, path: str):
    """(Hadoop FileSystem for ``path``, the hadoop Path class)."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path
    return hpath(path).getFileSystem(conf), hpath


def read_small_file(fs, p) -> bytes:
    """Whole small file in ONE JVM call (r11 advisor fix: the previous
    per-byte ``stream.read()`` loop paid one py4j round trip per byte).
    ``FSDataInputStream`` inherits Java 9+ ``InputStream.readAllBytes``."""
    stream = fs.open(p)
    try:
        return bytes(stream.readAllBytes())
    finally:
        stream.close()


def list_generation_files(
    spark, base: str, prefix: str
) -> list[tuple[int, object]]:
    """``(generation, hadoop Path)`` for every generation file present,
    unsorted."""
    fs, hpath = hadoop_fs(spark, base)
    root = hpath(base)
    out: list[tuple[int, object]] = []
    if not fs.exists(root):
        return out
    pat = re.compile(re.escape(prefix) + r"\.g(\d+)\.json$")
    for st in fs.listStatus(root):
        m = pat.match(st.getPath().getName())
        if st.isFile() and m:
            out.append((int(m.group(1)), st.getPath()))
    return out


def read_committed(
    spark,
    base: str,
    prefix: str,
    *,
    default: dict,
    store_desc: str = "store",
) -> dict:
    """The committed metadata dict: highest-generation parseable file;
    ``default`` (copied) when no generation file exists at all."""
    base = base.rstrip("/")
    fs, _hpath = hadoop_fs(spark, base)
    files = list_generation_files(spark, base, prefix)
    if not files:
        return dict(default)
    best: dict | None = None
    for _gen, p in sorted(files, key=lambda t: t[0]):
        try:
            best = json.loads(read_small_file(fs, p).decode("utf-8"))
        except (json.JSONDecodeError, UnicodeDecodeError, ValueError):
            continue  # torn write: the previous generation stays live
        # anything else (Py4JJavaError: checksum, transient IO)
        # propagates — see module docstring
    if best is None:
        raise IOError(
            f"{store_desc} {base!r}: {len(files)} generation file(s) "
            "exist but none parses — refusing to reset to generation 0"
        )
    return best


def commit_generation(
    spark,
    base: str,
    prefix: str,
    meta: dict,
    *,
    store_desc: str = "store",
) -> None:
    """Commit ``meta`` (must carry ``meta['generation']``) as the new
    generation file, then sweep superseded generations (best-effort,
    strictly post-commit)."""
    base = base.rstrip("/")
    fs, hpath = hadoop_fs(spark, base)
    gen = meta["generation"]
    name = f"{prefix}.g{gen}.json"
    tmp = hpath(base + "/." + name + ".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(meta).encode("utf-8")))
    finally:
        out.close()
    if not fs.rename(tmp, hpath(base + "/" + name)):
        raise IOError(
            f"{store_desc} {base!r}: generation commit failed — rename "
            f"to {name!r} returned false (the previous generation is "
            "still committed)"
        )
    for g, p in list_generation_files(spark, base, prefix):
        if g < gen:
            fs.delete(p, False)
