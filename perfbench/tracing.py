"""In-memory spans, plus process-tree memory and CPU readers.

A span records name, start, end, parent span and operation id. Spans
stay in memory and are written out once, when the run ends. With
tracing off every call is a no-op, so the untraced run measures the
program alone.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op = 0
        # perf_counter() + epoch_offset = wall-clock epoch seconds
        self.epoch_offset = time.time() - time.perf_counter()
        self._root: int | None = None
        self._ids = 0
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        """Time a block. Blocks entered from another thread (the
        streaming ``foreachBatch`` callback) parent to the current
        operation's root span."""
        if not self.enabled:
            yield
            return
        stack = self._stack()
        with self._lock:
            self._ids += 1
            sid = self._ids
        parent = stack[-1] if stack else self._root
        start = time.perf_counter()
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            end = time.perf_counter()
            with self._lock:
                self.spans.append({"id": sid, "parent": parent, "op": self.op,
                                   "name": name, "start": start, "end": end})

    @contextmanager
    def operation(self, name: str):
        """Root span of one closed-loop operation; nested spans share
        its operation id."""
        self.op += 1
        if not self.enabled:
            yield
            return
        with self.span(name):
            self._root = self._stack()[-1]
            try:
                yield
            finally:
                self._root = None

    def wrap(self, fn, name: str):
        """``fn`` with a span around every call (identity when off)."""
        if not self.enabled:
            return fn

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def span_seconds(self, name: str, op_ids: set[int]) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["op"] in op_ids)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f)


def _tree_stats() -> dict[int, tuple[int, int]]:
    """``pid -> (resident bytes, CPU clock ticks)`` for this process and
    every process under it (the Spark JVM and its Python workers), from
    ``/proc``. The ticks include children already reaped, so a Python
    worker that exited still counts through its parent."""
    page = os.sysconf("SC_PAGE_SIZE")
    children: dict[int, list[int]] = {}
    stats: dict[int, tuple[int, int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process exited while we listed
            continue
        # fields after the parenthesised command name
        fields = stat[stat.rfind(")") + 2:].split()
        pid = int(entry)
        children.setdefault(int(fields[1]), []).append(pid)
        # utime, stime, cutime, cstime
        stats[pid] = (int(fields[21]) * page, sum(int(x) for x in fields[11:15]))
    tree, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        tree[pid] = stats.get(pid, (0, 0))
        todo.extend(children.get(pid, ()))
    return tree


def process_tree() -> dict[int, int]:
    """Resident bytes of this process and of every process under it, by pid."""
    return {pid: rss for pid, (rss, _cpu) in _tree_stats().items()}


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")
#: names the JVM gives its JIT compiler threads (cut to 15 characters)
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _ticks(stat_path: str) -> int:
    with open(stat_path) as f:
        stat = f.read()
    fields = stat[stat.rfind(")") + 2:].split()
    return int(fields[11]) + int(fields[12])


class _JitTicks:
    """CPU ticks of every JIT compiler thread the process tree has had.
    The JVM starts and ends compiler threads as its compile queue grows
    and drains, and an ended thread's CPU folds into its process's
    total. So each thread's last reading is kept after it ends. Read
    every 0.2 s (``TreeRss``), that loses at most 0.2 s of CPU per
    ended thread."""

    def __init__(self):
        self._is_jit: dict[tuple[int, str], bool] = {}
        self._last: dict[tuple[int, str], int] = {}
        self._lock = threading.Lock()

    def read(self, pids) -> int:
        with self._lock:
            for pid in pids:
                try:
                    tids = os.listdir(f"/proc/{pid}/task")
                except OSError:  # the process exited
                    continue
                for tid in tids:
                    key = (pid, tid)
                    try:
                        if key not in self._is_jit:
                            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                                self._is_jit[key] = f.read().startswith(_JIT_THREADS)
                        if self._is_jit[key]:
                            self._last[key] = _ticks(f"/proc/{pid}/task/{tid}/stat")
                    except OSError:  # the thread ended
                        continue
            return sum(self._last.values())

    def threads_seen(self) -> int:
        return len(self._last)


_JIT = _JitTicks()
#: CPU seconds the ``TreeRss`` sampler thread has used; it grows with
#: wall time, not with the program's work, so it is left out too
_sampler_s = 0.0


def tree_cpu_s() -> float:
    """CPU seconds (user plus system) used so far by this process and
    every process under it, less the JVM's JIT compilation (see
    ``jit_cpu_s``) and the benchmark's own sampler thread. Unlike wall
    time it leaves out time the host gave to other guests (steal)."""
    tree = _tree_stats()
    return (sum(cpu for _rss, cpu in tree.values()) - _JIT.read(tree)) * _TICK_S - _sampler_s


def jit_cpu_s() -> float:
    """CPU seconds the process tree's JIT compiler threads used so far."""
    return _JIT.read(_tree_stats()) * _TICK_S


def jit_threads_seen() -> int:
    return _JIT.threads_seen()


class TreeRss:
    """Peak resident memory of the process tree, sampled in a thread.
    Each sample also reads the JIT compiler threads' CPU."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> TreeRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        global _sampler_s
        while not self._stop.is_set():
            tree = _tree_stats()
            self.peak_bytes = max(self.peak_bytes, sum(rss for rss, _cpu in tree.values()))
            _JIT.read(tree)
            _sampler_s = time.thread_time()
            self._stop.wait(self.interval_s)
