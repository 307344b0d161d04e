"""Read Spark's own status stores from outside the engine.

Everything here works with the UI disabled: the application status
store (jobs, stages), the SQL status store (per-operator SQL metrics)
and a ``QueryExecution``'s phase tracker. Each reader takes a
watermark (the last id it saw) so one closed-loop operation's jobs,
stages and SQL executions can be told apart from the previous one's.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

# SQL metric name -> per-layer counter, for the Arrow/pandas worker nodes
PYTHON_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to initialize Python workers": "python.init_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}
SCAN_METRICS = {
    "number of files read": "scan.files",
    "number of output rows": "scan.rows",
}

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0, "ns": 1e-9,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Total of a rendered SQL metric: ``"1.8 s"``, ``"23.5 KiB"``,
    ``"1,024"``, or the multi-task form ``"total (min, med, max ...)\\n
    12.0 s (...)"``. Times come back in seconds, sizes in bytes."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


@dataclass
class StageTotals:
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    peak_mem_bytes: int = 0


class SparkFeeds:
    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc.sc()
        self._gw = spark.sparkContext._gateway
        self._status = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.stage_mark = -1
        self.job_mark = -1
        self.exec_mark = -1
        self.mark()

    def drain(self) -> None:
        """Wait until the listener bus has applied every event so the
        stores reflect the finished operation."""
        self._jsc.listenerBus().waitUntilEmpty()

    def mark(self) -> None:
        """Move every watermark past what the stores hold now."""
        self.drain()
        self.stage_mark = max([self.stage_mark] + [s.stageId() for s in self._new_stages()])
        self.job_mark = max([self.job_mark] + [j for j, _t in self.new_jobs()])
        self.exec_mark = max([self.exec_mark] + self._new_executions())

    # -- application status store ------------------------------------------

    def _new_stages(self):
        empty = self._gw.new_array(self._gw.jvm.double, 0)
        seq = self._status.stageList(None, False, False, empty, None)
        out = []
        # newest first: stop at the first stage already seen
        for i in range(seq.size()):
            s = seq.apply(i)
            if s.stageId() <= self.stage_mark:
                break
            out.append(s)
        return out

    def new_jobs(self) -> list[tuple[int, float]]:
        """``(job id, submission epoch ms)`` of jobs after the mark."""
        seq = self._status.jobsList(None)
        out = []
        for i in range(seq.size()):
            j = seq.apply(i)
            if j.jobId() <= self.job_mark:
                break
            sub = j.submissionTime()
            out.append((j.jobId(), float(sub.get().getTime()) if sub.isDefined() else 0.0))
        return out

    def stage_totals(self) -> StageTotals:
        t = StageTotals()
        for s in self._new_stages():
            done = s.numCompleteTasks()
            if done == 0:  # skipped (reused shuffle output) or empty
                continue
            t.stages += 1
            t.tasks += done
            t.task_s += s.executorRunTime() / 1000.0
            t.gc_s += s.jvmGcTime() / 1000.0
            t.shuffle_write_bytes += s.shuffleWriteBytes()
            t.spill_bytes += s.diskBytesSpilled()
            t.peak_mem_bytes = max(t.peak_mem_bytes, s.peakExecutionMemory())
        return t

    # -- SQL status store ---------------------------------------------------

    def _new_executions(self) -> list[int]:
        n = self._sql.executionsCount()
        seq = self._sql.executionsList(max(0, n - 64), 64)
        ids = [seq.apply(i).executionId() for i in range(seq.size())]
        return [e for e in ids if e > self.exec_mark]

    def sql_totals(self, wanted: dict[str, str]) -> dict[str, float]:
        """Sum the SQL metrics named in ``wanted`` over every operator
        of the executions after the mark."""
        out: dict[str, float] = {}
        for eid in self._new_executions():
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                is_scan = node.name().startswith("Scan parquet")
                metrics = node.metrics()
                for j in range(metrics.size()):
                    m = metrics.apply(j)
                    key = wanted.get(m.name())
                    if key is None or (key.startswith("scan.") and not is_scan):
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        out[key] = out.get(key, 0.0) + parse_metric(v.get())
        return out


def catalyst_phases(jdf) -> dict[str, float]:
    """Phase durations (ms) recorded by the frame's QueryExecution
    tracker: analysis, optimization, planning."""
    phases = jdf.queryExecution().tracker().phases()
    out: dict[str, float] = {}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out
