"""Counts read from Spark's own status stores, per job group.

Three JVM-side sources, all of which work with the UI disabled:

* ``SparkContext.statusTracker()``: job ids of a job group and the
  stage ids of each job;
* the core status store (``statusStore().stageAttempt``): per-stage
  task counts, task and CPU time, GC, shuffle bytes and records,
  spill;
* the SQL status store (``sharedState().statusStore()``): per-node SQL
  metrics, from which the Python/Arrow nodes' worker time and bytes
  are taken.

Catalyst phase times come from ``queryExecution().tracker()``.
"""

from __future__ import annotations

import re

from py4j.protocol import Py4JJavaError

_STAGE_FIELDS = (
    "numTasks", "numFailedTasks", "executorRunTime", "executorCpuTime",
    "jvmGcTime", "shuffleReadBytes", "shuffleWriteBytes",
    "shuffleWriteRecords", "memoryBytesSpilled", "diskBytesSpilled",
)

_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2,
          "GiB": 1024.0 ** 3, "TiB": 1024.0 ** 4}
_VALUE_RE = re.compile(
    r"(-?[\d,]+(?:\.\d+)?)\s*(ns|ms|s|m|h|B|KiB|MiB|GiB|TiB)?\b")

# SQL metric name -> our counter (seconds or bytes)
PYTHON_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_start_s",
    "data sent to Python workers": "arrow_sent_b",
    "data returned from Python workers": "arrow_returned_b",
}


def parse_metric(text: str) -> float:
    """Parse a rendered SQL metric ("2.3 s", "610.8 KiB", "10,000", or
    the multi-task form "total (min, med, max ...)\\n1.2 s (...)") to
    base units (seconds, bytes, or a plain count): the total."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE_RE.search(line)
    if not m:
        raise ValueError(f"unparsed metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class SparkStats:
    """Reads the status stores of one SparkSession."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._tracker = self.sc.statusTracker()
        self._next_exec = 0
        self._execs: list = []
        self._accs = self.jvm.org.apache.spark.util.AccumulatorContext

    def jobs(self, group: str) -> list[int]:
        return list(self._tracker.getJobIdsForGroup(group))

    def stage_totals(self, job_ids) -> dict:
        """Sums of the stage fields over every stage of ``job_ids``
        (each stage counted once), plus ``jobs`` and ``stages``."""
        out = dict.fromkeys(_STAGE_FIELDS, 0)
        stages = set()
        for j in job_ids:
            info = self._tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        arr = self.sc._gateway.new_array(self.jvm.double, 0)
        for sid in stages:
            try:
                sd = self._store.stageAttempt(
                    sid, 0, False, self.jvm.java.util.ArrayList(), False,
                    arr)._1()
            except Py4JJavaError:       # skipped stage: never attempted
                continue
            for f in _STAGE_FIELDS:
                out[f] += getattr(sd, f)()
        out["jobs"] = len(job_ids)
        out["stages"] = len(stages)
        return out

    def _scan_executions(self) -> None:
        """Read the Python-node metrics of SQL executions not read yet."""
        while True:
            opt = self._sql.execution(self._next_exec)
            if not opt.isDefined():
                return
            eid = self._next_exec
            self._next_exec += 1
            ran = {int(x) for x in
                   re.findall(r"\d+", opt.get().jobs().keySet().toString())}
            sums = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                ms = nodes.next().metrics().iterator()
                while ms.hasNext():
                    m = ms.next()
                    key = PYTHON_METRICS.get(m.name())
                    if key is None:
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        sums[key] += parse_metric(v.get())
                    else:
                        sums[key] += self._accumulator(m)
            self._execs.append((ran, sums))

    def _accumulator(self, metric) -> float:
        """A SQL metric's live accumulator, in seconds or bytes. A
        streaming batch runs its plan through an RDD, so the status store
        keeps no values for it; the accumulators still hold them."""
        acc = self._accs.get(metric.accumulatorId())
        if not acc.isDefined():
            return 0.0
        scale = {"timing": 1e-3, "nsTiming": 1e-9}.get(metric.metricType(),
                                                      1.0)
        return acc.get().value() * scale

    def python_metrics(self, job_ids=None) -> dict:
        """Python-node SQL metrics summed over the SQL executions that
        ran any of ``job_ids`` (``None``: every execution not skipped;
        a streaming batch's plan lists no jobs)."""
        self._scan_executions()
        want = None if job_ids is None else set(job_ids)
        out = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
        for ran, sums in self._execs:
            if want is None or ran & want:
                for k, v in sums.items():
                    out[k] += v
        return out

    def skip_executions(self) -> None:
        """Forget every SQL execution so far (e.g. the warm-up's)."""
        while self._sql.execution(self._next_exec).isDefined():
            self._next_exec += 1
        self._execs.clear()


def catalyst_phases(df) -> dict:
    """Analysis/optimization/planning seconds of ``df``'s own
    QueryExecution, forcing its physical plan first."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        p = phases.get(k)
        out[k] = p.get().durationMs() / 1e3 if p.isDefined() else 0.0
    return out


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MiB; 0 when the
    process is gone or /proc is not available."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
