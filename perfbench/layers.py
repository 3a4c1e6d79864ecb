"""Measurement layers of the benchmark.

- :class:`ProcTree` reads CPU seconds and peak resident memory of this
  process and all its descendants (the JVM, the PySpark daemon and its
  workers) from ``/proc``. Reaped children are included in the CPU seconds
  through ``cutime``/``cstime``.
- :func:`host_cpu` reads the host's ``/proc/stat`` counters, for the
  CPU-steal share of a run.
- :class:`Tracer` records spans (name, start, end, parent, operation id)
  and, after each operation, reads deltas from Spark's own status stores:
  stage metrics from ``AppStatusStore`` and SQL executions with their
  Python-worker metrics from ``SQLAppStatusStore``. It also wraps the
  public methods of ``catalog.EngineCatalog`` and ``catalog.engine_sql``
  at run time, so catalog calls show up as spans without editing the
  package.
"""

from __future__ import annotations

import functools
import os
import re
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces: split after its closing paren
    return raw[raw.rindex(")") + 2:].split()


def process_start_epoch() -> float:
    """Wall-clock time at which this process started."""
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + int(_stat_fields(os.getpid())[19]) / _TICK


class ProcTree:
    """This process and its descendants, found through ``/proc``."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                fields = _stat_fields(int(name))
                if fields:
                    children.setdefault(int(fields[1]), []).append(int(name))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def _sum(self, pick) -> int:
        total = 0
        for pid in self.pids():
            fields = _stat_fields(pid)
            if fields:
                total += pick(fields)
        return total

    def cpu_s(self) -> float:
        """user+system seconds of the live tree plus its reaped children."""
        # fields 11..14 after the paren: utime stime cutime cstime
        return self._sum(lambda f: sum(int(x) for x in f[11:15])) / _TICK

    def peak_rss_bytes(self) -> int:
        """Sum of each live process's peak resident set (VmHWM)."""
        total = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/status") as f:
                    total += next(int(line.split()[1]) * 1024 for line in f
                                  if line.startswith("VmHWM:"))
            except (OSError, StopIteration):
                pass
        return total


def host_cpu() -> tuple[int, int]:
    """(steal, total) jiffies of the host from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return vals[7], sum(vals)


# -- Spark status stores -------------------------------------------------------

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
}
_METRIC_RE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)")
# SQL metric name -> per-layer metric it adds to
PYWORKER_METRICS = {
    "time to start Python workers": "pyworker.start_s",
    "time to run Python workers": "pyworker.run_s",
    "data sent to Python workers": "pyworker.bytes_sent",
    "data returned from Python workers": "pyworker.bytes_returned",
}


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric ('2.1 s', '477.6 KiB', or the
    'total (min, med, max ...)' form whose second line starts with it)."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = _METRIC_RE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class Tracer:
    """Spans plus Spark-counter deltas, read once per operation."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None
        self.enabled = False
        self._last_exec = self._max_execution_id()

    # -- spans -----------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if not self.enabled or self.op_id is None:
            yield
            return
        rec = {"id": len(self.spans), "name": name, "op": self.op_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    @contextmanager
    def operation(self, op_id: str, name: str):
        """Root span of one operation; its jobs carry the op id as job group."""
        self.op_id = op_id
        if self.enabled:
            self.sc.setJobGroup(op_id, name)
        try:
            with self.span(f"op:{name}"):
                yield
        finally:
            if self.enabled:
                self.sc.setJobGroup("", "")
            self.op_id = None

    def wrap(self, owner, attr: str, span_name: str) -> None:
        """Replace ``owner.attr`` by a version that records a span."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(span_name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def wrap_catalog(self) -> None:
        from spark_sql_dsv2_extension_spark import catalog

        for method in ("create_table", "insert", "list_partitions", "load_table",
                       "create_partition", "drop_partition", "drop_table"):
            self.wrap(catalog.EngineCatalog, method, f"catalog.{method}")
        # engine_sql calls itself through the module global, so nested
        # statements (INSERT ... SELECT) get their own spans too
        self.wrap(catalog, "engine_sql", "catalog.engine_sql")

    # -- Spark counters ----------------------------------------------------------
    def _max_execution_id(self) -> int:
        n = int(self._sql.executionsCount())
        if n == 0:
            return -1
        return int(self._sql.executionsList(n - 1, 1).head().executionId())

    def _innermost(self, op_spans: list[dict], t: float) -> dict:
        best = op_spans[0]
        for s in op_spans:
            if s["start"] <= t <= s["end"] and s["start"] >= best["start"]:
                best = s
        return best

    def collect(self, op_id: str) -> dict:
        """Counter deltas of one finished operation. Every job and SQL
        execution is attributed to the innermost span it was submitted in
        (``span["jobs"]``, ``span["tasks"]``, ``span["sql_execs"]``)."""
        self._jsc.listenerBus().waitUntilEmpty()
        op_spans = [s for s in self.spans if s["op"] == op_id]
        for s in op_spans:
            s.update(jobs=0, tasks=0, sql_execs=0, first_stage_tasks=0)
        totals = {k: 0.0 for k in (
            "exec.jobs", "exec.stages", "exec.tasks", "exec.executor_cpu_s",
            "exec.gc_s", "exec.shuffle_write_bytes", "exec.spill_bytes",
            "exec.failed_tasks", *PYWORKER_METRICS.values())}
        tracker = self.sc.statusTracker()
        for job_id in sorted(tracker.getJobIdsForGroup(op_id)):
            submitted = self._store.job(job_id).submissionTime()
            t = submitted.get().getTime() / 1000 if submitted.isDefined() else op_spans[0]["start"]
            owner = self._innermost(op_spans, t)
            owner["jobs"] += 1
            totals["exec.jobs"] += 1
            for stage_id in sorted(tracker.getJobInfo(job_id).stageIds):
                sd = self._store.lastStageAttempt(stage_id)
                if sd.status().toString() == "SKIPPED":
                    continue
                tasks = sd.numCompleteTasks() + sd.numFailedTasks() + sd.numKilledTasks()
                if not owner["first_stage_tasks"]:
                    owner["first_stage_tasks"] = tasks
                owner["tasks"] += tasks
                totals["exec.stages"] += 1
                totals["exec.tasks"] += tasks
                totals["exec.failed_tasks"] += sd.numFailedTasks()
                totals["exec.executor_cpu_s"] += sd.executorCpuTime() / 1e9
                totals["exec.gc_s"] += sd.jvmGcTime() / 1e3
                totals["exec.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                totals["exec.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        last = self._max_execution_id()
        for eid in range(self._last_exec + 1, last + 1):
            found = self._sql.execution(eid)
            if not found.isDefined():
                continue
            owner = self._innermost(op_spans, found.get().submissionTime() / 1000)
            owner["sql_execs"] += 1
            metrics = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                node_metrics = nodes.next().metrics().iterator()
                while node_metrics.hasNext():
                    m = node_metrics.next()
                    # Python DataSource scans report worker-cumulative custom
                    # metrics (v2Custom_*) that grow across queries: skip them
                    key = PYWORKER_METRICS.get(m.name())
                    if m.metricType().startswith("v2Custom"):
                        key = None
                    value = metrics.get(m.accumulatorId()) if key else None
                    if value is not None and value.isDefined():
                        totals[key] += parse_metric(value.get())
        self._last_exec = last
        return totals


def self_time(spans: list[dict], span: dict) -> float:
    """Duration of ``span`` minus what its direct children cover."""
    kids = sum(s["end"] - s["start"] for s in spans if s["parent"] == span["id"])
    return (span["end"] - span["start"]) - kids
