"""Measurements the benchmark takes outside the engine.

* Process-tree CPU time and resident memory, read from ``/proc``. The
  tree is this Python driver, the Spark JVM it launched and the JVM's
  Python workers, so Python-side kernel time is counted too (Spark's
  ``executorCpuTime`` covers JVM task threads only).
* Spans around each call into an engine layer. A span sets the Spark job
  group, so the stages of the jobs it ran can be read back from Spark's
  own status store and attributed to it.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

_TICKS = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, cpu ticks incl. reaped children)."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # the process exited while we listed /proc
            continue
        # fields after "(comm)": state ppid ... utime(11) stime(12)
        # cutime(13) cstime(14)
        rest = stat[stat.rindex(")") + 2 :].split()
        table[int(d)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    return table


def _tree(table: dict, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in table:
            out.append(pid)
            stack.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user+system, children included once reaped) of the
    process tree under ``root`` (default: this process)."""
    table = _proc_table()
    return sum(table[p][1] for p in _tree(table, root or os.getpid())) / _TICKS


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:  # the process exited
        pass
    return 0


def tree_rss_mb(root: int | None = None) -> float:
    """Resident memory of the process tree, in MB. Each process counts
    its proportional share (PSS) of pages it shares with others, so the
    Python workers forked from one daemon are not counted many times."""
    table = _proc_table()
    return sum(_pss_kb(p) for p in _tree(table, root or os.getpid())) / 1024


class RssPeak:
    """Samples the process tree's total RSS on a thread while active.

    The sampling runs in this process, so it shows in the tree's CPU
    time; ``cpu_s`` is the CPU the sampler thread has used so far, for
    callers to take back out.
    """

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        t0 = time.thread_time()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self.cpu_s = time.thread_time() - t0
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssPeak":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


# ------------------------------------------------------------ tracing


class Span:
    __slots__ = ("name", "group", "parent", "start", "end", "cpu0", "cpu1")

    def __init__(self, name: str, group: str, parent: str | None):
        self.name, self.group, self.parent = name, group, parent
        self.start = self.end = self.cpu0 = self.cpu1 = 0.0

    def record(self) -> dict:
        return {
            "name": self.name,
            "job_group": self.group,
            "parent": self.parent,
            "start": self.start,
            "end": self.end,
        }


class Tracer:
    """Opens a span around each call into an engine layer.

    Disabled, ``span`` does nothing, so the untimed and timed passes run
    the same code. Enabled, each span sets its own Spark job group for
    the jobs started inside it and records its wall and process-tree CPU
    time; spans are kept in memory and written out when the run ends.
    """

    def __init__(self, spark, enabled: bool, cpu_s=tree_cpu_s):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.cpu_s = cpu_s  # process-tree CPU clock of the spans
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._pass = 0

    def new_pass(self) -> None:
        """Start a pass: ``spans`` collects the spans it opens."""
        self._pass += 1
        self.spans = []

    @contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(layer, f"pb{self._pass}.{len(self.spans)}.{layer}",
                  parent.group if parent else None)
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, layer)
        sp.cpu0, sp.start = self.cpu_s(), time.perf_counter()
        try:
            yield
        finally:
            sp.end, sp.cpu1 = time.perf_counter(), self.cpu_s()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class StatusStore:
    """Reads stage and SQL metrics back from Spark's status stores."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)

    def jobs_by_group(self, groups: set[str]) -> dict[str, list[tuple[int, list[int]]]]:
        """group -> [(job id, stage ids)] for the jobs run under ``groups``."""
        out: dict[str, list] = {}
        for job in _seq(self._store.jobsList(None)):
            g = job.jobGroup()
            if g.isDefined() and g.get() in groups:
                out.setdefault(g.get(), []).append(
                    (int(job.jobId()), [int(s) for s in _seq(job.stageIds())])
                )
        return out

    def stages(self) -> dict[int, dict[str, float]]:
        """stage id -> metrics summed over the stage's attempts."""
        mb = float(1 << 20)
        out: dict[int, dict[str, float]] = {}
        for s in _seq(self._store.stageList(None, False, False, self._no_quantiles, None)):
            t = out.setdefault(int(s.stageId()), dict.fromkeys(
                ("exec_cpu_s", "shuffle_write_mb", "shuffle_read_mb",
                 "spill_mb", "input_mb", "tasks_failed"), 0.0))
            t["exec_cpu_s"] += s.executorCpuTime() / 1e9
            t["shuffle_write_mb"] += s.shuffleWriteBytes() / mb
            t["shuffle_read_mb"] += s.shuffleReadBytes() / mb
            t["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / mb
            t["input_mb"] += s.inputBytes() / mb
            t["tasks_failed"] += s.numFailedTasks()
        return out

    def node_rows(self, job_ids: set[int], node_name: str) -> int:
        """Sum of "number of output rows" over plan nodes named
        ``node_name`` in the SQL executions that ran ``job_ids``."""
        total = 0
        for ex in _seq(self._sql.executionsList()):
            ex_jobs = {int(j) for j in _seq(ex.jobs().keys().toSeq())}
            if not ex_jobs & job_ids:
                continue
            values = self._sql.executionMetrics(ex.executionId())
            for node in _seq(self._sql.planGraph(ex.executionId()).allNodes()):
                if node.name() != node_name:
                    continue
                for m in _seq(node.metrics()):
                    if m.name() == "number of output rows":
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            total += int(v.get().split()[0].replace(",", ""))
        return total
