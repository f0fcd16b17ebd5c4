"""Layer probes read from outside the program: Spark's status store
(by id watermark) and ``/proc`` (CPU by process kind, peak RSS)."""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

# v1.StageData getter -> (metric, scale to seconds / bytes)
STAGE_SUMS = {
    "executorRunTime": ("spark.executor_run_s", 1e-3),
    "executorCpuTime": ("spark.executor_cpu_s", 1e-9),
    "jvmGcTime": ("spark.gc_s", 1e-3),
    "inputBytes": ("spark.input_bytes", 1),
    "outputBytes": ("spark.output_bytes", 1),
    "shuffleWriteBytes": ("spark.shuffle_write_bytes", 1),
    "shuffleReadBytes": ("spark.shuffle_read_bytes", 1),
    "shuffleWriteTime": ("spark.shuffle_write_s", 1e-9),
    "shuffleFetchWaitTime": ("spark.fetch_wait_s", 1e-3),
    "memoryBytesSpilled": ("spark.spill_mem_bytes", 1),
    "diskBytesSpilled": ("spark.spill_disk_bytes", 1),
    "numCompleteTasks": ("spark.tasks", 1),
    "numFailedTasks": ("spark.task_attempts_failed", 1),
}
SPARK_COUNTS = ("spark.jobs", "spark.stages", "spark.stages_skipped", "spark.stages_evicted")


@dataclass
class StageRow:
    stage_id: int
    skipped: bool
    sums: dict[str, float]


def _new_rows(seq, key):
    """Rows of a status-store list (newest first) until ``key`` says
    the watermark is reached."""
    out = []
    it = seq.iterator()
    while it.hasNext():
        row = it.next()
        if not key(row):
            break
        out.append(row)
    return out


def account_stages(rows: list[StageRow], watermark: int) -> tuple[dict[str, float], int, bool]:
    """Sum the stages above ``watermark`` (one row per attempt); return
    (metrics, new watermark, valid). Stage ids are dense, so any id in
    (watermark, new watermark] without a row was evicted from the
    store: the range is marked invalid and the count reported, never
    zero-filled."""
    metrics = {m: 0.0 for m, _ in STAGE_SUMS.values()}
    ids = set()
    skipped = set()
    for r in rows:
        if r.stage_id <= watermark:
            continue
        ids.add(r.stage_id)
        if r.skipped:
            skipped.add(r.stage_id)
        for m, v in r.sums.items():
            metrics[m] += v
    high = max(ids, default=watermark)
    evicted = (high - watermark) - len(ids)
    metrics["spark.stages"] = float(high - watermark)
    metrics["spark.stages_skipped"] = float(len(skipped))
    metrics["spark.stages_evicted"] = float(evicted)
    return metrics, high, evicted == 0


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class StatusStoreReader:
    """Per-job Spark counters read from the application status store
    by stage-id and job-id watermark.

    The stage list comes through the full ``stageList`` signature (the
    one-argument form fails with the UI off). Only ids above the
    previous job's high-water mark are kept, so ``retainedStages``
    eviction can never turn into a negative or silently short delta:
    an evicted id inside the range is counted and the job's record is
    marked invalid."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._jvm = spark.sparkContext._jvm
        self._gw = spark.sparkContext._gateway
        self._store = self._sc.statusStore()
        self.stage_hw, self.job_hw = self._high_water()

    def _flush(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def _stage_list(self):
        empty = self._gw.new_array(self._jvm.double, 0)
        return self._store.stageList(None, False, False, empty, self._jvm.java.util.ArrayList())

    def _high_water(self) -> tuple[int, int]:
        self._flush()
        stages = _new_rows(self._stage_list(), lambda r: True)[:1]
        jobs = _new_rows(self._store.jobsList(None), lambda r: True)[:1]
        return (
            stages[0].stageId() if stages else -1,
            jobs[0].jobId() if jobs else -1,
        )

    def read(self) -> tuple[dict[str, float], list[tuple[float, float]], bool]:
        """Counters of everything since the previous call: (metrics,
        Spark job intervals in epoch seconds, valid)."""
        self._flush()
        hw = self.stage_hw
        rows = [
            StageRow(
                stage_id=s.stageId(),
                skipped=s.status().toString() == "SKIPPED",
                sums={m: float(getattr(s, g)()) * k for g, (m, k) in STAGE_SUMS.items()},
            )
            for s in _new_rows(self._stage_list(), lambda s: s.stageId() > hw)
        ]
        metrics, self.stage_hw, valid = account_stages(rows, hw)
        jobs = _new_rows(self._store.jobsList(None), lambda j: j.jobId() > self.job_hw)
        intervals = []
        for j in jobs:
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        if jobs:
            ids = [j.jobId() for j in jobs]
            valid = valid and max(ids) - self.job_hw == len(ids)
            self.job_hw = max(ids)
        metrics["spark.jobs"] = float(len(jobs))
        return metrics, intervals, valid


# ---- /proc ---------------------------------------------------------

CLK_TCK = os.sysconf("SC_CLK_TCK")
CPU_KINDS = ("cpu.driver_py_s", "cpu.jvm_s", "cpu.python_workers_s", "cpu.piped_exec_s")


@dataclass
class Proc:
    pid: int
    ppid: int
    comm: str
    cmdline: str
    own_s: float  # utime + stime
    children_s: float  # cutime + cstime of reaped children


def read_proc(pid: int) -> Proc | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmdline = f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:  # the process ended while we looked
        return None
    comm = stat[stat.index("(") + 1 : stat.rindex(")")]
    fields = stat[stat.rindex(")") + 2 :].split()
    # fields[0] is field 3 (state); utime..cstime are fields 14..17
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return Proc(
        pid=pid,
        ppid=int(fields[1]),
        comm=comm,
        cmdline=cmdline,
        own_s=(utime + stime) / CLK_TCK,
        children_s=(cutime + cstime) / CLK_TCK,
    )


def process_tree(root: int) -> list[Proc]:
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            p = read_proc(int(name))
            if p is not None:
                procs[p.pid] = p
    kids: dict[int, list[Proc]] = {}
    for p in procs.values():
        kids.setdefault(p.ppid, []).append(p)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out.append(procs[pid])
        todo.extend(k.pid for k in kids.get(pid, []))
    return out


def classify(procs: list[Proc], root: int) -> dict[str, float]:
    """CPU seconds by process kind over a driver's process tree.

    - driver Python: the root's own time;
    - JVM: the ``java`` child, with the children it reaped;
    - Python workers: ``pyspark.daemon`` and its forked workers, plus
      workers the daemon reaped;
    - piped executables: children the workers reaped (``RDD.pipe``
      subprocesses), plus those still running.

    A worker that exits takes its piped children's time into the
    daemon's reaped total, which counts as workers; with worker reuse
    (Spark's default) that does not happen within a run."""
    out = dict.fromkeys(CPU_KINDS, 0.0)
    by_pid = {p.pid: p for p in procs}
    for p in procs:
        parent = by_pid.get(p.ppid)
        if p.pid == root:
            out["cpu.driver_py_s"] += p.own_s
        elif p.comm == "java":
            out["cpu.jvm_s"] += p.own_s + p.children_s
        elif "pyspark.daemon" in p.cmdline:
            out["cpu.python_workers_s"] += p.own_s
            if parent is not None and "pyspark.daemon" in parent.cmdline:
                out["cpu.piped_exec_s"] += p.children_s
            else:
                out["cpu.python_workers_s"] += p.children_s
        elif parent is not None and parent.comm != "java" and parent.pid != root:
            out["cpu.piped_exec_s"] += p.own_s
    return out


def cpu_by_kind(root: int | None = None) -> dict[str, float]:
    root = os.getpid() if root is None else root
    return classify(process_tree(root), root)


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (``VmHWM``) of one process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def jvm_pid(root: int | None = None) -> int | None:
    root = os.getpid() if root is None else root
    for p in process_tree(root):
        if p.comm == "java":
            return p.pid
    return None


def seconds_since_process_start() -> float:
    """Wall time since this process was exec'd (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(")") + 2 :].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / CLK_TCK
