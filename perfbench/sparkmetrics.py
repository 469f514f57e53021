"""Spark-side counters, read from outside the engine.

- ``JobCounter``: job, stage and task counts per job group from
  ``SparkContext.statusTracker()``. The benchmark tags the construction
  and the collect of each operation with their own job group; a
  streaming query runs its micro-batch jobs under its run id, which
  ``StreamListener`` records.
- ``phases``: Catalyst analysis/optimization/planning milliseconds from
  ``queryExecution().tracker()`` of the operation's result frame.
- ``EventLog``: executor, shuffle, spill and input totals from the
  uncompressed event log (traced run only), attributed to operations by
  job submission time.
- ``StreamListener``: a Python ``StreamingQueryListener`` summing the
  ``StreamingQueryProgress`` figures.
- ``peak_rss_mb``: peak resident set of the driver JVM plus this
  Python process.
- ``box_canary_s``: a fixed single-thread hashing loop, timed, so a
  reader can tell machine-speed drift from a change in the engine.
- ``cpu_ticks``: the machine's steal and total CPU ticks, for the share
  of CPU time the hypervisor took away during the measurement.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import resource
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener


class JobCounter:
    def __init__(self, sc) -> None:
        self._sc = sc
        self._tracker = sc.statusTracker()

    def set_group(self, group: str | None) -> None:
        if group is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(group, group)

    def counts(self, groups) -> dict[str, int]:
        """Jobs, stages that ran, and tasks of those stages, summed over
        ``groups``."""
        jobs = stages = tasks = 0
        for group in groups:
            for jid in self._tracker.getJobIdsForGroup(group):
                jobs += 1
                info = self._tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else ()):
                    st = self._tracker.getStageInfo(sid)
                    if st is not None and st.numTasks and st.numCompletedTasks:
                        stages += 1
                        tasks += st.numCompletedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks}


PHASES = ("analysis", "optimization", "planning")


def phases(df) -> dict[str, float]:
    """Catalyst phase times (ms) recorded on ``df``'s QueryExecution."""
    out = {p: 0.0 for p in PHASES}
    summ = df._jdf.queryExecution().tracker().phases()
    for p in PHASES:
        opt = summ.get(p)
        if opt.isDefined():
            out[p] = float(opt.get().durationMs())
    return out


class StreamListener(StreamingQueryListener):
    """Sums StreamingQueryProgress figures per streaming query."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.started: list[str] = []
        self.terminated: set[str] = set()
        self.queries: dict[str, dict] = {}

    def onQueryStarted(self, event) -> None:
        with self._lock:
            rid = str(event.runId)
            self.started.append(rid)
            self.queries[rid] = defaultdict(float)

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._lock:
            q = self.queries.setdefault(str(p.runId), defaultdict(float))
            q["batches"] += 1
            d = p.durationMs or {}
            q["trigger_ms"] += d.get("triggerExecution", 0)
            q["add_batch_ms"] += d.get("addBatch", 0)
            q["wal_commit_ms"] += d.get("walCommit", 0)
            q["query_planning_ms"] += d.get("queryPlanning", 0)
            rows = mem = 0
            for so in p.stateOperators or ():
                rows += so.numRowsTotal
                mem += so.memoryUsedBytes
                q["state_commit_ms"] += so.commitTimeMs
            q["state_rows"] = max(q["state_rows"], rows)
            q["state_memory_bytes"] = max(q["state_memory_bytes"], mem)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated.add(str(event.runId))

    def settle(self, timeout: float = 5.0, quiet: float = 0.1) -> None:
        """Wait until every started query's termination was delivered and
        no event arrived for ``quiet`` seconds (listener events arrive
        asynchronously, so a start may still be in flight)."""
        deadline = time.monotonic() + timeout
        last, since = None, time.monotonic()
        while time.monotonic() < deadline:
            with self._lock:
                state = (len(self.started), len(self.terminated))
                done = set(self.started) <= self.terminated
            if state != last:
                last, since = state, time.monotonic()
            elif done and time.monotonic() - since >= quiet:
                return
            time.sleep(0.02)

    def count(self) -> int:
        with self._lock:
            return len(self.started)

    def between(self, lo: int, hi: int) -> tuple[list[str], dict[str, float]]:
        """Run ids of the ``lo``-th to ``hi``-th started queries and
        their summed figures."""
        with self._lock:
            rids = self.started[lo:hi]
            out: dict[str, float] = defaultdict(float)
            for rid in rids:
                for k, v in self.queries.get(rid, {}).items():
                    out[k] += v
        return rids, dict(out)


def driver_jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(jvm_pid: int) -> tuple[float, float]:
    """(VmHWM of the driver JVM, ru_maxrss of this process), in MiB."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return jvm_kb / 1024.0, py_kb / 1024.0


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds, user + system, of process ``root`` (default: this
    one) and every process under it, children they reaped included:
    here the Python driver, the driver JVM and its Python workers.
    A kernel with paravirtual steal accounting leaves time the
    hypervisor stole out of these figures."""
    root = os.getpid() if root is None else root
    children, ticks = defaultdict(list), {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:  # the process ended while we looked
            continue
        rest = raw[raw.rindex(")") + 2:].split()
        children[int(rest[1])].append(int(d))
        ticks[int(d)] = sum(int(x) for x in rest[11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, ())
    return total / _CLK_TCK


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def box_canary_s() -> float:
    """Best of 3 timings of a fixed 200k-step md5 chain."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        h = b"canary"
        for i in range(200_000):
            h = hashlib.md5(h + i.to_bytes(4, "little")).digest()
        best = min(best, time.perf_counter() - t0)
    return best


class EventLog:
    """Task metrics from an uncompressed, unrolled Spark event log."""

    FIELDS = ("run_ms", "cpu_ns", "gc_ms", "shuffle_write_bytes",
              "shuffle_read_bytes", "spill_disk_bytes", "input_bytes", "tasks")

    def __init__(self, log_dir: str) -> None:
        self.log_dir = log_dir

    def per_job(self) -> tuple[dict[int, float], dict[int, dict[str, float]]]:
        """(job id -> submission epoch seconds, job id -> task metric sums)."""
        files = [f for f in glob.glob(os.path.join(self.log_dir, "*")) if os.path.isfile(f)]
        submit: dict[int, float] = {}
        stage_job: dict[int, int] = {}
        sums: dict[int, dict[str, float]] = defaultdict(lambda: dict.fromkeys(self.FIELDS, 0.0))
        for path in files:
            with open(path) as f:
                for line in f:
                    if '"SparkListenerJobStart"' in line:
                        ev = json.loads(line)
                        jid = ev["Job ID"]
                        submit[jid] = ev["Submission Time"] / 1000.0
                        for sid in ev.get("Stage IDs", ()):
                            stage_job.setdefault(sid, jid)
                    elif '"SparkListenerTaskEnd"' in line:
                        ev = json.loads(line)
                        jid = stage_job.get(ev["Stage ID"])
                        m = ev.get("Task Metrics")
                        if jid is None or not m:
                            continue
                        s = sums[jid]
                        s["tasks"] += 1
                        s["run_ms"] += m.get("Executor Run Time", 0)
                        s["cpu_ns"] += m.get("Executor CPU Time", 0)
                        s["gc_ms"] += m.get("JVM GC Time", 0)
                        s["spill_disk_bytes"] += m.get("Disk Bytes Spilled", 0)
                        s["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                        s["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                        r = m.get("Shuffle Read Metrics") or {}
                        s["shuffle_read_bytes"] += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
        return submit, sums

    def totals_in(self, windows: list[tuple[float, float]]) -> dict[str, float]:
        """Sum task metrics of jobs submitted inside any epoch window."""
        submit, sums = self.per_job()
        out = dict.fromkeys(self.FIELDS, 0.0)
        windows = sorted(windows)
        for jid, t in submit.items():
            if any(a <= t <= b for a, b in windows):
                for k, v in sums.get(jid, {}).items():
                    out[k] += v
        return out
