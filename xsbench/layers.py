"""Layer counters read from outside the engine.

Everything here observes a running engine without changing it: Spark's
in-process status stores (``AppStatusStore`` for jobs and stages,
``SQLAppStatusStore`` for SQL executions and their plan metrics), the
physical plan string, and ``/proc`` for the process tree and the host.
No UI, no listener of our own, no new dependency.
"""

from __future__ import annotations

import os
import re
import threading
import time

MB = 2 ** 20
_UNITS = {"B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30,
          "TiB": 2 ** 40}
_STAGE_RE = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")
_SIZE_RE = re.compile(r"([\d.]+) (B|KiB|MiB|GiB|TiB)")


def _items(seq):
    """Iterate a Scala collection through py4j."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


# ---------------------------------------------------------------- plan


def _node_names(tree: str):
    for line in tree.splitlines():
        name = line.lstrip(" :+-").strip()
        if name:
            yield name


def plan_counts(tree: str) -> dict:
    """Plan-shape counters of a physical plan's ``treeString``: Exchange
    count, scans by type, and Arrow/pandas Python nodes."""
    c = {"exchanges": 0, "scans_file": 0, "scans_local": 0, "scans_rdd": 0,
         "python_nodes": 0}
    for name in _node_names(tree):
        head = name.split(" ", 1)[0].split("(", 1)[0]
        if head in ("Exchange", "BroadcastExchange"):
            c["exchanges"] += 1
        elif head in ("FileScan", "BatchScan"):
            c["scans_file"] += 1
        elif head == "LocalTableScan":
            c["scans_local"] += 1
        elif name.startswith("Scan ExistingRDD"):
            c["scans_rdd"] += 1
        elif "Python" in head or "InPandas" in head or "InArrow" in head:
            c["python_nodes"] += 1
    return c


# ---------------------------------------------------- status stores


class SparkCounters:
    """Jobs, stages and SQL-execution metrics of one SparkContext."""

    PY_SENT = "data sent to Python workers"
    PY_RECV = "data returned from Python workers"

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._core = sc._jsc.sc()
        self._store = self._core.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._tracker = sc._jsc.statusTracker()
        self._empty_list = sc._jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._next_exec = self._sql.executionsCount()

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        stores hold the jobs and executions that just finished."""
        self._core.listenerBus().waitUntilEmpty()

    def set_group(self, group: str | None) -> None:
        if group is None:
            self._sc._jsc.clearJobGroup()
        else:
            self._sc.setJobGroup(group, group)

    def group_jobs(self, group: str) -> dict:
        """Totals over the jobs a job group ran."""
        out = {"jobs": 0, "job_s": 0.0, "stages": 0, "tasks": 0,
               "failed_tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
               "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
               "spill_mb": 0.0, "stage_times": {}}
        for jid in self._tracker.getJobIdsForGroup(group):
            job = self._store.job(jid)
            out["jobs"] += 1
            t0, t1 = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
            if t0 is not None and t1 is not None:
                out["job_s"] += (t1 - t0) / 1000
            for sid in _items(job.stageIds()):
                for st in _items(self._store.stageData(
                        sid, False, self._empty_list, False,
                        self._no_quantiles)):
                    if st.status().toString() in ("SKIPPED", "PENDING"):
                        continue
                    out["stages"] += 1
                    out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                    out["failed_tasks"] += st.numFailedTasks()
                    run = st.executorRunTime() / 1000
                    cpu = st.executorCpuTime() / 1e9
                    out["run_s"] += run
                    out["cpu_s"] += cpu
                    out["shuffle_read_mb"] += st.shuffleReadBytes() / MB
                    out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                    out["spill_mb"] += (st.memoryBytesSpilled()
                                        + st.diskBytesSpilled()) / MB
                    out["stage_times"][sid] = (run, cpu)
        return out

    def python_metrics(self) -> dict:
        """Arrow/pandas node metrics of the SQL executions that started
        since the previous call: bytes each way and the stages that
        hold a Python node."""
        out = {"mb_sent": 0.0, "mb_received": 0.0, "stages": set()}
        end = self._sql.executionsCount()
        for eid in range(self._next_exec, end):
            try:
                graph = self._sql.planGraph(eid)
            except Exception:  # noqa: BLE001 - evicted or never planned
                continue
            values = self._sql.executionMetrics(eid)
            for node in _items(graph.allNodes()):
                for m in _items(node.metrics()):
                    if m.name() not in (self.PY_SENT, self.PY_RECV):
                        continue
                    v = values.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    text = v.get()
                    size = _SIZE_RE.findall(text.splitlines()[-1])
                    mb = (float(size[0][0]) * _UNITS[size[0][1]] / MB
                          if size else 0.0)
                    key = "mb_sent" if m.name() == self.PY_SENT else "mb_received"
                    out[key] += mb
                    out["stages"].update(int(s) for s in _STAGE_RE.findall(text))
        self._next_exec = end
        return out


# ---------------------------------------------------------------- /proc

_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def session_procs(sid: int):
    """(pid, stat fields) of every process of session ``sid``, zombies
    included (their CPU time counts until their parent reaps them)."""
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            f = _stat_fields(pid)
            if f is not None and int(f[3]) == sid:
                yield pid, f


def session_cpu_s(sid: int) -> float:
    """User + system CPU seconds of every process of session ``sid``:
    the Python driver, the JVM it launched and the Python workers,
    including reaped children of those processes."""
    return sum(int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
               for _, f in session_procs(sid)) / _CLK


def wait_idle(sid: int, max_s: float, window_s: float = 0.4,
              idle_cores: float = 0.15) -> float:
    """Wait until session ``sid`` uses less than ``idle_cores`` of CPU
    over one ``window_s`` window, or ``max_s`` has passed; return the
    seconds waited.  Work a pass leaves running in the background (JIT
    compiler threads, concurrent GC, Python workers winding down) then
    ends before the pass's CPU time is read, so that time counts the
    whole cost of the pass instead of wherever the cut happens to fall."""
    t0 = time.perf_counter()
    cpu0 = session_cpu_s(sid)
    while time.perf_counter() - t0 < max_s:
        time.sleep(window_s)
        cpu1 = session_cpu_s(sid)
        if cpu1 - cpu0 < idle_cores * window_s:
            break
        cpu0 = cpu1
    return time.perf_counter() - t0


def session_pss_mb(sid: int) -> float:
    """Resident memory of session ``sid`` as the sum of proportional set
    sizes: pages shared between processes (the forked Python workers
    and their daemon) are counted once in total, not once per process."""
    kb = 0
    for pid, _ in session_procs(sid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        kb += int(line.split()[1])
                        break
        except OSError:  # the process ended meanwhile
            pass
    return kb / 1024


def host_steal_s() -> float:
    """CPU time the hypervisor took from this host, summed over CPUs."""
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    return int(cpu[8]) / _CLK


class PeakRss:
    """Samples the session's resident memory on a thread while active."""

    def __init__(self, sid: int, interval: float = 0.5):
        self.sid = sid
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, session_pss_mb(self.sid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, session_pss_mb(self.sid))
