"""Counters read from outside the program: the Spark status store,
``/proc`` RSS and directory walks."""

from __future__ import annotations

import os
import threading
import time

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "input_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


class SparkCounters:
    """Reads finished jobs and their stages from the live application
    status store (``AppStatusStore``; works with the UI disabled).

    Job ids are assigned in submission order, so new jobs are found by
    probing ids upward, whatever their job group.  ``drain()`` returns
    one record per job that finished since the last call: its
    submission time (epoch seconds) and the summed counters of its
    non-skipped stages."""

    def __init__(self, spark) -> None:
        self._jsc = spark.sparkContext._jsc.sc()
        self._store = self._jsc.statusStore()
        self._next = 0
        self._pending: list[int] = []
        self._seen_stages: set[int] = set()

    def _job(self, jid: int):
        try:
            return self._store.job(jid)
        except Exception:  # noqa: BLE001 - NoSuchElementException over py4j
            return None

    def _settle(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        try:
            self._jsc.listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001 - best effort; unseen jobs stay pending
            pass

    def mark(self) -> None:
        """Skip every job submitted so far (counters start after it)."""
        self._settle()
        while self._job(self._next) is not None:
            self._next += 1
        self._pending = []

    def drain(self) -> list[dict]:
        self._settle()
        while self._job(self._next) is not None:
            self._pending.append(self._next)
            self._next += 1
        out, still = [], []
        for jid in self._pending:
            job = self._job(jid)
            if str(job.status()) == "RUNNING":
                still.append(jid)  # read again once it has finished
            else:
                out.append(self._record(job))
        self._pending = still
        return out

    def _record(self, job) -> dict:
        sub = job.submissionTime()
        rec = dict.fromkeys(COUNTERS, 0)
        rec["t"] = sub.get().getTime() / 1000.0 if sub.isDefined() else time.time()
        rec["jobs"] = 1
        it = job.stageIds().iterator()
        while it.hasNext():
            sid = int(it.next())
            if sid in self._seen_stages:
                continue
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - stage pruned or never run
                continue
            if str(st.status()) == "SKIPPED":
                continue
            self._seen_stages.add(sid)
            rec["stages"] += 1
            rec["tasks"] += int(st.numCompleteTasks())
            rec["executor_run_s"] += st.executorRunTime() / 1e3
            rec["executor_cpu_s"] += st.executorCpuTime() / 1e9
            rec["input_bytes"] += int(st.inputBytes())
            rec["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
            rec["spill_bytes"] += int(st.memoryBytesSpilled()) + int(
                st.diskBytesSpilled()
            )
        return rec


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class RssSampler:
    """Samples the RSS of the driver Python process and the JVM child
    from ``/proc`` on a background thread, keeping the peaks."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.jvm_pid: int | None = None
        self.peak_driver = self.peak_jvm = self.peak_total = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def sample(self) -> None:
        d = _rss_mb(os.getpid())
        j = _rss_mb(self.jvm_pid) if self.jvm_pid else 0.0
        self.peak_driver = max(self.peak_driver, d)
        self.peak_jvm = max(self.peak_jvm, j)
        self.peak_total = max(self.peak_total, d + j)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def stop(self) -> None:
        self.sample()
        self._stop.set()
        self._thread.join()


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(c) for c in fh.read().split()]
    except OSError:
        pass
    return out


def cpu_s(pids: list[int]) -> float:
    """CPU seconds (user + system) used so far by the given processes and
    all their descendants, including descendants that have already exited
    and been waited for (the Python workers Spark forks count too)."""
    tick = os.sysconf("SC_CLK_TCK")
    total, todo, seen = 0, list(pids), set()
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        todo += _children(pid)
    return total / tick


def host_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the whole machine since boot, from
    /proc/stat: time the hypervisor ran someone else while this guest
    wanted to run."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def dir_usage(root: str, only: str | None = None) -> tuple[int, int]:
    """(files, bytes) under ``root``; with ``only``, under every directory
    of that name beneath ``root``."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(root):
        if only is not None and only not in dirpath.split(os.sep):
            continue
        for n in names:
            try:
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
            except OSError:
                pass
    return files, size
