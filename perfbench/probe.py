"""Process and engine probes that need no change to the program.

* :class:`RssSampler` sums ``VmHWM`` (peak resident set) over this
  process and every live descendant — the Spark JVM and its Python
  workers — and keeps the largest sum.
* :class:`SparkRest` reads job and stage metrics from the driver's own
  UI REST API (``sc.uiWebUrl``, which listens on localhost only).
"""

from __future__ import annotations

import json
import os
import threading
import urllib.request


def loadavg() -> float:
    try:
        return os.getloadavg()[0]
    except (OSError, AttributeError):
        return -1.0


def _children() -> dict[int, list[tuple[int, int]]]:
    """ppid → [(pid, start time)] over every process visible in /proc."""
    kids: dict[int, list[tuple[int, int]]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ppid, start = int(fields[1]), int(fields[19])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append((int(d), start))
    return kids


def _hwm_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Track the peak RSS of the process tree rooted at this process.

    Every ``interval`` seconds the ``VmHWM`` of each live process of the
    tree is summed and the largest sum is kept, so processes that never
    ran at the same time (the workers of successive set-ups) are not
    added up. A process (pid and start time) counts only once it has
    been seen in two samples: the JVM forks short-lived helpers (e.g.
    ``readlink`` for symlinked paths), and a child caught between fork
    and exec reports the JVM's whole resident set as its own.
    """

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peak_kib = 0
        self._seen: set[tuple[int, int]] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        kids = _children()
        todo = [(os.getpid(), 0)]
        live = 0
        while todo:
            key = todo.pop()
            todo.extend(kids.get(key[0], ()))
            if key not in self._seen:
                self._seen.add(key)
                continue
            live += _hwm_kib(key[0])
        self.peak_kib = max(self.peak_kib, live)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "RssSampler":
        self.sample()
        self.sample()  # this process itself is long-lived
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; return the summed peak in MiB."""
        self._stop.set()
        self._thread.join()
        self.sample()
        return self.peak_kib / 1024.0


def job_kind(job: dict) -> str:
    """checkpoint / broadcast / collect / other, from the job's call site."""
    text = f"{job.get('name', '')} {job.get('description', '')}".lower()
    if "checkpoint" in text:
        return "checkpoint"
    if "withthreadlocalcaptured" in text or "broadcast" in text or "subquery" in text:
        return "broadcast"
    if any(k in text for k in ("collect", "topandas", "take at", "first at", "head at")):
        return "collect"
    return "other"


class SparkRest:
    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def jobs(self) -> list[dict]:
        return self._get("/jobs")

    def stages(self) -> list[dict]:
        return self._get("/stages")

    def max_job_id(self) -> int:
        return max((j["jobId"] for j in self.jobs()), default=-1)

    def max_stage_id(self) -> int:
        return max((s["stageId"] for s in self.stages()), default=-1)


def engine_totals(rest: SparkRest, after_job: int, after_stage: int) -> dict:
    """Job counts by kind and summed stage metrics for jobs/stages newer
    than the given ids (the measured window)."""
    jobs = [j for j in rest.jobs() if j["jobId"] > after_job]
    stages = [
        s
        for s in rest.stages()
        if s["stageId"] > after_stage and s.get("status") in ("COMPLETE", "FAILED")
    ]
    kinds = {"checkpoint": 0, "broadcast": 0, "collect": 0, "other": 0}
    for j in jobs:
        kinds[job_kind(j)] += 1
    return {
        "n_jobs": len(jobs),
        "kinds": kinds,
        "stages": len(stages),
        "tasks": sum(s.get("numCompleteTasks", 0) + s.get("numFailedTasks", 0) for s in stages),
        "executor_run_s": sum(s.get("executorRunTime", 0) for s in stages) / 1e3,
        "executor_cpu_s": sum(s.get("executorCpuTime", 0) for s in stages) / 1e9,
        "jvm_gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
        "shuffle_write_mb": sum(s.get("shuffleWriteBytes", 0) for s in stages) / 2**20,
        "input_mb": sum(s.get("inputBytes", 0) for s in stages) / 2**20,
    }
