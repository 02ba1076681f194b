"""Measurements taken from outside the engine: process memory and CPU
from ``/proc``, bytes on disk, percentiles, and the Spark REST API.

Nothing here imports the engine; ``run.py`` and ``spans.py`` use these
around calls into the package's public functions."""

from __future__ import annotations

import json
import math
import os
import threading
import time
import urllib.request

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields resume after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant (Python workers of the JVM)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_pss_bytes(root: int) -> int:
    """Proportional set size of the tree: pages that forked Python
    workers share with their parent daemon count once, not per worker."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


def tree_cpu_s(root: int) -> float:
    """User+system CPU of the live tree, plus the root's reaped
    children, so Python workers that exited are still counted."""
    total = 0
    for pid in process_tree(root):
        fields = _stat_fields(pid)
        if fields:
            total += int(fields[11]) + int(fields[12])
            if pid == root:
                total += int(fields[13]) + int(fields[14])
    return total / _TICK


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine so far."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # guest time is already counted in user time
    return fields[7], sum(fields[:8])


class RssSampler:
    """Peak resident memory (as PSS) of a process tree, sampled on a
    background thread. Reading a JVM's ``smaps_rollup`` costs ~17 ms of
    CPU, so the default interval keeps the sampler under a tenth of a
    core."""

    def __init__(self, root: int, interval_s: float = 0.25) -> None:
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(self.root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self.peak = tree_pss_bytes(self.root)
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_pss_bytes(self.root))


def dir_usage(path: str, suffix: str = "") -> tuple[int, int]:
    """(bytes, files) under ``path``; only names ending in ``suffix``."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                try:
                    size += os.path.getsize(os.path.join(d, n))
                except OSError:
                    continue
                files += 1
    return size, files


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


class SparkRest:
    """Job and stage records of the running application (UI REST API)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        if not sc.uiWebUrl:
            raise RuntimeError("Spark UI is off; the traced run needs it")
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def last_job_id(self) -> int:
        return max((j["jobId"] for j in self.jobs_after(-1)), default=-1)

    def jobs_after(self, job_id: int, timeout_s: float = 30.0) -> list[dict]:
        """Finished jobs with ids above ``job_id``, once the listener bus
        has delivered them all (no job running, count unchanged)."""
        deadline = time.monotonic() + timeout_s
        seen = -1
        while True:
            jobs = [j for j in self._get("/jobs") if j["jobId"] > job_id]
            done = all(j["status"] != "RUNNING" for j in jobs)
            if (done and len(jobs) == seen) or time.monotonic() > deadline:
                return jobs
            seen = len(jobs) if done else -1
            time.sleep(0.3)

    def stages(self) -> dict[int, dict]:
        """Latest attempt of every stage that ran (skipped ones omitted)."""
        out: dict[int, dict] = {}
        for s in self._get("/stages"):
            if s["status"] == "SKIPPED":
                continue
            if s["stageId"] not in out or s["attemptId"] > out[s["stageId"]]["attemptId"]:
                out[s["stageId"]] = s
        return out
