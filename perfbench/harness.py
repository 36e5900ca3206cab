"""Measurement plumbing shared by every workload: spans, statistics,
process-tree RSS, Spark per-op counters and run metadata.

Nothing here imports ``fourmc_spark``; the workloads call into the
engine and wrap each call in a span from :class:`Tracer`.
"""

from __future__ import annotations

import json
import math
import os
import platform
import subprocess
import sys
import threading
import time
import urllib.error
import urllib.request
import zlib
from contextlib import contextmanager


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory span recorder. A span has a name, start, end, parent
    span id and the op id it belongs to; spans are kept in a list and
    written once by :meth:`dump`. When disabled, :meth:`span` records
    nothing and costs one attribute test."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "start": time.perf_counter(),
            "end": None,
        }
        if attrs:
            rec["attrs"] = attrs
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> None:
        """Fill ``self_s`` on every span: its duration minus the part of
        it that its children cover (children never overlap: one thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        for s, c in zip(self.spans, child):
            s["dur_s"] = s["end"] - s["start"]
            s["self_s"] = s["dur_s"] - c

    def dump(self, path: str) -> None:
        self.self_times()
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ---------------------------------------------------------------------------
# workload hooks
# ---------------------------------------------------------------------------

class Workload:
    """Defaults for the hooks ``run.py`` and ``layers.py`` call. A workload
    also defines ``name``, ``unit``, ``build(rep)``, ``op(i)`` (returns
    items done and whether the output check passed), ``stored_ratio()``
    and ``read_options()`` (fourmc read options of its data)."""

    setup_reps = 1   # builds in set-up; setup_s takes their median
    warmup_ops = 1   # untimed ops before the measured window
    round_ops = 1    # the window ends on a multiple of this many ops

    def finish(self) -> dict:
        """Work after the window (counted as ops) and its detail."""
        return {"attempted": 0, "failed": 0}

    def scan_path(self) -> str:
        """What the I/O probes read."""
        return self.read_options()["path"]

    def plan_filters(self) -> list[list]:
        """Pushed-filter sets the planning probe plans."""
        return [[]]

    def layer_metrics(self) -> dict:
        return {}


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(xs: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it, once the run has 40 samples (from there on it is
    at or above the upper quartile). With fewer samples no tail
    percentile has ten beyond it; the upper quartile (nearest rank) is
    reported instead, which one slow op cannot move the way it moves
    the maximum."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    rank = n - 10 if n >= 40 else math.ceil(0.75 * n)  # 1-based nearest rank
    return s[rank - 1], 100.0 * rank / n, n


# ---------------------------------------------------------------------------
# process-tree peak RSS (psutil is not available: read /proc)
# ---------------------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    """Parent pid -> child pids, from /proc/<pid>/stat."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:
            continue
        # the parent pid is the second field after the ")" closing the name
        kids.setdefault(int(st[st.rindex(")") + 2:].split()[1]), []).append(int(d))
    return kids


def descendants(root: int) -> set[int]:
    kids = _children()
    out, todo = set(), list(kids.get(root, ()))
    while todo:
        p = todo.pop()
        out.add(p)
        todo.extend(kids.get(p, ()))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, a page shared by n processes
    counting 1/n in each. Python workers fork from one daemon and share
    most of their pages, so summing plain RSS would count those n times."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _tree_rss_bytes(root: int) -> int:
    return sum(_pss_bytes(p) for p in {root} | descendants(root))


def wait_gone(pids: set[int], timeout: float) -> set[int]:
    """Wait until none of *pids* exists; returns those still alive."""
    deadline = time.monotonic() + timeout
    alive = set(pids)
    while alive and time.monotonic() < deadline:
        alive = {p for p in alive if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    return alive


class RssSampler:
    """Samples the resident memory of this process and all its
    descendants (driver, JVM, Python workers), summed as PSS, every
    *interval* seconds."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._t.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._t.join()
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))


# ---------------------------------------------------------------------------
# Spark per-op counters: job group -> status tracker -> UI REST /stages
# ---------------------------------------------------------------------------

SPARK_COUNTERS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_failures",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
    "spark.shuffle_write_bytes", "spark.input_records",
)


class SparkCounters:
    """Collects what the jobs of one job group did, from Spark's public
    status tracker and the UI's REST API (localhost only)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.app = self.sc.applicationId
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{self.app}"
        self._n = 0

    def group(self) -> str:
        self._n += 1
        gid = f"perfbench-{self._n}"
        self.sc.setJobGroup(gid, gid)
        return gid

    def _stage(self, sid: int) -> dict | None:
        url = f"{self.base}/stages/{sid}?details=false"
        try:
            with urllib.request.urlopen(url, timeout=5) as r:
                attempts = json.load(r)
        except urllib.error.HTTPError as e:
            if e.code == 404:  # a stage the job skipped is never submitted
                return {"status": "SKIPPED"}
            raise
        done = [a for a in attempts if a.get("status") in ("COMPLETE", "FAILED", "SKIPPED")]
        return done[-1] if done else None

    def jobs(self, gid: str) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(gid))

    def collect(self, jobs: set[int]) -> dict:
        tr = self.sc.statusTracker()
        jobs = sorted(jobs)
        stage_ids: list[int] = []
        for j in jobs:
            info = tr.getJobInfo(j)
            if info is not None:
                stage_ids.extend(info.stageIds)
        out = dict.fromkeys(SPARK_COUNTERS, 0.0)
        out["spark.jobs"] = len(jobs)
        for sid in sorted(set(stage_ids)):
            st = None
            for _ in range(40):  # the REST listener lags the action
                st = self._stage(sid)
                if st is not None:
                    break
                time.sleep(0.05)
            if st is None or st.get("status") == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += st.get("numCompleteTasks", 0) + st.get("numFailedTasks", 0)
            out["spark.task_failures"] += st.get("numFailedTasks", 0)
            out["spark.executor_run_s"] += st.get("executorRunTime", 0) / 1e3
            out["spark.executor_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
            out["spark.gc_s"] += st.get("jvmGcTime", 0) / 1e3
            out["spark.shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
            out["spark.input_records"] += st.get("inputRecords", 0)
        return out


# ---------------------------------------------------------------------------
# run metadata (recorded, never gated on)
# ---------------------------------------------------------------------------

def cpu_canary() -> float:
    """Seconds for a fixed single-thread zlib job: host steal shows here."""
    data = bytes(range(256)) * 4096
    t = time.perf_counter()
    for _ in range(8):
        zlib.compress(data, 6)
    return time.perf_counter() - t


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal, ... in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to others between two reads."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def _git_commit(root: str) -> str | None:
    try:
        r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return r.stdout.strip() or None


def run_meta(root: str, workload: str, seed: int, nproc: int) -> dict:
    import pyarrow
    import pyspark

    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    return {
        "workload": workload,
        "seed": seed,
        "nproc": nproc,
        "git_commit": _git_commit(root),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "loadavg": [float(x) for x in load],
        "argv": sys.argv[1:],
    }
