"""Outside-in probes: CPU and resident memory of this process tree, read
from /proc, and Spark work attributed to job groups, read from the
application status store (which Spark keeps even with the UI disabled).

The process tree is the benchmark's own Python process, the JVM it launches,
and the JVM's Python worker daemon with its forked workers.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None if the
    process is gone.  Index 0 is field 3 (state) of proc(5)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rfind(")") + 2:].split()


def tree(root: int) -> dict[int, list[str]]:
    """pid -> stat fields of `root` and all its live descendants."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is None:
            continue
        stats[int(name)] = fields
        children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of the tree, including reaped children
    (utime, stime, cutime, cstime: proc(5) fields 14-17)."""
    return sum(
        sum(int(x) for x in f[11:15])
        for f in tree(root or os.getpid()).values()) / _CLK_TCK


def tree_rss_mb(root: int | None = None) -> float:
    """Summed resident set of the tree (proc(5) field 24).  Pages shared
    between forked Python workers count once per process."""
    return sum(int(f[21])
               for f in tree(root or os.getpid()).values()) * _PAGE_MB


class RssSampler:
    """Samples tree_rss_mb on a background thread while entered.

    `peak_mb` is the largest resident set the tree held for `hold_s`: the
    highest minimum over any run of consecutive samples spanning `hold_s`.
    A forked Python worker briefly counts its parent's pages again; over
    ten kg_build runs the plain maximum caught that in two (4.0 GB against
    2.6-2.7 GB), which says nothing about the memory the work needs.
    """

    def __init__(self, interval_s: float = 0.1, hold_s: float = 1.0):
        self.interval_s = interval_s
        self.hold_s = hold_s
        self.samples: list[float] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.is_set():
            self.samples.append(tree_rss_mb())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> RssSampler:
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        s = self.samples
        k = min(len(s), max(1, round(self.hold_s / self.interval_s)))
        return max(min(s[i:i + k]) for i in range(len(s) - k + 1))


class JobTracer:
    """Attributes Spark jobs to named calls through job groups.

    Each `call(name)` block runs under job group `name`; every job Spark
    submits from the block, including adaptive-execution jobs started on
    pool threads, carries that group.  `spans` records each block's name,
    parent and wall-clock interval.  After the traced work, `group_metrics`
    reads the jobs and stages of each group from the status store, and
    `window_metrics` totals every job submitted while the tracer ran,
    grouped or not, so that unattributed work shows as a mismatch.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self.t_start = time.time()

    @contextmanager
    def call(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.sc.setJobGroup(name, name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self._stack.pop()
            if parent is None:
                self.sc._jsc.clearJobGroup()
            else:
                self.sc.setJobGroup(parent, parent)
            self.spans.append({"name": name, "parent": parent,
                               "start": t0, "end": t1})

    def switch(self, name: str) -> None:
        """Send the open call's later jobs to group `name`: marks a boundary
        inside a call the benchmark cannot split itself."""
        self.sc.setJobGroup(name, name)

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _stage_totals(self, job_ids) -> dict:
        store = self._jsc.statusStore()
        tot = {"jobs": 0, "tasks": 0, "busy_s": 0.0, "gc_s": 0.0,
               "shuffle_mb": 0.0, "spill_mb": 0.0, "failed_tasks": 0}
        seen: set[int] = set()
        for jid in job_ids:
            tot["jobs"] += 1
            job = store.job(jid)
            for sid in self._conv.asJava(job.stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                st = store.lastStageAttempt(sid)
                if str(st.status()) == "SKIPPED":
                    continue
                tot["tasks"] += st.numTasks()
                tot["failed_tasks"] += st.numFailedTasks()
                tot["busy_s"] += st.executorRunTime() / 1e3
                tot["gc_s"] += st.jvmGcTime() / 1e3
                tot["shuffle_mb"] += st.shuffleWriteBytes() / 2**20
                tot["spill_mb"] += st.diskBytesSpilled() / 2**20
        return tot

    def group_metrics(self, group: str) -> dict:
        self._drain()
        ids = self.sc.statusTracker().getJobIdsForGroup(group)
        return self._stage_totals(sorted(ids))

    def window_jobs(self) -> list[tuple[int, str | None]]:
        """(job id, group) of every job submitted since the tracer began."""
        self._drain()
        store = self._jsc.statusStore()
        start_ms = int(self.t_start * 1e3)
        out = []
        for job in self._conv.asJava(store.jobsList(None)):
            sub = job.submissionTime()
            if sub.isDefined() and sub.get().getTime() >= start_ms:
                grp = job.jobGroup()
                out.append((job.jobId(),
                            grp.get() if grp.isDefined() else None))
        return sorted(out)

    def window_metrics(self) -> dict:
        return self._stage_totals([j for j, _ in self.window_jobs()])
