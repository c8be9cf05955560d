"""Measurement helpers that look at the program from outside: process-tree
RSS from ``/proc``, Spark's scheduler and status store for the jobs of one
step, and an in-memory span tracer."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")


def cores() -> int:
    """Cores to use: ``SPARK_GRAFT_CPUS`` when set, else the cores this
    process may run on (``nproc``), and never more than those."""
    avail = len(os.sched_getaffinity(0))
    want = int(os.environ.get("SPARK_GRAFT_CPUS") or avail)
    return max(1, min(want, avail))


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _process_tree(root: int) -> set[int]:
    """``root`` and all its live descendants, from the parent pids in
    ``/proc/<pid>/stat``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(name))
    tree, frontier = {root}, [root]
    while frontier:
        for pid in children.get(frontier.pop(), []):
            if pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    return tree


def _tree_rss_bytes(root: int) -> int:
    """Summed resident set of ``root`` and its descendants (the driver, its
    JVM and the Python workers the JVM forks)."""
    total = 0
    for pid in _process_tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            continue
    return total


def tree_cpu_s(root: int) -> float:
    """CPU seconds, user and system, that ``root`` and its descendants have
    used, counting the exited children each one has waited for."""
    total = 0
    for pid in _process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    return total / TICK


class RssSampler:
    """Samples the process tree's RSS on a background thread; ``peak_mb``
    is the largest sum seen."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


# ---------------------------------------------------------------------------
# Spark status tracker / status store
# ---------------------------------------------------------------------------


@dataclass
class JobStats:
    """What Spark recorded for a set of jobs (one op, one query, one pass)."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    executor_run_s: float = 0.0
    task_skew: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    job_spans: list[tuple[int, float, float]] = field(default_factory=list)
    stage_spans: list[tuple[int, str, float, float, int]] = field(default_factory=list)

    def job_covered_s(self) -> float:
        """Wall time during which at least one of the jobs ran."""
        covered, end = 0.0, float("-inf")
        for _, s, e in sorted(self.job_spans, key=lambda j: j[1]):
            if e > end:
                covered += e - max(s, end)
                end = e
        return covered


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def next_job_id(spark) -> int:
    """Id the scheduler gives the next job. Ids are sequential, so the jobs
    of one step are the ids between two readings; this also catches jobs
    that operators submit from their own threads, outside the caller's
    job group."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def job_stats(spark, job_ids) -> JobStats:
    """Read the status store for ``job_ids``: per-stage metrics and the
    task-time summary of the busiest stage."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30_000)
    store = jsc.statusStore()
    out = JobStats()
    busiest = None
    for jid in job_ids:
        jd = store.job(jid)
        out.jobs += 1
        start, end = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
        if start is not None and end is not None:
            out.job_spans.append((jid, start, end))
        sids = jd.stageIds()
        for i in range(sids.size()):
            sd = store.lastStageAttempt(sids.apply(i))
            if sd.status().toString() == "SKIPPED":
                continue
            out.stages += 1
            out.tasks += sd.numTasks()
            out.tasks_failed += sd.numFailedTasks()
            run_s = sd.executorRunTime() / 1000.0
            out.executor_run_s += run_s
            out.shuffle_write_bytes += sd.shuffleWriteBytes()
            out.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            s, e = _opt_ms(sd.submissionTime()), _opt_ms(sd.completionTime())
            if s is not None and e is not None:
                out.stage_spans.append((sd.stageId(), sd.name(), s, e, jid))
            if busiest is None or run_s > busiest[0]:
                busiest = (run_s, sd.stageId(), sd.attemptId())
    if busiest is not None:
        gw = sc._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = store.taskSummary(busiest[1], busiest[2], q)
        if summary.isDefined():
            run = summary.get().executorRunTime()
            med, top = run.apply(0), run.apply(1)
            out.task_skew = top / med if med > 0 else 1.0
    return out


def planning_ms(df) -> float:
    """Catalyst phase time (analysis, optimization, planning) that the
    QueryExecution tracker recorded for ``df``'s own action."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    total = 0.0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return total


# ---------------------------------------------------------------------------
# Tracing
# ---------------------------------------------------------------------------


class Tracer:
    """Spans kept in memory and written out once at the end. A span is
    (id, parent, name, start, end); times are epoch seconds so they line up
    with the status store's job and stage times."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        sid = len(self.spans)
        if self.enabled:
            self.spans.append({"id": sid, "parent": parent, "name": name,
                               "start": start, "end": end, **attrs})
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"id": sid, "parent": parent, "name": name,
                           "start": time.time(), "end": None, **attrs})
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def add_spark(self, parent: int | None, stats: JobStats) -> None:
        """Attach the jobs under ``parent`` and each job's stages under
        the job."""
        if not self.enabled:
            return
        job_ids = {}
        for jid, s, e in stats.job_spans:
            job_ids[jid] = self.add("spark.job", s, e, parent, job_id=jid)
        for sid, name, s, e, jid in stats.stage_spans:
            self.add("spark.stage", s, e, job_ids.get(jid, parent), stage_id=sid, stage=name)

    def self_times(self) -> dict[str, float]:
        """Per span name, total duration minus the part its children cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, end = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    end = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "self_s": self.self_times(), "spans": self.spans}, f, indent=1)


def wait_for_children(timeout_s: float = 60.0) -> list[int]:
    """Wait until every process this one started has exited; returns the
    pids still running at the timeout."""
    deadline = time.time() + timeout_s
    while True:
        left = sorted(_process_tree(os.getpid()) - {os.getpid()})
        if not left or time.time() >= deadline:
            return left
        time.sleep(0.2)


def median_time_us(fn, args_list: list, min_s: float = 0.05, repeats: int = 3) -> float:
    """Median over ``repeats`` of the mean microseconds per call of ``fn``
    over ``args_list``, each repeat looping the list until ``min_s`` passed."""
    if not args_list:
        return 0.0
    per_call = []
    for _ in range(repeats):
        n, t0 = 0, time.perf_counter()
        while True:
            for a in args_list:
                fn(*a)
            n += len(args_list)
            dt = time.perf_counter() - t0
            if dt >= min_s:
                break
        per_call.append(dt / n * 1e6)
    return statistics.median(per_call)
