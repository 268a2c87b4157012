"""Measurement helpers: the /proc process-tree sampler, the Spark status
store reader, the span tracer and the host/provenance record.

Everything here reads state from outside the engine: /proc for the
process tree (driver, JVM, Python workers) and Spark's in-memory status
store for jobs and stages. Nothing changes how the program runs, except
that a traced run sets a job group around each call it makes.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# ------------------------------------------------------- process tree

def _proc_stats() -> dict[int, tuple[int, float, int]]:
    """pid → (ppid, cpu seconds incl. reaped children, rss bytes)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:  # the process exited while we listed /proc
            continue
        fields = raw[raw.rindex(")") + 2:].split()
        # fields[0] is state (stat field 3): ppid=4, utime..cstime=14..17,
        # rss=24 in the 1-based numbering of proc(5)
        ppid = int(fields[1])
        cpu = sum(int(x) for x in fields[11:15]) / _TICK
        rss = int(fields[21]) * _PAGE
        out[int(name)] = (ppid, cpu, rss)
    return out


def _tree(stats: dict, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    todo, seen = [root], []
    while todo:
        pid = todo.pop()
        if pid in stats:
            seen.append(pid)
            todo.extend(kids.get(pid, ()))
    return seen


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by ``root`` (default: this process) and all
    its descendants; children that already exited count through their
    parent's reaped-children time."""
    stats = _proc_stats()
    return sum(stats[p][1] for p in _tree(stats, root or os.getpid()))


class TreeSampler:
    """Background thread that samples the tree's summed RSS, for the peak
    resident memory of a timed region. Its own cost is the thread's CPU
    time, reported as ``overhead_cpu_frac`` of the sampled wall."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_rss = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._cpu = 0.0
        self._wall = 0.0

    def _loop(self) -> None:
        c0, w0 = time.thread_time(), time.perf_counter()
        root = os.getpid()
        while not self._stop.is_set():
            stats = _proc_stats()
            rss = sum(stats[p][2] for p in _tree(stats, root))
            self.peak_rss = max(self.peak_rss, rss)
            self.samples += 1
            self._stop.wait(self.interval_s)
        self._cpu = time.thread_time() - c0
        self._wall = time.perf_counter() - w0

    def __enter__(self) -> "TreeSampler":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        if self._thread.is_alive():
            raise RuntimeError("process-tree sampler did not stop")

    def result(self) -> dict:
        return {
            "peak_rss_mb": self.peak_rss / 2**20,
            "samples": self.samples,
            "overhead_cpu_frac": self._cpu / self._wall if self._wall else 0.0,
        }


# ------------------------------------------------------- status store

@dataclass
class Stage:
    stage_id: int
    tasks: int
    run_s: float  # executorRunTime summed over tasks
    cpu_s: float  # executorCpuTime summed over tasks
    shuffle_read: int
    shuffle_write: int
    pool: str


@dataclass
class Job:
    job_id: int
    group: str | None
    submit: float  # epoch seconds
    complete: float | None
    stages: list[Stage] = field(default_factory=list)

    @property
    def pool(self) -> str:
        """The job's scheduler pool: its result stage's (the job's last
        stage; earlier ones may be shared with, and pooled by, another
        job)."""
        if not self.stages:
            return "default"
        return max(self.stages, key=lambda s: s.stage_id).pool


def _opt(o):
    return o.get() if o.isDefined() else None


class StatusStore:
    """Reader over Spark's in-memory AppStatusStore (it is kept with the
    UI disabled). Jobs and stages beyond ``spark.ui.retainedJobs/Stages``
    are evicted, so read each window soon after it closes."""

    def __init__(self, spark):
        self._store = spark.sparkContext._jsc.sc().statusStore()

    def stage(self, sid: int) -> Stage | None:
        """The last attempt of a stage, or None for a stage that never ran
        (a job skips stages whose shuffle output an earlier job left)."""
        from py4j.protocol import Py4JJavaError

        try:
            s = self._store.lastStageAttempt(sid)
        except Py4JJavaError as e:
            if "NoSuchElementException" in str(e.java_exception):
                return None
            raise
        return Stage(sid, s.numTasks(), s.executorRunTime() / 1e3,
                     s.executorCpuTime() / 1e9, s.shuffleReadBytes(),
                     s.shuffleWriteBytes(), s.schedulingPool())

    def jobs(self, since: float = 0.0, group: str | None = None) -> list[Job]:
        """Jobs submitted at or after ``since`` (epoch s), optionally only
        those of one job group, oldest first, with their executed stages
        (stages a job skipped because an earlier job computed them have
        no attempt and are left out)."""
        seq = self._store.jobsList(None)
        out = []
        for k in range(seq.size()):
            j = seq.apply(k)
            sub = _opt(j.submissionTime())
            if sub is None or sub.getTime() / 1e3 < since:
                continue
            g = _opt(j.jobGroup())
            if group is not None and g != group:
                continue
            done = _opt(j.completionTime())
            ids = j.stageIds()
            stages = (self.stage(ids.apply(n)) for n in range(ids.size()))
            out.append(Job(
                j.jobId(), g, sub.getTime() / 1e3,
                done.getTime() / 1e3 if done is not None else None,
                [st for st in stages if st is not None],
            ))
        out.sort(key=lambda job: job.job_id)
        return out


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
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


def window_metrics(jobs: list[Job], t0: float, t1: float, cores: int) -> dict:
    """The ``pipeline.*`` layer of one untraced unit, from the jobs run in
    [t0, t1]: job and task counts, driver gap (window time no job covers),
    busy fraction (executor run time over cores × window), commit tail
    (window time after the last job outside the ``commits`` pool ended)
    and the executor seconds spent in the ``init`` and ``commits`` pools."""
    win = [j for j in jobs if j.submit < t1 and (j.complete or t1) > t0]
    ivs = [(max(j.submit, t0), min(j.complete or t1, t1)) for j in win]
    stages = {s.stage_id: s for j in win for s in j.stages}.values()
    main_end = max((min(j.complete or t1, t1) for j in win
                    if j.pool != "commits"), default=t0)
    wall = t1 - t0
    return {
        "pipeline.jobs": len(win),
        "pipeline.tasks": sum(s.tasks for s in stages),
        "pipeline.driver_gap_s": wall - _covered(ivs),
        "pipeline.busy_frac": sum(s.run_s for s in stages) / (cores * wall),
        "pipeline.commit_tail_s": max(0.0, t1 - main_end),
        "pipeline.init_core_s": sum(s.run_s for s in stages
                                    if s.pool == "init"),
        "pipeline.commits_core_s": sum(s.run_s for s in stages
                                       if s.pool == "commits"),
    }


# ------------------------------------------------------------ tracing

@dataclass
class Span:
    name: str
    trace_id: str
    span_id: int
    parent: int | None
    start: float
    end: float = 0.0
    core_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_mb: float = 0.0
    jobs: int = 0
    counts: dict = field(default_factory=dict)


class Tracer:
    """Spans recorded by the benchmark around each layer call. A span sets
    its own Spark job group on the calling thread, so the jobs its call
    runs are attributed to it; at close it reads their executor time and
    shuffle bytes from the status store. Spans stay in memory and are
    written out by the caller when the run ends."""

    def __init__(self, spark):
        self.spark = spark
        self.store = StatusStore(spark)
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.trace_id = ""

    def span(self, name: str) -> "_SpanCtx":
        return _SpanCtx(self, name)

    def _group(self, sp: Span | None) -> None:
        sc = self.spark.sparkContext
        if sp is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"{sp.trace_id}/{sp.span_id}", sp.name)

    def _open(self, name: str) -> Span:
        parent = self._stack[-1].span_id if self._stack else None
        sp = Span(name, self.trace_id, len(self.spans), parent, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        self._group(sp)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.time()
        self._stack.pop()
        self._group(self._stack[-1] if self._stack else None)
        jobs = self.store.jobs(since=sp.start - 1.0,
                               group=f"{sp.trace_id}/{sp.span_id}")
        stages = {s.stage_id: s for j in jobs for s in j.stages}.values()
        sp.jobs = len(jobs)
        sp.core_s = sum(s.run_s for s in stages)
        sp.cpu_s = sum(s.cpu_s for s in stages)
        sp.shuffle_mb = sum(s.shuffle_write for s in stages) / 2**20

    def self_time(self, sp: Span) -> float:
        """Span duration minus the part of it its child spans cover."""
        kids = [(c.start, c.end) for c in self.spans if c.parent == sp.span_id
                and c.trace_id == sp.trace_id]
        return (sp.end - sp.start) - _covered(kids)

    def totals(self, name: str) -> dict:
        """Sums over every span of this name (one per wave or cycle)."""
        sel = [s for s in self.spans if s.name == name]
        if not sel:
            raise KeyError(f"no span named {name!r} was recorded")
        counts: dict = {}
        for s in sel:
            for k, v in s.counts.items():
                counts[k] = counts.get(k, 0) + v
        return {
            "wall_s": sum(s.end - s.start for s in sel),
            "core_s": sum(s.core_s for s in sel),
            "shuffle_mb": sum(s.shuffle_mb for s in sel),
            "jobs": sum(s.jobs for s in sel),
            "n": len(sel),
            **counts,
        }

    def dump(self) -> list[dict]:
        return [{**s.__dict__, "self_s": self.self_time(s)}
                for s in self.spans]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name
        self.span: Span | None = None

    def __enter__(self) -> Span:
        self.span = self.tracer._open(self.name)
        return self.span

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.span)


# ------------------------------------------------------ host record

def host_record(spark, root: str, with_control: bool) -> dict:
    """nproc, memory, load, versions, checkout revision and the effective
    Spark conf; with ``with_control`` also ``bench._host_control``'s
    engine-like and DRAM per-worker ceilings at 1 and nproc workers."""
    import pyspark

    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem = {ln.split(":")[0]: int(ln.split()[1]) for ln in fh}
    rec = {
        "nproc": nproc,
        "mem_total_mb": mem["MemTotal"] // 1024,
        "mem_available_mb": mem["MemAvailable"] // 1024,
        "loadavg": os.getloadavg(),
        "pyspark": pyspark.__version__,
        "revision": _revision(root),
        "spark_conf": dict(sorted(spark.sparkContext.getConf().getAll())),
    }
    if with_control:
        import bench

        ctl = bench._host_control(1, nproc)
        rec["host_control"] = {k: ctl[k] for k in (
            "engine_like_s_n", "engine_like_s_4n", "host_ceiling_efficiency",
            "dram_s_n", "dram_s_4n", "dram_ceiling_efficiency")}
    return rec


def _revision(root: str) -> str | None:
    """The checkout's git commit when it is a git work tree, else None."""
    head = os.path.join(root, ".git", "HEAD")
    if not os.path.exists(head):
        return None
    with open(head) as fh:
        ref = fh.read().strip()
    if not ref.startswith("ref: "):
        return ref
    path = os.path.join(root, ".git", ref[5:])
    if os.path.exists(path):
        with open(path) as fh:
            return fh.read().strip()
    return None
