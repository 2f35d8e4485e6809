"""Measurement helpers that read the boundaries around the engine.

Nothing here reaches inside ``ivm_extension_spark``.  Spans time the
benchmark's own calls into the engine; py4j round trips are counted by
wrapping the gateway client's ``send_command``; Spark work is read from the
application status store after the run; memory comes from ``/proc``; the
lakehouse numbers come from the store's manifests on disk.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


def calib_sec() -> float:
    """A fixed single-core CPython loop.  Its time tells a reader how fast
    this host ran when the record was taken; it is context, not a metric."""
    t0 = time.perf_counter()
    x = 0
    for i in range(5_000_000):
        x += i
    return round(time.perf_counter() - t0, 4)


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine view from /proc/stat.
    Time the hypervisor gave to other guests shows as steal; between two
    readings its share tells how much a slow run lost to its neighbours."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile).  With 20 samples or fewer no percentile above the
    median has ten beyond it, so the median is returned."""
    n = len(xs)
    if n == 0:
        return 0.0, 0.0
    if n <= 20:
        return median(xs), 50.0
    s = sorted(xs)
    return s[n - 11], round(100.0 * (n - 10) / n, 2)


# -- py4j -----------------------------------------------------------------------


class Py4JCounter:
    """Counts driver -> JVM round trips per Python thread by wrapping the
    gateway client's ``send_command``.  Counting is switched on and off with
    ``active``, and per thread with ``muted``, so one process can compare
    counted and uncounted calls."""

    def __init__(self, spark) -> None:
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command
        self._lock = threading.Lock()
        self._by_thread: dict[int, int] = {}
        self.active = False
        self.muted: set[int] = set()

        def send_command(*args, **kwargs):
            if self.active:
                tid = threading.get_ident()
                if tid not in self.muted:
                    with self._lock:
                        self._by_thread[tid] = self._by_thread.get(tid, 0) + 1
            return self._orig(*args, **kwargs)

        self._client.send_command = send_command

    def total(self) -> int:
        with self._lock:
            return sum(self._by_thread.values())

    def of_thread(self, tid: int) -> int:
        with self._lock:
            return self._by_thread.get(tid, 0)

    def uninstall(self) -> None:
        self._client.send_command = self._orig


# -- spans ----------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    batch: int | None
    py4j: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans.  ``span`` nests: a span opened inside another names
    it as parent.  With ``counter`` set, each span records the py4j round
    trips made while it was open, by any thread or, with ``thread_only``,
    by the thread that opened it."""

    def __init__(self, counter: Py4JCounter | None = None, thread_only: bool = False) -> None:
        self.spans: list[Span] = []
        self.counter = counter
        self.thread_only = thread_only
        self._stack: list[int] = []

    def _count(self) -> int | None:
        if self.counter is None:
            return None
        if self.thread_only:
            return self.counter.of_thread(threading.get_ident())
        return self.counter.total()

    @contextmanager
    def span(self, name: str, batch: int | None = None, **attrs):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.time(), 0.0, parent, batch, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(idx)
        rt0 = self._count()
        try:
            yield sp
        finally:
            sp.end = time.time()
            if rt0 is not None:
                sp.py4j = self._count() - rt0
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: int | None,
            batch: int | None, **attrs) -> int:
        self.spans.append(Span(name, start, end, parent, batch, attrs=attrs))
        return len(self.spans) - 1

    def self_times(self) -> dict[int, float]:
        """Span index -> self time in seconds: its duration minus the part
        of it its children cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = {}
        for i, s in enumerate(self.spans):
            covered = _union_len(
                [(max(c.start, s.start), min(c.end, s.end)) for c in kids.get(i, [])]
            )
            out[i] = max(0.0, (s.end - s.start) - covered)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        selfs = self.self_times()
        with open(path, "w") as f:
            json.dump(
                [
                    {**s.__dict__, "self_s": round(selfs[i], 6)}
                    for i, s in enumerate(self.spans)
                ],
                f,
            )


class NullTracer:
    """Stands in for Tracer in untraced batches."""

    @contextmanager
    def span(self, name: str, batch: int | None = None, **attrs):
        yield None


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- Spark status store ---------------------------------------------------------


@dataclass
class Job:
    job_id: int
    start: float  # epoch seconds
    end: float
    group: str | None
    stages: int
    tasks: int
    shuffle_bytes: int


def spark_jobs(spark) -> list[Job]:
    """Every job the application status store still holds, with its stage
    and task counts and the shuffle bytes its stages wrote."""
    jvm = spark._jvm
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_module, "MODULE$"))
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    stages = json.loads(
        mapper.writeValueAsString(
            store.stageList(
                None, False, False, sc._gateway.new_array(jvm.double, 0),
                jvm.java.util.ArrayList(),
            )
        )
    )
    by_stage: dict[int, list[dict]] = {}
    for s in stages:
        by_stage.setdefault(s["stageId"], []).append(s)
    out = []
    for j in jobs:
        if j.get("submissionTime") is None:
            continue
        ran = [a for sid in j["stageIds"] for a in by_stage.get(sid, [])
               if a.get("status") != "SKIPPED"]
        out.append(
            Job(
                job_id=j["jobId"],
                start=j["submissionTime"] / 1000.0,
                end=(j.get("completionTime") or j["submissionTime"]) / 1000.0,
                group=j.get("jobGroup"),
                stages=len(ran),
                tasks=sum(a.get("numTasks", 0) for a in ran),
                shuffle_bytes=sum(a.get("shuffleWriteBytes", 0) for a in ran),
            )
        )
    return out


def jobs_in(jobs: list[Job], start: float, end: float) -> list[Job]:
    """Jobs submitted inside [start, end]."""
    return [j for j in jobs if start <= j.start <= end]


def busy_seconds(jobs: list[Job], start: float, end: float) -> float:
    """Seconds of [start, end] during which at least one of ``jobs`` ran."""
    return _union_len([(max(j.start, start), min(j.end, end)) for j in jobs])


def storage_mb(spark) -> float:
    """Memory plus disk held by cached and checkpointed RDD blocks."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def temp_views(spark) -> int:
    return sum(1 for t in spark.catalog.listTables() if t.isTemporary)


def pin_threads() -> int:
    """Live worker threads of the engine's shared submission pool."""
    return sum(1 for t in threading.enumerate() if t.name.startswith("ivm-pin-"))


# -- memory ---------------------------------------------------------------------


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except (FileNotFoundError, ProcessLookupError):
            continue
        # the command may hold spaces and parentheses: ppid follows the last ')'
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(d))
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this Python driver plus every process
    it started, which includes the Spark JVM."""
    me = os.getpid()
    return sum(_status_kb(p, "VmHWM") for p in [me, *descendants(me)]) / 1024.0


# -- lakehouse store ------------------------------------------------------------


def lakehouse_stats(view_dir: str, n_buckets: int, first_version: int) -> dict:
    """Per-commit numbers from the store's manifests for every version after
    ``first_version``: bytes and files written, and the share of buckets the
    commit rewrote."""
    manifests = sorted(
        f for f in os.listdir(view_dir) if f.startswith("manifest-v") and f.endswith(".json")
    )
    versions = {}
    for f in manifests:
        with open(os.path.join(view_dir, f)) as fh:
            m = json.load(fh)
        versions[m["version"]] = m
    commits = []
    for v in sorted(versions):
        if v <= first_version or v - 1 not in versions:
            continue
        prev, cur = versions[v - 1]["buckets"], versions[v]["buckets"]
        rewritten = {b for b, rel in cur.items() if prev.get(b) != rel}
        vdir = os.path.join(view_dir, "files", f"v{v:06d}")
        files, size = 0, 0
        for dirpath, _, names in os.walk(vdir):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(dirpath, n))
        commits.append((size, files, len(rewritten) / n_buckets))
    return {
        "commits": len(commits),
        "bytes_per_commit": median([c[0] for c in commits]),
        "files_per_commit": median([c[1] for c in commits]),
        "bucket_rewrite_share": median([c[2] for c in commits]),
        "versions_live": len(versions),
    }


# -- Structured Streaming -------------------------------------------------------


def source_log_files(checkpoint: str, log_offsets) -> list[str]:
    """Base names of the files a file-stream source planned in the given
    source-log batches (read from the query's checkpoint directory)."""
    out = []
    log_dir = os.path.join(checkpoint, "sources", "0")
    for n in log_offsets:
        path = os.path.join(log_dir, str(n))
        if not os.path.exists(path):
            path += ".compact"
        with open(path) as f:
            lines = f.read().splitlines()[1:]
        for line in lines:
            entry = json.loads(line)
            if entry.get("batchId", n) == n:
                out.append(os.path.basename(entry["path"]))
    return out


def log_offset(offset: dict | None) -> int:
    """The source-log batch of a file-stream offset; -1 before the first."""
    return -1 if offset is None else int(offset["logOffset"])


def progress_epoch(ts: str) -> float:
    """Epoch seconds of a progress timestamp such as 2026-01-02T03:04:05.678Z."""
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc
    ).timestamp()
