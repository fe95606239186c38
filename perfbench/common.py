"""Shared machinery of the benchmark: the pinned run environment, the
Spark session, the span recorder, Spark status-store readers and the
statistics every workload reports.

Nothing here changes the program under test. Layers are timed from
outside the package: the workloads wrap the public functions they call
(and the names a module looked up at import time) and read Spark's
status tracker and status store after the work has run.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import statistics
import subprocess
import sys
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
DATA_DIR = os.path.join(BENCH_DIR, ".data", "sf0.1")
OUT_DIR = os.path.join(BENCH_DIR, ".out")


# -- run environment ----------------------------------------------------

def cores() -> int:
    """local[N]: at most 4 cores, and one core fewer than nproc so the
    client, the Python driver and the JVM's JIT and GC threads do not
    contend with the task threads."""
    return max(1, min(4, (os.cpu_count() or 2) - 1))


def loadavg_1m() -> float:
    return os.getloadavg()[0]


def pin_environment(seed: int, workload: str) -> dict:
    """Pin what the engine would otherwise read from the caller's
    environment and return the record printed with every result."""
    n = cores()
    os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    tmp = os.path.join(OUT_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp  # operators' tempfile.mkdtemp stays inside
    import tempfile

    tempfile.tempdir = tmp
    return {
        "workload": workload,
        "seed": seed,
        "master": f"local[{n}]",
        "nproc": os.cpu_count(),
        "spark_graft_extra_conf": None,
        "loadavg_1m_before": loadavg_1m(),
        "flush_policy": "local filesystem default (no fsync requested)",
    }


def ensure_corpus() -> None:
    """Build the fixed corpus once per checkout (the benchmark's build
    step); later runs reuse it. Generation runs in its own process so
    its JVM never warms the measured one."""
    if os.path.exists(os.path.join(DATA_DIR, "_COMPLETE")):
        return
    subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "datagen.py"), DATA_DIR],
        check=True, stdout=sys.stderr, cwd=ROOT,
    )


def start_session():
    """The program's own session: master and shuffle partitions come
    from the pinned SPARK_GRAFT_CPUS, as for any caller of get_spark."""
    from presto_on_ray_spark.session import get_spark

    tmp = os.path.join(OUT_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "1g",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(OUT_DIR, "warehouse"),
            # initial heap = max heap, so peak RSS does not depend on
            # when the collector chose to grow the heap
            "spark.driver.extraJavaOptions": f"-Xms1g -Djava.io.tmpdir={tmp}"
            f" -Dderby.system.home={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def versions(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
    }


def _vm_hwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak RSS of this Python driver plus its JVM child (sum of the two
    high-water marks)."""
    jvm_pid = spark.sparkContext._gateway.proc.pid
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM child to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    with contextlib.suppress(Exception):
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0


# -- statistics -----------------------------------------------------------

TAIL_BEYOND = 10


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least TAIL_BEYOND samples beyond
    it: the (TAIL_BEYOND+1)-th largest value, at percentile
    100*(n-TAIL_BEYOND)/n. With n <= TAIL_BEYOND no percentile has that
    many samples beyond it, so the maximum (percentile 100) stands in.
    Returns (value, percentile)."""
    if not values:
        raise ValueError("tail of no samples")
    s = sorted(values)
    n = len(s)
    if n <= TAIL_BEYOND:
        return s[-1], 100.0
    return s[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n


class Accounting:
    """Operations attempted and failed. An operation fails when it errors,
    is refused, or its output does not match the reference."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def record(self, what: str, problems: list[str]) -> bool:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.append(f"{what}: {'; '.join(problems)[:300]}")
        return not problems

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0

    @property
    def ok_frac(self) -> float:
        return 1.0 - self.failed_frac


# -- spans ----------------------------------------------------------------

class Tracer:
    """In-memory span recorder: (id, name, start, end, parent, op).

    Spans nest per thread. A span opened on a thread with no open span
    (a server handler thread, the streaming thread) gets the current
    operation's root span as its parent. Disabled, every call is a
    no-op, so the untraced run pays only a flag test."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._tl = threading.local()
        self._lock = threading.Lock()
        self.op_id: str | None = None
        self.op_root: int | None = None

    def _stack(self) -> list[int]:
        if not hasattr(self._tl, "stack"):
            self._tl.stack = []
        return self._tl.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else self.op_root
        rec = {"id": sid, "name": name, "parent": parent, "op": self.op_id,
               "start": time.perf_counter(), "end": None, **attrs}
        stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def begin(self, op_id: str, name: str, **attrs) -> dict | None:
        """Open the root span of one operation; spans on threads with no
        open span attach to it until ``finish``."""
        if not self.enabled:
            return None
        rec = {"id": next(self._ids), "name": name, "parent": None,
               "op": op_id, "start": time.perf_counter(), "end": None, **attrs}
        self.op_id, self.op_root = op_id, rec["id"]
        return rec

    def finish(self, rec: dict | None) -> None:
        if rec is None:
            return
        rec["end"] = time.perf_counter()
        self.op_id = self.op_root = None
        with self._lock:
            self.spans.append(rec)

    @contextlib.contextmanager
    def op(self, op_id: str, name: str, **attrs):
        rec = self.begin(op_id, name, **attrs)
        try:
            yield rec
        finally:
            self.finish(rec)

    def by_op(self) -> dict[str, list[dict]]:
        out: dict[str, list[dict]] = {}
        for s in self.spans:
            out.setdefault(s["op"], []).append(s)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = min((s["start"] for s in self.spans), default=0.0)
        rows = [
            {**s, "start": round((s["start"] - t0) * 1e3, 3),
             "end": round((s["end"] - t0) * 1e3, 3)}
            for s in sorted(self.spans, key=lambda s: s["start"])
        ]
        with open(path, "w") as f:
            json.dump({"unit": "ms since first span", "spans": rows}, f)


def span_ms(spans: list[dict], name: str) -> float:
    return sum((s["end"] - s["start"]) * 1e3 for s in spans if s["name"] == name)


def self_ms(spans: list[dict], name: str) -> float:
    """Duration of the ``name`` spans minus the part of their interval
    covered by their direct children."""
    total = 0.0
    for s in spans:
        if s["name"] != name:
            continue
        kids = sorted(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in spans if c["parent"] == s["id"]
        )
        total += (s["end"] - s["start"]) - _union(kids)
    return total * 1e3


def _union(intervals) -> float:
    covered, cur_s, cur_e = 0.0, None, None
    for a, b in intervals:
        if b <= a:
            continue
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


# -- Spark status ---------------------------------------------------------

SPARK_KEYS = ("jobs", "stages", "tasks", "tasks_per_job", "exec_ms",
              "executor_run_ms", "core_util", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes")


class SparkStatus:
    """Job and stage metrics from the status tracker (job ids per job
    group) and the status store (job wall times, stage metrics). Read
    once after the work has run, so the reads are never timed."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        self.jobs: dict[int, tuple[float, float, list[int]]] = {}
        jl = store.jobsList(None)
        for i in range(jl.size()):
            jd = jl.apply(i)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                ids = jd.stageIds()
                self.jobs[jd.jobId()] = (
                    sub.get().getTime() / 1e3, done.get().getTime() / 1e3,
                    [ids.apply(k) for k in range(ids.size())])
        self.stages: dict[int, dict] = {}
        sl = store.stageList(
            gw.jvm.java.util.ArrayList(), False, False,
            gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList(),
        )
        for i in range(sl.size()):
            s = sl.apply(i)
            row = self.stages.setdefault(s.stageId(), dict.fromkeys(
                ("tasks", "executor_run_ms", "shuffle_read_bytes",
                 "shuffle_write_bytes", "spill_bytes"), 0))
            row["tasks"] += s.numTasks()
            row["executor_run_ms"] += s.executorRunTime()
            row["shuffle_read_bytes"] += s.shuffleReadBytes()
            row["shuffle_write_bytes"] += s.shuffleWriteBytes()
            row["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()

    def group_jobs(self, *groups: str) -> list[int]:
        return [j for g in groups for j in self.tracker.getJobIdsForGroup(g)]

    def window_jobs(self, t0: float, t1: float) -> list[int]:
        """Jobs submitted inside [t0, t1] (wall-clock seconds): with one
        operation in flight this also catches jobs that helper threads
        of the operation fire outside its job group."""
        return [j for j, (sub, _, _) in self.jobs.items() if t0 <= sub <= t1]

    def metrics(self, jobs: list[int]) -> dict[str, float]:
        """SPARK_KEYS over ``jobs``; exec_ms is the union of the jobs'
        wall intervals, core_util the executor run time over exec_ms
        times the core count."""
        out = dict.fromkeys(SPARK_KEYS, 0.0)
        known = [self.jobs[j] for j in jobs if j in self.jobs]
        stage_ids = {s for _, _, ids in known for s in ids}
        for sid in stage_ids:
            row = self.stages.get(sid)
            if row is None:
                continue  # skipped stage: its shuffle output was reused
            out["stages"] += 1
            for k, v in row.items():
                out[k] += v
        out["jobs"] = float(len(jobs))
        out["exec_ms"] = _union(sorted((a, b) for a, b, _ in known)) * 1e3
        out["tasks_per_job"] = out["tasks"] / len(jobs) if jobs else 0.0
        out["core_util"] = (
            out["executor_run_ms"] / (out["exec_ms"] * cores())
            if out["exec_ms"] else 0.0
        )
        return out


def storage_bytes(spark) -> int:
    """Bytes of cached blocks (memory + disk) right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


@contextlib.contextmanager
def job_group(sc, group: str):
    """Tag the calling thread's jobs; groups are thread-local in Spark,
    so this must run on the thread that fires the jobs."""
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


@contextlib.contextmanager
def patched(obj, name: str, wrapper_factory):
    """Replace ``obj.name`` with wrapper_factory(original) for the
    duration; restores the original afterwards."""
    original = getattr(obj, name)
    setattr(obj, name, wrapper_factory(original))
    try:
        yield original
    finally:
        setattr(obj, name, original)


def median_of(rows: list[dict], key: str) -> float:
    vals = [r[key] for r in rows if key in r]
    return float(statistics.median(vals)) if vals else 0.0
