"""Shared machinery of the benchmark: the run context, the Spark
session and the processes behind it, Spark status-store counters, the
span tracer, and the run stamp.

Every layer is measured from outside: spans wrap calls into a module's
public functions, and counters come from Spark's in-process status
stores. Nothing here reaches into ``chess_pipeline_spark`` internals.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

from py4j.protocol import Py4JJavaError

_CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass
class Context:
    """One run's settings and its operation ledger: every operation
    the workload attempts counts once, and every operation that raised
    or whose output failed a check is recorded in ``failures``."""

    root: Path
    work: Path
    seed: int
    seconds: float
    trace: bool
    cores: int
    attempted: int = 0
    failures: list[str] = field(default_factory=list)

    def attempt(self, n: int = 1) -> None:
        self.attempted += n

    def fail(self, what: str) -> None:
        print(f"perfbench: FAILED {what}", file=sys.stderr)
        self.failures.append(what)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.fail(what)


@dataclass
class Outcome:
    """What a workload's run hands back to the entry point: the
    round time it reports, each timed round's wall times by part
    (query or step), and its set-up. ``named`` maps a metric name to
    (value, unit); ``layers`` maps a per-layer metric of
    ``BENCHMARK.json`` to its value."""

    round_s: float
    rounds: list[dict[str, float]]
    warmup_s: float
    named: dict[str, tuple[float, str]]
    layers: dict[str, float]
    tracer: Tracer


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _CLK_TCK


# -- processes ---------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cpu_s(pid: int) -> float:
    """utime + stime of ``pid`` and of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return sum(int(x) for x in fields[11:15]) / _CLK_TCK


@dataclass
class Spark:
    """The benchmark's SparkSession and the processes behind it."""

    session: object

    @property
    def sc(self):
        return self.session.sparkContext

    @property
    def jvm_pid(self) -> int:
        return self.sc._gateway.proc.pid

    def python_workers(self) -> list[int]:
        return [p for p in descendants(self.jvm_pid) if _is_python(p)]

    def python_worker_cpu_s(self) -> float:
        return sum(_cpu_s(p) for p in self.python_workers())

    def stop(self, timeout_s: float = 60.0) -> None:
        """Stop the session, then the JVM and the Python workers it
        started, and wait until every one of those processes is gone."""
        gateway = self.sc._gateway
        procs = [gateway.proc.pid, *descendants(gateway.proc.pid)]
        self.session.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=timeout_s)
        deadline = time.monotonic() + timeout_s
        while any(os.path.exists(f"/proc/{p}") for p in procs):
            if time.monotonic() > deadline:
                for p in procs:
                    try:
                        os.kill(p, 9)
                    except ProcessLookupError:
                        pass
                break
            time.sleep(0.05)

    def jvm_hwm_mb(self) -> float:
        return _status_kb(self.jvm_pid, "VmHWM") / 1024

    def workers_rss_mb(self) -> float:
        return sum(_status_kb(p, "VmRSS") for p in self.python_workers()) / 1024


class RssSampler:
    """Peak resident memory of the Spark JVM plus its Python workers:
    the JVM's own high-water mark, plus the workers' summed RSS sampled
    a few times a second (workers come and go during a run, so their
    high-water marks at the end would miss the ones that exited)."""

    def __init__(self, spark: Spark, period_s: float = 0.25) -> None:
        self.spark = spark
        self.period_s = period_s
        self.workers_peak_mb = 0.0
        self.jvm_peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.workers_peak_mb = max(self.workers_peak_mb, self.spark.workers_rss_mb())
            if self._stop.wait(self.period_s):
                return

    @property
    def peak_mb(self) -> float:
        return self.jvm_peak_mb + self.workers_peak_mb

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.jvm_peak_mb = self.spark.jvm_hwm_mb()


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"python" in f.read().split(b"\0", 1)[0]
    except OSError:
        return False


def start_spark(cores: int) -> Spark:
    """The engine's own session factory on ``local[cores]``."""
    from chess_pipeline_spark.session import get_spark

    session = get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores)
    return Spark(session)


# -- Spark status-store counters ---------------------------------------

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "sched_wait_s",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "input_bytes",
    "output_bytes",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
)


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() if opt.isDefined() else None


def spark_counters(spark: Spark, groups: list[str], seen: set[int]) -> dict[str, float]:
    """Sum the status store's per-stage metrics over every job run
    under the given job groups. A stage id in ``seen`` was already
    counted (a later job lists a reused stage too); counted ids are
    added to it."""
    tracker = spark.sc.statusTracker()
    store = spark.sc._jsc.sc().statusStore()
    out = dict.fromkeys(COUNTERS, 0.0)
    stage_ids: set[int] = set()
    for g in groups:
        for job in tracker.getJobIdsForGroup(g):
            out["jobs"] += 1
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
    for sid in sorted(stage_ids - seen):
        seen.add(sid)
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # the store no longer holds the stage
            continue
        if sd.numCompleteTasks() == 0:
            continue  # skipped: its output was reused
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks()
        submitted = _opt_ms(sd.submissionTime())
        launched = _opt_ms(sd.firstTaskLaunchedTime())
        if submitted is not None and launched is not None:
            out["sched_wait_s"] += max(0.0, launched - submitted) / 1000
        out["executor_run_s"] += sd.executorRunTime() / 1000
        out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
        out["gc_s"] += sd.jvmGcTime() / 1000
        out["input_bytes"] += sd.inputBytes()
        out["output_bytes"] += sd.outputBytes()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["shuffle_read_bytes"] += sd.shuffleReadBytes()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return out


# -- plans ---------------------------------------------------------------


def catalyst_phases_s(df) -> float:
    """Analysis + optimization + planning time of ``df``'s own
    QueryExecution. Forces ``executedPlan`` first: a noop write plans
    again under its own QueryExecution, so the frame's phases must be
    read from the frame."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    for name in ("analysis", "optimization", "planning"):
        if phases.contains(name):
            total += phases.apply(name).durationMs() / 1000
    return total


def _plan_nodes(node):
    yield node
    kind = node.getClass().getSimpleName()
    if kind == "AdaptiveSparkPlanExec":
        yield from _plan_nodes(node.executedPlan())
        return
    if kind.endswith("QueryStageExec"):
        yield from _plan_nodes(node.plan())
        return
    if kind == "InMemoryTableScanExec":
        yield from _plan_nodes(node.relation().cachedPlan())
    kids = node.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


def execute_with_metrics(df, names: tuple[str, ...]) -> dict[str, float]:
    """Run ``df`` under its own QueryExecution and sum the named SQL
    metrics over the executed plan's nodes."""
    qe = df._jdf.queryExecution()
    qe.toRdd().count()
    out = dict.fromkeys(names, 0.0)
    for node in _plan_nodes(qe.executedPlan()):
        metrics = node.metrics()
        for n in names:
            m = metrics.get(n)
            if m.isDefined():
                out[n] += m.get().value()
    return out


# -- tracing -------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    group: str
    end: float = 0.0
    # job groups besides ``group`` whose jobs belong to the span: a
    # streaming query runs its micro-batches under its run id
    extra_groups: list[str] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)
    attrs: dict[str, float] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans around calls into the layers' public functions. Each span
    runs its Spark jobs under its own job group, so its counters are
    the jobs it caused. Spans stay in memory and are written out by
    ``dump`` when the run ends. A disabled tracer only times."""

    def __init__(self, spark: Spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._seen_stages: set[int] = set()

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), parent, f"pb-{uuid.uuid4().hex[:12]}")
        self.spans.append(sp)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        if self.enabled:
            self.spark.sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                if parent is None:
                    self.spark.sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    p = self.spans[parent]
                    self.spark.sc.setJobGroup(p.group, p.name)
                sp.counters = spark_counters(
                    self.spark, [sp.group, *sp.extra_groups], self._seen_stages
                )

    def total(self, name: str) -> float:
        return sum(s.seconds for s in self.spans if s.name == name)

    def counter(self, name_prefix: str, key: str) -> float:
        return sum(
            s.counters.get(key, 0.0)
            for s in self.spans
            if s.name.startswith(name_prefix)
        )

    def layer_spans(self) -> list[Span]:
        """Spans of the program's work, without the tracer's own
        measuring spans."""
        return [s for s in self.spans if not s.name.startswith("trace.")]

    def dump(self, path: Path) -> None:
        rows = [
            {
                "id": i,
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "counters": s.counters,
                "attrs": s.attrs,
            }
            for i, s in enumerate(self.spans)
        ]
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(rows, indent=1) + "\n")


def spark_layer(tracer: Tracer) -> dict[str, float]:
    """The workload's Spark totals over the traced spans."""
    return {
        f"spark.{c}": sum(s.counters.get(c, 0.0) for s in tracer.layer_spans())
        for c in COUNTERS
        if c != "output_bytes"
    }


# -- stamp ---------------------------------------------------------------


def source_digest(root: Path) -> str:
    """SHA-1 over the engine package's sources: identifies the code
    measured when the checkout carries no git metadata."""
    h = hashlib.sha1()
    pkg = root / "chess_pipeline_spark"
    for p in sorted(pkg.rglob("*.py")):
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def git_sha(root: Path) -> str:
    """HEAD of the checkout, or "unknown" when it is no git work tree."""
    if not (root / ".git").exists():
        return "unknown"
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=root,
            capture_output=True,
            text=True,
            timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    machine's CPUs since boot: its growth over a run shows contention
    from outside the run."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _CLK_TCK
