"""Benchmark plumbing: launch environment, op records, spans, probes.

Nothing here reaches inside the engine package. Spans wrap calls into its
public functions; Spark counts come from ``SparkContext.statusTracker()``
with one job group per op call; memory comes from ``/proc`` and from the
bytes under the engine's block directory.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "approximate_pagerank_public_spark"
TMP_ROOT = REPO_ROOT / ".perfbench_tmp"


def task_slots() -> int:
    return len(os.sched_getaffinity(0))


class RunDirs:
    """Per-run scratch tree under the checkout, removed by :meth:`remove`.

    ``shm`` is the engine's block root (``SPARK_GRAFT_SHM``): the benchmark
    keeps every file it or the engine writes inside the checkout."""

    def __init__(self, tag: str):
        self.root = TMP_ROOT / f"{tag}-{uuid.uuid4().hex[:12]}"
        self.shm = self.root / "shm"
        self.spark_local = self.root / "spark-local"
        self.tmp = self.root / "tmp"
        self.ckpt = self.root / "ckpt"
        for d in (self.shm, self.spark_local, self.tmp, self.ckpt):
            d.mkdir(parents=True, exist_ok=True)

    def remove(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        try:
            TMP_ROOT.rmdir()  # only when no other run is using it
        except OSError:
            pass


def launch_env(dirs: RunDirs) -> dict[str, str]:
    """Environment for the Spark launch: ``local[nproc]``, workers that
    import the package from the checkout whatever their cwd, and every
    scratch directory inside the run tree."""
    java_opts = f"-Djava.io.tmpdir={dirs.tmp} -XX:-UsePerfData"
    py_path = [str(REPO_ROOT)]
    if os.environ.get("PYTHONPATH"):
        py_path.append(os.environ["PYTHONPATH"])
    return {
        "SPARK_GRAFT_CPUS": str(task_slots()),
        # the session's documented sizing, 2-3x the task slots
        "SPARK_SHUFFLE_PARTITIONS": str(2 * task_slots()),
        # a 1 GB heap holds every workload; the 8 GB default only lets the
        # committed heap, and so peak memory, wander with GC timing
        "SPARK_DRIVER_MEMORY": "1g",
        "SPARK_GRAFT_SHM": str(dirs.shm),
        "SPARK_LOCAL_DIRS": str(dirs.spark_local),
        "TMPDIR": str(dirs.tmp),
        "PYTHONPATH": os.pathsep.join(py_path),
        "PYSPARK_SUBMIT_ARGS": (
            f'--driver-java-options "{java_opts}" '
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    }


def dir_bytes(path: Path | str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except FileNotFoundError:  # removed while walking
                pass
    return total


def _process_tree(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry.name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_pss_bytes(root_pid: int) -> dict[str, int]:
    """Proportional set size of the driver, the JVM it launched and the
    Python workers: pages shared between them (the mmapped CSR blocks)
    are split among the sharers instead of counted once per process."""
    parts = {"driver": _pss_bytes(root_pid), "jvm": 0, "workers": 0, "processes": 0}
    for pid in _process_tree(root_pid)[1:]:
        try:
            with open(f"/proc/{pid}/comm") as f:
                kind = "jvm" if f.read().strip() == "java" else "workers"
        except OSError:
            continue
        parts[kind] += _pss_bytes(pid)
        parts["processes"] += 1
    return parts


def stop_spark(spark) -> None:
    """Stop Spark, then the gateway JVM it runs in, and wait until the JVM
    and every other process this run started have ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while len(_process_tree(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


class MemorySampler:
    """One thread sampling process-tree PSS + block-directory bytes."""

    def __init__(self, shm_dir: Path, interval_s: float = 0.25):
        self.shm_dir = shm_dir
        self.interval_s = interval_s
        self.peak_total = 0
        self.peak_shm = 0
        self.peak_parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="mem-sampler", daemon=True)

    def sample(self) -> None:
        shm = dir_bytes(self.shm_dir)
        parts = tree_pss_bytes(os.getpid())
        total = parts["driver"] + parts["jvm"] + parts["workers"] + shm
        self.peak_shm = max(self.peak_shm, shm)
        if total > self.peak_total:
            self.peak_total = total
            self.peak_parts = {**parts, "shm": shm}

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> "MemorySampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        """End the sampled window; later calls are no-ops."""
        if self._stop.is_set():
            return
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()


@dataclass
class OpRecord:
    op: str
    wall_s: float
    ok: bool
    info: dict = field(default_factory=dict)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    attrs: dict


class Recorder:
    """Op outcomes for every run; spans and Spark/resource probes only when
    tracing. Op failures (raised, or a failed output check) are counted,
    never retried."""

    def __init__(self, spark=None, trace: bool = False, shm_dir: Path | None = None):
        self.spark = spark
        self.trace = trace
        self.shm_dir = shm_dir
        self.ops: list[OpRecord] = []
        self.spans: list[Span] = []
        self._stack: list[str] = []
        self._groups = 0
        self.t0 = time.perf_counter()

    # ------------------------------------------------------------- spans
    @contextmanager
    def span(self, name: str, **attrs):
        """Time a block; recorded only when tracing. Yields ``attrs`` so the
        caller can attach counts measured at the same boundary."""
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.perf_counter()
        try:
            yield attrs
        finally:
            end = time.perf_counter()
            self._stack.pop()
            attrs["wall_s"] = end - start
            if self.trace:
                self.spans.append(Span(name, start - self.t0, end - self.t0, parent, attrs))

    # --------------------------------------------------------------- ops
    def run_op(self, op: str, fn, check=None):
        """Call ``fn()`` (which returns a materialized result) in the timed
        window; ``check(result)`` runs after it, untimed, and returns an
        info dict or raises ``AssertionError`` on a wrong output. Returns
        ``(record, result)``; ``result`` is None when the op failed."""
        probe = self._probe_before() if self.trace else None
        with self.span(f"op.{op}") as attrs:
            start = time.perf_counter()
            try:
                result = fn()
                ok = True
            except Exception as ex:  # the loop must go on and count it
                result, ok = None, False
                attrs["error"] = f"{type(ex).__name__}: {str(ex)[:300]}"
            wall = time.perf_counter() - start
            if probe is not None:
                attrs.update(self._probe_after(probe))
        info: dict = {}
        if ok and check is not None:
            try:
                info = check(result) or {}
            except AssertionError as ex:
                ok = False
                info = {"check_failed": str(ex)[:300]}
        rec = OpRecord(op, wall, ok, {**info, **attrs})
        self.ops.append(rec)
        return rec, (result if ok else None)

    def _probe_before(self) -> dict:
        sc = self.spark.sparkContext
        self._groups += 1
        group = f"perfbench-{self._groups}"
        sc.setJobGroup(group, group)
        return {
            "group": group,
            "persisted": sc._jsc.getPersistentRDDs().size(),
            "shm": dir_bytes(self.shm_dir),
        }

    def _probe_after(self, probe: dict) -> dict:
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(probe["group"])
        stages = tasks = failed = 0
        for jid in sorted(jobs):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                stages += 1
                st = tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numTasks
                    failed += st.numFailedTasks
        return {
            "spark_jobs": len(jobs),
            "spark_stages": stages,
            "spark_tasks": tasks,
            "spark_failed_tasks": failed,
            "persisted_leaked": sc._jsc.getPersistentRDDs().size() - probe["persisted"],
            "shm_growth_b": dir_bytes(self.shm_dir) - probe["shm"],
        }

    # ----------------------------------------------------------- summary
    def of(self, op: str) -> list[OpRecord]:
        return [r for r in self.ops if r.op == op]

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(not r.ok for r in self.ops)


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> tuple[float, float, int]:
    """``(value, percentile, n)``: the highest percentile with at least ten
    samples above it, never below the median. With fewer than 20 samples
    that is the median."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0, 50.0, 0
    pct = max(50.0, 100.0 * (n - 10) / n)
    if pct == 50.0:
        return float(statistics.median(xs)), 50.0, n
    return float(xs[n - 11]), pct, n
