"""Run-time plumbing shared by the workloads: a work directory inside the
checkout, the Spark session (from the package's own ``get_spark``), the
operation log, percentiles, peak memory, and process teardown."""

from __future__ import annotations

import contextlib
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

import spans

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: per-process, so concurrent runs in one checkout cannot clobber each other
WORK = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
OUT = os.path.join(ROOT, ".perfbench_out")
CORES = 4
DRIVER_MEMORY = "2g"
#: Driver heap held at ``DRIVER_MEMORY`` with a fixed young generation, so
#: G1 does not resize either from measured pause times; left to do so, it
#: put the same ``store_mix`` cycle's JVM peak anywhere in 860-1,230 MB,
#: following the host's CPU steal (README.md, "Peak memory").
HEAP_OPTS = (f"-Xms{DRIVER_MEMORY}", "-Xmn256m")


class MissingProgram(RuntimeError):
    """The package under test is not in this checkout."""


def prepare_env() -> None:
    """Point every temporary file of Python, the JVM and Spark into the
    work directory and import the package from this checkout only."""
    if not os.path.isfile(os.path.join(ROOT, "topic_store_spark", "__init__.py")):
        raise MissingProgram(f"topic_store_spark not found under {ROOT}")
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # the launcher JVM that spark-class runs first takes SPARK_LAUNCHER_OPTS
    for var in ("SPARK_SUBMIT_OPTS", "SPARK_LAUNCHER_OPTS"):
        os.environ[var] = " ".join(filter(None, [
            os.environ.get(var), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]))
    os.environ["SPARK_SUBMIT_OPTS"] += " " + " ".join(HEAP_OPTS)
    import tempfile

    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)
    import topic_store_spark

    if not os.path.abspath(topic_store_spark.__file__).startswith(ROOT + os.sep):
        raise MissingProgram("topic_store_spark imported from outside the checkout")


@contextlib.contextmanager
def phase(name: str):
    """Report a phase's wall time on stderr (diagnostics only)."""
    t0 = time.perf_counter()
    try:
        yield
    finally:
        print(f"perfbench: {name} took {time.perf_counter() - t0:.2f} s", file=sys.stderr)


def work_path(*parts: str) -> str:
    return os.path.join(WORK, *parts)


def start_spark():
    """The package's session factory on ``CORES`` local cores; returns
    (session, seconds taken)."""
    from topic_store_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark(master=f"local[{CORES}]", shuffle_partitions=CORES)
    return spark, time.perf_counter() - t0


def redirect_checkpoints() -> None:
    """``ScenarioRunner.run`` checkpoints under ``/tmp``; keep the
    directory name but move it into the work directory."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    original = DataStreamWriter.option
    root = work_path("checkpoints")

    def option(self, key, value):
        if key == "checkpointLocation" and str(value).startswith("/tmp/"):
            value = os.path.join(root, os.path.basename(str(value)))
        return original(self, key, value)

    DataStreamWriter.option = option


def _files(root: str) -> list[str]:
    return [os.path.join(d, f) for d, _, names in os.walk(root) for f in names]


def part_files(root: str) -> list[str]:
    """The parquet part files of a store directory."""
    return [f for f in _files(root) if os.path.basename(f).startswith("part-")]


def tree_bytes(root: str) -> int:
    return sum(map(os.path.getsize, _files(root)))


# -- operation log ---------------------------------------------------------------


@dataclass
class Op:
    kind: str          # e.g. "find_filter"
    cls: str           # read | write | etl | snapshot | build
    seconds: float
    error: str | None  # exception or reference mismatch
    result: object = None


@dataclass
class OpLog:
    ops: list[Op] = field(default_factory=list)
    wrong: int = 0     # ops whose result mismatched the reference

    def run(self, kind: str, cls: str, call, check) -> object:
        """Time ``call()``, then verify its result with ``check(result)``
        (returns None or a mismatch text).  Exceptions and mismatches both
        count as failed operations; only completed calls carry a latency."""
        t0 = time.perf_counter()
        try:
            result = call()
        except Exception as exc:  # the benchmark reports every failure
            self.ops.append(Op(kind, cls, time.perf_counter() - t0,
                               f"{type(exc).__name__}: {str(exc)[:160]}"))
            return None
        elapsed = time.perf_counter() - t0
        error = check(result)
        if error:
            self.wrong += 1
        self.ops.append(Op(kind, cls, elapsed, error, result))
        return result

    def failed(self) -> int:
        return sum(op.error is not None for op in self.ops)

    def latencies(self, cls: str | None = None) -> list[float]:
        return [op.seconds for op in self.ops
                if op.error is None and (cls is None or op.cls == cls)]

    def errors(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for op in self.ops:
            if op.error is not None:
                key = f"{op.kind}: {op.error[:100]}"
                out[key] = out.get(key, 0) + 1
        return out


@dataclass
class Result:
    """What a workload reports: end-to-end ``metrics``, extra ``notes``
    for the printed table, and, on a traced run, per-layer ``layers``."""

    log: OpLog
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    notes: list[tuple[str, float, str, str]] = field(default_factory=list)
    layers: dict[str, tuple[float, str]] = field(default_factory=dict)
    tracer: object = None
    jobs: dict[str, tuple[int, int]] = field(default_factory=dict)

    def note(self, name: str, value: float, unit: str, info: str = "") -> None:
        self.notes.append((name, value, unit, info))

    def traced(self, spark, tracer, untraced_s: float, traced_s: float,
               units: dict[str, int] | None = None) -> None:
        """Record a traced pass that repeated the untraced one's work:
        Spark job counts and the tracing overhead."""
        self.tracer = tracer
        self.jobs = spans.job_counts(spark, tracer.op_kinds)
        self.layers.update(spans.job_layers(self.jobs, tracer.op_kinds, units))
        self.layers["trace.overhead_pct"] = (100 * (traced_s - untraced_s) / untraced_s, "%")
        self.note("trace.untraced_s", untraced_s, "s")
        self.note("trace.traced_s", traced_s, "s")


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (p in 0..100)."""
    if not values:
        return float("nan")
    ordered = sorted(values)
    return ordered[max(0, math.ceil(p / 100 * len(ordered)) - 1)]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


def mean(values: list[float]) -> float:
    return statistics.fmean(values) if values else float("nan")


# -- memory and teardown -----------------------------------------------------------


def _status_kb(pid: int | str, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident memory (VmHWM) of this Python driver and of the JVM."""
    pid = jvm_pid(spark)
    return (_status_kb("self", "VmHWM") / 1024,
            (_status_kb(pid, "VmHWM") if pid else 0) / 1024)


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of this machine so far, from /proc/stat.
    Steal is time the host ran something else on this machine's CPUs;
    runs slow down with it (README.md, "Run-to-run spread")."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, stack = set(), [pid]
    while stack:
        for child in children.get(stack.pop(), []):
            out.add(child)
            stack.append(child)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def shutdown(spark) -> None:
    """Stop Spark, end the JVM and its Python workers, and wait for all
    of them; whatever is still alive after 30 s is killed."""
    from pyspark import SparkContext

    procs = _descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        while any(_alive(p) for p in procs) and time.monotonic() < deadline:
            time.sleep(0.1)
        for p in procs:
            if _alive(p):
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
        shutil.rmtree(WORK, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(WORK))
