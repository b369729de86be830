"""Spans recorded from the benchmark's own code around calls into the
package's layers, Spark job/task counts per operation, and the per-layer
report.

The package is never edited: ``instrument`` swaps module and class
attributes for timing wrappers while a traced pass runs and puts the
originals back afterwards.  Spans stay in memory (``Tracer.spans``) and
are written out once, at the end of a run.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    op: str | None
    name: str
    start: float
    end: float = 0.0


class Tracer:
    """Nested spans; each thread keeps its own stack, all share the
    current operation id (the streaming callback runs on its own thread
    but belongs to the drain that started it)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: str | None = None
        self.op_kinds: dict[str, tuple[str, str]] = {}  # op id -> (class, kind)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._root: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        """A span under the innermost open span of this thread; a thread
        with none open (the streaming callback) nests under the open
        outermost span of the run."""
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            parent = stack[-1].id if stack else self._root
            sp = Span(len(self.spans), parent, self.op, name, time.perf_counter())
            self.spans.append(sp)
            if parent is None:
                self._root = sp.id
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if self._root == sp.id:
                self._root = None

    @contextlib.contextmanager
    def operation(self, spark, op_id: str, cls: str, kind: str):
        """One operation: its own Spark job group and span root."""
        self.op, self.op_kinds[op_id] = op_id, (cls, kind)
        spark.sparkContext.setJobGroup(op_id, kind, False)
        try:
            with self.span(f"op.{kind}"):
                yield
        finally:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            self.op = None

    # -- derived figures --------------------------------------------------------

    def self_times(self) -> dict[str, tuple[int, float, float]]:
        """name -> (calls, total seconds, self seconds).  Self time is a
        span's duration minus the union of its children's intervals."""
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        out: dict[str, list] = {}
        for sp in self.spans:
            covered, edge = 0.0, sp.start
            for ch in sorted(children.get(sp.id, []), key=lambda c: c.start):
                lo, hi = max(ch.start, edge), min(ch.end, sp.end)
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            slot = out.setdefault(sp.name, [0, 0.0, 0.0])
            slot[0] += 1
            slot[1] += sp.end - sp.start
            slot[2] += sp.end - sp.start - covered
        return {k: tuple(v) for k, v in out.items()}

    def total_ms(self, name: str) -> float:
        return 1000 * sum(sp.end - sp.start for sp in self.spans if sp.name == name)

    def mean_ms(self, name: str) -> float:
        """Mean duration of the spans called ``name`` (0 when none ran)."""
        return self.total_ms(name) / max(1, self.calls(name))

    def calls(self, name: str) -> int:
        return sum(sp.name == name for sp in self.spans)

    def calls_under(self, name: str, ancestor: str) -> int:
        """Spans called ``name`` that have an ``ancestor`` span."""
        by_id = {sp.id: sp for sp in self.spans}

        def inside(sp: Span) -> bool:
            while sp.parent is not None:
                sp = by_id[sp.parent]
                if sp.name == ancestor:
                    return True
            return False

        return sum(sp.name == name and inside(sp) for sp in self.spans)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans], "ops": self.op_kinds}, fh)


def job_counts(spark, groups) -> dict[str, tuple[int, int]]:
    """job group -> (jobs, tasks), read from the status tracker once the
    operations are over (it retains the last 1000 jobs and stages)."""
    tracker = spark.sparkContext.statusTracker()
    out = {}
    for group in groups:
        jobs = tracker.getJobIdsForGroup(group)
        tasks = 0
        for job in jobs:
            info = tracker.getJobInfo(job)
            for stage in list(info.stageIds) if info else []:
                sinfo = tracker.getStageInfo(stage)
                tasks += sinfo.numTasks if sinfo else 0
        out[group] = (len(jobs), tasks)
    return out


def job_layers(jobs: dict[str, tuple[int, int]], op_kinds: dict[str, tuple[str, str]],
               units: dict[str, int] | None = None) -> dict[str, tuple[float, str]]:
    """``spark.jobs_per_<class>`` for reads, writes and snapshots, and
    ``spark.tasks_per_op`` over every traced operation.  ``units`` gives
    how many items an operation produced (a drain saves many snapshots);
    each other operation counts once."""
    units = units or {}
    out = {}
    for cls in ("read", "write", "snapshot"):
        groups = [g for g, (c, _) in op_kinds.items() if c == cls]
        n_items = sum(units.get(g, 1) for g in groups)
        n_jobs = sum(jobs[g][0] for g in groups)
        out[f"spark.jobs_per_{cls}"] = (n_jobs / n_items if n_items else 0.0, "count")
    out["spark.tasks_per_op"] = (
        sum(t for _, t in jobs.values()) / max(1, len(jobs)), "count")
    return out


def write_path_layers(tracer: Tracer) -> dict[str, tuple[float, str]]:
    """Layers under ``insert_many``: document wrapping, schema inference,
    row conversion, and the filesystem schema reads and writes."""
    n_ins = max(1, tracer.calls("api.insert_many"))
    return {
        "data.topicstore_us_per_doc": (1000 * tracer.mean_ms("data.topicstore"), "us"),
        "codec.infer_schema_ms": (tracer.total_ms("codec.infer_schema") / n_ins, "ms"),
        "codec.documents_to_rows_ms": (
            tracer.total_ms("codec.documents_to_rows") / n_ins, "ms"),
        "filesystem.to_df_calls_per_op": (
            tracer.calls_under("filesystem.to_df", "api.insert_many") / n_ins, "count"),
        "filesystem.to_df_ms": (tracer.mean_ms("filesystem.to_df"), "ms"),
        "filesystem.write_df_ms": (tracer.mean_ms("filesystem.write_df"), "ms"),
    }


# -- instrumentation ----------------------------------------------------------------


def maybe_span(tracer: Tracer | None, name: str):
    """``tracer.span(name)``, or a no-op on an untraced pass."""
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


def _wrap(tracer: Tracer, fn, name: str):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return wrapper


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Wrap the package's layer entry points in spans for the duration.

    Lazy layers (query, blob) return DataFrames: their spans time plan
    construction; execution shows up under the caller's ``api.execute``.
    """
    from topic_store_spark import api, blob, convert, data, filesystem
    from topic_store_spark.streaming import scenario

    targets = [
        (data.TopicStore, "__init__", "data.topicstore"),
        (filesystem, "infer_schema", "codec.infer_schema"),
        (filesystem, "documents_to_rows", "codec.documents_to_rows"),
        (filesystem.ParquetStorage, "to_df", "filesystem.to_df"),
        (filesystem.ParquetStorage, "write_df", "filesystem.write_df"),
        (filesystem.ParquetStorage, "insert_many", "api.insert_many"),
        (api, "compile_query", "query.compile"),
        (api, "apply_projection", "query.projection"),
        (api, "apply_pipeline", "query.pipeline"),
        (convert, "compile_query", "query.compile"),
        (convert, "apply_projection", "query.projection"),
        (blob, "externalize_blobs", "blob.externalize"),
        (blob, "rehydrate_blobs", "blob.rehydrate"),
        (scenario.ScenarioRunner, "save", "scenario.save"),
    ]
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
    try:
        for owner, attr, name in targets:
            setattr(owner, attr, _wrap(tracer, getattr(owner, attr), name))
        yield
    finally:
        for owner, attr, original in saved:
            setattr(owner, attr, original)


# -- report ---------------------------------------------------------------------------


def print_layer_table(tracer: Tracer, jobs: dict[str, tuple[int, int]],
                      out) -> None:
    """Per-span-name calls, total and self time, then Spark jobs and tasks
    per operation class."""
    print(f"{'span':<28}{'calls':>7}{'total_ms':>12}{'self_ms':>12}", file=out)
    for name, (calls, total, own) in sorted(tracer.self_times().items()):
        print(f"{name:<28}{calls:>7}{1000 * total:>12.1f}{1000 * own:>12.1f}",
              file=out)
    by_cls: dict[str, list[int]] = {}
    for group, (n_jobs, n_tasks) in jobs.items():
        slot = by_cls.setdefault(tracer.op_kinds[group][0], [0, 0, 0])
        slot[0] += 1
        slot[1] += n_jobs
        slot[2] += n_tasks
    print(f"{'op class':<16}{'ops':>6}{'jobs/op':>10}{'tasks/op':>10}", file=out)
    for cls, (n, n_jobs, n_tasks) in sorted(by_cls.items()):
        print(f"{cls:<16}{n:>6}{n_jobs / n:>10.2f}{n_tasks / n:>10.1f}", file=out)
