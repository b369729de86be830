"""``capture_replay``: batch replay of recorded multi-topic sessions.

Each drain stages one seeded topic log as landing files, and an
event-triggered ``ScenarioRunner`` drains them through
``file_drop_topic_stream`` into a fresh filesystem store, saving one
snapshot per watch-topic message.  The persisted snapshots are then read
back and compared, one by one, with the latest value of every topic at
each event (``gen.TopicLog.expected``).
"""

from __future__ import annotations

import os
import time

import gen
import harness
import reference as ref
import spans

EVENTS = 8          # watch events (snapshots) per drain
WARMUP_EVENTS = 2
FILES = 3           # landing files per drain
SETUPS = 3


def _runner_class():
    from topic_store_spark.streaming.scenario import ScenarioRunner

    class TimedRunner(ScenarioRunner):
        """Times each snapshot's write to the store (the subclass hook
        the runner offers for storage backends)."""

        def save_filesystem(self, doc: dict) -> None:
            t0 = time.perf_counter()
            super().save_filesystem(doc)
            self.save_seconds.append(time.perf_counter() - t0)

    return TimedRunner


class Capture:
    def __init__(self, spark, seed: int) -> None:
        self.spark, self.seed = spark, seed
        self.runner_cls = _runner_class()
        self.drains = 0
        self.staged: list[tuple[gen.TopicLog, str]] = []
        self.stores: list[str] = []

    def stage(self, name: str, log: gen.TopicLog) -> str:
        """Write ``log`` as landing files; returns the landing directory."""
        land = harness.work_path("landing", name)
        os.makedirs(land)
        for i, lines in enumerate(gen.topic_log_lines(log, FILES)):
            with open(os.path.join(land, f"part-{i:03d}.json"), "w") as fh:
                fh.write("\n".join(lines) + "\n")
        return land

    def recording(self, i: int) -> tuple[gen.TopicLog, str]:
        """The i-th seeded recording and its landing directory, staged on
        first use."""
        while len(self.staged) <= i:
            n = len(self.staged)
            log = gen.topic_log(self.seed * 1000 + n, EVENTS)
            self.staged.append((log, self.stage(f"log{n}", log)))
        return self.staged[i]

    def drain(self, log: gen.TopicLog, land: str, log_ops: harness.OpLog | None,
              tracer=None):
        """One replay into a fresh store; returns (wall seconds, query)."""
        from topic_store_spark.streaming.scenario import ScenarioFileParser
        from topic_store_spark.streaming.sources import file_drop_topic_stream

        self.drains += 1
        path = harness.work_path(f"capture{self.drains}.parquet")
        self.stores.append(path)
        scenario = ScenarioFileParser({
            "context": "perfbench",
            "storage": {"method": "filesystem", "location": path},
            "data": dict(log.topics, robot="r1"),
            "collection": {"method": "event", "watch_topic": log.watch},
        })
        runner = self.runner_cls(self.spark, scenario)
        runner.save_seconds = []
        query, error = None, None
        t0 = time.perf_counter()
        try:
            with spans.maybe_span(tracer, "op.drain"):
                query = runner.run(file_drop_topic_stream(self.spark, land),
                                   await_termination=True)
        except Exception as exc:  # a broken drain fails all its snapshots
            error = f"{type(exc).__name__}: {str(exc)[:160]}"
        wall = time.perf_counter() - t0
        if log_ops is not None:
            self._check(runner, path, log, error, log_ops)
        return wall, query, runner

    def _check(self, runner, path, log, error, log_ops) -> None:
        from topic_store_spark.filesystem import ParquetStorage

        if error is None:
            rows = [r.asDict(recursive=True)
                    for r in ParquetStorage(self.spark, path).to_df().collect()]
            errors = ref.snapshot_errors(rows, log.expected)
        else:
            errors = [error] * len(log.expected)
        for i, err in enumerate(errors):
            secs = runner.save_seconds[i] if i < len(runner.save_seconds) else 0.0
            log_ops.ops.append(harness.Op("snapshot", "snapshot", secs, err))
            log_ops.wrong += err is not None and error is None


def run(spark, session_s: float, seed: int, seconds: float, traced: bool):
    cap = Capture(spark, seed)
    stage_times = []
    for i in range(SETUPS):
        t0 = time.perf_counter()
        cap.recording(i)
        stage_times.append(time.perf_counter() - t0)
    warm = gen.topic_log(seed * 1000 + 999, WARMUP_EVENTS)
    cap.drain(warm, cap.stage("warmup", warm), None)

    log_ops = harness.OpLog()
    walls, saves, n = [], [], 0
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end:
        wall, _, runner = cap.drain(*cap.recording(n), log_ops)
        walls.append(wall)
        saves += runner.save_seconds
        n += 1

    lat_ms = [1000 * s for s in saves]
    result = harness.Result(log=log_ops)
    result.metrics.update(
        setup_s=(session_s + harness.median(stage_times[:SETUPS]), "s"),
        throughput_per_s=(len(saves) / sum(walls), "1/s"),
        latency_ms=(harness.mean(lat_ms), "ms"),
    )
    result.note("capture_docs_per_s", len(saves) / sum(walls), "1/s",
                f"{len(saves)} snapshots in {n} drains")
    for p in (50, 90):
        result.note(f"snapshot_save_p{p}_ms", harness.percentile(lat_ms, p), "ms",
                    f"n={len(lat_ms)}")
    result.layers["session.get_spark_s"] = (session_s, "s")

    if traced:
        tracer = spans.Tracer()
        units, progress, traced_walls = {}, [], []
        with spans.instrument(tracer):
            for i in range(n):
                tracer.op = f"drain{i}"
                wall, query, runner = cap.drain(*cap.recording(i), None, tracer)
                traced_walls.append(wall)
                # the drain's jobs run under the streaming query's job group
                tracer.op_kinds[str(query.runId)] = ("snapshot", "drain")
                units[str(query.runId)] = runner.saved_count
                progress += query.recentProgress
        # bracket the traced drains with untraced ones: the JVM keeps warming
        after = sum(cap.drain(*cap.recording(i), None)[0] for i in range(n))
        result.traced(spark, tracer, (sum(walls) + after) / 2, sum(traced_walls), units)
        result.layers.update(spans.write_path_layers(tracer))
        result.layers.update(streaming_layers(progress, tracer, n))
        traced_stores = cap.stores[-2 * n : -n]
        parts = [f for path in traced_stores for f in harness.part_files(path)]
        result.layers["filesystem.part_files"] = (len(parts) / n, "count")
        result.layers["filesystem.bytes_per_doc"] = (
            sum(map(os.path.getsize, parts)) / max(1, sum(units.values())), "B")
    return result


def streaming_layers(progress: list, tracer, drains: int) -> dict[str, tuple[float, str]]:
    """Micro-batch figures from ``StreamingQuery.recentProgress`` of
    ``drains`` drains; counts are per drain or per batch."""
    batches = [p for p in progress if p["numInputRows"] > 0]
    n = max(1, len(batches))
    dur = [p["durationMs"] for p in batches]
    return {
        "streaming.batches": (len(batches) / drains, "count"),
        "streaming.rows_per_batch": (sum(p["numInputRows"] for p in batches) / n, "count"),
        "streaming.add_batch_ms": (sum(d.get("addBatch", 0) for d in dur) / n, "ms"),
        "streaming.trigger_overhead_ms": (
            sum(d.get("triggerExecution", 0) - d.get("addBatch", 0) for d in dur) / n,
            "ms"),
        "scenario.save_ms": (tracer.mean_ms("scenario.save"), "ms"),
        "scenario.saves_per_batch": (tracer.calls("scenario.save") / n, "count"),
    }
