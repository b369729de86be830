"""``store_mix``: one closed-loop client calling the storage API.

A fixed schedule of calls (``CYCLE``), with seeded arguments, runs
against a ``ParquetStorage`` of generated robot snapshots stored with
``blob_dir`` set.  About three calls in four are reads; writes are small
``insert_many`` batches each followed by a read of what was written;
three calls per cycle are ETL (a copy, a compaction and an incremental
clone).  A run times whole cycles only, so every run measures the same
calls on the same store history.  Every result is checked against
``reference``; the store's expected contents (``StoreModel``) advance
with each write.
"""

from __future__ import annotations

import os
import random
import time

import gen
import harness
import reference as ref
import spans

SESSIONS = 12
SEED_DOCS = 240
WRITE_BATCH = 3
BLOB_THRESHOLD = 1024  # images are 4 KiB, so every one is externalized
SETUPS = 3

#: the call schedule, run whole, once or more; "insert" is an insert_many
#: followed by a read-back.  find_latest's nested-path sort fails at the
#: seed commit (see README.md).
CYCLE = (
    "find_filter", "find_latest", "insert", "copy", "find_by_id", "agg_unwind",
    "count", "find_images", "compact", "find_by_session", "distinct",
    "unique_sessions", "insert", "agg_bucket", "count_estimate", "agg_group",
    "clone",
)
#: every battery level falls inside, so no "default" bucket is needed
BUCKETS = [0, 25, 50, 75, 101]


class StoreMix:
    def __init__(self, spark, seed: int) -> None:
        self.spark, self.seed = spark, seed
        self.factory = gen.DocFactory.create(seed, SESSIONS)
        self.seed_docs = self.factory.make(SEED_DOCS)

    def seed_store(self, name: str):
        from topic_store_spark.filesystem import ParquetStorage

        path = harness.work_path(f"{name}.parquet")
        store = ParquetStorage(self.spark, path, blob_dir=f"{path}.blobs",
                               blob_threshold=BLOB_THRESHOLD)
        store.insert_many(self.seed_docs)
        return store


class Pass:
    """One walk of the schedule over one seeded store."""

    def __init__(self, mix: StoreMix, store, name: str, tracer=None) -> None:
        from topic_store_spark.filesystem import ParquetStorage

        self.mix, self.store, self.name, self.tracer = mix, store, name, tracer
        self.spark = mix.spark
        self.log = harness.OpLog()
        self.model = ref.StoreModel(mix.seed_docs)
        self.rng = random.Random(f"{mix.seed}-calls")
        self.writer = gen.DocFactory(rng=random.Random(f"{mix.seed}-writes"),
                                     sessions=mix.factory.sessions, seq=SEED_DOCS)
        self.export = ParquetStorage(self.spark, harness.work_path(f"{name}-export.parquet"))
        self.replica = ParquetStorage(self.spark, harness.work_path(f"{name}-replica.parquet"))
        self.export_ids: set[str] = set()
        self.replica_ids: set[str] = set()
        self.cycle_walls: list[float] = []
        self.blob_bytes_before = harness.tree_bytes(store.blob_dir)

    # -- driving ---------------------------------------------------------------

    def run(self, seconds: float = 0.0) -> float:
        """Run whole cycles, at least one, until ``seconds`` have passed;
        returns the wall time."""
        t0 = time.perf_counter()
        while not self.cycle_walls or time.perf_counter() - t0 < seconds:
            start = time.perf_counter()
            for kind in CYCLE:
                getattr(self, f"_{kind}")()
            self.cycle_walls.append(time.perf_counter() - start)
        return time.perf_counter() - t0

    def warm_up(self) -> None:
        """Every call kind once."""
        for kind in dict.fromkeys(CYCLE):
            getattr(self, f"_{kind}")()

    def _op(self, kind: str, cls: str, call, check):
        if self.tracer is None:
            return self.log.run(kind, cls, call, check)
        op_id = f"{self.name}-{len(self.log.ops)}"
        with self.tracer.operation(self.spark, op_id, cls, kind):
            return self.log.run(kind, cls, call, check)

    def _rows(self, plan):
        """Build the lazy DataFrame, then collect it as dicts."""
        with spans.maybe_span(self.tracer, "api.plan"):
            df = plan()
        with spans.maybe_span(self.tracer, "api.execute"):
            return [r.asDict(recursive=True) for r in df.collect()]

    def _eager(self, call):
        with spans.maybe_span(self.tracer, "api.execute"):
            return call()

    def _read(self, kind, plan, check):
        return self._op(kind, "read", lambda: self._rows(plan), check)

    def _read_eager(self, kind, call, check):
        return self._op(kind, "read", lambda: self._eager(call), check)

    # -- reads -------------------------------------------------------------------

    def _find_filter(self):
        name = self.rng.choice(gen.ROBOTS)
        x = round(self.rng.uniform(-40, 40), 1)
        paths = ["seq", "robot.name", "odom.pose.x"]
        matches = self.model.match(
            lambda d: d["robot"]["name"] == name and d["odom"]["pose"]["x"] > x)
        self._read(
            "find_filter",
            lambda: self.store.find({"robot.name": name, "odom.pose.x": {"$gt": x}},
                                    projection=dict.fromkeys(paths, 1), limit=5),
            lambda rows: ref.check_limited(rows, matches, 5, paths))

    def _find_by_id(self):
        doc = self.rng.choice(list(self.model.docs.values()))
        self._read_eager(
            "find_by_id", lambda: self.store.find_by_id(doc["_id"]),
            lambda got: ref.check_docs([got] if got else [], [doc], None))

    def _find_by_session(self):
        session = self.rng.choice(self.mix.factory.sessions)
        matches = self.model.match(lambda d: d["_ts_meta"]["session"] == session)
        self._read(
            "find_by_session",
            lambda: self.store.find_by_session_id(session, projection={"seq": 1}),
            lambda rows: ref.check_docs(rows, matches, ["seq"]))

    def _count(self):
        mode = self.rng.choice(gen.MODES)
        want = len(self.model.match(lambda d: d["robot"]["mode"] == mode))
        self._read_eager("count", lambda: self.store.count({"robot.mode": mode}),
                         lambda n: ref.check_equal(n, want, "count"))

    def _count_estimate(self):
        want = len(self.model.docs)
        self._read_eager("count_estimate", lambda: self.store.count(estimate=True),
                         lambda n: ref.check_equal(n, want, "estimate"))

    def _distinct(self):
        mode = self.rng.choice(gen.MODES)
        want = ref.distinct_values(
            self.model.match(lambda d: d["robot"]["mode"] == mode), "robot.name")
        self._read_eager(
            "distinct", lambda: self.store.distinct("robot.name", {"robot.mode": mode}),
            lambda got: ref.check_equal(got, want, "distinct"))

    def _unique_sessions(self):
        docs = list(self.model.docs.values())
        self._read("unique_sessions", self.store.get_unique_sessions,
                   lambda rows: ref.check_unique_sessions(rows, docs))

    def _agg_group(self):
        mode = self.rng.choice(gen.MODES)
        want = ref.group_by(self.model.match(lambda d: d["robot"]["mode"] == mode),
                            "robot.name", "odom.twist.v")
        pipeline = [
            {"$match": {"robot.mode": mode}},
            {"$group": {"_id": "$robot.name", "n": {"$sum": 1},
                        "avg_v": {"$avg": "$odom.twist.v"}}},
        ]
        self._read("agg_group", lambda: self.store.aggregate(pipeline),
                   lambda rows: ref.check_groups(rows, want, "n", "avg_v"))

    def _agg_unwind(self):
        want = ref.group_by(list(self.model.docs.values()), "tags")
        pipeline = [{"$unwind": "$tags"},
                    {"$group": {"_id": "$tags", "n": {"$sum": 1}}}]
        self._read("agg_unwind", lambda: self.store.aggregate(pipeline),
                   lambda rows: ref.check_groups(rows, want, "n", None))

    def _agg_bucket(self):
        name = self.rng.choice(gen.ROBOTS)
        want = ref.buckets(self.model.match(lambda d: d["robot"]["name"] == name),
                           "robot.battery", BUCKETS)
        pipeline = [
            {"$match": {"robot.name": name}},
            {"$bucket": {"groupBy": "$robot.battery", "boundaries": BUCKETS,
                         "output": {"n": {"$sum": 1}}}},
        ]
        self._read("agg_bucket", lambda: self.store.aggregate(pipeline),
                   lambda rows: ref.check_groups(rows, want, "n", None))

    def _find_images(self):
        name = self.rng.choice(gen.ROBOTS)
        matches = self.model.match(
            lambda d: d["has_image"] and d["robot"]["name"] == name)
        paths = ["image", "seq"]
        self._read(
            "find_images",
            lambda: self.store.find({"has_image": True, "robot.name": name},
                                    projection=dict.fromkeys(paths, 1), limit=3),
            lambda rows: ref.check_limited(rows, matches, 3, paths))

    def _find_latest(self):
        session = self.rng.choice(self.mix.factory.sessions)
        matches = self.model.match(lambda d: d["_ts_meta"]["session"] == session)
        self._read(
            "find_latest",
            lambda: self.store.find({"_ts_meta.session": session},
                                    sort=[("_ts_meta.sys_time", -1)], limit=5),
            lambda rows: ref.check_sorted(rows, matches, "_ts_meta.sys_time", True, 5))

    # -- writes and ETL ------------------------------------------------------------

    def _insert(self):
        docs = self.writer.make(WRITE_BATCH)
        want = [d["_id"] for d in docs]

        def call():
            ids = self.store.insert_many(docs)
            for doc in docs:  # the write happened, whatever it returned
                self.model.add(doc)
            return ids

        ids = self._op("insert", "write", call,
                       lambda got: ref.check_equal(got, want, "ids"))
        if ids is not None:
            self._read("read_back",
                       lambda: self.store.find({"_id": {"$in": want}}),
                       lambda rows: ref.check_docs(rows, docs, None))

    def _copy(self):
        from topic_store_spark import convert

        name = self.rng.choice(gen.ROBOTS)
        matches = self.model.match(lambda d: d["robot"]["name"] == name)
        want = ref.expected_copy(matches, self.export_ids)

        def call():
            out = convert.copy(self.store, self.export, {"robot.name": name},
                               {"seq": 1, "robot": 1})
            self.export_ids |= {d["_id"] for d in matches}
            return out

        self._op("copy", "etl", call, lambda got: ref.check_equal(got, want, "copy"))

    def _clone(self):
        from topic_store_spark import convert

        docs = list(self.model.docs.values())
        want = ref.expected_copy(docs, self.replica_ids)

        def call():
            out = convert.clone_incremental(self.store, self.replica)
            self.replica_ids |= {d["_id"] for d in docs}
            return out

        self._op("clone", "etl", call, lambda got: ref.check_equal(got, want, "clone"))

    def _compact(self):
        self._op("compact", "etl", self.store.compact,
                 lambda n: ref.check_equal(n, 1, "files after compact"))

    # -- store shape -----------------------------------------------------------------

    def shape(self) -> dict[str, float]:
        parts = harness.part_files(self.store.path)
        return {
            "part_files": len(parts),
            "bytes_per_doc": sum(map(os.path.getsize, parts)) / max(1, len(self.model.docs)),
            "blob_bytes_out": harness.tree_bytes(self.store.blob_dir)
            - self.blob_bytes_before,
        }


# -- the workload ------------------------------------------------------------------


def run(spark, session_s: float, seed: int, seconds: float, traced: bool):
    mix = StoreMix(spark, seed)
    seed_times = []
    stores = []
    for i in range(SETUPS):
        t0 = time.perf_counter()
        stores.append(mix.seed_store(f"store{i}"))
        seed_times.append(time.perf_counter() - t0)

    # warm-up: every call kind once, on a store the timed pass never sees
    with harness.phase("warm-up"):
        Pass(mix, stores[1], "warmup").warm_up()

    timed = Pass(mix, stores[0], "timed")
    wall = timed.run(seconds=seconds)
    log = timed.log
    lat = lambda cls=None: [1000 * s for s in log.latencies(cls)]  # noqa: E731

    result = harness.Result(log=log)
    result.metrics.update(
        setup_s=(session_s + harness.median(seed_times), "s"),
        throughput_per_s=(len(log.ops) / wall, "1/s"),
        latency_ms=(harness.mean(lat("read")), "ms"),
    )
    for cls in ("read", "write", "etl"):
        for p in (50, 90):
            result.note(f"{cls}_p{p}_ms", harness.percentile(lat(cls), p), "ms",
                        f"n={len(lat(cls))}")
    result.note("store_ops_per_s", len(log.ops) / wall, "1/s",
                f"{len(log.ops)} ops in {len(timed.cycle_walls)} cycles")
    result.layers["session.get_spark_s"] = (session_s, "s")

    if traced:
        # one cycle each, so the per-layer figures are per cycle
        tracer = spans.Tracer()
        traced_pass = Pass(mix, stores[2], "traced", tracer)
        with spans.instrument(tracer):
            traced_wall = traced_pass.run()
        # bracket the traced cycle with untraced ones: the JVM keeps warming
        after = Pass(mix, mix.seed_store("store3"), "after").run()
        result.traced(spark, tracer, (timed.cycle_walls[0] + after) / 2, traced_wall)
        result.layers.update(store_layers(tracer, traced_pass))
    return result


def store_layers(tracer, traced_pass) -> dict[str, tuple[float, str]]:
    n_by = lambda cls: max(1, sum(c == cls for c, _ in tracer.op_kinds.values()))  # noqa: E731
    shape = traced_pass.shape()
    copies = [op for op in traced_pass.log.ops if op.kind in ("copy", "clone")]
    layers = spans.write_path_layers(tracer)
    layers.update({
        "filesystem.part_files": (shape["part_files"], "count"),
        "filesystem.bytes_per_doc": (shape["bytes_per_doc"], "B"),
        "query.compile_ms": (tracer.total_ms("query.compile") / n_by("read"), "ms"),
        "query.projection_ms": (tracer.total_ms("query.projection") / n_by("read"), "ms"),
        "query.pipeline_build_ms": (tracer.mean_ms("query.pipeline"), "ms"),
        "api.plan_ms": (tracer.total_ms("api.plan") / n_by("read"), "ms"),
        "api.execute_ms": (tracer.total_ms("api.execute") / n_by("read"), "ms"),
        "blob.externalize_ms": (tracer.mean_ms("blob.externalize"), "ms"),
        "blob.rehydrate_ms": (tracer.mean_ms("blob.rehydrate"), "ms"),
        "blob.bytes_out": (shape["blob_bytes_out"], "B"),
        "convert.copy_ms": (_mean_ms(copies, "copy"), "ms"),
        "convert.clone_ms": (_mean_ms(copies, "clone"), "ms"),
    })
    copied = skipped = 0
    for op in copies:
        if op.error is None and op.result:
            copied += op.result["copied"]
            skipped += op.result["skipped_duplicates"]
    layers["convert.copied"] = (copied, "count")
    layers["convert.skipped"] = (skipped, "count")
    layers["convert.useful_ratio"] = (copied / max(1, copied + skipped), "ratio")
    return layers


def _mean_ms(ops, kind) -> float:
    times = [1000 * op.seconds for op in ops if op.kind == kind and op.error is None]
    return sum(times) / len(times) if times else 0.0
