"""Storage CRUD, convert pipelines, blob externalization tests
(model: reference test_database_storage.py / test_file_system_storage.py)."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from topic_store_spark import TopicStore, load
from topic_store_spark.blob import (
    collect_blob_paths,
    delete_blobs,
    externalize_blobs,
    rehydrate_blobs,
)
from topic_store_spark.convert import clone_incremental, copy, to_ros_bag
from topic_store_spark.filesystem import ParquetStorage, TopicStorage, write_topic_store


def test_crud_roundtrip(spark, tmp_path):
    # parity: test_database_storage.py:13-46 (insert -> find -> update -> delete)
    store = ParquetStorage(spark, str(tmp_path / "crud.parquet"))
    doc_id = store.insert_one({"name": "add_test", "number": 1})
    assert store.find_by_id(doc_id)["number"] == 1
    store.update_one_by_id(doc_id, number=2)
    assert store.find_by_id(doc_id)["number"] == 2
    store.delete_by_id(doc_id)
    assert store.find_by_id(doc_id) is None


def test_update_one_query_matched(spark, tmp_path):
    """Query-matched update_one (reference database.py:162-164): first
    match in _id order gets the $set; 0 matches is a no-op."""
    store = ParquetStorage(spark, str(tmp_path / "upd.parquet"))
    ids = store.insert_many([{"robot": "husky", "n": i} for i in range(3)])
    assert store.update_one({"robot": "husky"}, {"$set": {"n": 99}}) == 1
    hits = [r["n"] for r in store.find({"n": 99}).collect()]
    assert hits == [99]  # exactly one document updated
    first_id = min(ids)
    assert store.find_by_id(first_id)["n"] == 99  # deterministic: lowest _id
    assert store.update_one({"robot": "missing"}, {"$set": {"n": 1}}) == 0
    with pytest.raises(ValueError):
        store.update_one({"robot": "husky"}, {"$inc": {"n": 1}})


def test_filesystem_empty_append_reload(spark, tmp_path):
    # parity: test_file_system_storage.py:15-71
    path = str(tmp_path / "s.topic_store")
    store = TopicStorage(spark, path)
    assert list(store) == []
    for i in range(5):
        store.insert_one({"i": i})
    assert sum(1 for _ in store) == 5
    reloaded = load(path, spark)
    for i in range(3):
        reloaded.insert_one({"i": 10 + i})
    assert reloaded.to_df().count() == 8


def test_load_dispatch(spark, tmp_path):
    pq = load(str(tmp_path / "a.parquet"), spark)
    assert isinstance(pq, ParquetStorage)
    fs = load(str(tmp_path / "a.topic_store"), spark)
    assert isinstance(fs, TopicStorage)


def test_copy_and_incremental_clone(spark, tmp_path):
    src = ParquetStorage(spark, str(tmp_path / "src.parquet"))
    dst = ParquetStorage(spark, str(tmp_path / "dst.parquet"))
    src.insert_many([{"n": i} for i in range(10)])
    stats = copy(src, dst, query={"n": {"$lt": 7}})
    assert stats == {"copied": 7, "skipped_duplicates": 0}
    # second run: everything already there
    stats2 = clone_incremental(src, dst)
    assert stats2["copied"] == 3 and stats2["skipped_duplicates"] == 7
    assert dst.count() == 10


def test_copy_with_projection(spark, tmp_path):
    src = ParquetStorage(spark, str(tmp_path / "s2.parquet"))
    dst = ParquetStorage(spark, str(tmp_path / "d2.parquet"))
    src.insert_one({"keep": 1, "drop": {"deep": 2}})
    copy(src, dst, projection={"keep": 1})
    row = dst.to_df().first()
    assert "drop" not in row.asDict()
    assert row["_ts_meta"] is not None  # forced meta survived the ETL


def test_blob_externalize_roundtrip(spark, tmp_path):
    # parity: >16MB GridFS path, test_database_storage.py:77-99 (scaled down)
    blob_dir = str(tmp_path / "blobs")
    big = np.random.default_rng(42).integers(0, 255, 2_000_000, dtype=np.uint8).tobytes()
    small = b"tiny"
    df = spark.createDataFrame(
        [("a", bytearray(big)), ("b", bytearray(small))], "`_id` string, payload binary"
    )
    ext = externalize_blobs(df, blob_dir, threshold=1_000_000)
    pointers = {r["_id"]: r["payload"] for r in ext.collect()}
    assert pointers["a"]["__blob__"] is not None and pointers["a"]["inline"] is None
    assert pointers["b"]["__blob__"] is None and bytes(pointers["b"]["inline"]) == small
    assert os.path.exists(pointers["a"]["__blob__"])

    back = {r["_id"]: bytes(r["payload"]) for r in rehydrate_blobs(ext).collect()}
    assert back["a"] == big and back["b"] == small  # byte-exact round trip

    # lazy skip leaves pointers untouched
    lazy = rehydrate_blobs(ext, skip_fetch_binary=True)
    assert "__blob__" in lazy.schema["payload"].dataType.fieldNames()

    # GC (parity: delete_by_id blob walk)
    paths = collect_blob_paths(ext)
    assert delete_blobs(paths) == 1
    assert not os.path.exists(pointers["a"]["__blob__"])


def test_ros_bag_egress_with_fake_writer(spark):
    class FakeBag:
        def __init__(self):
            self.records = []
        def write(self, topic, msg, t):
            self.records.append((topic, msg.get("v"), t))
        def close(self):
            self.closed = True

    docs = [
        TopicStore({"cam": {"v": i, "_ros_meta": {"time": float(i), "type": "t/T",
                    "connection_header": {"topic": "/cam"}}}})
        for i in range(3)
    ]
    from topic_store_spark.codec import documents_to_rows, infer_schema
    trees = [d.dict for d in docs]
    schema = infer_schema(trees)
    df = spark.createDataFrame(documents_to_rows(trees, schema), schema)

    bag = FakeBag()
    n = to_ros_bag(df, "/tmp/fake.bag", bag_writer_factory=lambda p: bag)
    assert n == 3
    assert [r[0] for r in bag.records] == ["/cam", "/cam", "/cam"]
    # ordered by ros_time
    times = [r[2] for r in bag.records]
    assert times == sorted(times)
    assert bag.closed


def test_write_topic_store_egress(spark, tmp_path):
    store = ParquetStorage(spark, str(tmp_path / "x.parquet"))
    store.insert_many([{"n": i} for i in range(4)])
    out = str(tmp_path / "out.topic_store")
    assert write_topic_store(store.to_df(), out) == 4
    back = TopicStorage(spark, out)
    assert sum(1 for _ in back) == 4


def test_partitioned_store_prunes_directories(spark, tmp_path):
    """Date-partitioned canonical layout: a partition-column predicate
    becomes a directory-level PartitionFilter (no data IO for pruned
    dates)."""
    import time as _time

    from topic_store_spark.data import TopicStore
    from topic_store_spark.filesystem import ParquetStorage

    store = ParquetStorage(spark, str(tmp_path / "p.parquet"), partition_by=("_ts_date",))
    day = 86400.0
    base = 1704067200.0  # 2024-01-01 UTC
    docs = []
    for d in range(3):
        for i in range(4):
            doc = TopicStore({"n": d * 10 + i})
            doc.dict["_ts_meta"]["sys_time"] = base + d * day + i
            docs.append(doc)
    store.insert_many(docs)

    assert sorted(p.name for p in (tmp_path / "p.parquet").iterdir() if p.is_dir()) == [
        "_ts_date=2024-01-01", "_ts_date=2024-01-02", "_ts_date=2024-01-03",
    ]
    df = store.to_df().filter("_ts_date = date'2024-01-02'")
    assert df.count() == 4
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(_ts_date" in plan
    # query surface still works across partitions
    assert store.count({"n": {"$gte": 20}}) == 4


def test_storage_blob_policy_end_to_end(spark, tmp_path):
    """B1-B3 wired into the store: externalize on insert, rehydrate on
    find, lazy-skip flag, GC on delete."""
    import os

    from topic_store_spark.filesystem import ParquetStorage

    store = ParquetStorage(
        spark,
        str(tmp_path / "b.parquet"),
        blob_dir=str(tmp_path / "blobs"),
        blob_threshold=1_000,
    )
    big = bytes(range(256)) * 20  # 5120 B > threshold, not utf-8
    small = b"\xff\xfe tiny"
    id_big = store.insert_one({"payload": bytearray(big), "n": 1})
    store.insert_one({"payload": bytearray(small), "n": 2})

    raw = {r["n"]: r["payload"] for r in store.find(skip_fetch_binary=True).collect()}
    assert raw[1]["__blob__"] is not None and raw[1]["inline"] is None
    assert raw[2]["__blob__"] is None and bytes(raw[2]["inline"]) == small

    back = {r["n"]: bytes(r["payload"]) for r in store.find().collect()}
    assert back[1] == big and back[2] == small

    blob_path = raw[1]["__blob__"]
    assert os.path.exists(blob_path)
    store.delete_by_id(id_big)
    assert not os.path.exists(blob_path)  # GC (B4)
    assert store.count() == 1


def test_externalize_rows_matches_externalize_blobs(spark, tmp_path):
    """The driver-side externalization of insert_many writes the same blob
    files and pointer values as the distributed one."""
    from pyspark.sql import types as T

    from topic_store_spark.blob import externalize_rows

    schema = T.StructType([
        T.StructField("_id", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("n", T.LongType()),
    ])
    big = bytes(range(256)) * 8
    rows = [("a", bytearray(big), 1), ("b", b"tiny", 2), ("c", None, 3)]
    ext = externalize_blobs(spark.createDataFrame(rows, schema),
                            str(tmp_path / "spark"), threshold=1_000)
    got, got_schema = externalize_rows(rows, schema, str(tmp_path / "driver"), 1_000)
    assert got_schema == ext.schema

    def shaped(cell):
        if cell is None:
            return None
        path = cell["__blob__"]
        data = open(path, "rb").read() if path else None
        name = os.path.basename(path) if path else None
        inline = None if cell["inline"] is None else bytes(cell["inline"])
        return name, cell["size"], inline, data

    want = {r["_id"]: (shaped(r["payload"]), r["n"]) for r in ext.collect()}
    assert {r[0]: (shaped(r[1]), r[2]) for r in got} == want
    assert want["a"][0] == ("a_payload.bin", len(big), None, big)


def test_blob_insert_runs_no_python_worker(spark, tmp_path, monkeypatch):
    store = ParquetStorage(spark, str(tmp_path / "s.parquet"),
                           blob_dir=str(tmp_path / "blobs"), blob_threshold=100)
    monkeypatch.setattr(type(spark.range(1)), "mapInPandas",
                        lambda *a, **k: pytest.fail("mapInPandas"))
    store.insert_many([{"payload": bytearray(b"x" * 500), "n": 1},
                       {"payload": bytearray(b"y"), "n": 2}])
    monkeypatch.undo()
    got = {r["n"]: bytes(r["payload"]) for r in store.find().collect()}
    assert got == {1: b"x" * 500, 2: b"y"}


def test_refused_blob_append_writes_no_blob(spark, tmp_path):
    blob_dir = tmp_path / "blobs"
    store = ParquetStorage(spark, str(tmp_path / "s.parquet"),
                           blob_dir=str(blob_dir), blob_threshold=100)
    store.insert_one({"payload": bytearray(b"x" * 500), "n": 1})
    with pytest.raises(ValueError, match="CANNOT_MERGE_SCHEMAS"):
        store.insert_one({"payload": bytearray(b"y" * 500), "n": "one"})
    assert len(os.listdir(blob_dir)) == 1
    assert store.count() == 1


def test_load_yaml_scenario_dispatch(spark, tmp_path):
    """S1 parity: load('scenario.yaml') resolves through the scenario's
    storage section (reference database.py:94-99)."""
    import yaml

    import topic_store_spark as ts

    scenario = {
        "context": "yaml_dispatch",
        "storage": {"method": "filesystem", "location": str(tmp_path / "y.parquet")},
        "data": {"x": "/topic"},
        "collection": {"method": "timer", "timer_delay": 1},
    }
    path = tmp_path / "scenario.yaml"
    path.write_text(yaml.safe_dump(scenario))

    store = ts.load(str(path), spark)
    store.insert_one({"n": 7})
    assert ts.load(str(path), spark).count() == 1

    db = dict(scenario, storage={"method": "database", "uri": "mongodb://h:27017"})
    db_path = tmp_path / "db.yaml"
    db_path.write_text(yaml.safe_dump(db))
    from topic_store_spark.mongodb import MongoStorage

    db_store = ts.load(str(db_path), spark)
    assert isinstance(db_store, MongoStorage)
    assert db_store.collection_name == "yaml_dispatch"


def test_append_null_field_adopts_store_type(spark, tmp_path):
    """A field that is null in the whole batch has no type evidence: it
    must adopt the store's existing column type, not a string placeholder
    that would wedge every later read (CANNOT_MERGE_SCHEMAS)."""
    store = ParquetStorage(spark, str(tmp_path / "nulls.parquet"))
    store.insert_one({"robot": {"x": 1.0}, "n": 1})
    store.insert_one({"robot": {"x": 2.0}, "n": None})  # was the footgun
    df = store.to_df()
    assert dict(df.dtypes)["n"] == "bigint"
    assert df.count() == 2
    assert store.find({"n": {"$exists": False}}).count() == 1


def test_append_conflicting_type_fails_at_write_time(spark, tmp_path):
    """An append whose type genuinely conflicts must fail THE WRITE with
    a clear error — never succeed and poison all subsequent reads."""
    import pytest as _pytest

    store = ParquetStorage(spark, str(tmp_path / "conflict.parquet"))
    store.insert_one({"n": 1, "nested": {"v": 2.5}})
    with _pytest.raises(ValueError, match="RaggedParquetStorage"):
        store.insert_one({"n": "not a number"})
    with _pytest.raises(ValueError, match="nested.v"):
        store.insert_one({"nested": {"v": "also wrong"}})
    # the store is still fully readable after the refused appends
    assert store.to_df().count() == 1
    assert store.find({"n": 1}).count() == 1


def test_distinct_field_and_array_elements(spark, tmp_path):
    """pymongo-surface distinct: dotted fields, optional filter, array
    fields contribute distinct ELEMENTS (reference database.py:266)."""
    store = ParquetStorage(spark, str(tmp_path / "distinct.parquet"))
    store.insert_many(
        [
            {"robot": {"name": "husky"}, "tags": ["a", "b"], "n": 1},
            {"robot": {"name": "husky"}, "tags": ["b", "c"], "n": 2},
            {"robot": {"name": "thorvald"}, "tags": [], "n": 3},
        ]
    )
    assert store.distinct("robot.name") == ["husky", "thorvald"]
    assert store.distinct("tags") == ["a", "b", "c"]
    assert store.distinct("robot.name", {"n": {"$lte": 2}}) == ["husky"]


def test_delete_many_and_compact(spark, tmp_path):
    """Retention sweep + small-file compaction: delete_many removes the
    matched set in one rewrite and reports the count; compact collapses
    the one-file-per-insert fragmentation into a bounded file count."""
    store = ParquetStorage(spark, str(tmp_path / "retention.parquet"))
    for i in range(8):
        store.insert_one({"n": i, "keep": i % 2 == 0})
    import os as _os

    files_before = sum(
        1
        for _r, _d, names in _os.walk(store.path)
        for f in names
        if f.startswith("part-") and f.endswith(".parquet")
    )
    assert files_before >= 8  # append-only: one part file per insert

    with pytest.raises(ValueError):
        store.delete_many({})  # dropping the store must be explicit
    assert store.delete_many({"keep": False}) == 4
    assert sorted(r["n"] for r in store.find().collect()) == [0, 2, 4, 6]

    n_files = store.compact()
    assert n_files == 1
    assert sorted(r["n"] for r in store.find().collect()) == [0, 2, 4, 6]
    assert store.count(estimate=True) == 4  # footer fast path intact


def test_find_sort_on_nested_path(spark, tmp_path):
    """Dotted sort keys resolve per segment (`_ts_meta`.`sys_time`), not
    as one backticked column name."""
    store = ParquetStorage(spark, str(tmp_path / "sorted.parquet"))
    docs = []
    for i, x in enumerate([3.0, 1.0, 2.0]):
        doc = TopicStore({"n": i, "robot": {"x": x}})
        doc.dict["_ts_meta"]["sys_time"] = 1000.0 + x
        docs.append(doc)
    store.insert_many(docs)
    rows = store.find(sort=[("_ts_meta.sys_time", -1)], limit=2).collect()
    assert [r["n"] for r in rows] == [0, 2]
    rows = store.find(sort=[("robot.x", 1)]).collect()
    assert [r["robot"]["x"] for r in rows] == [1.0, 2.0, 3.0]


def test_find_sort_on_projected_away_field(spark, tmp_path):
    """Mongo sorts before projecting: the sort key need not survive the
    projection."""
    store = ParquetStorage(spark, str(tmp_path / "sortproj.parquet"))
    store.insert_many([{"n": i, "robot": {"x": x}} for i, x in enumerate([3.0, 1.0, 2.0])])
    rows = store.find(projection={"n": 1}, sort=[("robot.x", -1)]).collect()
    assert [r["n"] for r in rows] == [0, 2, 1]
    assert "robot" not in rows[0].asDict()


# -- schema cache -------------------------------------------------------------------


_META = "struct<session:string,sys_time:double,ros_time:double>"


def _field_types(dtype, prefix=""):
    """Dotted field path -> leaf type; Spark's own merge orders fields by
    part-file name, so schemas are compared per path."""
    from pyspark.sql import types as T

    if isinstance(dtype, T.StructType):
        out = {}
        for f in dtype.fields:
            out.update(_field_types(f.dataType, f"{prefix}{f.name}."))
        return out
    if isinstance(dtype, T.ArrayType):
        return _field_types(dtype.elementType, prefix + "[].")
    return {prefix.rstrip("."): dtype.simpleString()}


def _assert_matches_fresh_read(spark, store):
    cached = store.to_df()
    fresh = spark.read.option("mergeSchema", "true").parquet(store.path)
    assert _field_types(cached.schema) == _field_types(fresh.schema)

    def rows(df):
        return sorted(
            (r.asDict(recursive=True) for r in df.collect()), key=lambda d: d["_id"]
        )

    assert rows(cached) == rows(fresh)


def _spark_jobs(spark, fn) -> int:
    """Spark jobs ``fn`` runs, counted in a job group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"pin-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count pin", False)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker is fed by the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _part_files(path) -> int:
    return sum(
        f.startswith("part-") for _root, _dirs, names in os.walk(path) for f in names
    )


def test_merge_schemas_matches_spark_parquet_merge(spark, tmp_path):
    """``codec.merge_schemas`` predicts the schema Spark's mergeSchema
    reads from part files of both schemas, nullability included."""
    from pyspark.sql import types as T

    from topic_store_spark.codec import merge_schemas

    F_, S = T.StructField, (lambda *fs: T.StructType(list(fs)))
    a = S(F_("n", T.LongType(), False),
          F_("s", S(F_("x", T.IntegerType(), False), F_("y", T.StringType()))),
          F_("arr", T.ArrayType(S(F_("p", T.StringType())), False)),
          F_("d", T.DecimalType(10, 2)))
    b = S(F_("s", S(F_("z", T.LongType()), F_("x", T.IntegerType()))),
          F_("arr", T.ArrayType(S(F_("q", T.DoubleType())))),
          F_("d", T.DecimalType(12, 2)), F_("new", T.StringType(), False))
    path = str(tmp_path / "merge.parquet")
    spark.createDataFrame([], a).write.mode("append").parquet(path)
    spark.createDataFrame([], b).write.mode("append").parquet(path)
    fresh = spark.read.option("mergeSchema", "true").parquet(path).schema

    def by_name(dtype):  # Spark orders fields by part-file name
        if isinstance(dtype, T.StructType):
            return T.StructType(sorted(
                (T.StructField(f.name, by_name(f.dataType), f.nullable, f.metadata)
                 for f in dtype.fields), key=lambda f: f.name))
        if isinstance(dtype, T.ArrayType):
            return T.ArrayType(by_name(dtype.elementType), dtype.containsNull)
        return dtype

    assert by_name(merge_schemas(a, b)) == by_name(fresh)


def test_schema_cache_follows_drifting_appends(spark, tmp_path):
    """The schema the store keeps up to date from its own appends equals
    Spark's fresh mergeSchema inference after every step, and reads
    with it return the same rows."""
    from pyspark.sql import types as T

    store = ParquetStorage(spark, str(tmp_path / "drift.parquet"))
    store.insert_one({"n": 1, "robot": {"x": 1.0}})
    store.insert_one({"n": 2, "robot": {"x": 2.0, "mode": "auto"}, "tag": "a"})
    store.insert_many([{"n": None, "robot": {"y": None}}, {"n": None, "extra": None}])
    store.insert_one({"n": 4, "robot": {"x": 4.0, "pose": {"z": 0.5}}, "tags": ["p"]})
    _assert_matches_fresh_read(spark, store)
    assert dict(store.to_df().dtypes)["n"] == "bigint"  # null-only adopted

    ids = [TopicStore({"k": 0}).id for _ in range(2)]
    store.write_df(spark.createDataFrame(
        [(ids[0], (None, 5.0, 5.0), 5)], f"_id string, _ts_meta {_META}, k int"))
    _assert_matches_fresh_read(spark, store)
    # Spark 4's parquet merge does not widen INT to BIGINT: refused at write time
    with pytest.raises(ValueError, match="k: int"):
        store.write_df(spark.createDataFrame(
            [(ids[1], (None, 6.0, 6.0), 6)], f"_id string, _ts_meta {_META}, k bigint"))
    store.write_df(spark.createDataFrame(
        [(ids[1], (None, 6.0, 6.0), 6)], f"_id string, _ts_meta {_META}, k2 bigint"))
    _assert_matches_fresh_read(spark, store)
    assert dict(store.to_df().dtypes)["k"] == "int"
    assert isinstance(store.to_df().schema["k2"].dataType, T.LongType)
    # every schema above came from the cache: reading plans no job
    assert _spark_jobs(spark, store.to_df) == 0


def test_schema_cache_sees_foreign_appends(spark, tmp_path):
    """Appends by another storage object or a raw parquet write change
    the part-file listing: the next read and the next write guard see
    them."""
    path = str(tmp_path / "foreign.parquet")
    store = ParquetStorage(spark, path)
    store.insert_one({"n": 1})
    store.to_df()  # cache warm

    ParquetStorage(spark, path).insert_one({"n": 2, "label": "x"})
    assert dict(store.to_df().dtypes)["label"] == "string"
    _assert_matches_fresh_read(spark, store)
    with pytest.raises(ValueError, match="label"):
        store.insert_one({"label": 3})

    spark.createDataFrame(
        [(TopicStore({}).id, (None, 1.0, 1.0), 7.5)], f"_id string, _ts_meta {_META}, g double"
    ).write.mode("append").parquet(path)
    assert dict(store.to_df().dtypes)["g"] == "double"
    _assert_matches_fresh_read(spark, store)
    with pytest.raises(ValueError, match="g: double"):
        store.insert_one({"g": "seven"})
    assert store.count() == 3


@pytest.mark.parametrize("mutation", ["compact", "delete_many", "update_one_by_id",
                                      "delete_by_id"])
def test_store_rewrites_invalidate_schema_cache(spark, tmp_path, mutation):
    store = ParquetStorage(spark, str(tmp_path / f"{mutation}.parquet"))
    ids = store.insert_many([{"n": i} for i in range(3)])
    assert store._cached is not None
    if mutation == "compact":
        store.compact()
    elif mutation == "delete_many":
        store.delete_many({"n": 0})
    elif mutation == "update_one_by_id":
        store.update_one_by_id(ids[0], added=1.5)
    else:
        store.delete_by_id(ids[0])
    assert store._cached is None
    _assert_matches_fresh_read(spark, store)
    if mutation == "update_one_by_id":
        assert dict(store.to_df().dtypes)["added"] == "double"


def test_append_job_and_file_counts(spark, tmp_path):
    """Pins: on a store this process wrote, insert_one is one Spark job
    (the write; no schema inference) adding one part file, and building
    a find() plan runs none."""
    store = ParquetStorage(spark, str(tmp_path / "pins.parquet"))
    store.insert_one({"n": 0, "robot": {"x": 0.5}})
    files = _part_files(store.path)
    assert _spark_jobs(spark, lambda: store.insert_one({"n": 1, "robot": {"x": 1.5}})) == 1
    assert _part_files(store.path) == files + 1
    assert _spark_jobs(spark, lambda: store.find({"robot.x": {"$gt": 1.0}})) == 0
    assert store.find({"robot.x": {"$gt": 1.0}}).count() == 1


def test_arrow_rows_match_row_path(spark):
    """``rows_to_arrow`` builds the same DataFrame as the row path
    ``createDataFrame(documents_to_rows(docs, schema), schema)``,
    including naive datetimes read as Python local time."""
    import datetime as dt
    import time

    from pyspark.sql import types as T

    from topic_store_spark.codec import documents_to_rows, infer_schema, rows_to_arrow

    plus5 = dt.timezone(dt.timedelta(hours=5, minutes=30))
    docs = [
        {"naive": dt.datetime(2021, 3, 14, 2, 30, 0, 123456),
         "aware": dt.datetime(2021, 6, 1, 12, 0, tzinfo=plus5),
         "raw": b"\x00\xffbytes", "buf": bytearray(b"\x01\x02"),
         "empty": [], "pts": [{"x": 1.0, "at": dt.datetime(2020, 11, 1, 1, 30)}],
         "nothing": None, "day": dt.date(2021, 1, 2), "n": 1},
        {"naive": dt.datetime(1969, 12, 31, 23, 59, 59),
         "aware": None, "raw": None, "buf": bytearray(),
         "empty": [], "pts": [{"x": 2.5}, None, {"y": "s"}],
         "nothing": None, "day": None, "n": 2.5},
    ]
    micros = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

    def as_json(df):
        return sorted(
            r[0] for r in df.select(
                F.to_json(F.struct("*"), {"timestampFormat": micros})).collect()
        )

    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        schema = infer_schema(docs, reference=T.StructType(
            [T.StructField("nothing", T.LongType())]))
        assert isinstance(schema["nothing"].dataType, T.LongType)
        by_rows = spark.createDataFrame(documents_to_rows(docs, schema), schema)
        by_arrow = spark.createDataFrame(
            rows_to_arrow(documents_to_rows(docs, schema), schema), schema)
        assert by_arrow.schema == by_rows.schema
        assert by_arrow.collect() == by_rows.collect()
        assert as_json(by_arrow) == as_json(by_rows)
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()


def test_foreign_file_during_append_drops_schema_cache(spark, tmp_path, monkeypatch):
    """A file another writer lands while an append runs carries a second
    job UUID: the cache entry is dropped, not advanced past it."""
    from pyspark.sql.readwriter import DataFrameWriter

    path = str(tmp_path / "race.parquet")
    store = ParquetStorage(spark, path)
    store.insert_one({"n": 1})
    foreign = spark.createDataFrame(
        [(TopicStore({}).id, (None, 1.0, 1.0), "x")], f"_id string, _ts_meta {_META}, f string")
    original = DataFrameWriter.parquet

    def racing_parquet(self, target, *args, **kwargs):
        original(self, target, *args, **kwargs)
        if target == path:
            original(foreign.write.mode("append"), path)

    monkeypatch.setattr(DataFrameWriter, "parquet", racing_parquet)
    store.insert_one({"n": 2})
    monkeypatch.undo()
    assert store._cached is None
    assert dict(store.to_df().dtypes)["f"] == "string"
    _assert_matches_fresh_read(spark, store)
