"""Filesystem-backed storages.

``ParquetStorage`` is the engine's canonical store: an append-only
directory of parquet files (immutable appends, the same write pattern as
the reference's append-only ``.topic_store`` pickle stream,
reference filesystem.py:49-50, but columnar, splittable and
predicate-pushdown-friendly at 100 TB).

``TopicStorage`` is the legacy migration reader/writer for the
reference's ``.topic_store`` pickle-stream format
(reference filesystem.py:19-68).  Reading is distributed: one executor
task per file parses frames and emits JSON lines, then Spark's JSON
reader infers/merges the ragged schema.  Corrupt frames are skipped with
a warning — parity with reference filesystem.py:66-68.
"""

from __future__ import annotations

import base64
import datetime as _dt
import io
import json
import logging
import os
import pickle
import re
from typing import Any, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from topic_store_spark.api import Storage, register_storage
from topic_store_spark.codec import (
    documents_to_rows,
    infer_schema,
    merge_schemas,
    rows_to_arrow,
    schema_merge_conflicts,
)
from topic_store_spark.data import TopicStore

logger = logging.getLogger(__name__)

BINARY_SENTINEL = "__binary_b64__"

#: Spark names every file of one write job ``part-<split>-<job uuid>...``
_PART_JOB = re.compile(r"part-\d+-([0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12})")


def with_partition_date(df: DataFrame, col_name: str = "_ts_date") -> DataFrame:
    """Derive the canonical partition column (UTC date of
    ``_ts_meta.sys_time``) — the layout key for a date-partitioned
    corpus, so session/time-range queries prune whole directories."""
    return df.withColumn(
        col_name, F.to_date(F.timestamp_seconds(F.col("_ts_meta.sys_time")))
    )


@register_storage
class ParquetStorage(Storage):
    """Append-only parquet collection (canonical store).

    ``partition_by`` writes hive-style partition directories; combine
    with ``with_partition_date`` for the standard by-capture-date layout.
    At 100 TB this is the difference between scanning the corpus and
    scanning a day: any filter on the partition column becomes a
    directory-level PartitionFilter (zero data IO for pruned dates).

    Schema cache: every reader and writer takes the store's schema from
    ``_schema()`` — Spark's own ``mergeSchema`` inference, kept with the
    listing (path and size of every part file) it was taken at, so
    ``to_df()`` reads with a fixed schema and runs no inference job while
    the listing is unchanged.  Any change to the listing — a foreign
    append, a rewrite, another process — invalidates the entry and the
    next read infers afresh.  An append of this instance advances the
    entry in place (``codec.merge_schemas``), assuming a single writer
    per append: only when the entry matched the listing just before the
    write and every file the write added carries its job UUID; otherwise,
    and for partitioned layouts and the rewrites of ``_overwrite``, the
    entry is dropped.
    """

    suffixes = (".parquet", ".tsp")

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        partition_by: tuple[str, ...] | None = None,
        blob_dir: str | None = None,
        blob_threshold: int | None = None,
    ) -> None:
        self.spark = spark
        self.path = str(path)
        self.partition_by = tuple(partition_by) if partition_by else ()
        # out-of-row blob policy (parity: GridFS-on-insert, SURVEY B1):
        # with blob_dir set, oversized binary cells externalize on every
        # write and find() rehydrates them unless skip_fetch_binary
        self.blob_dir = blob_dir
        self.blob_threshold = blob_threshold
        # (listing, schema): see the class docstring.  Entries check
        # themselves against the listing, so a racing reader or writer
        # can only make the next read infer again, never read wrong.
        self._cached: tuple[tuple, T.StructType] | None = None

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "ParquetStorage":
        return cls(spark, path)

    def _listing(self) -> tuple[tuple[str, int], ...]:
        """Sorted (path, size) of the store's data files; empty while the
        store does not exist.  Partitioned layouts nest part files under
        key=value directories."""
        p = self.path
        if not os.path.isdir(p):
            return ((p, os.path.getsize(p)),) if os.path.exists(p) else ()
        files = []
        for root, _dirs, names in os.walk(p):
            for name in names:
                if name.endswith(".parquet") or name.startswith("part-"):
                    full = os.path.join(root, name)
                    files.append((full, os.path.getsize(full)))
        return tuple(sorted(files))

    def _schema(
        self, listing: tuple[tuple[str, int], ...] | None = None
    ) -> T.StructType | None:
        """The store's merged schema (None while it has no data files);
        infers only when ``listing`` differs from the cached entry's."""
        listing = self._listing() if listing is None else listing
        if not listing:
            return None
        cached = self._cached
        if cached is not None and cached[0] == listing:
            return cached[1]
        schema = self.spark.read.option("mergeSchema", "true").parquet(self.path).schema
        self._cached = (listing, schema)
        return schema

    def _remember_append(
        self, before: tuple[tuple[str, int], ...], written: T.StructType
    ) -> None:
        """Advance the cached schema past this instance's own append, or
        drop it (class docstring)."""
        cached, self._cached = self._cached, None
        if self.partition_by:
            return
        if not before:
            base = T.StructType()
        elif cached is not None and cached[0] == before:
            base = cached[1]
        else:
            return
        after = self._listing()
        sizes, old = dict(after), dict(before)
        kept = all(sizes.get(path) == size for path, size in before)
        added = [os.path.basename(path) for path in sizes if path not in old]
        jobs = {m and m.group(1) for m in map(_PART_JOB.match, added)}
        if kept and len(jobs) == 1 and None not in jobs:
            self._cached = (after, merge_schemas(base, written))

    def to_df(self) -> DataFrame:
        schema = self._schema()
        if schema is None:
            schema = T.StructType(
                [
                    T.StructField("_id", T.StringType()),
                    T.StructField(
                        "_ts_meta",
                        T.StructType(
                            [
                                T.StructField("session", T.StringType()),
                                T.StructField("sys_time", T.DoubleType()),
                                T.StructField("ros_time", T.DoubleType()),
                            ]
                        ),
                    ),
                ]
            )
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(self.path)

    def insert_one(self, document: dict | TopicStore) -> str:
        store = document if isinstance(document, TopicStore) else TopicStore(document)
        self.insert_many([store])
        return store.id

    def insert_many(self, documents: list[dict | TopicStore]) -> list[str]:
        stores = [
            d if isinstance(d, TopicStore) else TopicStore(d) for d in documents
        ]
        docs = [s.dict for s in stores]
        # all-null fields adopt the store's existing type (no evidence of
        # their own), so {"n": None} appends cleanly to a BIGINT column
        existing = self._schema()
        schema = infer_schema(docs, reference=existing)
        rows = documents_to_rows(docs, schema)
        if self.blob_dir:
            # the rows are in the driver already: write their blobs here
            # rather than in a Python-worker pass of write_df, once the
            # append is known not to be refused
            from topic_store_spark.blob import (
                DEFAULT_THRESHOLD,
                externalize_rows,
                pointer_schema,
            )

            self._refuse_conflicts(existing, pointer_schema(schema))
            rows, schema = externalize_rows(
                rows, schema, self.blob_dir, self.blob_threshold or DEFAULT_THRESHOLD
            )
        table = rows_to_arrow(rows, schema)
        self.write_df(self.spark.createDataFrame(table, schema))
        return [s.id for s in stores]

    @staticmethod
    def _refuse_conflicts(
        existing: T.StructType | None, written: T.StructType
    ) -> None:
        """An incompatible part file would poison every subsequent read,
        so refuse the write instead."""
        conflicts = [] if existing is None else schema_merge_conflicts(existing, written)
        if conflicts:
            raise ValueError(
                "append would corrupt the store (subsequent reads fail "
                "with CANNOT_MERGE_SCHEMAS): incompatible column types "
                f"{conflicts}; cast the data, or use RaggedParquetStorage "
                "for structurally heterogeneous corpora"
            )

    def write_df(self, df: DataFrame) -> None:
        if self.blob_dir:
            from topic_store_spark.blob import DEFAULT_THRESHOLD, externalize_blobs

            df = externalize_blobs(
                df, self.blob_dir, threshold=self.blob_threshold or DEFAULT_THRESHOLD
            )
        before = self._listing()
        existing = self._schema(before)
        written = df.schema
        # guard runs on the FINAL written shape (after blob pointer
        # rewrite)
        self._refuse_conflicts(existing, written)
        writer = df.write.mode("append")
        if self.partition_by:
            missing = [c for c in self.partition_by if c not in df.columns]
            if missing == ["_ts_date"] and "_ts_meta" in df.columns:
                df = with_partition_date(df)
                writer = df.write.mode("append")
            elif missing:
                raise ValueError(f"partition columns missing from data: {missing}")
            writer = writer.partitionBy(*self.partition_by)
        writer.parquet(self.path)
        self._remember_append(before, written)

    def count(self, query: dict | None = None, estimate: bool = False) -> int:
        """Exact count scans; ``estimate=True`` is metadata-only — summed
        parquet footer row counts, zero data IO (parity: the reference's
        ``estimated_document_count`` fast path, database.py:221-231)."""
        if estimate and query:
            raise ValueError("estimate=True cannot be combined with a query")
        if estimate:
            import pyarrow.parquet as pq

            return sum(
                pq.ParquetFile(path).metadata.num_rows for path, _ in self._listing()
            )
        return super().count(query)

    def find(self, *args, skip_fetch_binary: bool = False, **kwargs) -> DataFrame:
        """find() with blob rehydration (B2); ``skip_fetch_binary=True``
        leaves pointer structs unresolved — the reference's
        slow-connection lazy path (B3, database.py:174,202-204)."""
        df = super().find(*args, **kwargs)
        if self.blob_dir and not skip_fetch_binary:
            from topic_store_spark.blob import rehydrate_blobs

            df = rehydrate_blobs(df)
        return df

    # -- mutation (SURVEY §2.9 M2/M3).  Plain parquet has no row-level
    # update, so mutations are read -> transform -> atomic directory swap.
    # On a transactional table format (Delta/Iceberg) these become native
    # UPDATE/DELETE; the API surface is the same.
    def _overwrite(self, df: DataFrame) -> None:
        import shutil
        import uuid

        tmp = f"{self.path}.tmp-{uuid.uuid4().hex[:8]}"
        writer = df.write.mode("overwrite")
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        try:
            writer.parquet(tmp)
            self._cached = None
            if self._listing():
                # atomic swap: stage the old store aside, promote the new one
                old = f"{self.path}.old-{uuid.uuid4().hex[:8]}"
                os.rename(self.path, old)
                os.rename(tmp, self.path)
                shutil.rmtree(old, ignore_errors=True)
            else:
                # fresh target (e.g. $out to a new collection — Mongo
                # creates it): promote the tmp write directly
                os.rename(tmp, self.path)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def update_one_by_id(self, document_id: str, **updates) -> None:
        """$set-style field update on one document (parity: reference
        database.py:162-168)."""
        df = self.to_df()
        out = df
        for key, value in updates.items():
            if "." in key:
                root, rest = key.split(".", 1)
                out = out.withColumn(
                    root,
                    F.when(
                        F.col("_id") == document_id,
                        F.col(f"`{root}`").withField(rest, F.lit(value)),
                    ).otherwise(F.col(f"`{root}`")),
                )
            else:
                out = out.withColumn(
                    key,
                    F.when(F.col("_id") == document_id, F.lit(value)).otherwise(
                        F.col(f"`{key}`") if key in df.columns else F.lit(None)
                    ),
                )
        self._overwrite(out)

    def delete_by_id(self, document_id: str, gc_blobs: bool = True) -> None:
        """Point delete + blob GC (parity: reference database.py:268-278)."""
        from topic_store_spark.blob import collect_blob_paths, delete_blobs

        df = self.to_df()
        doomed = df.filter(F.col("_id") == document_id)
        if gc_blobs:
            delete_blobs(collect_blob_paths(doomed))
        self._overwrite(df.filter(F.col("_id") != document_id))

    def delete_many(self, query: dict, gc_blobs: bool = True) -> int:
        """Query-matched bulk delete (retention/TTL sweeps): one filtered
        rewrite through the atomic overwrite swap, survivors counted via
        ``observe`` so the pass costs no second scan.  Empty query is
        refused — dropping a whole store should be an explicit
        ``_overwrite(empty)`` / directory delete, not a default."""
        from pyspark.sql import Observation

        from topic_store_spark.blob import collect_blob_paths, delete_blobs

        if not query:
            raise ValueError("delete_many: empty query would drop the store")
        df = self.to_df()
        pred = self._compile_query(df, query)
        if gc_blobs:
            delete_blobs(collect_blob_paths(df.filter(pred)))
        before = df.count()
        obs = Observation("delete_many")
        survivors = df.filter(~F.coalesce(pred, F.lit(False))).observe(
            obs, F.count(F.lit(1)).alias("kept")
        )
        self._overwrite(survivors)
        return before - int(obs.get["kept"])

    def compact(self, target_rows_per_file: int = 1_000_000) -> int:
        """Small-file maintenance: append-only ingest fragments the store
        — every ``insert_one`` / ``insert_many`` adds exactly one part
        file — and at scale the file-listing + footer reads dominate scan
        setup.  Rewrites the store into
        ``ceil(rows / target_rows_per_file)`` files via the atomic
        overwrite swap and returns the new file count.  Partitioned
        layouts compact within each partition directory (the
        repartition keys on the partition columns)."""
        import math

        df = self.to_df()
        n = df.count()
        files = max(1, math.ceil(n / max(1, target_rows_per_file)))
        if self.partition_by:
            df = df.repartition(files, *[F.col(c) for c in self.partition_by])
        else:
            df = df.repartition(files)
        self._overwrite(df)
        return len(self._listing())


@register_storage
class ScenarioStorage(Storage):
    """``load("scenario.yaml")`` dispatch (parity: reference
    database.py:94-99 — a MongoStorage opens from the scenario file,
    using ``context`` as the collection name).

    Here the scenario's storage section routes to the concrete backend:
    ``filesystem`` resolves to the ParquetStorage at its ``location``;
    ``database`` resolves to a MongoStorage on the scenario's connection
    config with ``context`` as the collection name.  This class never
    instantiates — ``load()`` returns the resolved backend."""

    suffixes = (".yaml", ".yml")

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> Storage:
        from topic_store_spark.streaming.scenario import ScenarioFileParser

        scenario = ScenarioFileParser(path)
        method = scenario.storage["method"]
        if method == "filesystem":
            from topic_store_spark.api import load as load_storage

            return load_storage(scenario.storage["location"], spark)
        from topic_store_spark.mongodb import MongoStorage

        return MongoStorage.from_scenario(scenario, spark)

    # never constructed: load() returns the resolved backend
    def to_df(self):  # pragma: no cover
        raise NotImplementedError

    def insert_one(self, document):  # pragma: no cover
        raise NotImplementedError


@register_storage
class RaggedParquetStorage(Storage):
    """Schema-on-read fallback for ragged corpora (SURVEY §1.1).

    When documents disagree structurally (conflicting types for the same
    key, unbounded key churn) a merged StructType either fails or decays
    to strings.  This mode keeps the system fields as real columns and
    the payload as one JSON ``doc`` column; queries compile dotted paths
    into type-cast ``get_json_object`` extractions (type-bracketed like
    Mongo: a numeric comparison simply doesn't match a string-valued
    field).  Trade-off vs the canonical store: no columnar pruning inside
    the payload — use it for landing zones and promote stable subtrees to
    typed columns downstream."""

    suffixes = (".ragged.parquet", ".rtsp")

    SCHEMA = T.StructType(
        [
            T.StructField("_id", T.StringType()),
            T.StructField(
                "_ts_meta",
                T.StructType(
                    [
                        T.StructField("session", T.StringType()),
                        T.StructField("sys_time", T.DoubleType()),
                        T.StructField("ros_time", T.DoubleType()),
                    ]
                ),
            ),
            T.StructField("doc", T.StringType()),
        ]
    )

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = str(path)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "RaggedParquetStorage":
        return cls(spark, path)

    _listing = ParquetStorage._listing  # same on-disk layout

    def _sort_col(self, df: DataFrame, path: str):
        return self._resolve(path, None)

    def to_df(self) -> DataFrame:
        if not self._listing():
            return self.spark.createDataFrame([], self.SCHEMA)
        return self.spark.read.parquet(self.path)

    def insert_one(self, document: dict | TopicStore) -> str:
        store = document if isinstance(document, TopicStore) else TopicStore(document)
        self.insert_many([store])
        return store.id

    def insert_many(self, documents: list[dict | TopicStore]) -> list[str]:
        stores = [
            d if isinstance(d, TopicStore) else TopicStore(d) for d in documents
        ]
        rows = []
        for s in stores:
            payload = {
                k: v for k, v in s.dict.items() if k not in ("_id", "_ts_meta")
            }
            meta = s.dict["_ts_meta"]
            rows.append(
                (
                    s.id,
                    (meta["session"], meta["sys_time"], meta["ros_time"]),
                    json.dumps(payload, default=_json_default, sort_keys=True),
                )
            )
        table = rows_to_arrow(rows, self.SCHEMA)
        self.spark.createDataFrame(table, self.SCHEMA).write.mode("append").parquet(
            self.path
        )
        return [s.id for s in stores]

    def write_df(self, df: DataFrame) -> None:
        df.select(*[F.col(f"`{f.name}`") for f in self.SCHEMA.fields]).write.mode(
            "append"
        ).parquet(self.path)

    # -- mutation (M2/M3 parity on the landing-zone container) -----------
    partition_by = None  # ragged landing zones are never hive-partitioned
    _overwrite = ParquetStorage._overwrite  # same atomic directory swap

    def update_one_by_id(self, document_id: str, **updates) -> None:
        """``$set`` on the JSON payload: dotted keys create/replace nested
        fields.  Only the matching row's JSON is parsed (Arrow batch scan
        with a mask); the store swap is the usual atomic rename."""
        df = self.to_df()
        schema = df.schema

        def rewrite(batches):
            for pdf in batches:
                mask = pdf["_id"] == document_id
                if mask.any():
                    rewritten = []
                    for doc in pdf.loc[mask, "doc"]:
                        tree = json.loads(doc)
                        for key, value in updates.items():
                            node = tree
                            parts = key.split(".")
                            for part in parts[:-1]:
                                child = node.get(part)
                                if not isinstance(child, dict):
                                    child = {}
                                    node[part] = child
                                node = child
                            node[parts[-1]] = value
                        rewritten.append(
                            json.dumps(tree, default=_json_default, sort_keys=True)
                        )
                    pdf = pdf.copy()
                    pdf.loc[mask, "doc"] = rewritten
                yield pdf

        self._overwrite(df.mapInPandas(rewrite, schema))

    def delete_by_id(self, document_id: str) -> None:
        self._overwrite(self.to_df().filter(F.col("_id") != document_id))

    # -- schema-on-read query compilation --------------------------------
    SYSTEM_PREFIXES = ("_id", "_ts_meta")

    def _resolve(self, path: str, probe: Any):
        if path == "_id" or path.split(".", 1)[0] == "_ts_meta":
            return F.col(".".join(f"`{p}`" for p in path.split(".")))
        raw = F.get_json_object(F.col("doc"), "$." + path)
        # try_cast: a type-mismatched field reads as NULL (Mongo type
        # bracketing), never an ANSI cast error
        if isinstance(probe, bool):
            return raw.try_cast("boolean")
        if isinstance(probe, (int, float)):
            return raw.try_cast("double")
        return raw

    def _compile_query(self, df: DataFrame, query: dict | None):
        from topic_store_spark.query.compiler import compile_query

        return compile_query(query, resolver=self._resolve)

    def _apply_projection(self, df: DataFrame, projection: dict | None) -> DataFrame:
        if not projection:
            return df
        includes = [k for k, v in projection.items() if v not in (0, False)]
        excludes = [k for k, v in projection.items() if v in (0, False)]
        if excludes and [e for e in excludes if e != "_id"]:
            raise ValueError(
                "ragged storage supports include projections (and _id: 0) only"
            )
        cols = []
        if "_id" not in excludes:
            cols.append(F.col("_id"))
        cols.append(F.col("_ts_meta"))  # forced, parity R2
        for path in includes:
            if path in ("_id", "_ts_meta"):
                continue
            # extracted subtrees stay JSON text (schema-on-read)
            cols.append(
                F.get_json_object(F.col("doc"), "$." + path).alias(path)
            )
        return df.select(*cols)


def _decode_binary_markers(value: Any) -> Any:
    if isinstance(value, dict):
        if set(value) == {BINARY_SENTINEL}:
            return base64.b64decode(value[BINARY_SENTINEL])
        return {k: _decode_binary_markers(v) for k, v in value.items()}
    if isinstance(value, list):
        return [_decode_binary_markers(v) for v in value]
    return value


def _json_default(value: Any) -> Any:
    if isinstance(value, (bytes, bytearray)):
        return {BINARY_SENTINEL: base64.b64encode(bytes(value)).decode("ascii")}
    if isinstance(value, (_dt.datetime, _dt.date)):
        return value.isoformat()
    return str(value)


def parse_pickle_frames(raw: bytes) -> Iterator[dict]:
    """Yield document dicts from a concatenated-pickle byte stream,
    skipping corrupt frames (parity: reference filesystem.py:52-68, which
    prints and keeps attempting subsequent loads).  After a corrupt frame
    the scan resyncs at the next protocol-2 header (``\\x80\\x02`` — the
    only protocol this writer emits), so frames after a mid-stream
    corruption are still recovered."""
    buf = io.BytesIO(raw)
    while buf.tell() < len(raw):
        start = buf.tell()
        try:
            doc = pickle.load(buf)
        except EOFError:
            break
        except Exception as exc:  # corrupt frame: resync with message
            nxt = raw.find(b"\x80\x02", start + 1)
            if nxt < 0:
                logger.warning(
                    "Skipping corrupt pickle tail (%d bytes abandoned): %s",
                    len(raw) - start, exc,
                )
                break
            logger.warning(
                "Skipping corrupt pickle frame (%d bytes) and resyncing: %s",
                nxt - start, exc,
            )
            buf.seek(nxt)
            continue
        if isinstance(doc, dict):
            yield doc


@register_storage
class TopicStorage(Storage):
    """Legacy ``.topic_store`` pickle-stream container (migration path)."""

    suffixes = (".topic_store",)

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = str(path)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "TopicStorage":
        return cls(spark, path)

    def to_df(self) -> DataFrame:
        """Distributed parse: one task per file -> JSON lines -> inferred
        schema.  Files don't split (pickle streams aren't splittable), but
        a corpus of many files parallelizes across executors — the same
        unit of parallelism the reference has (one file per session)."""
        if not os.path.exists(self.path):
            return self.spark.createDataFrame([], T.StructType([
                T.StructField("_id", T.StringType()),
            ]))
        rdd = self.spark.sparkContext.binaryFiles(self.path)

        def frames_to_json(kv):
            # self-contained closure: executors may not have this package
            # importable, so only stdlib is referenced here
            import base64 as _b64
            import datetime as _dtm
            import io as _io
            import json as _json
            import pickle as _pickle

            sentinel = BINARY_SENTINEL

            def default(value):
                if isinstance(value, (bytes, bytearray)):
                    return {sentinel: _b64.b64encode(bytes(value)).decode("ascii")}
                if isinstance(value, (_dtm.datetime, _dtm.date)):
                    return value.isoformat()
                return str(value)

            raw = kv[1]
            buf = _io.BytesIO(raw)
            while buf.tell() < len(raw):
                start = buf.tell()
                try:
                    doc = _pickle.load(buf)
                except Exception:
                    # corrupt frame: resync at the next protocol-2 header
                    # (reference filesystem.py:52-68 keeps loading)
                    nxt = raw.find(b"\x80\x02", start + 1)
                    if nxt < 0:
                        break
                    buf.seek(nxt)
                    continue
                if isinstance(doc, dict):
                    yield _json.dumps(doc, default=default)

        return self.spark.read.json(rdd.flatMap(frames_to_json))

    def insert_one(self, document: dict | TopicStore) -> str:
        """Driver-side append of one pickle frame (single-writer append
        semantics, parity: reference filesystem.py:37-50)."""
        store = document if isinstance(document, TopicStore) else TopicStore(document)
        parent = os.path.dirname(self.path)
        if parent:
            os.makedirs(parent, exist_ok=True)
        with open(self.path, "ab") as fh:
            pickle.dump(_plainify(store.dict), fh, protocol=2)
        return store.id

    def __iter__(self) -> Iterator[TopicStore]:
        if not os.path.exists(self.path):
            return
        with open(self.path, "rb") as fh:
            raw = fh.read()
        for doc in parse_pickle_frames(raw):
            yield TopicStore(doc)


def _plainify(value: Any) -> Any:
    if isinstance(value, bytearray):
        return bytes(value)
    if isinstance(value, dict):
        return {k: _plainify(v) for k, v in value.items()}
    if isinstance(value, list):
        return [_plainify(v) for v in value]
    return value


def write_topic_store(df: DataFrame, path: str) -> int:
    """Egress writer: DataFrame -> one ``.topic_store`` pickle stream.
    Round-trip/migration convenience only (streamed through the driver;
    the canonical distributed sink is parquet).  Returns rows written."""
    parent = os.path.dirname(path)
    if parent:
        os.makedirs(parent, exist_ok=True)
    count = 0
    with open(path, "ab") as fh:
        for row in df.toLocalIterator():
            pickle.dump(_plainify(row.asDict(recursive=True)), fh, protocol=2)
            count += 1
    return count
