"""Storage interface + ``load()`` dispatcher (parity: reference api.py).

``Storage`` is the abstract contract (reference api.py:22-61:
``insert_one`` / ``__iter__`` / ``parse_path``); ``load(path)`` tries each
registered container by path shape (reference api.py:64-77).  The Spark
twist: a Storage *is* a DataFrame factory — ``to_df()`` returns the
collection as a DataFrame and every query method compiles onto it.
"""

from __future__ import annotations

from abc import ABC, abstractmethod
from typing import Any, Iterator

from pyspark.sql import DataFrame, SparkSession

from topic_store_spark.data import TopicStore
from topic_store_spark.query import apply_pipeline, apply_projection, compile_query


class Storage(ABC):
    """Abstract storage container of TopicStore documents."""

    suffixes: tuple[str, ...] = ()

    @classmethod
    def parse_path(cls, path: str) -> bool:
        return any(str(path).endswith(s) for s in cls.suffixes)

    @classmethod
    @abstractmethod
    def load(cls, spark: SparkSession, path: str) -> "Storage":
        ...

    @abstractmethod
    def to_df(self) -> DataFrame:
        """The collection as a DataFrame (the engine's native view)."""

    @abstractmethod
    def insert_one(self, document: dict | TopicStore) -> str:
        """Append one document; returns its ``_id``."""

    # ------ query surface shared by all containers --------------------
    def _compile_query(self, df: DataFrame, query: dict | None):
        """Hook: Mongo filter -> boolean Column for this container's row
        shape (ragged containers resolve paths into JSON extraction)."""
        return compile_query(query, df.schema)

    def _apply_projection(self, df: DataFrame, projection: dict | None) -> DataFrame:
        return apply_projection(df, projection)

    def _sort_col(self, df: DataFrame, path: str):
        """Hook: dotted sort key -> Column (each segment quoted; a path
        absent from the schema sorts as NULL)."""
        from topic_store_spark.query.compiler import path_col

        return path_col(path, df.schema)

    def find(
        self,
        query: dict | None = None,
        projection: dict | None = None,
        sort: list[tuple[str, int]] | None = None,
        limit: int | None = None,
        skip: int | None = None,
    ) -> DataFrame:
        """Mongo-style find compiled to filter/select/orderBy/limit
        (parity: reference database.py:193-204)."""
        df = self.to_df()
        df = df.filter(self._compile_query(df, query))
        if sort:
            # Mongo sorts before projecting: a sort key the projection
            # drops still orders the result
            keys = [(self._sort_col(df, k), d) for k, d in sort]
            df = df.orderBy(*[c.asc() if d >= 0 else c.desc() for c, d in keys])
        df = self._apply_projection(df, projection)
        if skip:
            df = df.offset(int(skip))
        if limit is not None:
            df = df.limit(int(limit))
        return df

    def find_one(self, query: dict | None = None, **kwargs) -> dict | None:
        rows = self.find(query, limit=1, **kwargs).collect()
        return rows[0].asDict(recursive=True) if rows else None

    def find_by_id(self, document_id: str, **kwargs) -> dict | None:
        """Point lookup (parity: reference database.py:233-235)."""
        return self.find_one({"_id": document_id}, **kwargs)

    def find_by_session_id(self, session_id: str, **kwargs) -> DataFrame:
        """Parity: reference database.py:237-241."""
        return self.find({"_ts_meta.session": session_id}, **kwargs)

    def count(self, query: dict | None = None, estimate: bool = False) -> int:
        """Exact filtered count, or metadata-only estimate (parquet footer
        row counts; no data scan).  estimate+query is an error
        (parity: reference database.py:221-231)."""
        if estimate and query:
            raise ValueError("estimate=True cannot be combined with a query")
        df = self.to_df()
        if query:
            df = df.filter(self._compile_query(df, query))
        return df.count()

    def update_one(self, query: dict, update: dict) -> int:
        """Query-matched single-document update (parity: reference
        database.py:162-164): the first match in ``_id`` order (Mongo's
        natural-order nondeterminism made deterministic) receives the
        ``$set``.  Returns the matched count (0 or 1).

        Containers with native point updates (MongoStorage) override
        this; filesystem containers route through ``update_one_by_id``.
        """
        point_update = getattr(self, "update_one_by_id", None)
        if point_update is None:
            raise NotImplementedError(
                f"{type(self).__name__} does not support update_one"
            )
        set_spec = update.get("$set")
        if set_spec is None or set(update) != {"$set"}:
            raise ValueError("only {'$set': {...}} updates are supported")
        rows = self.find(
            query, projection={"_id": 1}, sort=[("_id", 1)], limit=1
        ).collect()
        if not rows:
            return 0
        point_update(rows[0]["_id"], **set_spec)
        return 1

    def aggregate(self, pipeline: list[dict]) -> DataFrame:
        """Parity: reference database.py:206-217."""
        return apply_pipeline(self.to_df(), pipeline)

    def distinct(self, field: str, query: dict | None = None) -> list:
        """Distinct values of a (dotted) field, optionally under a filter
        — the pymongo ``collection.distinct`` surface the reference leans
        on (reference database.py:266).  Mongo semantics: an array field
        contributes its distinct ELEMENTS.  Distributed distinct + sorted
        driver-side list (result cardinality is the caller's contract,
        exactly as with pymongo)."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from topic_store_spark.query.compiler import path_col

        df = self.to_df()
        if query:
            df = df.filter(self._compile_query(df, query))
        col = path_col(field, df.schema)
        vals = df.select(col.alias("_d"))
        if isinstance(vals.schema["_d"].dataType, T.ArrayType):
            vals = vals.select(F.explode("_d").alias("_d"))
        rows = vals.filter(F.col("_d").isNotNull()).distinct().collect()
        return sorted(r["_d"] for r in rows)

    def get_unique_sessions(self) -> DataFrame:
        """Per-session {time, date, count} in ONE pass — replaces the
        reference's distinct + N+1 per-session count queries
        (reference database.py:243-266) with a single groupBy.
        """
        from topic_store_spark.operators.sessions import unique_sessions

        return unique_sessions(self.to_df())

    def __iter__(self) -> Iterator[TopicStore]:
        for row in self.to_df().toLocalIterator():
            yield TopicStore(row.asDict(recursive=True))

    def __len__(self) -> int:
        return self.count()


_REGISTERED: list[type[Storage]] = []


def register_storage(cls: type[Storage]) -> type[Storage]:
    _REGISTERED.append(cls)
    return cls


def load(path: str, spark: SparkSession | None = None) -> Storage:
    """Suffix-sniffing open (parity: reference api.py:64-77).  The most
    specific (longest) matching suffix wins, so '.ragged.parquet' routes
    to the ragged container rather than the plain '.parquet' one."""
    from topic_store_spark.session import get_spark

    spark = spark or get_spark()
    best: tuple[int, type[Storage]] | None = None
    for cls in _REGISTERED:
        for suffix in cls.suffixes:
            if str(path).endswith(suffix) and (best is None or len(suffix) > best[0]):
                best = (len(suffix), cls)
    if best is None:
        raise ValueError(f"no registered storage understands path: {path}")
    return best[1].load(spark, path)


def _ensure_registered() -> None:
    import topic_store_spark.filesystem  # noqa: F401  (registers on import)


_ensure_registered()
