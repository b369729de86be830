"""Ingest encoder: arbitrary Python/ROS-like object trees -> Spark-typed rows.

Parity with the reference codec layer (reference sanitation.py):

- dict keys forced to ``str(k)``                 (sanitation.py:101-102)
- list/tuple/set all become list                 (sanitation.py:58-59,104-105)
- bool/int/float/str passthrough                 (sanitation.py:98-99)
- bytes: utf-8 decodable -> str, else binary     (sanitation.py:118-130)
- message-like objects (``__slots__``) recursively decomposed into a dict
  plus a ``_ros_meta {time, type}`` tag struct   (sanitation.py:314-335,349-374)
- Time/Duration-like 2-slot objects -> {secs, nsecs}  (sanitation.py:285-298)
- cycle-safe via id() memo, explicit stack       (sanitation.py:169-282)
- pluggable per-type converters (``add_converters``)  (sanitation.py:63-83)

The encoder runs driver-side for single-document inserts and inside
``mapInPandas``/source readers for bulk ingest; once rows are in a
DataFrame the types are already columnar and no further sanitation runs
(Catalyst/Tungsten own execution from there).
"""

from __future__ import annotations

import datetime as _dt
import math
import time as _time
from typing import Any, Callable

try:  # numpy is baked into the environment, but stay import-safe
    import numpy as _np
except ImportError:  # pragma: no cover
    _np = None

ROS_META_KEY = "_ros_meta"


class TypeParser:
    """Type-directed value rewriter with user-extensible converter table
    (parity: reference sanitation.py DefaultTypeParser, 46-105)."""

    def __init__(self) -> None:
        self._converters: dict[type, Callable[[Any], Any]] = {}

    def add_converters(
        self, converters: dict[type, Callable[[Any], Any]], replace: bool = True
    ) -> None:
        if not replace:
            overlap = set(converters) & set(self._converters)
            if overlap:
                raise ValueError(f"converters already registered: {overlap}")
        self._converters.update(converters)

    def lookup(self, value: Any) -> Callable[[Any], Any] | None:
        fn = self._converters.get(type(value))
        if fn is not None:
            return fn
        for typ, candidate in self._converters.items():  # isinstance fallback
            if isinstance(value, typ):
                return candidate
        return None


def _ros_type_string(obj: Any) -> str:
    """Type tag for message-like objects. Uses ROS ``_type`` when present
    (e.g. 'sensor_msgs/Image'), else module.qualname."""
    ros_type = getattr(obj, "_type", None)
    if isinstance(ros_type, str):
        return ros_type
    cls = type(obj)
    return f"{cls.__module__}.{cls.__qualname__}"


def _slots_of(obj: Any) -> list[str] | None:
    slots = getattr(obj, "__slots__", None)
    if slots is not None:
        return list(slots)
    attrs = getattr(obj, "__dict__", None)
    if attrs is not None and type(obj).__module__ != "builtins":
        return [k for k in attrs if not k.startswith("_")]
    return None


class DocumentCodec:
    """sanitise(): object tree -> plain JSON/Spark-compatible tree."""

    def __init__(self, parser: TypeParser | None = None) -> None:
        self.parser = parser or TypeParser()

    def sanitise(self, value: Any, _memo: set[int] | None = None) -> Any:
        memo = _memo if _memo is not None else set()
        custom = self.parser.lookup(value)
        if custom is not None:
            value = custom(value)

        if value is None or isinstance(value, (bool, int, float, str)):
            if isinstance(value, float) and (math.isnan(value) or math.isinf(value)):
                return None
            return value
        if isinstance(value, bytes):
            try:
                return value.decode("utf-8")
            except UnicodeDecodeError:
                return bytearray(value)
        if isinstance(value, bytearray):
            return value
        if isinstance(value, (_dt.datetime, _dt.date)):
            return value
        if _np is not None:
            if isinstance(value, _np.generic):
                return self.sanitise(value.item(), memo)
            if isinstance(value, _np.ndarray):
                return {
                    "data": bytearray(value.tobytes()),
                    "dtype": str(value.dtype),
                    "shape": list(value.shape),
                    ROS_META_KEY: {"time": _time.time(), "type": "numpy.ndarray"},
                }

        oid = id(value)
        if oid in memo:
            raise ValueError("cycle detected in document tree")
        memo.add(oid)
        try:
            if isinstance(value, dict):
                return {str(k): self.sanitise(v, memo) for k, v in value.items()}
            if isinstance(value, (list, tuple, set, frozenset)):
                items = sorted(value, key=repr) if isinstance(value, (set, frozenset)) else value
                return [self.sanitise(v, memo) for v in items]
            slots = _slots_of(value)
            if slots is not None:
                out = {s: self.sanitise(getattr(value, s), memo) for s in slots}
                out[ROS_META_KEY] = {"time": _time.time(), "type": _ros_type_string(value)}
                return out
        finally:
            memo.discard(oid)
        return str(value)  # last resort, mirrors BSON fallback behaviour


class DictConverter:
    """User-programmable document-tree rewriter (parity: reference
    sanitation.py:169-282 ``DictConverter``), callback contract:

    - ``enter_fn(parents, key, value) -> (shell, items)`` — decides how a
      node is traversed: return a new empty container plus an iterable of
      ``(key, child)`` items to fill it, or ``(value, False)`` to treat
      the node as a leaf (possibly transformed in place).
    - ``visit_fn(parents, key, value) -> (new_key, new_value)`` — remaps
      each completed item (leaves AND finished sub-containers) before it
      is handed to the parent's exit.
    - ``exit_fn(parents, key, old, shell, items) -> populated`` —
      assembles the visited items into the shell.

    ``parents`` is the tuple of ancestor keys (the root contributes
    none).  Shared substructure converts once (id-memoized), matching the
    reference's ``seen_ids`` behaviour.  The reference iterates with an
    explicit stack to survive arbitrarily deep trees; documents here are
    bounded (Spark rows), so plain recursion keeps this readable.
    """

    def __init__(
        self,
        enter_fn: Callable | None = None,
        exit_fn: Callable | None = None,
        visit_fn: Callable | None = None,
    ) -> None:
        for name, fn in (("enter", enter_fn), ("exit", exit_fn), ("visit", visit_fn)):
            if fn is not None and not callable(fn):
                raise TypeError(f"{name} function must be callable")
        self._enter_fn = enter_fn or self.default_enter_fn
        self._exit_fn = exit_fn or self.default_exit_fn
        self._visit_fn = visit_fn

    @staticmethod
    def default_enter_fn(parents, key, value):
        if isinstance(value, (str, bytes, bytearray)):
            return value, False
        if isinstance(value, dict):
            return value.__class__(), value.items()
        if isinstance(value, (list, tuple, set, frozenset)):
            return value.__class__(), enumerate(value)
        return value, False

    @staticmethod
    def default_visit_fn(parents, key, value):
        return key, value

    @staticmethod
    def default_exit_fn(parents, key, old_object, new_object, new_items):
        if isinstance(new_object, dict):
            new_object.update(new_items)
            return new_object
        values = [v for _k, v in new_items]
        if isinstance(new_object, set):
            new_object.update(values)
            return new_object
        if isinstance(new_object, (tuple, frozenset)):
            return new_object.__class__(values)  # immutable: rebuild
        if isinstance(new_object, list):
            new_object.extend(values)
            return new_object
        raise RuntimeError(f"unexpected container: {type(new_object)}")

    def convert(self, data_dict: dict):
        return self(data_dict)

    def __call__(self, data_dict: dict):
        if not isinstance(data_dict, dict):
            raise TypeError(f"Expected dictionary type, not: {type(data_dict)}")
        memo: dict[int, Any] = {}

        def walk(parents, key, value):
            vid = id(value)
            if vid in memo:
                return memo[vid]
            shell, items = self._enter_fn(parents, key, value)
            if items is False:
                return shell
            memo[vid] = shell  # re-encounters during traversal see the shell
            child_parents = parents if key is None else parents + (key,)
            new_items = []
            for k, child in items:
                converted = walk(child_parents, k, child)
                if self._visit_fn is not None:
                    new_items.append(self._visit_fn(child_parents, k, converted))
                else:
                    new_items.append((k, converted))
            result = self._exit_fn(parents, key, value, shell, new_items)
            memo[vid] = result
            return result

        return walk((), None, data_dict)


_default_codec = DocumentCodec()


def sanitise_dict(tree: dict, codec: DocumentCodec | None = None) -> dict:
    """Parity: reference sanitation.py:408 (``sanitise_dict``)."""
    if not isinstance(tree, dict):
        raise ValueError("Data tree must be a dict")
    return (codec or _default_codec).sanitise(tree)


# ---------------------------------------------------------------------------
# Rehydration (egress-only concern): plain tree -> registered message classes
# Parity: reference sanitation.py:410 (``rosify_dict``) — the typed view is
# reconstructed from the ``_ros_meta.type`` tags; unknown types stay dicts
# with a warning, mirroring sanitation.py:390-398 drift tolerance.
# ---------------------------------------------------------------------------

_message_registry: dict[str, type] = {}


def register_message_class(type_string: str, cls: type) -> None:
    _message_registry[type_string] = cls


def rosify_dict(tree: Any):
    if isinstance(tree, list):
        return [rosify_dict(v) for v in tree]
    if not isinstance(tree, dict):
        return tree
    meta = tree.get(ROS_META_KEY)
    fields = {k: rosify_dict(v) for k, v in tree.items() if k != ROS_META_KEY}
    if isinstance(meta, dict) and meta.get("type") in _message_registry:
        cls = _message_registry[meta["type"]]
        obj = cls.__new__(cls)
        for key, val in fields.items():
            try:
                setattr(obj, key, val)
            except AttributeError:  # schema drift: slot disappeared
                pass
        return obj
    return fields if meta is None else {**fields, ROS_META_KEY: meta}


# ---------------------------------------------------------------------------
# Schema inference over sanitized trees (schema-on-write -> StructType)
# ---------------------------------------------------------------------------

from pyspark.sql import types as T  # noqa: E402


def _infer_type(value: Any) -> T.DataType:
    if value is None:
        return T.NullType()
    if isinstance(value, bool):
        return T.BooleanType()
    if isinstance(value, int):
        return T.LongType()
    if isinstance(value, float):
        return T.DoubleType()
    if isinstance(value, str):
        return T.StringType()
    if isinstance(value, (bytes, bytearray)):
        return T.BinaryType()
    if isinstance(value, _dt.datetime):
        return T.TimestampType()
    if isinstance(value, _dt.date):
        return T.DateType()
    if isinstance(value, list):
        elem: T.DataType = T.NullType()
        for item in value:
            elem = merge_types(elem, _infer_type(item))
        return T.ArrayType(elem if not isinstance(elem, T.NullType) else T.StringType())
    if isinstance(value, dict):
        return T.StructType(
            [T.StructField(str(k), _infer_type(v), True) for k, v in value.items()]
        )
    raise TypeError(f"unsupported sanitized value: {type(value)!r}")


def merge_types(left: T.DataType, right: T.DataType) -> T.DataType:
    """Widening merge across documents (schema drift tolerance)."""
    if isinstance(left, T.NullType):
        return right
    if isinstance(right, T.NullType) or left == right:
        return left
    numeric = (T.LongType, T.DoubleType)
    if isinstance(left, numeric) and isinstance(right, numeric):
        return T.DoubleType()
    if isinstance(left, T.ArrayType) and isinstance(right, T.ArrayType):
        return T.ArrayType(merge_types(left.elementType, right.elementType))
    if isinstance(left, T.StructType) and isinstance(right, T.StructType):
        fields: dict[str, T.DataType] = {f.name: f.dataType for f in left.fields}
        for f in right.fields:
            fields[f.name] = merge_types(fields.get(f.name, T.NullType()), f.dataType)
        return T.StructType([T.StructField(n, t, True) for n, t in fields.items()])
    return T.StringType()  # ragged corpora fall back to string (variant-style)


def infer_schema(
    documents: list[dict], reference: T.StructType | None = None
) -> T.StructType:
    """Widening-merge schema over a batch of sanitized documents.

    ``reference`` (e.g. an existing store's schema): a field that is
    null in EVERY batch document carries no type evidence of its own —
    it adopts the reference's type instead of the string placeholder, so
    appending ``{"n": None}`` to a store where ``n`` is BIGINT stays
    BIGINT instead of poisoning the store with an unmergeable STRING
    file."""
    merged: T.DataType = T.NullType()
    for doc in documents:
        merged = merge_types(merged, _infer_type(doc))
    if not isinstance(merged, T.StructType):
        raise ValueError("documents must be dicts")
    return _denull(merged, reference)


def _denull(
    dtype: T.DataType, ref: T.DataType | None = None
) -> T.DataType:
    if isinstance(dtype, T.NullType):
        return ref if ref is not None and not isinstance(ref, T.NullType) else T.StringType()
    if isinstance(dtype, T.ArrayType):
        elem_ref = ref.elementType if isinstance(ref, T.ArrayType) else None
        return T.ArrayType(_denull(dtype.elementType, elem_ref))
    if isinstance(dtype, T.StructType):
        ref_fields = (
            {f.name: f.dataType for f in ref.fields}
            if isinstance(ref, T.StructType)
            else {}
        )
        return T.StructType(
            [
                T.StructField(f.name, _denull(f.dataType, ref_fields.get(f.name)), True)
                for f in dtype.fields
            ]
        )
    return dtype


def _fields_by_name(struct: T.StructType) -> dict[str, T.StructField]:
    # Spark's schema merge matches field names case-insensitively
    # (``spark.sql.caseSensitive`` defaults to false)
    return {f.name.lower(): f for f in struct.fields}


def schema_merge_conflicts(
    existing: T.DataType, incoming: T.DataType, _path: str = ""
) -> list[str]:
    """Dotted paths where ``incoming`` cannot parquet-schema-merge with
    ``existing``.  Mirrors Spark's merge rules: equal types (up to
    nullability), decimals of equal scale, recursive struct/array/map
    with struct fields matched case-insensitively; everything else
    conflicts — Spark 4's ``mergeSchema`` widens neither INT to BIGINT
    nor FLOAT to DOUBLE.  Used to fail an append at WRITE time — an
    incompatible part file would otherwise poison every subsequent read
    of the store with CANNOT_MERGE_SCHEMAS."""
    a, b = existing, incoming
    if a == b or isinstance(a, T.NullType) or isinstance(b, T.NullType):
        return []
    if isinstance(a, T.DecimalType) and isinstance(b, T.DecimalType) and a.scale == b.scale:
        return []
    if isinstance(a, T.StructType) and isinstance(b, T.StructType):
        a_fields = _fields_by_name(a)
        out: list[str] = []
        for f in b.fields:
            match = a_fields.get(f.name.lower())
            if match is not None:
                out += schema_merge_conflicts(
                    match.dataType, f.dataType, f"{_path}{f.name}."
                )
        return out
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        return schema_merge_conflicts(a.elementType, b.elementType, _path + "[].")
    if isinstance(a, T.MapType) and isinstance(b, T.MapType):
        return schema_merge_conflicts(
            a.keyType, b.keyType, _path + "key."
        ) + schema_merge_conflicts(a.valueType, b.valueType, _path + "value.")
    return [
        f"{_path.rstrip('.') or '<root>'}: "
        f"{a.simpleString()} (store) vs {b.simpleString()} (incoming)"
    ]


def merge_schemas(existing: T.StructType, incoming: T.StructType) -> T.StructType:
    """The schema Spark's parquet ``mergeSchema`` reads from a store that
    holds files of both schemas: ``existing`` fields first, with their
    names and metadata, then the fields only ``incoming`` has; every
    field, element and map value nullable, as Spark reads parquet back.
    Raises ``ValueError`` where Spark fails with CANNOT_MERGE_SCHEMAS
    (``schema_merge_conflicts``)."""
    conflicts = schema_merge_conflicts(existing, incoming)
    if conflicts:
        raise ValueError(f"schemas do not merge: {conflicts}")
    return _merge_types(existing, incoming)


def _merge_types(a: T.DataType, b: T.DataType) -> T.DataType:
    """Merge of two conflict-free types; ``_merge_types(t, t)`` is ``t``
    made nullable throughout."""
    if isinstance(a, T.StructType) and isinstance(b, T.StructType):
        a_fields, b_fields = _fields_by_name(a), _fields_by_name(b)
        pairs = [(f, b_fields.get(key, f)) for key, f in a_fields.items()]
        pairs += [(f, f) for key, f in b_fields.items() if key not in a_fields]
        return T.StructType([
            T.StructField(f.name, _merge_types(f.dataType, g.dataType), True, f.metadata)
            for f, g in pairs
        ])
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        return T.ArrayType(_merge_types(a.elementType, b.elementType), True)
    if isinstance(a, T.MapType) and isinstance(b, T.MapType):
        return T.MapType(
            _merge_types(a.keyType, b.keyType),
            _merge_types(a.valueType, b.valueType),
            True,
        )
    if isinstance(a, T.DecimalType) and isinstance(b, T.DecimalType):
        return T.DecimalType(max(a.precision, b.precision), a.scale)
    return a


def _coerce(value: Any, dtype: T.DataType) -> Any:
    """Shape a sanitized value to the merged schema (fills missing struct
    fields with None; widens numerics)."""
    if value is None:
        return None
    if isinstance(dtype, T.StructType):
        if isinstance(value, dict):
            return tuple(_coerce(value.get(f.name), f.dataType) for f in dtype.fields)
        return None
    if isinstance(dtype, T.ArrayType):
        return [_coerce(v, dtype.elementType) for v in value]
    if isinstance(dtype, T.DoubleType):
        return float(value)
    if isinstance(dtype, T.StringType) and not isinstance(value, str):
        return str(value)
    if isinstance(dtype, T.BinaryType) and isinstance(value, bytearray):
        return bytes(value)
    return value


def documents_to_rows(documents: list[dict], schema: T.StructType) -> list[tuple]:
    return [
        tuple(_coerce(doc.get(f.name), f.dataType) for f in schema.fields)
        for doc in documents
    ]


_TIMESTAMP = T.TimestampType()


def rows_to_arrow(rows: list[tuple], schema: T.StructType):
    """Rows as ``spark.createDataFrame(rows, schema)`` takes them (e.g.
    from ``documents_to_rows``) -> a ``pyarrow.Table`` typed by
    ``to_arrow_schema(schema)``.  ``spark.createDataFrame(table, schema)``
    hands the table to the JVM as one Arrow batch: one partition, no
    Python worker, one part file when written.  Timestamps go through
    ``TimestampType.toInternal``, so naive values are Python local time
    exactly as on the row path."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
    arrays = []
    for values, field, arrow_field in zip(columns, schema.fields, arrow_schema):
        if _has_timestamp(field.dataType):
            values = [_timestamps_to_micros(v, field.dataType) for v in values]
        arrays.append(pa.array(values, type=arrow_field.type))
    return pa.Table.from_arrays(arrays, schema=arrow_schema)


def _has_timestamp(dtype: T.DataType) -> bool:
    if isinstance(dtype, T.ArrayType):
        return _has_timestamp(dtype.elementType)
    if isinstance(dtype, T.StructType):
        return any(_has_timestamp(f.dataType) for f in dtype.fields)
    return isinstance(dtype, T.TimestampType)


def _timestamps_to_micros(value: Any, dtype: T.DataType) -> Any:
    if value is None:
        return None
    if isinstance(dtype, T.TimestampType):
        return _TIMESTAMP.toInternal(value)
    if isinstance(dtype, T.ArrayType):
        return [_timestamps_to_micros(v, dtype.elementType) for v in value]
    if isinstance(dtype, T.StructType):
        return tuple(
            _timestamps_to_micros(v, f.dataType) for v, f in zip(value, dtype.fields)
        )
    return value
