"""Out-of-row blob storage (parity: reference GridFS layer, SURVEY §2.8).

The reference moves every large binary into GridFS chunks on insert and
replaces it with a ``__gridfs_file_<key>: ObjectId`` pointer
(reference database.py:119-132), reversing on read (database.py:134-143),
with a lazy-skip mode (database.py:174,202-204) and GC on delete
(database.py:268-278).

Spark-side policy: big ``BinaryType`` cells are written as individual
files under a blob directory and the cell is replaced by a pointer struct
``{__blob__: path, size: n}``.  Externalization runs distributed — each
executor writes its own partition's blobs (no driver fan-in) — except for
rows the driver holds already (``insert_many``), which it writes itself.  Lazy skip
is free: don't resolve the pointer column (column pruning never reads the
bytes).  At 100 TB this is the difference between a 16 MB row limit and
none: rows stay small, scans stay columnar, blobs stream straight from
the file system only when actually selected.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_THRESHOLD = 16 * 1024 * 1024  # MongoDB's 16MB doc cap motivated GridFS

_POINTER_FIELDS = ("__blob__", "size")


def _binary_columns(schema: T.StructType) -> list[str]:
    return [f.name for f in schema.fields if isinstance(f.dataType, T.BinaryType)]


POINTER_TYPE = T.StructType(
    [
        T.StructField("__blob__", T.StringType()),
        T.StructField("size", T.LongType()),
        T.StructField("inline", T.BinaryType()),
    ]
)


def blob_pointer(
    cell, blob_dir: str, threshold: int, doc_id, name: str
) -> dict | None:
    """One binary cell -> its ``POINTER_TYPE`` value, writing the bytes to
    ``<blob_dir>/<doc_id>_<name>.bin`` when they exceed ``threshold``
    (a random key stands in for a missing ``doc_id``)."""
    if cell is None:
        return None
    payload = bytes(cell)
    if len(payload) <= threshold:
        return {"__blob__": None, "size": len(payload), "inline": payload}
    import uuid

    key = uuid.uuid4().hex if doc_id is None else doc_id
    fpath = os.path.join(blob_dir, f"{key}_{name}.bin")
    with open(fpath, "wb") as fh:
        fh.write(payload)
    return {"__blob__": fpath, "size": len(payload), "inline": None}


def pointer_schema(
    schema: T.StructType, columns: list[str] | None = None
) -> T.StructType:
    """``schema`` with its binary ``columns`` (default: every top-level
    binary column) turned into ``POINTER_TYPE``: the written shape."""
    columns = _binary_columns(schema) if columns is None else columns
    return T.StructType(
        [
            T.StructField(f.name, POINTER_TYPE, True) if f.name in columns else f
            for f in schema.fields
        ]
    )


def externalize_rows(
    rows: list[tuple],
    schema: T.StructType,
    blob_dir: str,
    threshold: int = DEFAULT_THRESHOLD,
    id_col: str = "_id",
) -> tuple[list[tuple], T.StructType]:
    """``externalize_blobs`` for rows the driver already holds (e.g. from
    ``documents_to_rows``): the same blob files and pointer values, with
    no Spark job and no Python worker.  Returns (rows, schema)."""
    columns = _binary_columns(schema)
    if not columns:
        return rows, schema
    os.makedirs(blob_dir, exist_ok=True)
    names = schema.fieldNames()
    at = [names.index(name) for name in columns]
    id_at = names.index(id_col) if id_col in names else None
    out = []
    for row in rows:
        row = list(row)
        doc_id = None if id_at is None else row[id_at]
        for i in at:
            row[i] = blob_pointer(row[i], blob_dir, threshold, doc_id, names[i])
        out.append(tuple(row))
    return out, pointer_schema(schema, columns)


def externalize_blobs(
    df: DataFrame,
    blob_dir: str,
    threshold: int = DEFAULT_THRESHOLD,
    columns: list[str] | None = None,
    id_col: str = "_id",
) -> DataFrame:
    """Replace oversized binary cells with pointer structs.

    Cells at or under the threshold stay in-row (pointer struct with a
    null path and the bytes kept in a sibling field) so small payloads
    keep their locality — mirroring GridFS being applied only to big
    blobs.
    """
    columns = columns or _binary_columns(df.schema)
    if not columns:
        return df
    os.makedirs(blob_dir, exist_ok=True)

    out_schema = pointer_schema(df.schema, columns)
    has_id = id_col in df.columns
    field_order = [f.name for f in out_schema.fields]

    # Arrow-batched externalization, mirror of the rehydrate path below:
    # rows cross to Python as columnar batches (no per-row pickling of
    # the full row even when nothing exceeds the threshold), and each
    # batch writes only its oversized cells.
    def _write_batches(batches):
        import pandas as pd

        for pdf in batches:
            for name in columns:
                pointers = [
                    blob_pointer(
                        cell, blob_dir, threshold,
                        pdf[id_col].iloc[pos] if has_id else None, name,
                    )
                    for pos, cell in enumerate(pdf[name])
                ]
                pdf[name] = pd.Series(pointers, index=pdf.index, dtype=object)
            yield pdf[field_order]

    return df.mapInPandas(_write_batches, out_schema)


def rehydrate_blobs(
    df: DataFrame, columns: list[str] | None = None, skip_fetch_binary: bool = False
) -> DataFrame:
    """Reverse transform: pointer structs -> binary cells.

    ``skip_fetch_binary=True`` leaves pointers unresolved (parity:
    reference database.py:174 slow-connection path) — the cheap path,
    since unresolved pointers never touch the blob files at all.
    """
    if columns is None:
        columns = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, T.StructType)
            and {sf.name for sf in f.dataType.fields} >= set(_POINTER_FIELDS)
        ]
    if not columns or skip_fetch_binary:
        return df

    out_schema = T.StructType(
        [
            T.StructField(f.name, T.BinaryType(), True)
            if f.name in columns
            else f
            for f in df.schema.fields
        ]
    )
    field_order = [f.name for f in out_schema.fields]
    targets = list(columns)

    # Arrow-batched fetch: one pass resolves every pointer column of the
    # batch, so rehydration (the egress hot path at scale) amortizes both
    # the Python transfer and the per-partition filesystem handles instead
    # of paying row-at-a-time UDF overhead per cell.
    def _fetch_batches(batches):
        import pandas as pd

        for pdf in batches:
            for name in targets:
                resolved = []
                for cell in pdf[name]:
                    if not isinstance(cell, dict):
                        resolved.append(None)
                        continue
                    inline = cell.get("inline")
                    if inline is not None:
                        resolved.append(bytes(inline))
                        continue
                    path = cell.get("__blob__")
                    if path is None:
                        resolved.append(None)
                        continue
                    with open(path, "rb") as fh:
                        resolved.append(fh.read())
                pdf[name] = pd.Series(resolved, index=pdf.index, dtype=object)
            yield pdf[field_order]

    return df.mapInPandas(_fetch_batches, out_schema)


def collect_blob_paths(df: DataFrame, columns: list[str] | None = None) -> list[str]:
    """All externalized file paths referenced by these rows — the delete-side
    maintenance input (parity: GridFS GC, reference database.py:268-278)."""
    if columns is None:
        columns = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, T.StructType)
            and {sf.name for sf in f.dataType.fields} >= set(_POINTER_FIELDS)
        ]
    paths: list[str] = []
    for name in columns:
        rows = (
            df.select(F.col(name)["__blob__"].alias("p"))
            .filter(F.col("p").isNotNull())
            .collect()
        )
        paths.extend(r["p"] for r in rows)
    return paths


def delete_blobs(paths: list[str]) -> int:
    removed = 0
    for path in paths:
        try:
            os.remove(path)
            removed += 1
        except FileNotFoundError:
            pass
    return removed
