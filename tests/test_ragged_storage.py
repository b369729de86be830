"""Ragged (schema-on-read JSON) storage mode: heterogeneous documents,
type-bracketed queries, include projections."""

from __future__ import annotations

import json

import pytest


@pytest.fixture()
def ragged(spark, tmp_path):
    import topic_store_spark as ts

    store = ts.load(str(tmp_path / "corpus.ragged.parquet"), spark)
    # structurally conflicting docs: x is int, then string, then missing;
    # nested subtree only on some docs
    store.insert_one({"x": 5, "tag": "n1", "nest": {"deep": {"v": 1}}})
    store.insert_one({"x": "five", "tag": "s"})
    store.insert_one({"tag": "n2", "y": [1, 2, 3]})
    return store


def test_dispatch_and_roundtrip(ragged):
    assert type(ragged).__name__ == "RaggedParquetStorage"
    assert ragged.count() == 3
    docs = list(ragged)
    assert {d["tag"] for d in (json.loads(x.dict["doc"]) for x in docs)} == {
        "n1", "s", "n2",
    }


def test_type_bracketed_numeric_query(ragged):
    # numeric comparison matches the numeric doc only (Mongo bracketing):
    # "five" casts to NULL, missing x is NULL
    rows = ragged.find({"x": {"$gte": 1}}).collect()
    assert len(rows) == 1
    assert json.loads(rows[0]["doc"])["tag"] == "n1"

    # string equality matches the string doc only
    rows = ragged.find({"x": "five"}).collect()
    assert len(rows) == 1 and json.loads(rows[0]["doc"])["tag"] == "s"


def test_nested_path_and_exists(ragged):
    rows = ragged.find({"nest.deep.v": {"$gte": 1}}).collect()
    assert len(rows) == 1
    assert ragged.count({"x": {"$exists": True}}) == 2
    assert ragged.count({"x": {"$exists": False}}) == 1


def test_projection_extracts_json_paths(ragged):
    rows = ragged.find({"tag": "n1"}, projection={"nest.deep": 1, "tag": 1}).collect()
    assert len(rows) == 1
    row = rows[0]
    assert set(rows[0].asDict()) == {"_id", "_ts_meta", "nest.deep", "tag"}
    assert json.loads(row["nest.deep"]) == {"v": 1}
    assert row["tag"] == "n1"


def test_system_fields_query(ragged):
    some_id = ragged.find().collect()[0]["_id"]
    assert ragged.count({"_id": some_id}) == 1
    sessions = ragged.get_unique_sessions().collect()
    assert sessions and sessions[0]["count"] == 3


def test_ragged_point_mutations(ragged):
    """M2/M3 on the landing-zone container: by-id $set (incl. dotted path
    creating nested keys), query-matched update_one, and point delete."""
    target = ragged.find_one({"tag": "n1"})
    doc_id = target["_id"]

    ragged.update_one_by_id(doc_id, x=42, **{"nest.deep.v": 9, "new.leaf": "hi"})
    got = json.loads(ragged.find_by_id(doc_id)["doc"])
    assert got["x"] == 42
    assert got["nest"]["deep"]["v"] == 9
    assert got["new"]["leaf"] == "hi"
    # other docs untouched
    assert json.loads(ragged.find_one({"tag": "s"})["doc"])["x"] == "five"

    # query-matched update through the shared Storage surface
    assert ragged.update_one({"tag": "n2"}, {"$set": {"x": 1}}) == 1
    assert json.loads(ragged.find_one({"tag": "n2"})["doc"])["x"] == 1

    ragged.delete_by_id(doc_id)
    assert ragged.count() == 2 and ragged.find_by_id(doc_id) is None


def test_sort_resolves_payload_and_system_paths(ragged):
    """Sort keys resolve like query paths: payload fields through JSON
    extraction, system fields as columns, projected away or not."""
    rows = ragged.find(sort=[("tag", -1)]).collect()
    assert [json.loads(r["doc"])["tag"] for r in rows] == ["s", "n2", "n1"]
    projected = ragged.find(projection={"_id": 1}, sort=[("tag", -1)]).collect()
    assert [r["_id"] for r in projected] == [r["_id"] for r in rows]
    rows = ragged.find(sort=[("_ts_meta.sys_time", 1)]).collect()
    times = [r["_ts_meta"]["sys_time"] for r in rows]
    assert times == sorted(times)
