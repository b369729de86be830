"""Pure-Python reference answers, computed from the generated inputs.

Every check returns ``None`` when the program's result matches and a
short mismatch description otherwise; the harness counts each mismatch
as a failed operation.  Nothing here imports Spark or the package.
"""

from __future__ import annotations

import datetime as dt
import math
from typing import Any

MISSING = object()


def get_path(doc: dict, path: str, default: Any = None) -> Any:
    node: Any = doc
    for part in path.split("."):
        if not isinstance(node, dict) or part not in node:
            return default
        node = node[part]
    return node


def normalize(value: Any) -> Any:
    """Drop null fields recursively (a merged store schema fills absent
    fields with null) and turn bytearrays into bytes."""
    if isinstance(value, dict):
        return {k: normalize(v) for k, v in value.items() if v is not None}
    if isinstance(value, list):
        return [normalize(v) for v in value]
    if isinstance(value, bytearray):
        return bytes(value)
    return value


def project(doc: dict, paths: list[str]) -> dict:
    """Include-projection of ``paths`` (plus ``_id``), nested like Mongo."""
    out: dict = {"_id": doc["_id"]}
    for path in paths:
        value = get_path(doc, path, MISSING)
        if value is MISSING:
            continue
        node = out
        parts = path.split(".")
        for part in parts[:-1]:
            node = node.setdefault(part, {})
        node[parts[-1]] = value
    return out


def close(a: Any, b: Any, rel: float = 1e-9) -> bool:
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=1e-9)
    return a == b


def _diff(what: str, got: Any, want: Any) -> str:
    return f"{what}: got {got!r:.120} want {want!r:.120}"


class StoreModel:
    """The documents a store should hold, in insertion order."""

    def __init__(self, docs: list[dict] | None = None) -> None:
        self.docs: dict[str, dict] = {}
        for doc in docs or []:
            self.add(doc)

    def add(self, doc: dict) -> None:
        self.docs[doc["_id"]] = doc

    def match(self, pred) -> list[dict]:
        return [d for d in self.docs.values() if pred(d)]


# -- store_mix reads -----------------------------------------------------------


def check_docs(rows: list[dict], want: list[dict], paths: list[str] | None) -> str | None:
    """Rows must be exactly ``want`` (any order), projected to ``paths``
    (whole documents when ``paths`` is None)."""
    shape = (lambda d: normalize(d)) if paths is None else (
        lambda d: normalize(project(d, paths))
    )
    got = {r.get("_id"): shape(r) for r in rows}
    exp = {d["_id"]: shape(d) for d in want}
    if len(rows) != len(want) or got.keys() != exp.keys():
        return _diff("ids", sorted(got), sorted(exp))
    for key, doc in exp.items():
        if got[key] != doc:
            return _diff(f"doc {key}", got[key], doc)
    return None


def check_limited(rows: list[dict], matches: list[dict], limit: int,
                  paths: list[str]) -> str | None:
    """An unsorted ``find(..., limit)``: any ``min(limit, matches)`` of the
    matching documents, each correctly projected."""
    by_id = {d["_id"]: d for d in matches}
    if len(rows) != min(limit, len(matches)):
        return _diff("row count", len(rows), min(limit, len(matches)))
    ids = [r.get("_id") for r in rows]
    if len(set(ids)) != len(ids) or not set(ids) <= by_id.keys():
        return _diff("ids", ids, sorted(by_id))
    return check_docs(rows, [by_id[i] for i in ids], paths)


def check_sorted(rows: list[dict], matches: list[dict], key: str, desc: bool,
                 limit: int) -> str | None:
    want = sorted(matches, key=lambda d: get_path(d, key), reverse=desc)[:limit]
    got_ids = [r.get("_id") for r in rows]
    want_ids = [d["_id"] for d in want]
    return None if got_ids == want_ids else _diff("order", got_ids, want_ids)


def check_equal(got: Any, want: Any, what: str = "value") -> str | None:
    return None if got == want else _diff(what, got, want)


def distinct_values(docs: list[dict], path: str) -> list:
    out = set()
    for doc in docs:
        value = get_path(doc, path)
        if isinstance(value, list):
            out.update(v for v in value if v is not None)
        elif value is not None:
            out.add(value)
    return sorted(out)


def unique_sessions(docs: list[dict]) -> list[tuple]:
    """(session, count, min sys_time, time, date) ordered by (time, session);
    time is the session ObjectId's creation second."""
    agg: dict[str, list] = {}
    for doc in docs:
        meta = doc["_ts_meta"]
        slot = agg.setdefault(meta["session"], [0, math.inf])
        slot[0] += 1
        slot[1] = min(slot[1], meta["sys_time"])
    out = []
    for session, (count, first) in agg.items():
        secs = int(session[:8], 16)
        date = dt.datetime.fromtimestamp(secs, dt.timezone.utc)
        out.append((session, count, first, float(secs),
                    date.strftime("%d-%m-%Y %H:%M:%S")))
    return sorted(out, key=lambda r: (r[3], r[0]))


def check_unique_sessions(rows: list[dict], docs: list[dict]) -> str | None:
    want = unique_sessions(docs)
    got = [(r["session"], r["count"], r["sys_time"], r["time"], r["date"])
           for r in rows]
    if len(got) != len(want):
        return _diff("sessions", len(got), len(want))
    for g, w in zip(got, want):
        if g[0] != w[0] or g[1] != w[1] or g[4] != w[4] or not (
            close(g[2], w[2]) and close(g[3], w[3])
        ):
            return _diff("session row", g, w)
    return None


def group_by(docs: list[dict], key: str, value: str | None = None) -> dict:
    """key value -> (count, mean of ``value``); array keys unwind."""
    acc: dict[Any, list] = {}
    for doc in docs:
        keys = get_path(doc, key)
        for k in keys if isinstance(keys, list) else [keys]:
            slot = acc.setdefault(k, [0, 0.0])
            slot[0] += 1
            if value is not None:
                slot[1] += get_path(doc, value)
    return {k: (n, total / n if value is not None else None)
            for k, (n, total) in acc.items()}


def check_groups(rows: list[dict], want: dict, count: str, mean: str | None) -> str | None:
    got = {r["_id"]: (r[count], r[mean] if mean else None) for r in rows}
    if got.keys() != want.keys():
        return _diff("group keys", sorted(map(repr, got)), sorted(map(repr, want)))
    for k, (n, m) in want.items():
        gn, gm = got[k]
        if gn != n or (mean is not None and not close(gm, m)):
            return _diff(f"group {k}", got[k], (n, m))
    return None


def buckets(docs: list[dict], path: str, bounds: list) -> dict:
    """Lower boundary -> (count, None) for values inside ``bounds``."""
    out: dict[Any, tuple] = {}
    for doc in docs:
        v = get_path(doc, path)
        for lo, hi in zip(bounds, bounds[1:]):
            if lo <= v < hi:
                out[lo] = (out.get(lo, (0, None))[0] + 1, None)
                break
    return out


# -- ETL -----------------------------------------------------------------------


def expected_copy(matches: list[dict], dst_ids: set[str]) -> dict[str, int]:
    ids = {d["_id"] for d in matches}
    return {"copied": len(ids - dst_ids), "skipped_duplicates": len(ids & dst_ids)}


# -- capture_replay ------------------------------------------------------------


def snapshot_errors(rows: list[dict], expected: list[dict]) -> list[str | None]:
    """Persisted snapshots, ordered by their save time, against the
    expected latest value of each topic at each watch event.  One entry
    per snapshot, expected or extra: None when it matches."""
    got = sorted(rows, key=lambda r: r["_ts_meta"]["sys_time"])
    out: list[str | None] = []
    for i in range(max(len(got), len(expected))):
        if i >= len(got):
            out.append(f"snapshot {i}: missing")
        elif i >= len(expected):
            out.append(f"snapshot {i}: unexpected")
        else:
            values = {k: got[i].get(k) for k in expected[i]}
            out.append(None if values == expected[i]
                       else _diff(f"snapshot {i}", values, expected[i]))
    return out


# -- corpus_build --------------------------------------------------------------


def check_funnel(stats: dict, n_docs: int, exact_groups: list[list[int]],
                 n_distinct_groups: int) -> list[str]:
    """Build stats against the planted corpus: every doc passes the
    quality gate, exact dedup removes exactly the planted copies, and
    near dedup leaves between one doc per planted group (perfect recall)
    and every exact-deduped doc (no recall)."""
    errors = []
    n_exact = n_docs - sum(len(g) - 1 for g in exact_groups)
    for key, want in (("n_input", n_docs), ("n_quality", n_docs),
                      ("n_exact_dedup", n_exact)):
        if stats.get(key) != want:
            errors.append(_diff(key, stats.get(key), want))
    near = stats.get("n_near_dedup")
    if not isinstance(near, int) or not n_distinct_groups <= near <= n_exact:
        errors.append(_diff("n_near_dedup", near, f"[{n_distinct_groups}, {n_exact}]"))
    if not stats.get("n_tokens") or not stats.get("n_windows"):
        errors.append(_diff("packed output", stats.get("n_tokens"), "> 0"))
    return errors


def check_clusters(labels: dict[int, int], group_of: dict[int, str]) -> list[str]:
    """Near-dup clusters (doc -> component) must never join documents of
    two different planted groups."""
    members: dict[int, set[str]] = {}
    for doc, comp in labels.items():
        members.setdefault(comp, set()).add(group_of[doc])
    return [
        _diff(f"cluster {comp}", sorted(groups), "one planted group")
        for comp, groups in sorted(members.items())
        if len(groups) > 1
    ]


def near_dup_recall(labels: dict[int, int], near_groups: list[list[int]],
                    survivors: set[int]) -> float:
    """Share of planted near-duplicate pairs (among exact-dedup survivors)
    that ended up in one cluster."""
    found = total = 0
    for ids in near_groups:
        ids = [i for i in ids if i in survivors]
        for a in range(len(ids)):
            for b in range(a + 1, len(ids)):
                total += 1
                la, lb = labels.get(ids[a], ids[a]), labels.get(ids[b], ids[b])
                found += la == lb
    return found / total if total else 1.0
