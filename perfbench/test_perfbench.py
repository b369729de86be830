"""Self-tests of the benchmark (no Spark): generator determinism and that
every reference check accepts a correct result and rejects a corrupted one.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import copy
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import reference as ref  # noqa: E402


# -- generators ---------------------------------------------------------------


def _inputs(seed: int) -> list[str]:
    factory = gen.DocFactory.create(seed, 12)
    log = gen.topic_log(seed, 6)
    corpus = gen.corpus(seed, 300)
    return [
        gen.digest(factory.make(100)),
        gen.digest(gen.topic_log_lines(log, 3)),
        gen.digest(log.expected),
        gen.digest(corpus.docs),
        gen.digest([corpus.exact_groups, corpus.near_groups]),
    ]


def test_same_seed_same_bytes():
    assert _inputs(7) == _inputs(7)


def test_other_seed_other_bytes():
    assert all(a != b for a, b in zip(_inputs(7), _inputs(8)))


def test_documents_have_the_documented_shape():
    docs = gen.DocFactory.create(1, 12).make(400)
    images = [d for d in docs if d["has_image"]]
    assert 0 < len(images) < len(docs) // 4
    assert all(d["image"][:4] == b"\x89PNG" and len(d["image"]) == 4096 for d in images)
    assert len({d["_ts_meta"]["session"] for d in docs}) == 12
    assert len({d["_id"] for d in docs}) == len(docs)
    assert all(len(d["scan"]["ranges"]) == 32 for d in docs)


def test_topic_log_expectations_follow_the_messages():
    log = gen.topic_log(3, 5)
    stamps = [m[2] for m in log.messages]
    assert stamps == sorted(set(stamps))
    events = [i for i, m in enumerate(log.messages) if m[0] == log.watch]
    assert len(events) == len(log.expected) == 5
    for i, want in zip(events, log.expected):
        for key, topic in log.topics.items():
            seen = [m[1] for m in log.messages[: i + 1] if m[0] == topic]
            assert want[key] == (seen[-1] if seen else None)


def _trigrams(text: str) -> set[str]:
    w = text.split()
    return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}


def test_corpus_plants_what_it_says():
    corpus = gen.corpus(5, 600)
    text = dict(corpus.docs)
    assert sorted(text) == list(range(600))
    for ids in corpus.exact_groups:
        assert len({text[i] for i in ids}) == 1
    for ids in corpus.near_groups:
        base = _trigrams(text[ids[0]])
        for other in ids[1:]:
            sim = _trigrams(text[other])
            assert text[other] != text[ids[0]]
            assert len(base & sim) / len(base | sim) >= 0.8
    planted = {i for g in corpus.exact_groups + corpus.near_groups for i in g}
    lone = [text[i] for i in text if i not in planted]
    assert len(set(lone)) == len(lone)


# -- store_mix checks -------------------------------------------------------------


DOCS = gen.DocFactory.create(2, 6, blob_share=0.5).make(60)


def _rows(docs, paths=None):
    """What a correct store returns: projected rows with null-filled fields."""
    out = []
    for d in docs:
        row = copy.deepcopy(ref.project(d, paths) if paths else d)
        row["extra_null_field"] = None
        if "image" in row:
            row["image"] = bytearray(row["image"])
        out.append(row)
    return out


def test_check_docs():
    assert ref.check_docs(_rows(DOCS), DOCS, None) is None
    bad = _rows(DOCS)
    bad[3]["odom"]["pose"]["x"] += 1
    assert ref.check_docs(bad, DOCS, None)
    bad = _rows(DOCS)
    img = next(r for r in bad if r.get("image"))
    img["image"][10] ^= 0xFF
    assert ref.check_docs(bad, DOCS, None)
    assert ref.check_docs(_rows(DOCS)[1:], DOCS, None)


def test_check_limited():
    paths = ["seq", "robot.name"]
    matches = [d for d in DOCS if d["robot"]["name"] == "r1"]
    assert ref.check_limited(_rows(matches[:5], paths), matches, 5, paths) is None
    assert ref.check_limited(_rows(matches[:4], paths), matches, 5, paths)
    bad = _rows(matches[:5], paths)
    bad[0]["seq"] += 1
    assert ref.check_limited(bad, matches, 5, paths)
    outsider = next(d for d in DOCS if d["robot"]["name"] != "r1")
    assert ref.check_limited(_rows(matches[:4] + [outsider], paths), matches, 5, paths)


def test_check_sorted():
    key = "_ts_meta.sys_time"
    want = sorted(DOCS, key=lambda d: -d["_ts_meta"]["sys_time"])[:5]
    assert ref.check_sorted(_rows(want), DOCS, key, True, 5) is None
    assert ref.check_sorted(_rows(want[::-1]), DOCS, key, True, 5)


def test_check_unique_sessions():
    rows = [dict(zip(("session", "count", "sys_time", "time", "date"), r))
            for r in ref.unique_sessions(DOCS)]
    assert ref.check_unique_sessions(rows, DOCS) is None
    rows[0]["count"] += 1
    assert ref.check_unique_sessions(rows, DOCS)


def test_check_groups_and_buckets():
    want = ref.group_by(DOCS, "robot.name", "odom.twist.v")
    rows = [{"_id": k, "n": n, "avg_v": m} for k, (n, m) in want.items()]
    assert ref.check_groups(rows, want, "n", "avg_v") is None
    rows[0]["avg_v"] += 0.01
    assert ref.check_groups(rows, want, "n", "avg_v")

    tags = ref.group_by(DOCS, "tags")
    assert sum(n for n, _ in tags.values()) == sum(len(d["tags"]) for d in DOCS)
    rows = [{"_id": k, "n": n} for k, (n, _) in tags.items()]
    assert ref.check_groups(rows, tags, "n", None) is None
    assert ref.check_groups(rows[1:], tags, "n", None)

    buckets = ref.buckets(DOCS, "robot.battery", [0, 25, 50, 75, 101])
    assert sum(n for n, _ in buckets.values()) == len(DOCS)
    rows = [{"_id": str(k), "n": n} for k, (n, _) in buckets.items()]
    assert ref.check_groups(rows, buckets, "n", None)  # "0" is not 0


def test_distinct_and_copy_counts():
    assert ref.distinct_values(DOCS, "tags") == sorted({t for d in DOCS for t in d["tags"]})
    assert ref.check_equal(ref.distinct_values(DOCS, "robot.name")[1:],
                           ref.distinct_values(DOCS, "robot.name"))
    first = ref.expected_copy(DOCS[:10], set())
    again = ref.expected_copy(DOCS[:20], {d["_id"] for d in DOCS[:10]})
    assert first == {"copied": 10, "skipped_duplicates": 0}
    assert again == {"copied": 10, "skipped_duplicates": 10}
    assert ref.check_equal({"copied": 9, "skipped_duplicates": 11}, again)


# -- capture_replay checks ----------------------------------------------------------


def _snapshots(log: gen.TopicLog) -> list[dict]:
    return [dict(values, robot="r1", _ts_meta={"sys_time": 100.0 + i})
            for i, values in enumerate(log.expected)]


def test_snapshot_errors():
    log = gen.topic_log(4, 6)
    rows = _snapshots(log)
    assert ref.snapshot_errors(rows[::-1], log.expected) == [None] * 6
    bad = _snapshots(log)
    bad[2]["odom"] = bad[1]["odom"] if bad[1]["odom"] != bad[2]["odom"] else "stale"
    assert [e is not None for e in ref.snapshot_errors(bad, log.expected)] == [
        False, False, True, False, False, False]
    errors = ref.snapshot_errors(rows[:5], log.expected)
    assert errors[:5] == [None] * 5 and errors[5]
    assert ref.snapshot_errors(rows + rows[:1], log.expected)[6]


# -- corpus_build checks ---------------------------------------------------------------


CORPUS = gen.corpus(9, 300)


def _stats(**over):
    n = len(CORPUS.docs)
    n_exact = n - sum(len(g) - 1 for g in CORPUS.exact_groups)
    stats = {"n_input": n, "n_quality": n, "n_exact_dedup": n_exact,
             "n_near_dedup": n_exact - sum(len(g) - 1 for g in CORPUS.near_groups),
             "n_tokens": 1000, "n_windows": 4}
    stats.update(over)
    return stats


def test_check_funnel():
    groups = len(set(CORPUS.group_of().values()))
    exact = CORPUS.exact_groups
    assert ref.check_funnel(_stats(), 300, exact, groups) == []
    assert ref.check_funnel(_stats(n_exact_dedup=_stats()["n_exact_dedup"] + 1),
                            300, exact, groups)
    assert ref.check_funnel(_stats(n_near_dedup=groups - 1), 300, exact, groups)
    assert ref.check_funnel(_stats(n_quality=299), 300, exact, groups)
    assert ref.check_funnel(_stats(n_tokens=0), 300, exact, groups)


def _labels(groups: list[list[int]]) -> dict[int, int]:
    return {d: min(g) for g in groups for d in g}


def test_check_clusters_and_recall():
    survivors = {d for d, _ in CORPUS.docs}
    labels = _labels(CORPUS.near_groups)
    assert ref.check_clusters(labels, CORPUS.group_of()) == []
    assert ref.near_dup_recall(labels, CORPUS.near_groups, survivors) == 1.0
    merged = _labels([CORPUS.near_groups[0] + CORPUS.near_groups[1]])
    assert ref.check_clusters(merged, CORPUS.group_of())
    split = _labels(CORPUS.near_groups[1:])
    assert ref.near_dup_recall(split, CORPUS.near_groups, survivors) < 1.0
