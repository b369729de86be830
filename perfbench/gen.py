"""Seeded input generators, each returning its ground truth beside it.

Everything here is pure Python driven by one ``random.Random(seed)``, so
the same seed yields byte-identical inputs (``digest`` hashes them for the
self-tests).  The program under test only ever sees the generated values.
"""

from __future__ import annotations

import hashlib
import json
import random
from dataclasses import dataclass, field

#: first sys_time of a generated store (2023-11-14T22:13:20Z)
EPOCH = 1_700_000_000.0

ROBOTS = ("r0", "r1", "r2", "r3", "r4", "r5")
MODES = ("auto", "manual", "docked")
TAGS = ("lidar", "camera", "imu", "gps", "arm", "night", "rain", "indoor")
WORDS = (
    "robot arm moves the box to the shelf and then returns to dock while "
    "camera frames stream over the wireless link as operators watch the map "
    "update with each new scan from lidar sensor mounted on top of base where "
    "wheels turn slowly across tiled floor in warehouse aisle near loading bay "
    "battery level drops during long mission so planner schedules charging "
    "stop before next task begins at noon under bright lights"
).split()


def object_id(rng: random.Random, ts: float) -> str:
    """24-hex ObjectId-shaped string: 4 bytes of seconds, 8 seeded bytes."""
    return f"{int(ts):08x}{rng.getrandbits(64):016x}"


def digest(value) -> str:
    """Stable hash of generated inputs (bytes hex-encoded)."""

    def plain(v):
        if isinstance(v, bytes):
            return {"__bytes__": v.hex()}
        if isinstance(v, dict):
            return {k: plain(x) for k, x in v.items()}
        if isinstance(v, (list, tuple)):
            return [plain(x) for x in v]
        return v

    raw = json.dumps(plain(value), sort_keys=True, separators=(",", ":"))
    return hashlib.sha256(raw.encode()).hexdigest()


# -- robot-snapshot documents ------------------------------------------------


#: size of a document's binary image, above the store's blob threshold
IMAGE_BYTES = 4096


@dataclass
class DocFactory:
    """Robot-snapshot documents: nested ``odom``/``robot`` structs, a
    ``scan.ranges`` array of ``width`` floats, ``tags`` arrays, and on a
    ``blob_share`` of documents a binary ``image`` of ``IMAGE_BYTES``."""

    rng: random.Random
    sessions: list[str]
    width: int = 32
    blob_share: float = 0.1
    seq: int = 0

    @classmethod
    def create(cls, seed: int, n_sessions: int, **kw) -> "DocFactory":
        rng = random.Random(seed)
        sessions = [
            object_id(rng, EPOCH - 86_400 + 600 * i) for i in range(n_sessions)
        ]
        return cls(rng=rng, sessions=sessions, **kw)

    def make(self, n: int) -> list[dict]:
        return [self._one() for _ in range(n)]

    def _one(self) -> dict:
        rng = self.rng
        self.seq += 1
        ts = EPOCH + 0.25 * self.seq + rng.random() * 0.1
        doc = {
            "_id": object_id(rng, ts),
            "_ts_meta": {
                "session": rng.choice(self.sessions),
                "sys_time": round(ts, 6),
                "ros_time": round(ts - 0.01, 6),
            },
            "seq": self.seq,
            "label": rng.choice(("dock", "corridor", "lab", "yard")),
            "odom": {
                "pose": {
                    "x": round(rng.uniform(-50, 50), 3),
                    "y": round(rng.uniform(-50, 50), 3),
                    "theta": round(rng.uniform(-3.14, 3.14), 4),
                },
                "twist": {
                    "v": round(rng.uniform(0, 2), 3),
                    "w": round(rng.uniform(-1, 1), 3),
                },
            },
            "robot": {
                "name": rng.choice(ROBOTS),
                "battery": round(rng.uniform(0, 100), 2),
                "mode": rng.choice(MODES),
            },
            "scan": {
                "angle_min": -1.57,
                "angle_max": 1.57,
                "ranges": [round(rng.uniform(0.1, 30), 3) for _ in range(self.width)],
            },
            "tags": rng.sample(TAGS, rng.randint(1, 3)),
            "has_image": False,
        }
        if rng.random() < self.blob_share:
            doc["has_image"] = True
            # a PNG signature: never valid UTF-8, so it stays binary
            doc["image"] = b"\x89PNG" + rng.randbytes(IMAGE_BYTES - 4)
        return doc


# -- topic-message logs --------------------------------------------------------


@dataclass
class TopicLog:
    """One recorded multi-topic session, in timestamp order.

    ``messages`` are ``(topic, value, ts_micros)``; ``expected`` holds, for
    every watch-topic message, the latest value of each subscribed topic
    at that moment (what the snapshot saved on that event must contain).
    """

    messages: list[tuple[str, str, int]]
    topics: dict[str, str]
    watch: str
    expected: list[dict[str, str | None]] = field(default_factory=list)


#: topic -> publish rate (Hz) of the recorded session
TOPIC_RATES = {"/odom": 20.0, "/scan": 10.0, "/battery": 1.0, "/status": 2.0}
#: seconds between watch-topic messages
EVENT_PERIOD_S = 2.0


def topic_log(seed: int, events: int) -> TopicLog:
    """A session with ``events`` watch-topic messages, one every
    ``EVENT_PERIOD_S``, and each topic of ``TOPIC_RATES`` at its own rate
    with seeded jitter.  Timestamps are distinct microseconds."""
    rng = random.Random(seed)
    duration = events * EVENT_PERIOD_S
    start = int(EPOCH * 1_000_000)
    msgs: list[tuple[str, str, int]] = []
    used: set[int] = set()

    def stamp(t: float) -> int:
        us = start + int(t * 1_000_000)
        while us in used:
            us += 1
        used.add(us)
        return us

    for topic, hz in TOPIC_RATES.items():
        period = 1.0 / hz
        t, i = rng.random() * period, 0
        while t < duration:
            value = f"{topic[1:]}-{i}-{rng.randrange(10**6)}"
            msgs.append((topic, value, stamp(t)))
            t += period * rng.uniform(0.8, 1.2)
            i += 1
    for i in range(events):
        t = (i + 1) * EVENT_PERIOD_S - rng.random() * 0.5
        msgs.append(("/event", f"event-{i}", stamp(t)))
    msgs.sort(key=lambda m: m[2])

    topics = {name[1:]: name for name in (*TOPIC_RATES, "/event")}
    log = TopicLog(messages=msgs, topics=topics, watch="/event")
    latest: dict[str, str] = {}
    for topic, value, _ts in msgs:
        latest[topic] = value
        if topic == log.watch:
            log.expected.append({k: latest.get(t) for k, t in topics.items()})
    return log


def topic_log_lines(log: TopicLog, files: int) -> list[list[str]]:
    """The log as JSON lines split into ``files`` consecutive time slices
    (one landing file each)."""
    import datetime as dt

    epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
    lines = []
    for topic, value, us in log.messages:
        stamp = epoch + dt.timedelta(microseconds=us)
        lines.append(
            json.dumps(
                {"topic": topic, "value": value, "ts": stamp.isoformat()},
                separators=(",", ":"),
            )
        )
    per = -(-len(lines) // files)
    return [lines[i : i + per] for i in range(0, len(lines), per)]


# -- text corpus -------------------------------------------------------------


@dataclass
class Corpus:
    """Text docs ``(doc_id, text)`` plus planted duplicate structure.

    ``exact_groups``: id lists sharing one identical text (first id is the
    original).  ``near_groups``: id lists of light edits of one base text
    (word-trigram Jaccard well above 0.8 to their base).  Every other doc
    is unique text.  ``group_of`` maps each id to its planted group key.
    """

    docs: list[tuple[int, str]]
    exact_groups: list[list[int]]
    near_groups: list[list[int]]

    def group_of(self) -> dict[int, str]:
        out = {doc_id: f"u{doc_id}" for doc_id, _ in self.docs}
        for i, ids in enumerate(self.exact_groups):
            out.update({d: f"e{i}" for d in ids})
        for i, ids in enumerate(self.near_groups):
            out.update({d: f"n{i}" for d in ids})
        return out


#: words per corpus text
N_WORDS = 120
#: share of corpus docs that are planted exact copies / near duplicates
EXACT_SHARE, NEAR_SHARE = 0.1, 0.15
#: docs per planted duplicate group
CLUSTER_SIZE = 3


def _sentence_text(rng: random.Random) -> str:
    # a unique nonce word per text keeps unrelated docs far apart
    words = [rng.choice(WORDS) for _ in range(N_WORDS)]
    words[rng.randrange(N_WORDS)] = f"unit{rng.getrandbits(40):x}"
    return " ".join(words)


def corpus(seed: int, n_docs: int) -> Corpus:
    """``n_docs`` docs; about ``EXACT_SHARE`` of them are planted exact
    copies and ``NEAR_SHARE`` near-duplicate group members, in groups of
    ``CLUSTER_SIZE``.  Doc order is shuffled."""
    rng = random.Random(seed)
    texts: list[str] = []
    exact_slots: list[list[int]] = []
    near_slots: list[list[int]] = []
    n_exact = int(n_docs * EXACT_SHARE) // CLUSTER_SIZE
    n_near = int(n_docs * NEAR_SHARE) // CLUSTER_SIZE
    for _ in range(n_exact):
        text = _sentence_text(rng)
        exact_slots.append(list(range(len(texts), len(texts) + CLUSTER_SIZE)))
        texts += [text] * CLUSTER_SIZE
    for _ in range(n_near):
        base = _sentence_text(rng).split()
        slot = []
        for k in range(CLUSTER_SIZE):
            words = list(base)
            if k:
                # one substitution and one deletion: trigram Jaccard ~0.93
                words[rng.randrange(len(words))] = f"edit{rng.getrandbits(32):x}"
                del words[rng.randrange(len(words))]
            slot.append(len(texts))
            texts.append(" ".join(words))
        near_slots.append(slot)
    while len(texts) < n_docs:
        texts.append(_sentence_text(rng))

    order = list(range(len(texts)))
    rng.shuffle(order)
    id_of = {slot: new_id for new_id, slot in enumerate(order)}
    docs = sorted((id_of[slot], text) for slot, text in enumerate(texts))
    return Corpus(
        docs=docs,
        exact_groups=[sorted(id_of[s] for s in g) for g in exact_slots],
        near_groups=[sorted(id_of[s] for s in g) for g in near_slots],
    )
