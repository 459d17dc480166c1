"""Seeded CDC event generator for the benchmark.

Emits envelope JSON lines in the shape of the reference producer: an
``operation`` (insert/update/delete at 50/30/20), the ``document_id`` it
applies to, the change ``timestamp`` and the watch document in ``data``
(null for deletes), plus the generator's ``seq`` number and
``event_time``, which the warehouse uses as its last-write-wins version.

Inserts create a new document; updates and deletes pick a live document
uniformly. Every document keeps ``0 <= watched_seconds <=
video_duration_seconds``. The same seed and count give the same lines.
"""

import datetime
import json
import random

OPS = ("insert", "update", "delete")
OP_WEIGHTS = (50, 30, 20)
DEVICES = ("mobile", "desktop", "tablet", "smart_tv")
QUALITIES = ("360p", "480p", "720p", "1080p", "4k")
VIDEOS = 1000
MAX_DURATION = 3600
EPOCH = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
STEP = datetime.timedelta(milliseconds=10)


def _iso(t):
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + "%03dZ" % (t.microsecond // 1000)


def events(seed, n):
    """Yield ``n`` envelope dicts for ``seed``."""
    rng = random.Random(seed)
    live = []      # live document ids, for uniform picks
    where = {}     # id -> index in ``live``
    docs = {}      # id -> the document's fixed fields
    next_id = 0
    for seq in range(n):
        op = rng.choices(OPS, OP_WEIGHTS)[0] if live else "insert"
        ts = _iso(EPOCH + seq * STEP)
        if op == "insert":
            doc_id = "doc_%08d" % next_id
            next_id += 1
            duration = rng.randint(30, MAX_DURATION)
            docs[doc_id] = {
                "video_id": "video_%05d" % rng.randrange(VIDEOS),
                "session_id": "sess_%012x" % rng.getrandbits(48),
                "video_duration_seconds": duration,
                "device_type": rng.choice(DEVICES),
            }
            where[doc_id] = len(live)
            live.append(doc_id)
        else:
            doc_id = live[rng.randrange(len(live))]
        if op == "delete":
            i = where.pop(doc_id)
            last = live.pop()
            if last != doc_id:
                live[i] = last
                where[last] = i
            del docs[doc_id]
            data = None
        else:
            d = docs[doc_id]
            data = {
                "video_id": d["video_id"],
                "session_id": d["session_id"],
                "watched_seconds": rng.randint(0, d["video_duration_seconds"]),
                "video_duration_seconds": d["video_duration_seconds"],
                "timestamp": ts,
                "device_type": d["device_type"],
                "quality": rng.choice(QUALITIES),
            }
        yield {"operation": op, "document_id": doc_id, "timestamp": ts,
               "data": data, "seq": seq, "event_time": ts}


def lines(seed, n):
    """The wire form: one compact JSON object per line."""
    return [json.dumps(e, separators=(",", ":")) for e in events(seed, n)]


def write(path, seed, n):
    with open(path, "w") as f:
        for line in lines(seed, n):
            f.write(line)
            f.write("\n")
