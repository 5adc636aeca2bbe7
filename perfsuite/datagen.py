"""Seeded input generation for the two benchmark workloads.

Every input is a pure function of ``(kind, seed, size)``: the same seed
gives byte-identical files, a different seed different ones. Inputs are
written once per seed under a cache directory and reused by later runs, so
generation never lands inside ``setup_s``.

* ``corpus``: the registry's ``documents`` table.
* ``sparkify``: a Sparkify landing zone — a newline-JSON app log in daily
  files and a one-object-per-file song catalog in the ``A/B/C`` tree, with
  the column types of the reference's staging tables — plus an ``events``
  table for the incremental (streaming) load. The manifest records the
  counts the star schema must reproduce: NextSong lines in, fact rows out,
  and the distinct count of each dimension as the generator built it.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Bump when the generators change, so stale caches are not reused.
GENERATOR_VERSION = 3

_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_VOCAB = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
)
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)

_DAY_US = 86_400 * 1_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int(datetime(y, m, d, tzinfo=timezone.utc).timestamp() * 1_000_000)


@dataclass(frozen=True)
class Inputs:
    """A generated input set: its directory and its manifest."""

    root: str
    manifest: dict

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per table, so adding a table never
    shifts another table's values."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def events_table(seed: int, n: int, n_users: int) -> pa.Table:
    """The app-event stream table: 30 days of ts-ordered events."""
    r = _rng(seed, "events")
    ts = np.sort(r.integers(0, 30 * _DAY_US, n)) + _epoch_us(2024, 1, 1)
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n_users, n), pa.int64()),
        "event_type": np.array(_EVENT_TYPES)[r.integers(0, 5, n)],
        "value": np.maximum(np.round(r.exponential(50.0, n), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
    })


def corpus_tables(seed: int, n_docs: int) -> dict[str, pa.Table]:
    """``documents``: bag-of-words texts, 5% of them planted near-duplicates
    (an earlier text plus a trailing ``dup`` token). The number planted is
    fixed, so the dedup work does not vary with the seed."""
    r = _rng(seed, "documents")
    dups = set(r.choice(np.arange(11, n_docs), n_docs // 20, replace=False).tolist())
    texts: list[str] = []
    for i in range(n_docs):
        if i in dups:
            src = texts[int(r.integers(0, i))]
            texts.append(src + " dup" * int(r.integers(1, 3)))
        else:
            words = r.integers(0, len(_VOCAB), int(r.integers(10, 100)))
            texts.append(" ".join(_VOCAB[w] for w in words))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(_LANGS)[r.choice(len(_LANGS), n_docs, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return {"documents": docs}


# --- Sparkify landing zone ------------------------------------------------

_PAGES = ("Home", "Login", "Logout", "Settings", "About", "Help", "Upgrade")
_FIRST = ("Ann", "Bo", "Cy", "Dee", "Eli", "Fay", "Gus", "Hal", "Ivy", "Jo")
_LAST = ("Ray", "Li", "Wu", "Kim", "Diaz", "Moss", "Hart", "Cole", "Penn")
_CITIES = ("Portland, OR", "Austin, TX", "Klamath Falls, OR", "Tampa, FL",
           "Boston, MA", "Denver, CO")
_AGENTS = ("Mozilla/5.0 (Macintosh)", "Mozilla/5.0 (Windows NT 6.1)",
           "Mozilla/5.0 (X11; Linux x86_64)")
_HOUR_MS = 3_600_000


def _track_id(r, i: int) -> str:
    letters = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    return "TR" + "".join(letters[k] for k in r.integers(0, 26, 3)) + f"{i:06d}"


def sparkify_landing(root: str, seed: int, n_lines: int, n_songs: int,
                     n_users: int = 100, days: int = 30) -> dict:
    """Write ``log_data/`` and ``song_data/`` under ``root``; return the
    expected star-schema counts."""
    r = _rng(seed, "songs")
    n_artists = max(1, n_songs * 2 // 3)
    artists = []
    for a in range(n_artists):
        has_geo = r.random() < 0.4
        artists.append({
            "artist_id": f"AR{a:06d}{int(r.integers(0, 10**6)):06d}",
            "artist_latitude": round(float(r.uniform(-60, 70)), 5) if has_geo else None,
            "artist_longitude": round(float(r.uniform(-170, 170)), 5) if has_geo else None,
            "artist_location": str(r.choice(_CITIES)) if r.random() < 0.7 else "",
            "artist_name": f"{_VOCAB[int(r.integers(0, 30))].title()} Band {a}",
        })
    songs = []
    song_dir = os.path.join(root, "song_data")
    for i in range(n_songs):
        art = artists[i % n_artists] if i < n_artists else artists[int(r.integers(0, n_artists))]
        tid = _track_id(r, i)
        rec = {"num_songs": 1, **art,
               "song_id": f"SO{i:08d}{tid[2:5]}",
               "title": f"{_VOCAB[int(r.integers(0, 30))].title()} Song {i}",
               "duration": round(float(r.uniform(60, 600)), 5),
               "year": int(r.choice([0, int(r.integers(1960, 2019))]))}
        songs.append(rec)
        d = os.path.join(song_dir, tid[2], tid[3], tid[4])
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"{tid}.json"), "w") as f:
            json.dump(rec, f)

    r = _rng(seed, "log")
    users = []
    for u in range(1, n_users + 1):
        users.append({
            "firstName": str(r.choice(_FIRST)), "lastName": str(r.choice(_LAST)),
            "gender": str(r.choice(["F", "M"])), "location": str(r.choice(_CITIES)),
            "registration": int(1_540_000_000_000 + r.integers(0, 10**9)),
            "userAgent": str(r.choice(_AGENTS)), "userId": u,
            # a quarter of the users upgrade free -> paid mid-month (quirk Q3)
            "upgrade_day": int(r.integers(1, days)) if r.random() < 0.25 else None,
            "paid": bool(r.random() < 0.3),
        })
    start_ms = int(datetime(2018, 11, 1, tzinfo=timezone.utc).timestamp() * 1000)
    day_ms = 86_400_000
    ts_all = np.sort(r.integers(0, days * day_ms, n_lines)) + start_ms
    per_day = np.bincount((ts_all - start_ms) // day_ms, minlength=days)
    log_dir = os.path.join(root, "log_data", "2018", "11")
    os.makedirs(log_dir, exist_ok=True)
    n_play = 0
    user_rows: set[tuple] = set()
    hours: set[int] = set()
    session_of: dict[int, list[int]] = {}
    pos = 0
    for day in range(days):
        lines = []
        for ts in ts_all[pos:pos + per_day[day]]:
            ts = int(ts)
            hours.add(ts // _HOUR_MS)
            if r.random() < 0.04:  # logged-out visitor
                level = "free" if r.random() < 0.5 else "paid"
                rec = {"artist": None, "auth": "Logged Out", "firstName": None,
                       "gender": None, "itemInSession": int(r.integers(0, 5)),
                       "lastName": None, "length": None, "level": level,
                       "location": None, "method": "GET",
                       "page": str(r.choice(["Home", "Login", "About", "Help"])),
                       "registration": None, "sessionId": int(r.integers(1, 5000)),
                       "song": None, "status": 200, "ts": ts, "userAgent": None,
                       "userId": None}
                user_rows.add((None, None, None, level, None, None))
            else:
                u = users[int(r.integers(0, n_users))]
                paid = u["paid"] or (
                    u["upgrade_day"] is not None and day >= u["upgrade_day"])
                level = "paid" if paid else "free"
                sess = session_of.setdefault(u["userId"], [int(r.integers(1, 5000)), 0])
                if r.random() < 0.05:
                    sess[0], sess[1] = int(r.integers(1, 5000)), 0
                item = sess[1]
                sess[1] += 1
                play = r.random() < 0.85
                if play:
                    n_play += 1
                    if r.random() < 0.17:
                        s = songs[int(r.integers(0, n_songs))]
                        artist, song, length = s["artist_name"], s["title"], s["duration"]
                    else:
                        artist = f"Unsigned Act {int(r.integers(0, 5000))}"
                        song = f"Demo {int(r.integers(0, 20000))}"
                        length = round(float(r.uniform(60, 600)), 5)
                else:
                    artist = song = length = None
                rec = {"artist": artist, "auth": "Logged In",
                       "firstName": u["firstName"], "gender": u["gender"],
                       "itemInSession": item, "lastName": u["lastName"],
                       "length": length, "level": level, "location": u["location"],
                       "method": "PUT" if play else "GET",
                       "page": "NextSong" if play else str(r.choice(_PAGES)),
                       "registration": u["registration"], "sessionId": sess[0],
                       "song": song, "status": 200 if play else 307, "ts": ts,
                       "userAgent": u["userAgent"], "userId": u["userId"]}
                user_rows.add((u["firstName"], u["lastName"], u["gender"], level,
                               u["registration"], u["userId"]))
            lines.append(json.dumps(rec))
        pos += per_day[day]
        name = f"2018-11-{day + 1:02d}-events.json"
        with open(os.path.join(log_dir, name), "w") as f:
            f.write("\n".join(lines) + ("\n" if lines else ""))
    return {
        "log_lines": int(n_lines),
        "expected_rows": {
            "fct_song_plays": n_play,
            "dim_users": len(user_rows),
            "dim_songs": n_songs,
            "dim_artists": n_artists,
            "dim_time_dimensions": len(hours),
        },
    }


# --- cache ----------------------------------------------------------------

def _dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(root) for f in files
    )


def ensure(cache_root: str, kind: str, seed: int, **size) -> Inputs:
    """Generate ``kind`` inputs for ``seed`` once; reuse them afterwards.

    The set is built in a temporary sibling directory and renamed into
    place, so an interrupted generation never leaves a half-written set
    that a later run would trust."""
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    root = os.path.join(cache_root, f"{kind}-v{GENERATOR_VERSION}-{tag}-seed{seed}")
    manifest_path = os.path.join(root, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return Inputs(root, json.load(f))
    tmp = f"{root}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if kind == "corpus":
        manifest = _write_tables(tmp, corpus_tables(seed, size["docs"]))
        manifest["input_bytes"] = _dir_bytes(tmp)
    elif kind == "sparkify":
        manifest = sparkify_landing(tmp, seed, size["lines"], size["songs"])
        manifest.update(_write_tables(tmp, {
            "events": events_table(seed, size["stream_events"], 150)}))
        manifest["input_bytes"] = _dir_bytes(os.path.join(tmp, "log_data")) + \
            _dir_bytes(os.path.join(tmp, "song_data"))
    else:
        raise ValueError(f"unknown input kind {kind!r}")
    manifest.update(kind=kind, seed=seed, size=size)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    shutil.rmtree(root, ignore_errors=True)
    os.rename(tmp, root)
    return Inputs(root, manifest)


def _write_tables(root: str, tables: dict[str, pa.Table]) -> dict:
    for name, table in tables.items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
    return {"tables": {n: t.num_rows for n, t in tables.items()}}
