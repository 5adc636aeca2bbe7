"""Inputs are a function of the seed: the same seed gives byte-identical
files, a different seed different ones."""

from __future__ import annotations

import hashlib
import os

import pytest

import datagen

SMALL = {
    "corpus": {"docs": 200},
    "sparkify": {"lines": 400, "songs": 30, "stream_events": 200},
}


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            path = os.path.join(d, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("kind", sorted(SMALL))
def test_same_seed_gives_identical_bytes(tmp_path, kind):
    a = datagen.ensure(str(tmp_path / "a"), kind, 11, **SMALL[kind])
    b = datagen.ensure(str(tmp_path / "b"), kind, 11, **SMALL[kind])
    da, db = _digest(a.root), _digest(b.root)
    assert len(da) > 1
    assert da == db


@pytest.mark.parametrize("kind", sorted(SMALL))
def test_other_seed_gives_other_inputs(tmp_path, kind):
    a = _digest(datagen.ensure(str(tmp_path), kind, 11, **SMALL[kind]).root)
    b = _digest(datagen.ensure(str(tmp_path), kind, 12, **SMALL[kind]).root)
    assert all(a[k] != b.get(k) for k in a)


def test_cached_set_is_reused(tmp_path):
    first = datagen.ensure(str(tmp_path), "corpus", 5, docs=200)
    marker = os.path.join(first.root, "documents.parquet")
    mtime = os.path.getmtime(marker)
    again = datagen.ensure(str(tmp_path), "corpus", 5, docs=200)
    assert again.root == first.root
    assert os.path.getmtime(marker) == mtime


def test_sparkify_manifest_counts_the_log(tmp_path):
    inputs = datagen.ensure(str(tmp_path), "sparkify", 3, **SMALL["sparkify"])
    log_dir = inputs.path("log_data", "2018", "11")
    lines = plays = 0
    for name in os.listdir(log_dir):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                lines += 1
                plays += '"page": "NextSong"' in line
    assert lines == inputs.manifest["log_lines"] == SMALL["sparkify"]["lines"]
    assert plays == inputs.manifest["expected_rows"]["fct_song_plays"]
