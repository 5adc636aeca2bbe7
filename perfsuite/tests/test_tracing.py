"""Shared-cache keys are reported without their run-specific parts."""

from __future__ import annotations

import os

from tracing import normalize_cache_key


def test_cache_key_drops_application_id_and_input_dir(tmp_path):
    inputs = str(tmp_path / "inputs" / "corpus-v1--seed3")
    key = f"minhash_lsh_pairs:0.5:{inputs}:local-1760695000123"
    assert normalize_cache_key(key, inputs) == "minhash_lsh_pairs:0.5:<inputs>"


def test_cache_key_matches_relative_and_absolute_input_dirs(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    rel = os.path.join("inputs", "sparkify-v2-lines400-seed8")
    for seen in (rel, os.path.abspath(rel)):
        key = f"bm25_per_doc:{seen}:local-1760695000999"
        assert normalize_cache_key(key, rel) == "bm25_per_doc:<inputs>"
