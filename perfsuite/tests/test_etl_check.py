"""The ETL check counts rows in against rows out: a log line the loader
silently drops is a failed operation."""

from __future__ import annotations

import dataclasses
import os

import datagen
import run
import workloads

SMALL = {"lines": 3_000, "songs": 40, "stream_events": 500}
SEED = 9


def _quote_one_user_id(inputs: datagen.Inputs) -> None:
    """Rewrite one NextSong line's ``"userId": 39``-style integer as a
    quoted string, the shape of the original Sparkify log."""
    log_dir = inputs.path("log_data", "2018", "11")
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        with open(path) as f:
            lines = f.read().splitlines()
        for i, line in enumerate(lines):
            if '"page": "NextSong"' in line and '"userId": null' not in line:
                head, uid = line.rsplit('"userId": ', 1)
                lines[i] = f'{head}"userId": "{uid.rstrip("}")}"}}'
                with open(path, "w") as f:
                    f.write("\n".join(lines) + "\n")
                return
    raise AssertionError("no NextSong line to rewrite")


def _execute(cache: str) -> dict:
    wl = dataclasses.replace(workloads.WORKLOADS["sparkify_etl"], input_size=SMALL)
    return run.execute(wl, SEED, seconds=1, trace=False, cache=cache)["line"]


def test_clean_log_passes(tmp_path):
    line = _execute(str(tmp_path))
    assert line["failed"] == 0 and line["correct"] is True


def test_quoted_user_id_is_a_failed_operation(tmp_path):
    inputs = datagen.ensure(str(tmp_path / "inputs"), "sparkify", SEED, **SMALL)
    _quote_one_user_id(inputs)
    line = _execute(str(tmp_path))
    assert line["failed"] / line["attempted"] > 0
    assert line["correct"] is False
