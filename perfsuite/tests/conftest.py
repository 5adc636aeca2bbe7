"""Benchmark tests: run with ``python3 -m pytest perfsuite/tests`` from the
root of a checkout. They import the benchmark's modules the way
``perfsuite/run.py`` does."""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402

run._prepare_environment()
