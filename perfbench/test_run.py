"""Tests for which warm passes the end-to-end metrics count:
``python3 -m pytest perfbench``."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402


def _plain(k: int, steal: float) -> dict:
    return {"pass": k, "kind": "plain", "steal": steal}


def test_passes_with_stolen_cpu_are_not_counted():
    passes = [{"pass": 0, "kind": "warmup", "steal": 0.0}, _plain(1, 0.0),
              _plain(2, 0.2), _plain(3, 0.0), _plain(4, 0.01)]
    assert [p["pass"] for p in run._counted(passes)] == [1, 3, 4]


def test_every_plain_pass_counts_when_too_few_are_quiet():
    passes = [_plain(1, 0.1), _plain(2, 0.2), _plain(3, 0.0)]
    assert run._quiet(passes) == [passes[2]]
    assert run._counted(passes) == passes


def test_traced_and_warmup_passes_never_count():
    passes = [{"pass": 0, "kind": "warmup", "steal": 0.0}, _plain(1, 0.0),
              {"pass": 2, "kind": "traced", "steal": 0.0}, _plain(3, 0.0),
              _plain(4, 0.0)]
    assert [p["pass"] for p in run._counted(passes)] == [1, 3, 4]
