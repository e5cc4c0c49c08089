"""Self-test of the benchmark: same seed, same exact counters; new seed, new inputs.

Run from the checkout root (about four minutes, two Spark runs per workload):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import inputs  # noqa: E402


def _run(tmp_path, workload: str, seed: int) -> dict:
    counters = tmp_path / f"{workload}-{seed}-{len(list(tmp_path.iterdir()))}.json"
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "3", "--trace", "1", "--counters", str(counters)],
        capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    assert last["correct"] and last["failed"] == 0
    return json.loads(counters.read_text())


@pytest.mark.parametrize("workload", ["stats_feed", "serve_requests"])
def test_same_seed_repeats_exact_counters(tmp_path, workload):
    first = _run(tmp_path, workload, seed=7)
    second = _run(tmp_path, workload, seed=7)
    assert first, "the run reported no exact counters"
    assert first == second


def test_seed_changes_inputs():
    def fingerprint(seed: int):
        feed = inputs.make_feed(seed, 100, 1.0, 5)
        serve = inputs.make_serve_data(seed)
        return (feed.seed_events, feed.ticks, inputs.user_prefs(seed, feed.keys),
                serve.state_cum, inputs.request_sequence(seed, 50))

    assert fingerprint(7) == fingerprint(7)
    a, b = fingerprint(7), fingerprint(8)
    assert all(x != y for x, y in zip(a, b))
