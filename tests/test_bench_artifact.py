"""Pin the bench artifact schema (VERDICT r07 task #2).

``bench.py`` records, per query, the MIN across runs (round-over-round
comparable) AND the raw run list plus a ``spread_flags`` column naming the
queries whose runs disagreed >2x — so a load-sensitive query self-identifies
in the artifact instead of costing a day of adjudication separating a real
regression from environmental drift.

The full sweep takes minutes, so these tests exercise the artifact-building
logic directly: the in-repo BENCH_LOCAL.json (written by the last sweep)
must carry the schema, and the spread-flag and anchor-divisor rules that
``bench.py`` imports from ``covid19_spark.measure`` are pinned as pure logic.
"""

import json
import os

import pytest

from covid19_spark.measure import nearest_anchor, spread_flags

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_LOCAL = os.path.join(REPO, "BENCH_LOCAL.json")


def test_spread_flag_rule():
    runs = {
        "steady": [1.0, 1.1],
        "load_sensitive": [10.0, 4.0, 3.9],  # max > 2x min → flagged
        "tiny_noisy": [0.1, 0.4],  # sub-threshold absolute time → ignored
        "borderline": [2.0, 3.9],  # < 2x → not flagged
    }
    assert spread_flags(runs) == ["load_sensitive"]


def test_median3_divisor_smooths_single_outlier():
    # r13's failure mode: one 0.575 s sample in an ~0.84 s series made every
    # query nearest that position read x1.5 "slower" on an unchanged plan.
    samples = [[0, 0.85], [25, 0.83], [50, 0.575], [75, 0.86], [100, 0.84]]

    def divisor(pos):
        return nearest_anchor(samples, pos)

    # queries near the outlier position normalize by a neighboring healthy
    # sample, not the outlier itself
    assert divisor(50) == 0.83
    assert divisor(49) == 0.83
    assert divisor(60) == 0.83
    # far from the outlier, untouched
    assert divisor(0) == 0.83  # median of [0.85, 0.83, 0.575] -> 0.83
    assert divisor(100) == 0.84
    # degrades sanely with a short series (early in the sweep)
    assert divisor(0) > 0


@pytest.mark.skipif(
    not os.path.exists(BENCH_LOCAL), reason="no local bench artifact yet"
)
def test_bench_local_schema():
    with open(BENCH_LOCAL) as f:
        art = json.loads(f.readline())
    for key in ("metric", "value", "unit", "queries", "runs", "spread_flags", "sf"):
        assert key in art, f"bench artifact missing {key!r}"
    assert set(art["runs"]) == set(art["queries"])
    for name, rs in art["runs"].items():
        # 2 in-sweep runs + up to one each of: in-sweep arbitration,
        # cross-sweep drift re-time, spread re-time (drift and spread are
        # mutually exclusive per query)
        assert isinstance(rs, list) and 2 <= len(rs) <= 4
        # the recorded headline number is the min of the raw runs
        assert abs(min(rs) - art["queries"][name]) < 1e-6, name
    assert art["spread_flags"] == spread_flags(art["runs"])
    # calibration anchor, interleaved form (VERDICT r08 task #2, reworked
    # r13 task #1): the fixed pure-Spark workload is re-sampled every
    # anchor_every queries; each query normalizes by the sample NEAREST
    # the sweep position of its recorded min (min_pos), and the whole
    # [position, sec] series is recorded so intra-sweep drift is visible.
    for key in (
        "anchor_sec", "anchor_start_sec", "anchor_end_sec",
        "anchor_samples", "anchor_every", "min_pos",
        "queries_norm", "value_norm",
    ):
        assert key in art, f"bench artifact missing {key!r}"
    samples = art["anchor_samples"]
    assert len(samples) >= 3 and all(a > 0 for _, a in samples)
    assert samples[0][0] == 0 and samples[0][1] == art["anchor_start_sec"]
    assert samples[-1][1] == art["anchor_end_sec"]
    # headline anchor_sec is the MEAN of every sample (value_norm keeps the
    # r08-r12 definition total/anchor_sec for cross-round continuity)
    assert abs(
        art["anchor_sec"] - round(sum(a for _, a in samples) / len(samples), 3)
    ) < 5e-3
    assert abs(art["value_norm"] - round(art["value"] / art["anchor_sec"], 3)) < 1e-6
    assert set(art["queries_norm"]) == set(art["queries"])
    assert set(art["min_pos"]) == set(art["queries"])

    # the per-query divisor is the MEDIAN of the 3 samples nearest the
    # query's min_pos ("median3"), robust to a single outlier sample
    assert art["norm_rule"] == "median3"
    for name, norm in art["queries_norm"].items():
        want = round(
            art["queries"][name] / nearest_anchor(samples, art["min_pos"][name]), 3
        )
        assert abs(norm - want) < 1e-6, name
