"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced end-to-end with a noop write (full computation, no
driver-side collect) — the number measures the distributed plan, not pandas
conversion.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from covid19_spark.measure import (  # noqa: E402
    anchor,
    nearest_anchor,
    run,
    settle,
    spread_flags,
    warm,
)
from covid19_spark.plans.registry import QUERY_REGISTRY  # noqa: E402
from covid19_spark.session import get_spark  # noqa: E402

# Headline set: every registered query (SURVEY §2 coverage + LLM-pipeline ops).
# Order is pinned ALPHABETICAL, deliberately decoupled from the registry's
# registration order: that order is re-sorted every round to rotate driver
# correctness coverage, and deriving the sweep order from it destroyed
# round-over-round bench comparability (the first-position JVM cost migrated
# to whichever query rotated to the front — VERDICT r04).
BENCH_QUERIES = sorted(QUERY_REGISTRY)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("covid19_spark_bench")

    warm(spark, sf_dir)

    # Each query is timed as min(2 runs) with a full cache-drop + settle
    # between them (VERDICT r05 task #2): the generic warmup above compiles
    # the SHARED machinery, but whatever a query alone compiles/loads
    # (query-specific codegen templates, a table's first timestamp-nanos
    # conversion, a family's first Arrow kernel import) was still charged to
    # whichever query alphabetically led its family (r05: asof_latest 0.57 s
    # isolated vs 2.98 s in-sweep). Run 1 absorbs those first-touch costs;
    # the min is the plan's honest repeat cost. Cache state is identical for
    # both runs (clearCache between them), so the min never measures a
    # half-cached plan — only warm codegen/IO paths, which is the point.
    #
    # Interleaved anchor sampling (VERDICT r12 task #1): a single
    # start/end anchor pair proved unusable when box conditions drift
    # WITHIN a sweep (r12 official: anchor 1.823 s at start vs 0.874 s at
    # end — 2.1x — so one mean anchor over- or under-credits every query
    # depending on when it ran). The anchor is now re-sampled every
    # ANCHOR_EVERY queries; each query normalizes by the anchor sample
    # NEAREST to its sweep position, and the whole series is recorded so
    # regression reading can see intra-sweep drift directly.
    ANCHOR_EVERY = 25
    anchor_samples: list[list[float]] = []  # [queries_completed, anchor_sec]

    def _sample_anchor(pos: int) -> float:
        a = anchor(spark)
        anchor_samples.append([pos, a])
        settle(spark)
        return a

    def _timed(name: str) -> float:
        sec = run(spark, QUERY_REGISTRY[name].fn, sf_dir)[0]
        settle(spark)
        return sec

    anchor_start = _sample_anchor(0)
    # Previous sweep's per-query mins + anchor, for CROSS-SWEEP drift
    # arbitration (VERDICT r10 #2): the intra-sweep rules below re-run only
    # when a query's two runs DISAGREE, which is blind to interference that
    # hits both runs equally at one sweep position (r10: pq_cosine_topk
    # recorded 9.9 s with two agreeing runs, re-timed 2.9 s isolated).
    # Comparison is anchor-NORMALIZED so a uniformly hot box doesn't flag
    # the whole sweep.
    prev_norm: dict[str, float] = {}
    prev_raw: dict[str, float] = {}
    try:
        with open(
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"
            )
        ) as f:
            _prev = json.load(f)
        if _prev.get("sf") == (float(sf) if sf.replace(".", "").isdigit() else sf):
            prev_norm = dict(_prev.get("queries_norm") or {})
            prev_raw = dict(_prev.get("queries") or {})
    except (OSError, ValueError):
        prev_norm = {}
        prev_raw = {}
    timings: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}
    # Sweep position of the run that produced each query's recorded min —
    # normalization uses the anchor sample nearest THAT position (a min
    # replaced by an end-of-sweep retime re-normalizes against the
    # end-of-sweep anchors, not the in-sweep ones).
    min_pos: dict[str, int] = {}
    for qi, name in enumerate(BENCH_QUERIES):
        if qi and qi % ANCHOR_EVERY == 0:
            _sample_anchor(qi)
        min_pos[name] = qi
        runs = [_timed(name), _timed(name)]
        # Two runs that disagree badly mean one was hit by a GC/cleaner
        # storm the settle didn't fully absorb (measured: the same query
        # varies 5.3 s ↔ 7.6 s between sweeps); one arbitration run bounds
        # the extra sweep cost to the noisy queries only. A WARM run
        # noticeably slower than the cold one is the other interference
        # signature (external load landed on run 2 — r08 local sweep:
        # dedup_incremental [6.8, 9.3] vs 2.9 s isolated steady state), so
        # it also earns an arbitration run.
        if min(runs) > 1.0 and (
            max(runs) > 1.4 * min(runs) or runs[1] > 1.15 * runs[0]
        ):
            runs.append(_timed(name))
        timings[name] = round(min(runs), 3)
        all_runs[name] = [round(r, 3) for r in runs]

    # Cross-sweep drift pass (VERDICT r10 #2): any query whose min is >1.5x
    # its previous sweep's anchor-normalized min gets ONE isolated re-time
    # here — at the sweep's end, after a settle, away from whatever
    # position-local cleaner/GC storm inflated both in-sweep runs equally.
    # Both numbers are recorded ("drift_retimes"), and the headline min
    # includes the re-time, so a position artifact can no longer masquerade
    # as a plan regression for a whole round.
    end_pos = len(BENCH_QUERIES)
    _sample_anchor(end_pos)

    def _retime(name: str, record: dict[str, float]) -> None:
        # one isolated end-of-sweep re-time; the headline min includes it
        retime = _timed(name)
        record[name] = round(retime, 3)
        all_runs[name].append(round(retime, 3))
        if retime < timings[name]:
            min_pos[name] = end_pos
        timings[name] = round(min(timings[name], retime), 3)

    drift_retimes: dict[str, float] = {}
    for name, t in sorted(timings.items()):
        prev = prev_norm.get(name)
        if prev is None or prev <= 0 or t <= 1.0:
            continue
        # 1.5x (was 2.0x): r12 measured ivfpq_cosine_topk at 11.7 anchors
        # in-sweep with AGREEING runs vs 6.2 the sweep before and ~5 isolated
        # — a 1.9x position-local inflation the 2.0x gate waved through.
        # The gate compares against the anchor nearest the query's own sweep
        # position, not a global mid-anchor.
        #
        # The raw-ratio leg (VERDICT r13 task #5): r13's containment_pairs
        # recorded 2.52 s with AGREEING runs vs 1.00 s the sweep before
        # (isolated re-time: back to ~1.5 s, plan unchanged) — the
        # normalized gate missed it because the nearby anchor sample was
        # itself inflated by the same position-local load, cancelling the
        # ratio. Raw >2x vs the previous sweep's min earns the same single
        # end-of-sweep re-time even when the normalized ratio looks sane.
        praw = prev_raw.get(name)
        if t / nearest_anchor(anchor_samples, min_pos[name]) > 1.5 * prev or (
            praw is not None and praw > 0 and t > 2.0 * praw
        ):
            _retime(name, drift_retimes)

    # Spread arbitration (VERDICT r11 #3): any query whose in-sweep runs
    # disagreed >1.5x gets ONE isolated re-time at the sweep's end — the
    # same discipline as the drift pass, but triggered by INTRA-sweep
    # disagreement instead of cross-sweep history (r11: sq8_cosine_topk
    # recorded 6.13 s in-sweep vs 5.18 s isolated; r10: pq_cosine_topk
    # 9.9 -> 2.9). The recorded min includes the re-time and the raw pair
    # is kept in "spread_retimes" so regression reading never has to
    # adjudicate a spread-flagged number again.
    spread_retimes: dict[str, float] = {}
    for name in sorted(all_runs):
        rs = all_runs[name]
        if name in drift_retimes or min(rs) <= 0.5 or max(rs) <= 1.5 * min(rs):
            continue
        _retime(name, spread_retimes)

    anchor_end = _sample_anchor(end_pos + ANCHOR_EVERY)
    total = round(sum(timings.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Anchor-normalized view (r13): each query's min divided by the anchor
    # sample NEAREST its sweep position — unitless, box-hotness-independent,
    # robust to INTRA-sweep drift (raw seconds are only comparable when both
    # boxes idle; a single global anchor is only comparable when the box is
    # uniformly hot for the whole sweep, which r12 disproved).
    anchor_sec = round(
        sum(a for _, a in anchor_samples) / len(anchor_samples), 3
    )
    queries_norm = {
        n: round(t / nearest_anchor(anchor_samples, min_pos[n]), 3)
        for n, t in timings.items()
    }
    # "queries" stays min-per-query (round-over-round comparable); "runs"
    # carries every raw run so a load-sensitive query self-identifies
    # (runs disagreeing >2x means the MIN is a best case, not a typical
    # cost — VERDICT r07 spent a day separating one real regression from
    # ~15 s of uniform environmental drift that a spread column shows at
    # a glance). "spread_flags" lists the queries whose runs disagreed
    # >2x this sweep.
    full = {
        "metric": "covid19_spark_headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "runs": all_runs,
        "spread_flags": spread_flags(all_runs),
        "spread_retimes": spread_retimes,
        "drift_retimes": drift_retimes,
        "anchor_sec": anchor_sec,
        "anchor_start_sec": anchor_start,
        "anchor_end_sec": anchor_end,
        # full interleaved anchor series: [queries_completed, anchor_sec]
        "anchor_samples": anchor_samples,
        "anchor_every": ANCHOR_EVERY,
        # sweep position of each query's recorded min (end-of-sweep when a
        # retime won) — lets an auditor recompute queries_norm exactly
        "min_pos": min_pos,
        # per-query min / median-of-3-nearest anchor samples (robust to
        # intra-sweep drift AND to a single outlier sample). "value_norm"
        # is total / mean-of-ALL-anchor-samples.
        "queries_norm": queries_norm,
        # which per-query divisor rule produced queries_norm: "median3",
        # the median of the 3 nearest anchor samples.
        "norm_rule": "median3",
        "value_norm": round(total / anchor_sec, 3),
        "sf": sf_val,
    }
    # The driver's artifact keeps only a TAIL of stdout, which decapitates a
    # single ~2.5 KB 89-entry line (BENCH_r02/r03 both recorded parsed:null
    # this way). Print the FULL map first (complete in real stdout and in
    # BENCH_LOCAL.json), then a short self-contained summary line LAST so
    # whatever tail survives truncation ends in one parseable JSON object.
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"), "w") as f:
        f.write(json.dumps(full) + "\n")
    print(json.dumps(full), flush=True)
    print(
        json.dumps(
            {
                "metric": "covid19_spark_headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "sf": sf_val,
                "n_queries": len(timings),
                "anchor_sec": anchor_sec,
                "value_norm": round(total / anchor_sec, 3),
                "queries_file": "BENCH_LOCAL.json",
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
