"""Global physical-plan audit over EVERY registered query.

The per-query pins in test_plans.py freeze individual plan shapes; this
module sweeps the whole registry once and checks two things:

- **Whole-registry bans**, independent of any recorded shape:
  - no CartesianProduct, ever: an unkeyed join that isn't a broadcast is
    quadratic at 100 TB no matter what the query is;
  - no row-at-a-time Python UDFs (``BatchEvalPython``): SURVEY §2.8's
    design goal — Python kernels must be Arrow-vectorized or absent.
- **One plan signature per query**, checked against
  ``tests/plan_signatures.txt``: the counts of the plan nodes that decide
  cost at scale (exchanges, join strategies, windows, Python execs, cache
  scans). Any change in plan shape changes that query's line, so the test
  fails until the new line is committed and the shape change shows as a
  one-line review diff. The failure message lists every differing query as
  ``name: <file> → <live>``; paste the live side into the file. Audit
  notes (why a BroadcastNestedLoopJoin is a one-row broadcast, why an
  ArrowEvalPython node is there) ride as ``#`` comments on their line.

One sweep builds all plans at sf0.001 (~100 s: a handful of queries run
contract-small driver-side fits during construction) and reports every
difference at once.
"""

import os
import re
from collections import Counter

from covid19_spark.plans.registry import QUERY_REGISTRY

SF = "/root/testdata/sf0.001"
SIGNATURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plan_signatures.txt")

#: plan node name → signature label, in signature order
SIG_LABELS = {
    "Exchange": "Exchange",
    "BroadcastExchange": "BroadcastExchange",
    "BroadcastHashJoin": "BHJ",
    "SortMergeJoin": "SMJ",
    "ShuffledHashJoin": "SHJ",
    "BroadcastNestedLoopJoin": "BNLJ",
    "Window": "Window",
    "ArrowEvalPython": "ArrowEvalPython",
    "InMemoryTableScan": "InMemoryTableScan",
}
#: every other Python exec (MapInPandas, FlatMapGroupsInPandas*, MapInArrow, ...)
PYTHON_EXEC = re.compile(r"Pandas|Arrow|Python|PySpark")
SIG_ORDER = [*SIG_LABELS.values(), "PythonExec"]
# node name at the head of each tree line, after the branch glyphs and any
# whole-stage-codegen id such as "*(3) "
NODE = re.compile(r"^[\s:+|-]*(?:\*\(\d+\)\s+)?([A-Za-z]\w*)", re.M)


def plan_signature(plan: str) -> str:
    """``Label=count`` for each signature node in an executed-plan string,
    in ``SIG_ORDER``; zero counts are omitted."""
    counts = Counter()
    for name in NODE.findall(plan):
        if name in SIG_LABELS:
            counts[SIG_LABELS[name]] += 1
        elif PYTHON_EXEC.search(name):
            counts["PythonExec"] += 1
    return " ".join(f"{k}={counts[k]}" for k in SIG_ORDER if counts[k])


def read_signatures(path: str) -> dict[str, str]:
    """``name: signature  # note`` lines → {name: signature}."""
    out = {}
    with open(path) as f:
        for line in f:
            line = line.split("#", 1)[0].strip()
            if line:
                name, sig = line.split(":", 1)
                out[name.strip()] = " ".join(sig.split())
    return out


def test_registry_wide_plan_invariants(spark):
    violations, live = [], {}
    for name, spec in QUERY_REGISTRY.items():
        plan = spec.fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            violations.append(f"{name}: CartesianProduct (unkeyed non-broadcast join)")
        if "BatchEvalPython" in plan:
            violations.append(f"{name}: BatchEvalPython (row-at-a-time Python UDF)")
        live[name] = plan_signature(plan)
    assert not violations, "\n".join(violations)

    recorded = read_signatures(SIGNATURES)
    diff = [
        f"{name}: {recorded.get(name, '(absent)')} → {live.get(name, '(absent)')}"
        for name in sorted(recorded.keys() | live.keys())
        if recorded.get(name) != live.get(name)
    ]
    assert not diff, (
        "plan signatures differ from tests/plan_signatures.txt "
        "(file → live); commit the live side:\n" + "\n".join(diff)
    )
