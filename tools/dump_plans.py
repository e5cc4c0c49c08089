"""Dump the formatted physical plan of every registered query to PLANS.md —
the `.explain("formatted")` evidence for plan review (pushdown, broadcast,
partial aggregation, exchange counts).

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from covid19_spark.plans.registry import QUERY_REGISTRY  # noqa: E402
from covid19_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("dump_plans")
    out = [
        "# PLANS — formatted physical plans of every registered query",
        "",
        f"Generated by `tools/dump_plans.py` at `{sf_dir}`. Things to check per",
        "plan: `PushedFilters` on scans, pruned `ReadSchema`, `BroadcastHashJoin`",
        "for dimension sides, `partial_*` aggregation before exchanges, and the",
        "exchange count vs the operator docstring's shuffle account.",
        "",
    ]
    for name, spec in QUERY_REGISTRY.items():
        df = spec.fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        # strip the volatile expression ids (#123) so diffs stay readable
        plan = re.sub(r"#\d+L?", "#x", plan)
        # formatted explain puts the partitioning in "Arguments:" lines
        n_hash = len(re.findall(r"Arguments: hashpartitioning", plan))
        n_range = len(re.findall(r"Arguments: rangepartitioning", plan))
        n_single = len(re.findall(r"Arguments: SinglePartition", plan))
        n_bcast = len(re.findall(r"BroadcastExchange", plan))
        out.append(
            f"## {name} — {spec.doc} "
            f"(shuffles: {n_hash} hash, {n_range} range/sort, {n_single} single; "
            f"{n_bcast} broadcasts)"
        )
        out.append("```")
        out.append(plan.rstrip())
        out.append("```")
        out.append("")
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(QUERY_REGISTRY)} plans)")


if __name__ == "__main__":
    main()
