"""Generalized two-sided as-of join: semantics vs a naive per-row model,
tie determinism, NULL-payload carry, and the one-exchange plan shape."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from covid19_spark.operators.asof import asof_join


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def frames(spark):
    left = spark.createDataFrame(
        [
            (1, "a", _ts("2024-01-01 10:00:00")),   # matches r2 (equal ts inclusive)
            (2, "a", _ts("2024-01-01 09:00:00")),   # before all right rows -> null
            (3, "a", _ts("2024-01-01 12:30:00")),   # matches tie-broken r4 (max tb)
            (4, "b", _ts("2024-01-01 11:00:00")),   # matches r5 (NULL value carried)
            (5, "c", _ts("2024-01-01 11:00:00")),   # key with no right rows -> null
        ],
        "lid long, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (2, "a", _ts("2024-01-01 10:00:00"), 10.0),
            (3, "a", _ts("2024-01-01 12:00:00"), 20.0),
            (4, "a", _ts("2024-01-01 12:00:00"), 30.0),  # same ts as rid=3: max rid wins
            (5, "b", _ts("2024-01-01 10:30:00"), None),  # legit NULL payload value
            (6, "b", _ts("2024-01-01 09:00:00"), 60.0),
        ],
        "rid long, k string, ts timestamp, v double",
    )
    return left, right


def test_backward_semantics(spark, frames):
    left, right = frames
    out = asof_join(
        left, right, on=["k"], left_ts="ts", right_ts="ts",
        right_payload=["ts", "rid", "v"], right_tiebreak="rid",
    )
    rows = {r["lid"]: r for r in out.collect()}
    assert rows[1]["rid"] == 2 and rows[1]["v"] == 10.0          # equal-ts inclusive
    assert rows[2]["rid"] is None and rows[2]["v"] is None       # nothing before
    assert rows[3]["rid"] == 4 and rows[3]["v"] == 30.0          # tie -> max tiebreak
    # NULL payload value must be carried (not skipped for the older 60.0 row)
    assert rows[4]["rid"] == 5 and rows[4]["v"] is None
    assert rows[5]["rid"] is None                                # unmatched key
    assert len(rows) == 5                                        # left join: no row loss


def test_single_exchange_plan(spark, frames):
    """The union trick costs ONE hash exchange on the key (both sides can be
    100 TB facts); assert no extra shuffle or broadcast crept in."""
    left, right = frames
    out = asof_join(
        left, right, on=["k"], left_ts="ts", right_ts="ts",
        right_payload=["rid", "v"], right_tiebreak="rid",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BroadcastExchange" not in plan
