"""Materialized-table store: the bot's 11 KTables + interactive-query API.

Reference: the telegram-bot materializes 11 KTables into RocksDB stores
(``KafkaStreamsConfig.java:67-153``) and answers point/range queries through
``StateStoresManager`` (``StateStoresManager.java:109-265``). In Spark the
queryable-state role maps to materialized tables (SURVEY §1.1 #3, T7):
streaming queries (or batch refresh jobs) maintain parquet/Delta snapshot
tables; the serving layer answers from driver-side snapshots of them.

``Materializer`` builds every table from the raw feeds in one pass, each
written into a scratch directory and renamed into place
(``sources.scratch``), so a failed refresh leaves the previous table served.
``StoreReader`` is the StateStoresManager-equivalent API. A lookup filters a
driver-side Arrow snapshot of the table (``StoreReader.rows``) — the
reference answers with RocksDB point reads, and a Spark job per lookup is
the wrong unit for tables this small (39 ``statewise_delta`` rows, about
91k ``districtwise_daily`` rows at reference scale). The 14-day as-of probe
loop (``StateStoresManager.java:212-229``) is one pick over the state's rows.

A table's handle and its Arrow snapshot are held together in the stamped
handle memo (``sources.tables.open_stamped``, which ``load_table`` and the
persisted stores also use) and retaken exactly when the ``os.stat`` stamp
of the table directory changes. Both writers of these tables change it —
``Materializer._write`` renames a new directory into place, and
``upsert_batch_partitioned`` renames the rewritten bucket directories into
its root — and no writer appends files into an existing table, so a reply
never reads a stale snapshot.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from covid19_spark.operators.asof import latest_within_lookback
from covid19_spark.operators.delta import running_delta
from covid19_spark.operators.rates import doubling_rate
from covid19_spark.operators.rollup import daily_rollup
from covid19_spark.sources.scratch import build_scratch_path, replace_dir
from covid19_spark.sources.tables import open_stamped

TABLES = (
    "statewise_delta",      # latest delta per state        (delta-stats store)
    "statewise_daily",      # per (date, state) daily sums  (daily-stats/daily-count stores)
    "doubling_rate",        # per (date, state)             (doubling-rate store)
    "districtwise_delta",   # latest per (state, district)  (district-delta store)
    "districtwise_daily",   # per (date, state, district)   (district-daily store)
    "news_sources",         # state → url                   (news-sources store)
    "statewise_test_data",  # per (date, state)             (test-data store)
    "user_prefs",           # user → prefs                  (user-prefs store)
    "zones",                # (state, district) → zone      (zones store)
    "user_location",        # user → lat/long               (user-location store)
    "visualizations",       # chart name → png bytes        (visualizations store)
)


class Materializer:
    """Builds the serving tables from raw feeds (batch refresh; the streaming
    variant binds ``streaming.pipelines`` to the same paths via
    ``foreachBatch`` + ``streaming.table.make_upsert_sink``, which runs
    ``upsert_batch_partitioned`` per batch)."""

    def __init__(self, spark: SparkSession, out_dir: str):
        self.spark = spark
        self.out_dir = out_dir

    def _write(self, df: DataFrame, name: str) -> None:
        path = os.path.join(self.out_dir, name)
        tmp = build_scratch_path(path)
        try:
            df.write.parquet(tmp)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        replace_dir(tmp, path)

    def refresh_statewise(self, snapshots: DataFrame, ts_col: str = "last_updated") -> None:
        """snapshots: typed statewise rows (cast_statewise output) →
        statewise_delta, statewise_daily, doubling_rate."""
        deltas = running_delta(
            snapshots, ["state"], [ts_col], ["confirmed", "recovered", "deaths"]
        )
        latest = latest_within_lookback(deltas, ["state"], ts_col)
        self._write(latest, "statewise_delta")

        daily = daily_rollup(
            deltas,
            ts_col,
            ["state"],
            sum_cols=["delta_confirmed", "delta_recovered", "delta_deaths"],
            last_cols=["confirmed", "recovered", "deaths"],
        )
        self._write(daily, "statewise_daily")

        rates = daily.select(
            "date",
            "state",
            doubling_rate(
                F.col("sum_delta_confirmed"), F.col("last_confirmed")
            ).alias("doubling_days"),
        )
        self._write(rates, "doubling_rate")

    def refresh_districtwise(self, district_rows: DataFrame, ts_col: str = "ts") -> None:
        deltas = running_delta(
            district_rows,
            ["state", "district"],
            [ts_col],
            ["confirmed", "recovered", "deceased"],
        )
        self._write(
            latest_within_lookback(deltas, ["state", "district"], ts_col),
            "districtwise_delta",
        )
        self._write(
            daily_rollup(
                deltas,
                ts_col,
                ["state", "district"],
                sum_cols=["delta_confirmed", "delta_recovered", "delta_deceased"],
                last_cols=["confirmed"],
            ),
            "districtwise_daily",
        )

    def refresh_dimension(self, df: DataFrame, name: str) -> None:
        """Small dimension tables passed through as-is (news_sources, zones,
        user_prefs, user_location, statewise_test_data, visualizations)."""
        if name not in TABLES:
            raise KeyError(f"unknown serving table {name!r}")
        self._write(df, name)


class StoreReader:
    """StateStoresManager-equivalent query API over the materialized dir.
    Lookups return lists of dicts; a NULL field is left out of its dict."""

    def __init__(self, spark: SparkSession, out_dir: str):
        self.spark = spark
        self.out_dir = out_dir
        # Snapshot every table already materialized, as the reference's
        # serving tier opens its stores before answering: the first
        # requests run no Spark job. A table that is missing or still being
        # written is read on first use instead.
        for name in TABLES:
            if os.path.isdir(os.path.join(out_dir, name)):
                with contextlib.suppress(AnalysisException):
                    self._open(name)

    def _open(self, name: str) -> pa.Table:
        """The table's Arrow snapshot, taken once per stamp."""
        path = os.path.join(self.out_dir, name)
        return open_stamped(
            self.spark, path, lambda: self.spark.read.parquet(path).toArrow()
        )

    def rows(self, name: str, **equals) -> list[dict]:
        """The rows of table ``name`` whose columns equal ``equals`` (a None
        value leaves its column unfiltered), NULL fields dropped."""
        table = self._open(name)
        for col, value in equals.items():
            if value is not None:
                table = table.filter(pc.equal(table[col], value))
        return [{k: v for k, v in r.items() if v is not None} for r in table.to_pylist()]

    # StateStoresManager.java:172-178
    def delta_stats_for_state(self, state: str) -> list[dict]:
        return self.rows("statewise_delta", state=state)

    # StateStoresManager.java:192-206
    def daily_count_for(self, date=None, state: str | None = None) -> list[dict]:
        return self.rows("statewise_daily", date=date, state=state)

    # StateStoresManager.java:184-186
    def doubling_rate_for(self, state: str, date) -> list[dict]:
        return self.rows("doubling_rate", state=state, date=date)

    # StateStoresManager.java:180-182
    def news_source_for(self, state: str) -> list[dict]:
        return self.rows("news_sources", state=state)

    # StateStoresManager.java:129-155
    def district_stats_for(self, state: str) -> list[dict]:
        return self.rows("districtwise_daily", state=state)

    # StateStoresManager.java:212-229 — the 14-probe loop as one pick
    def latest_test_data_within_14d(self, state: str, today: dt.date) -> dict | None:
        """The state's test-data row with the newest ``date`` in
        [today−13, today] (ties arbitrary), or None."""
        since = today - dt.timedelta(days=13)
        found = [
            r for r in self.rows("statewise_test_data", state=state)
            if "date" in r and since <= r["date"] <= today
        ]
        return max(found, key=lambda r: r["date"], default=None)

    # StateStoresManager.java:159-170
    def zones_for(self, state: str) -> list[dict]:
        return self.rows("zones", state=state)
