"""Materialized-table store: the bot's 11 KTables + interactive-query API.

Reference: the telegram-bot materializes 11 KTables into RocksDB stores
(``KafkaStreamsConfig.java:67-153``) and answers point/range queries through
``StateStoresManager`` (``StateStoresManager.java:109-265``). In Spark the
queryable-state role maps to materialized tables (SURVEY §1.1 #3, T7):
streaming queries (or batch refresh jobs) maintain parquet/Delta snapshot
tables; the serving layer issues ordinary batch reads.

``Materializer`` builds every table from the raw feeds in one pass;
``StoreReader`` is the StateStoresManager-equivalent API. Point lookups push
an equality predicate into the parquet scan; the 14-day as-of probe loop
(``StateStoresManager.java:212-229``) becomes one range filter, whose at
most 14 rows a request reduces to the latest on the driver.

Each lookup starts from the table's resolved parquet handle
(``sources.tables.read_parquet_handle``, the memo ``load_table`` also uses),
not a fresh ``spark.read.parquet``, which lists the directory and runs a
footer/schema-inference job on every call. The handle is re-resolved
whenever the ``os.stat`` stamp of the table directory changes. Both writers
of these tables change it — ``Materializer._write`` recreates the
directory, and ``upsert_batch_partitioned`` renames the rewritten bucket
directories into its root — and no writer appends files into an existing
table, so a reply never reads a stale file listing.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from covid19_spark.operators.asof import latest_within_lookback
from covid19_spark.operators.delta import running_delta
from covid19_spark.operators.rates import doubling_rate
from covid19_spark.operators.rollup import daily_rollup
from covid19_spark.sources.tables import read_parquet_handle

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
        df.write.mode("overwrite").parquet(os.path.join(self.out_dir, name))

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
    """StateStoresManager-equivalent query API over the materialized dir."""

    def __init__(self, spark: SparkSession, out_dir: str):
        self.spark = spark
        self.out_dir = out_dir
        # Open every table already materialized, as the reference's serving
        # tier opens its stores before answering: the first requests pay no
        # resolution jobs, and concurrent clients do not race to resolve the
        # handles they share. A table that is missing or still being
        # written is resolved on first use instead.
        for name in TABLES:
            if os.path.isdir(os.path.join(out_dir, name)):
                with contextlib.suppress(AnalysisException):
                    self._t(name)

    def _t(self, name: str) -> DataFrame:
        return read_parquet_handle(self.spark, os.path.join(self.out_dir, name))

    # StateStoresManager.java:172-178
    def delta_stats_for_state(self, state: str) -> DataFrame:
        return self._t("statewise_delta").filter(F.col("state") == state)

    # StateStoresManager.java:192-206
    def daily_count_for(self, date=None, state: str | None = None) -> DataFrame:
        df = self._t("statewise_daily")
        if date is not None:
            df = df.filter(F.col("date") == F.lit(date))
        if state is not None:
            df = df.filter(F.col("state") == state)
        return df

    # StateStoresManager.java:184-186
    def doubling_rate_for(self, state: str, date) -> DataFrame:
        return self._t("doubling_rate").filter(
            (F.col("state") == state) & (F.col("date") == F.lit(date))
        )

    # StateStoresManager.java:180-182
    def news_source_for(self, state: str) -> DataFrame:
        return self._t("news_sources").filter(F.col("state") == state)

    # StateStoresManager.java:129-155
    def district_stats_for(self, state: str, daily: bool = False) -> DataFrame:
        name = "districtwise_daily" if daily else "districtwise_delta"
        return self._t(name).filter(F.col("state") == state)

    # StateStoresManager.java:212-229 — the 14-probe loop as one query
    def test_data_within_14d(self, state: str, today) -> DataFrame:
        """The state's test-data rows of the 14 days up to ``today``."""
        df = self._t("statewise_test_data").filter(F.col("state") == state)
        return df.filter(
            F.col("date").between(F.date_sub(F.lit(today), 13), F.lit(today))
        )

    def latest_test_data_within_14d(self, state: str, today) -> DataFrame:
        return latest_within_lookback(
            self.test_data_within_14d(state, today), ["state"], "date"
        )

    # StateStoresManager.java:159-170
    def zones_for(self, state: str) -> DataFrame:
        return self._t("zones").filter(F.col("state") == state)

    def user_prefs(self) -> DataFrame:
        return self._t("user_prefs")
