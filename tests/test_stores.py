"""Serving materializer + StateStoresManager-equivalent query API."""

import datetime as dt
import os
import shutil
import sys
import tempfile
import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from covid19_spark import measure
from covid19_spark.serving.requests import handle_user_request
from covid19_spark.serving.stores import Materializer, StoreReader
from covid19_spark.sources import scratch, tables
from covid19_spark.streaming.table import upsert_batch_partitioned


def ts(s):
    return dt.datetime.fromisoformat(s)


@pytest.fixture()
def store_env(spark):
    d = tempfile.mkdtemp(prefix="c19stores_")
    yield spark, d
    shutil.rmtree(d, ignore_errors=True)


def test_materialize_and_query_statewise(store_env):
    spark, d = store_env
    snapshots = spark.createDataFrame(
        [
            ("Assam", ts("2020-04-08T10:00:00"), 10, 0, 0),
            ("Assam", ts("2020-04-08T22:00:00"), 27, 1, 0),
            ("Assam", ts("2020-04-09T02:00:00"), 28, 1, 1),
            ("Delhi", ts("2020-04-08T12:00:00"), 5, 0, 0),
        ],
        ["state", "last_updated", "confirmed", "recovered", "deaths"],
    )
    m = Materializer(spark, d)
    m.refresh_statewise(snapshots)
    r = StoreReader(spark, d)

    # point lookup: latest delta per state
    delta = r.delta_stats_for_state("Assam")
    assert len(delta) == 1
    assert delta[0]["confirmed"] == 28 and delta[0]["delta_confirmed"] == 1

    # daily count per (date, state)
    daily = r.daily_count_for(date=dt.date(2020, 4, 8), state="Assam")
    assert daily[0]["sum_delta_confirmed"] == 27 and daily[0]["last_confirmed"] == 27

    # doubling rate materialized per (date, state)
    dr = r.doubling_rate_for("Assam", dt.date(2020, 4, 9))
    assert dr[0]["doubling_days"] == 20  # round(70/(100*1/28))


def test_materialize_districts_and_dimensions(store_env):
    spark, d = store_env
    rows = spark.createDataFrame(
        [
            ("Maharashtra", "Mumbai", ts("2020-04-08T10:00:00"), 28, 0, 0),
            ("Maharashtra", "Mumbai", ts("2020-04-09T10:00:00"), 40, 5, 1),
            ("Maharashtra", "Nagpur", ts("2020-04-08T11:00:00"), 17, 0, 2),
        ],
        ["state", "district", "ts", "confirmed", "recovered", "deceased"],
    )
    m = Materializer(spark, d)
    m.refresh_districtwise(rows)
    zones = spark.createDataFrame(
        [("Maharashtra", "Mumbai", "RED"), ("Maharashtra", "Nagpur", "ORANGE")],
        ["state", "district", "zone"],
    )
    m.refresh_dimension(zones, "zones")

    r = StoreReader(spark, d)
    dd = {x["district"]: x for x in r.rows("districtwise_delta", state="Maharashtra")}
    assert dd["Mumbai"]["confirmed"] == 40 and dd["Mumbai"]["delta_confirmed"] == 12
    assert dd["Nagpur"]["confirmed"] == 17

    z = {x["district"]: x["zone"] for x in r.zones_for("Maharashtra")}
    assert z == {"Mumbai": "RED", "Nagpur": "ORANGE"}

    with pytest.raises(KeyError):
        m.refresh_dimension(zones, "not_a_table")


def test_latest_test_data_within_14d(store_env):
    spark, d = store_env
    test_rows = spark.createDataFrame(
        [
            ("Delhi", dt.date(2020, 4, 20), 50000, 1500),
            ("Delhi", dt.date(2020, 4, 24), 53166, 1621),
            ("Delhi", dt.date(2020, 4, 1), 10000, 300),   # outside lookback
            ("Assam", dt.date(2020, 4, 25), 2000, 30),
        ],
        ["state", "date", "totaltested", "positive"],
    )
    Materializer(spark, d).refresh_dimension(test_rows, "statewise_test_data")
    r = StoreReader(spark, d)
    out = r.latest_test_data_within_14d("Delhi", dt.date(2020, 4, 26))
    assert out["totaltested"] == 53166


def test_handle_memo_shared_across_threads(store_env):
    """Two threads each open, 200 times, every kind of handle the one memo
    holds: a ``load_table`` table, an ``ensure_store`` store and a
    ``StoreReader`` snapshot, one shared and one of its own of each kind.
    Each thread re-stamps its own paths now and then: no error, one handle
    per (path, stamp), and older stamps evicted."""
    spark, d = store_env
    news = spark.createDataFrame([("Maharashtra", "https://news.example/mh")], ["state", "url"])
    openers, paths = {}, {}
    for who in ("shared", "a", "b"):
        sf = os.path.join(d, who, "sf")
        spark.range(3).write.parquet(os.path.join(sf, "region.parquet"))
        store = os.path.join(d, who, "store")
        spark.range(3).write.parquet(store)
        serving = os.path.join(d, who, "serving")
        Materializer(spark, serving).refresh_dimension(news, "news_sources")
        reader = StoreReader(spark, serving)
        paths[who] = [
            os.path.join(sf, "region.parquet"), store, os.path.join(serving, "news_sources")
        ]
        openers[who] = [
            lambda sf=sf: tables.load_table(spark, "region", sf),
            lambda store=store: scratch.ensure_store(
                spark, store, is_fresh=lambda: os.path.isdir(store),
                build=lambda tmp: None,
                open_store=lambda s, p: s.read.parquet(p),
            ),
            lambda reader=reader: reader._open("news_sources"),
        ]
    seen: dict[tuple, set[int]] = {}
    keep, errors = [], []  # keep: evicted handles stay alive, so ids stay unique
    lock = threading.Lock()

    def client(own: str) -> None:
        try:
            for i in range(200):
                if i % 50 == 49:  # a writer replaced the tables: new stamps
                    for p in paths[own]:
                        os.utime(p, ns=(i, i))
                for who in ("shared", own):
                    for p, open_handle in zip(paths[who], openers[who]):
                        st = os.stat(p)
                        handle = open_handle()
                        with lock:
                            keep.append(handle)
                            seen.setdefault((p, st.st_ino, st.st_mtime_ns), set()).add(id(handle))
        except Exception as e:  # noqa: BLE001 - reported by the assert below
            errors.append(e)

    threads = [threading.Thread(target=client, args=(own,)) for own in ("a", "b")]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert all(len(ids) == 1 for ids in seen.values()), seen
    assert len(set().union(*seen.values())) == len(seen)  # a new stamp reopens
    assert len(seen) == 3 * (1 + 2 * 5)  # shared once; a and b at 5 stamps each
    every = [p for ps in paths.values() for p in ps]
    live = [k[1] for k in tables._HANDLE_CACHE if k[1] in every]
    assert sorted(live) == sorted(every)  # older stamps evicted


def test_snapshot_retake_shared_across_threads(store_env):
    """Six clients read one table while one of them re-stamps it now and
    then: every read is right, and each stamp is snapshot at most once."""
    spark, d = store_env
    Materializer(spark, d).refresh_dimension(
        spark.createDataFrame([("Maharashtra", "https://news.example/mh")], ["state", "url"]),
        "news_sources",
    )
    path = os.path.join(d, "news_sources")
    r = StoreReader(spark, d)
    j0 = measure.next_job_id(spark)
    os.utime(path, ns=(1, 1))
    r.rows("news_sources")
    jobs_per_snapshot = measure.next_job_id(spark) - j0
    restamps, errors = 5, []

    def client(i: int) -> None:
        try:
            for k in range(50):
                if i == 0 and k % 10 == 9:
                    os.utime(path, ns=(k + 2, k + 2))
                assert [x["url"] for x in r.news_source_for("Maharashtra")] == [
                    "https://news.example/mh"
                ]
        except Exception as e:  # noqa: BLE001 - reported by the assert below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        j0 = measure.next_job_id(spark)
        threads = [threading.Thread(target=client, args=(i,)) for i in range(6)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert measure.next_job_id(spark) - j0 <= restamps * jobs_per_snapshot


def _statewise_rows(spark, mh_confirmed):
    return spark.createDataFrame(
        [
            ("Maharashtra", ts("2020-04-08T10:00:00"), 10, 1, 1),
            ("Maharashtra", ts("2020-04-09T22:00:00"), mh_confirmed, 2, 2),
            ("Delhi", ts("2020-04-09T12:00:00"), 9, 1, 1),
            ("Total", ts("2020-04-09T22:00:00"), mh_confirmed + 9, 3, 3),
        ],
        ["state", "last_updated", "confirmed", "recovered", "deaths"],
    )


def _materialize_all(spark, d) -> Materializer:
    """Every table a per-state request reads, Maharashtra at 28 cases."""
    m = Materializer(spark, d)
    m.refresh_statewise(_statewise_rows(spark, 28))
    m.refresh_districtwise(
        spark.createDataFrame(
            [("Maharashtra", "Mumbai", ts("2020-04-09T10:00:00"), 20, 1, 1)],
            ["state", "district", "ts", "confirmed", "recovered", "deceased"],
        )
    )
    m.refresh_dimension(
        spark.createDataFrame([("Maharashtra", "https://news.example/mh")], ["state", "url"]),
        "news_sources",
    )
    m.refresh_dimension(
        spark.createDataFrame(
            [("Maharashtra", dt.date(2020, 4, 8), "53166", "1621", "26/04/2020")],
            ["state", "date", "totaltested", "positive", "updatedon"],
        ),
        "statewise_test_data",
    )
    return m


TODAY = dt.date(2020, 4, 9)


def test_warm_reader_sees_materializer_rewrite(store_env):
    spark, d = store_env
    m = _materialize_all(spark, d)
    r = StoreReader(spark, d)
    assert "Mah  |     28|      2|     2" in handle_user_request(r, "Summary", TODAY)
    assert "Total cases  : (↑18) 28" in handle_user_request(r, "Maharashtra", TODAY)
    m.refresh_statewise(_statewise_rows(spark, 41))
    assert "Mah  |     41|      2|     2" in handle_user_request(r, "Summary", TODAY)
    assert "Mah  |     31|      1|     1" in handle_user_request(r, "Today", TODAY)
    assert "Total cases  : (↑31) 41" in handle_user_request(r, "Maharashtra", TODAY)


def test_warm_reader_sees_upsert_commit(store_env):
    spark, d = store_env
    table = os.path.join(d, "statewise_delta")
    _materialize_all(spark, d)
    staged = os.path.join(d, "staged")
    shutil.move(table, staged)
    upsert_batch_partitioned(spark.read.parquet(staged), table, ["state"], "last_updated")
    r = StoreReader(spark, d)
    assert "Mah  |     28|      2|     2" in handle_user_request(r, "Summary", TODAY)
    newer = spark.read.parquet(staged).filter("state = 'Maharashtra'").selectExpr(
        "state", "last_updated + INTERVAL 1 HOUR AS last_updated", "50L AS confirmed",
        "recovered", "deaths", "delta_confirmed", "delta_recovered", "delta_deaths",
    )
    upsert_batch_partitioned(newer, table, ["state"], "last_updated")
    assert "Mah  |     50|      2|     2" in handle_user_request(r, "Summary", TODAY)
    assert "Total cases  : (↑18) 50" in handle_user_request(r, "Maharashtra", TODAY)


def test_table_created_after_failed_read_is_picked_up(store_env):
    spark, d = store_env
    r = StoreReader(spark, d)
    with pytest.raises(AnalysisException):
        r.news_source_for("Maharashtra")
    Materializer(spark, d).refresh_dimension(
        spark.createDataFrame([("Maharashtra", "https://news.example/mh")], ["state", "url"]),
        "news_sources",
    )
    assert [x["url"] for x in r.news_source_for("Maharashtra")] == [
        "https://news.example/mh"
    ]


def test_failed_refresh_keeps_previous_table(store_env):
    """A refresh whose write job fails leaves the previous table in place:
    the new table is written into a scratch dir and only then renamed in."""
    spark, d = store_env
    m = Materializer(spark, d)
    m.refresh_dimension(
        spark.createDataFrame([("Maharashtra", "https://news.example/mh")], ["state", "url"]),
        "news_sources",
    )
    r = StoreReader(spark, d)
    # raise_error keyed on a row value: the optimizer cannot fold it, so it
    # fires inside the write job
    broken = spark.range(3).select(
        F.lit("Maharashtra").alias("state"),
        F.when(F.col("id") == 2, F.raise_error(F.lit("feed broke")))
        .otherwise(F.lit("https://news.example/new"))
        .alias("url"),
    )
    with pytest.raises(Exception, match="feed broke"):
        m.refresh_dimension(broken, "news_sources")
    assert os.listdir(d) == ["news_sources"]  # no scratch dir left behind
    served = spark.read.parquet(os.path.join(d, "news_sources")).collect()
    assert [x.url for x in served] == ["https://news.example/mh"]
    assert [x["url"] for x in r.news_source_for("Maharashtra")] == ["https://news.example/mh"]


def test_warm_reader_job_counts(store_env):
    """A warm reader answers every request kind from its snapshots: no
    Spark job."""
    spark, d = store_env
    _materialize_all(spark, d)
    r = StoreReader(spark, d)

    def jobs(request: str) -> int:
        j0 = measure.next_job_id(spark)
        handle_user_request(r, request, TODAY)
        return measure.next_job_id(spark) - j0

    # the reader took its snapshots when it opened: even the first requests are warm
    assert jobs("Maharashtra") == 0
    assert jobs("Summary") == 0
    assert jobs("Today") == 0
    assert jobs("Yesterday") == 0
