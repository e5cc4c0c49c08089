"""Seeded input generators. The same seed always gives the same inputs.

Nothing here imports the program: the state names and codes below are the
reference bot's (``Utils.java``), restated so the oracles stay independent.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STATE_CODES = {
    "Total": "Total", "Andhra Pradesh": "AP", "Arunachal Pradesh": "AR",
    "Assam": "Assam", "Bihar": "Bihar", "Chhattisgarh": "CT", "Goa": "Goa",
    "Gujarat": "Guja", "Haryana": "HR", "Himachal Pradesh": "HP",
    "Jharkhand": "JH", "Karnataka": "KA", "Kerala": "Ker",
    "Madhya Pradesh": "MP", "Maharashtra": "Mah", "Manipur": "Mani",
    "Meghalaya": "Megh", "Mizoram": "Mizo", "Nagaland": "Naga",
    "Odisha": "Odis", "Punjab": "Punj", "Rajasthan": "Raj", "Sikkim": "Sikk",
    "Tamil Nadu": "TN", "Telangana": "Telg", "Tripura": "Trip",
    "Uttarakhand": "UT", "Uttar Pradesh": "UP", "West Bengal": "WB",
    "Andaman and Nicobar Islands": "A&N", "Chandigarh": "CH",
    "Dadra and Nagar Haveli": "DNH", "Daman and Diu": "DD", "Delhi": "Delhi",
    "Jammu and Kashmir": "J&K", "Ladakh": "LDK", "Lakshadweep": "LDWP",
    "Puducherry": "Pudu", "State Unassigned": "Unass",
}
STATES = [s for s in STATE_CODES if s != "Total"]  # 38 states


def _rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


# --- stats_feed: the snapshot topic -----------------------------------------

WIRE_SCHEMA = pa.schema(
    [
        ("key", pa.string()),
        ("value", pa.string()),
        ("batch_id", pa.int64()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
    ]
)
TOPIC_PARTITIONS = 4


@dataclass
class Feed:
    """A fixed event schedule of (key, confirmed, recovered, deaths)
    cumulative snapshots: one per key for the seed tick, then ``ticks[t]``,
    due ``t`` tick intervals after the generator starts."""

    keys: list[str]
    seed_events: list[tuple[str, int, int, int]]
    ticks: list[list[tuple[str, int, int, int]]]


def feed_keys(seed: int) -> list[str]:
    """State keys plus 15-23 district keys per state: about 760 keys."""
    rng = _rng(seed, "feed-keys")
    keys = ["Total", *STATES]
    for s in STATES:
        keys += [f"{s}/District {d:02d}" for d in range(int(rng.integers(15, 24)))]
    return keys


def make_feed(seed: int, rate_per_s: int, tick_s: float, n_ticks: int) -> Feed:
    rng = _rng(seed, "feed-events")
    keys = feed_keys(seed)
    # seeded Zipf-like skew: key popularity ~ 1/rank^0.9 over a shuffled rank
    ranks = rng.permutation(len(keys)) + 1
    weights = 1.0 / ranks**0.9
    weights /= weights.sum()
    cum = {k: [int(x) for x in rng.integers(0, 500, size=3)] for k in keys}
    seed_events = [(k, *cum[k]) for k in keys]
    per_tick = int(round(rate_per_s * tick_s))
    ticks = []
    for _ in range(n_ticks):
        picks = rng.choice(len(keys), size=per_tick, p=weights)
        inc = np.stack(
            [rng.poisson(2.0, per_tick), rng.poisson(1.0, per_tick),
             rng.binomial(1, 0.05, per_tick)],
            axis=1,
        )
        events = []
        for i, k in enumerate(picks):
            c = cum[keys[k]]
            for j in range(3):
                c[j] += int(inc[i, j])
            events.append((keys[k], c[0], c[1], c[2]))
        ticks.append(events)
    return Feed(keys, seed_events, ticks)


def user_prefs(seed: int, keys: list[str], n_users: int = 400) -> list[tuple[str, list[str], bool]]:
    """(userId, myStates, subscribed): each user follows 1-4 keys; 90% subscribed."""
    rng = _rng(seed, "user-prefs")
    out = []
    for u in range(n_users):
        picks = rng.choice(len(keys), size=int(rng.integers(1, 5)), replace=False)
        out.append((f"user{u:04d}", sorted(keys[i] for i in picks), bool(rng.random() < 0.9)))
    return out


def write_topic_files(topic_dir: str, seq: int, events, stamp_us: int) -> int:
    """Write one tick onto the emulated topic: one parquet file per key-hash
    partition, written under a dot name (the file source skips those) and
    renamed into ``partition=N/`` so a reader never sees a partial file.
    Event j of the tick is stamped ``stamp_us + j`` so stamps are unique."""
    parts: dict[int, list[int]] = {}
    for j, ev in enumerate(events):
        parts.setdefault(zlib.crc32(ev[0].encode()) % TOPIC_PARTITIONS, []).append(j)
    for p, idx in sorted(parts.items()):
        d = os.path.join(topic_dir, f"partition={p}")
        os.makedirs(d, exist_ok=True)
        table = pa.table(
            [
                [events[j][0] for j in idx],
                [
                    json.dumps({"state": events[j][0], "confirmed": events[j][1],
                                "recovered": events[j][2], "deaths": events[j][3]})
                    for j in idx
                ],
                [seq] * len(idx),
                [stamp_us + j for j in idx],
            ],
            schema=WIRE_SCHEMA,
        )
        tmp = os.path.join(d, f".tick-{seq:07d}.parquet")
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(d, f"tick-{seq:07d}.parquet"))
    return len(parts)


# --- serve_requests: the reference-scale serving dataset --------------------

SERVE_DAYS = 120
SERVE_TODAY = dt.date(2020, 8, 1)


@dataclass
class ServeData:
    days: list[dt.date]
    # state -> per-day cumulative (confirmed, recovered, deaths); Total included
    state_cum: dict[str, list[tuple[int, int, int]]]
    # (state, district) -> per-day cumulative (confirmed, recovered, deceased)
    district_cum: dict[tuple[str, str], list[tuple[int, int, int]]]
    tests: dict[str, list[tuple[int, int]]]  # state -> per-day (tested, positive)


def make_serve_data(seed: int, n_districts: int = 20) -> ServeData:
    rng = _rng(seed, "serve-data")
    days = [SERVE_TODAY - dt.timedelta(days=SERVE_DAYS - 1 - i) for i in range(SERVE_DAYS)]
    state_cum: dict[str, list[tuple[int, int, int]]] = {}
    district_cum = {}
    tests = {}
    scale = rng.permutation(len(STATES)) + 1
    for si, s in enumerate(STATES):
        mean = 400.0 / scale[si] ** 0.8
        c = np.cumsum(rng.poisson(mean, SERVE_DAYS))
        r = np.minimum(c, np.cumsum(rng.poisson(mean * 0.7, SERVE_DAYS)))
        d = np.minimum(c - r, np.cumsum(rng.binomial(1, min(0.9, mean / 50), SERVE_DAYS)))
        state_cum[s] = [(int(a), int(b), int(e)) for a, b, e in zip(c, r, d)]
        for k in range(n_districts):
            dm = mean / n_districts * (1.0 + (k % 5))
            dc = np.cumsum(rng.poisson(dm, SERVE_DAYS))
            dr = np.minimum(dc, np.cumsum(rng.poisson(dm * 0.6, SERVE_DAYS)))
            dd = np.minimum(dc - dr, np.cumsum(rng.binomial(1, 0.02, SERVE_DAYS)))
            district_cum[(s, f"{s} D{k:02d}")] = [
                (int(a), int(b), int(e)) for a, b, e in zip(dc, dr, dd)
            ]
        tested = np.cumsum(rng.poisson(mean * 20 + 10, SERVE_DAYS))
        tests[s] = [(int(t), int(p)) for t, p in zip(tested, np.minimum(tested, c))]
    state_cum["Total"] = [
        tuple(sum(state_cum[s][i][j] for s in STATES) for j in range(3))
        for i in range(SERVE_DAYS)
    ]
    return ServeData(days, state_cum, district_cum, tests)


def snapshot_time(day: dt.date, state_index: int) -> dt.datetime:
    return dt.datetime.combine(day, dt.time(18, 0)) + dt.timedelta(minutes=state_index)


def write_serve_inputs(data: ServeData, out_dir: str) -> None:
    """Raw feeds as parquet: statewise snapshots, district snapshots, news
    sources and per-day test data."""
    os.makedirs(out_dir, exist_ok=True)
    names = ["Total", *STATES]
    rows = [
        (s, snapshot_time(day, si), *data.state_cum[s][i])
        for si, s in enumerate(names)
        for i, day in enumerate(data.days)
    ]
    pq.write_table(
        pa.table(
            list(zip(*rows)),
            schema=pa.schema([("state", pa.string()), ("last_updated", pa.timestamp("us", tz="UTC")),
                              ("confirmed", pa.int64()), ("recovered", pa.int64()),
                              ("deaths", pa.int64())]),
        ),
        os.path.join(out_dir, "statewise.parquet"),
    )
    drows = [
        (s, d, dt.datetime.combine(day, dt.time(12, 0)), *cum[i])
        for (s, d), cum in data.district_cum.items()
        for i, day in enumerate(data.days)
    ]
    pq.write_table(
        pa.table(
            list(zip(*drows)),
            schema=pa.schema([("state", pa.string()), ("district", pa.string()),
                              ("ts", pa.timestamp("us", tz="UTC")), ("confirmed", pa.int64()),
                              ("recovered", pa.int64()), ("deceased", pa.int64())]),
        ),
        os.path.join(out_dir, "districtwise.parquet"),
    )
    pq.write_table(
        pa.table({"state": STATES, "url": [f"https://news.example/{STATE_CODES[s]}" for s in STATES]}),
        os.path.join(out_dir, "news.parquet"),
    )
    trows = [
        (s, day, str(data.tests[s][i][0]), str(data.tests[s][i][1]), day.strftime("%d/%m/%Y"))
        for s in STATES
        for i, day in enumerate(data.days)
    ]
    pq.write_table(
        pa.table(
            list(zip(*trows)),
            schema=pa.schema([("state", pa.string()), ("date", pa.date32()),
                              ("totaltested", pa.string()), ("positive", pa.string()),
                              ("updatedon", pa.string())]),
        ),
        os.path.join(out_dir, "tests.parquet"),
    )


REQUEST_ROUND = 10


def request_sequence(seed: int, rounds: int = 200) -> list[str]:
    """Rounds of ``REQUEST_ROUND`` requests, each shuffled: 8 per-state
    requests with Zipf(1.1) state popularity, one Summary, and one Today or
    Yesterday (alternating). Every round has the same mix, so a window of
    whole rounds runs the same kinds of work on every seed."""
    rng = _rng(seed, "requests")
    order = [STATES[i] for i in rng.permutation(len(STATES))]
    w = 1.0 / np.arange(1, len(order) + 1) ** 1.1
    w /= w.sum()
    out = []
    for r in range(rounds):
        batch = [order[p] for p in rng.choice(len(order), size=REQUEST_ROUND - 2, p=w)]
        batch += ["Summary", "Today" if r % 2 == 0 else "Yesterday"]
        out += [batch[i] for i in rng.permutation(len(batch))]
    return out
