"""Input generators for the benchmark's workloads.

`fixture_events` builds an `events` table shaped like the repository's
sf0.1 `events` fixture (FIXTURES.md, TESTDATA.md): 100,000 rows; 1,500
users; timestamps uniform over the 30 days from 2024-01-01, microsecond
precision; five event types drawn uniformly; `value` exponential with mean
50, rounded to cents; `props` a `{"k": n}` JSON object with 100 distinct
`n`; dense `event_id` in time order. The fixture itself is not part of a
checkout, so the benchmark makes its own copy of that shape. The table does
not depend on the seed: `etl_leaderboard`'s seed sets only its op order.

`store_batches` derives the Load tier's daily batches from that table: the
seed picks two consecutive days and the rows held back from each day's
append batch (see its docstring). The same seed always yields
byte-identical parquet files.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
DAY_US = 86_400_000_000

# The sf0.1 fixture's shape.
EVENTS_ROWS = 100_000
EVENTS_USERS = 1_500
EVENTS_DAYS = 30
EVENTS_SEED = 42  # fixed: the table is the same for every benchmark seed

STORE_DAYS = 2  # day 0 plus one load cycle


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def fixture_events() -> pa.Table:
    rng = np.random.default_rng(EVENTS_SEED)
    n = EVENTS_ROWS
    offs = np.sort(rng.integers(0, EVENTS_DAYS * DAY_US, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(EPOCH_2024 + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, EVENTS_USERS, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def store_batches(rng, days: int) -> list:
    """One (append, upsert) pair per day, from `days` consecutive days of
    `fixture_events` starting at a seeded day; the first chosen day is
    written as 2024-01-01. 80% of a day's events (a seeded draw) arrive in
    the append batch; the rest arrive through the upsert together with
    every fifth row of the previous day, re-valued."""
    ev = fixture_events()
    first = int(rng.integers(0, EVENTS_DAYS - days + 1))
    ts = ev.column("ts").to_numpy()
    day = ((ts - EPOCH_2024) // np.timedelta64(1, "D")).astype(np.int64) - first
    cols = {
        "event_id": ev.column("event_id").to_numpy(),
        "user_id": ev.column("user_id").to_numpy(),
        "event_type": np.array(ev.column("event_type").to_pylist()),
        "value": ev.column("value").to_numpy(),
    }
    held = rng.random(len(day)) < 0.2

    def take(mask, revalue=False):
        value = cols["value"][mask]
        if revalue:
            value = np.round(value * 2.0 + 1.0, 2)
        return pa.table({
            "event_id": pa.array(cols["event_id"][mask]),
            "day": pa.array(np.datetime64("2024-01-01", "D") + day[mask], pa.date32()),
            "user_id": pa.array(cols["user_id"][mask]),
            "event_type": pa.array(cols["event_type"][mask]),
            "value": pa.array(value),
        })

    batches = []
    for d in range(days):
        today = day == d
        append = take(today & ~held)
        inserts = take(today & held)
        if d == 0:
            upsert = inserts
        else:
            prev = (day == d - 1) & (cols["event_id"] % 5 == 0)
            upsert = pa.concat_tables([inserts, take(prev, revalue=True)])
        batches.append((append, upsert))
    return batches


def generate(workload: str, seed: int, out: str) -> dict:
    """Write `workload`'s inputs under `out`; returns the input summary
    (table -> rows, bytes) recorded next to the results."""
    os.makedirs(out, exist_ok=True)
    tables = {}
    if workload == "etl_leaderboard":
        tables["events"] = fixture_events()
    elif workload == "store_load":
        rng = np.random.default_rng([seed, sum(map(ord, workload))])
        for d, (append, upsert) in enumerate(store_batches(rng, STORE_DAYS)):
            tables[f"append_{d:02d}"] = append
            tables[f"upsert_{d:02d}"] = upsert
    else:
        raise ValueError(f"unknown workload {workload}")
    summary = {}
    for name, t in tables.items():
        summary[name] = {"rows": t.num_rows, "bytes": _write(t, f"{out}/{name}.parquet")}
    with open(f"{out}/_inputs.json", "w") as f:
        json.dump(summary, f)
    return summary
