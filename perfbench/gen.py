"""Seeded input generators for the benchmark.

The event log is written in the layout the engine reads from a data
directory (`events.parquet`), and the same seed always gives
byte-identical inputs.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY = 86400
T0 = 1704067200  # 2024-01-01T00:00:00Z, the month the log spans
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
# Type shares inside a session: mostly views, with enough errors, clicks and
# purchases per user that every detector finds matches.
TYPE_P = np.array([0.50, 0.20, 0.10, 0.05, 0.15])
MAX_DISORDER_S = 120  # far inside the twins' one-hour watermark


def _events(seed, n_events, n_users, days):
    """A month of sessions: each user's events come in bursts a minute or so
    apart, so per-user detectors (login fail, order timeout, tx match,
    blacklist) fire, while whole-log density stays `n_events / n_users`."""
    rng = np.random.default_rng(seed)
    mean_len = 6
    n_sessions = n_events // mean_len + 1
    # activity skew across users: lognormal weights
    w = rng.lognormal(0.0, 1.0, n_users)
    users = rng.choice(n_users, size=n_sessions, p=w / w.sum())
    lens = rng.geometric(1.0 / mean_len, size=n_sessions)
    starts = rng.integers(0, days * DAY, size=n_sessions) * 1_000_000
    rows = int(lens.sum())
    sess = np.repeat(np.arange(n_sessions), lens)
    gaps = rng.exponential(60.0, size=rows) * 1_000_000
    # within-session offsets: cumulative gaps restarted at each session
    cum = np.cumsum(gaps)
    first = np.concatenate(([0], np.cumsum(lens)[:-1]))
    offs = cum - np.repeat(cum[first] - gaps[first], lens)
    ts_us = starts[sess] + offs.astype(np.int64)
    keep = ts_us < days * DAY * 1_000_000
    ts_us, sess = ts_us[keep], sess[keep]
    ts_us, sess = ts_us[:n_events], sess[:n_events]
    n = len(ts_us)
    etype = rng.choice(len(EVENT_TYPES), size=n, p=TYPE_P)
    item_p = 1.0 / np.arange(1, 101) ** 0.8
    items = rng.choice(100, size=n, p=item_p / item_p.sum())
    value = np.round(rng.lognormal(3.5, 0.8, size=n), 2)
    # file order = time order with bounded disorder: sort on a jittered key
    order = np.argsort(ts_us + rng.integers(0, MAX_DISORDER_S * 1_000_000, size=n),
                       kind="stable")
    return {
        "ts": ts_us[order] + T0 * 1_000_000,
        "user_id": users[sess][order].astype(np.int64),
        "event_type": EVENT_TYPES[etype[order]],
        "value": value[order],
        "item": items[order],
    }


def events_table(seed, n_events, n_users, days):
    e = _events(seed, n_events, n_users, days)
    n = len(e["ts"])
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(e["ts"], type=pa.timestamp("us")),
        "user_id": pa.array(e["user_id"]),
        "event_type": pa.array(e["event_type"].tolist(), type=pa.string()),
        "value": pa.array(e["value"]),
        "props": pa.array(['{"k": %d}' % k for k in e["item"]], type=pa.string()),
    })


def write_events(d, seed, n_events, n_users, days, row_group):
    os.makedirs(d, exist_ok=True)
    t = events_table(seed, n_events, n_users, days)
    pq.write_table(t, os.path.join(d, "events.parquet"), row_group_size=row_group)
    return t


def write_deliveries(d, table, size, count):
    """The log's first `count * size` events, cut in file order into
    fixed-size delivery files d/00000.parquet, d/00001.parquet, ..."""
    os.makedirs(d, exist_ok=True)
    for i in range(count):
        pq.write_table(table.slice(i * size, size),
                       os.path.join(d, "%05d.parquet" % i))


def write_flush(d, table):
    """The end-of-feed delivery: a view, a purchase and a click by user -1,
    ten days past the log. Spark applies a twin's filter before its
    watermark, so each twin needs a far-future event it keeps to move its
    watermark past the data: then every data window closes and every
    detector timer fires. The checks leave out user -1 and its windows."""
    last = int(table.column("ts").cast(pa.int64()).to_numpy().max())
    ts = last + 10 * DAY * 1_000_000
    t = pa.table({
        "event_id": pa.array(table.num_rows + np.arange(3), type=pa.int64()),
        "ts": pa.array([ts] * 3, type=pa.int64()).cast(pa.timestamp("us")),
        "user_id": pa.array([-1] * 3, type=pa.int64()),
        "event_type": pa.array(["view", "purchase", "click"]),
        "value": pa.array([0.0] * 3),
        "props": pa.array(['{"k": 0}'] * 3),
    })
    pq.write_table(t, os.path.join(d, "flush.parquet"))
