"""Output checks, computed apart from the engine.

Batch outputs must equal DuckDB running the engine's oracle SQL over the
generated inputs: the same column names and types, row count and sum of row
hashes, columns sorted by name. Stream outputs must equal the same
oracle rows over the delivered events; the reconcile twin, which no oracle
query restates, is checked against the timer semantics replayed here.
"""
import math
import os
from collections import Counter, defaultdict

import duckdb


def parquet(path):
    return f"read_parquet('{path}/*.parquet')"


def fingerprint(con, sql):
    """(columns sorted by name, their types, row count, sum of row hashes):
    equal fingerprints mean the same columns and, but for a 2^-64 chance,
    the same multiset of rows."""
    cols = sorted(con.sql(sql).columns)
    sel = ", ".join(f'"{c}"' for c in cols)
    rel = con.sql(f"SELECT {sel} FROM ({sql})")
    n, h = con.sql(f"SELECT count(*), coalesce(sum(hash({sel})::HUGEINT), 0) FROM rel").fetchone()
    return cols, [str(t) for t in rel.types], n, h


def batch_ops(inputs, oracle, ops):
    """(ok, reason) per timed query rep: same columns, same column types and
    the same non-empty multiset of rows as the oracle."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{inputs}/events.parquet')")
    expected = {}
    out = []
    for op in ops:
        q = op["name"]
        if not op["ok"]:
            out.append((False, "error"))
            continue
        if q not in expected:
            expected[q] = fingerprint(con, oracle[q])
        exp = expected[q]
        got = fingerprint(con, f"SELECT * FROM {parquet(op['out'])}")
        if got == exp and got[2] > 0:
            out.append((True, ""))
        else:
            out.append((False, f"{q} round {op['round']}: cols {got[0]} vs {exp[0]}, "
                               f"types {got[1]} vs {exp[1]}, rows {got[2]} vs {exp[2]}"))
    return out


def reconcile(con, wait_s=1800):
    """Pay/receipt reconciliation with the reference's timers: per user, in
    (time, id) order, a pay waits `wait_s` for a receipt and a receipt waits
    `wait_s` for a pay, first come first matched; the feed's end fires every
    remaining timer."""
    evs = con.sql("""SELECT user_id, epoch_us(ts) // 1000000 AS sec, event_id,
                            event_type = 'purchase' AS pay
                     FROM events WHERE event_type IN ('purchase', 'click')
                     ORDER BY user_id, sec, event_id""").fetchall()
    out = Counter()
    by_user = defaultdict(list)
    for u, sec, eid, pay in evs:
        by_user[u].append((sec, eid, pay))
    for u, es in by_user.items():
        pays, recs = [], []

        def expire(now):
            nonlocal pays, recs
            for ts, i in pays:
                if ts + wait_s < now:
                    out[("unmatched_pay", u, i, -1, ts, -1)] += 1
            for ts, i in recs:
                if ts + wait_s < now:
                    out[("unmatched_receipt", u, -1, i, -1, ts)] += 1
            pays = [p for p in pays if p[0] + wait_s >= now]
            recs = [r for r in recs if r[0] + wait_s >= now]

        for sec, eid, pay in es:
            expire(sec)
            if pay:
                if recs:
                    rts, rid = recs.pop(0)
                    out[("matched", u, eid, rid, sec, rts)] += 1
                else:
                    pays.append((sec, eid))
            elif pays:
                pts, pid = pays.pop(0)
                out[("matched", u, pid, eid, pts, sec)] += 1
            else:
                recs.append((sec, eid))
        expire(float("inf"))
    return out


def plain(con, sql):
    return Counter(tuple(r) for r in con.sql(sql).fetchall())


def stream_expected(con, oracle):
    """The rows each twin must have written once the feed is drained."""
    o = {k: f"({v})" for k, v in oracle.items()}
    return {
        "hot_items": plain(con, f"SELECT window_start, window_end, item_id, cnt, rn "
                                f"FROM {o['hot_items_topn']}"),
        "uv_hll": {(s, e): n for s, e, n in con.sql(
            f"SELECT window_start, window_end, uv FROM {o['unique_visitors']}").fetchall()},
        "login_fail": plain(con, f"SELECT user_id, first_id, last_id, first_fail, last_fail "
                                 f"FROM {o['login_fail']}"),
        "tx_reconcile": reconcile(con),
    }


def stream_got(con, d, max_sec):
    """What the twins wrote, minus the end-of-feed events' own windows
    (complete mode keeps them) and key."""
    p = {t: parquet(os.path.join(d, t))
         for t in ("hot_items", "uv_hll", "login_fail", "tx_reconcile")}
    return {
        "hot_items": plain(con, f"SELECT window_start, window_end, item_id, cnt, rn "
                                f"FROM {p['hot_items']} WHERE window_start <= {max_sec}"),
        "uv_hll": {(s, e): n for s, e, n in con.sql(
            f"SELECT window_start, window_end, uv_approx FROM {p['uv_hll']}").fetchall()},
        "login_fail": plain(con, f"SELECT key, first_id, last_id, first_ts, last_ts "
                                 f"FROM {p['login_fail']} WHERE key <> -1"),
        "tx_reconcile": plain(con, f"SELECT tag, key, pay_id, receipt_id, pay_ts, receipt_ts "
                                   f"FROM {p['tx_reconcile']} WHERE key <> -1"),
    }


def uv_within(got, exp, rel=0.15, floor=8):
    """The HLL estimate per day within max(ceil(rel * exact), floor) of the
    exact distinct count: 3 sigma at the sketch's 5 % relative error."""
    return got.keys() == exp.keys() and all(
        abs(got[w] - exp[w]) <= max(math.ceil(exp[w] * rel), floor) for w in exp)


def stream_feed(inputs, oracle, ops):
    """(ok, reason) per delivery: the deliveries pass together when every
    twin's drained output is right for the events delivered."""
    con = duckdb.connect()
    last = max(op["name"] for op in ops if op["name"] != "flush.parquet")
    data = sorted(f for f in os.listdir(os.path.join(inputs, "deliveries"))
                  if f != "flush.parquet" and f <= last)
    files = ", ".join(f"'{inputs}/deliveries/{f}'" for f in data)
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet([{files}])")
    if any(not op["ok"] for op in ops):
        return [(False, "error")] * len(ops)
    max_sec = con.sql("SELECT max(epoch_us(ts)) // 1000000 FROM events").fetchone()[0]
    exp = stream_expected(con, oracle)
    got = stream_got(con, ops[0]["out"], max_sec)
    bad = [k for k in exp if k != "uv_hll" and got[k] != exp[k]]
    if not uv_within(got["uv_hll"], exp["uv_hll"]):
        bad.append("uv_hll")
    bad += [f"{k} (empty)" for k, v in exp.items() if not v]
    why = f"stream outputs wrong: {bad}" if bad else ""
    return [(not bad, why)] * len(ops)
