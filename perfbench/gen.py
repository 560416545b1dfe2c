"""Seeded trip-event generator with its own ground truth.

Events follow the program's `events` schema (event_id, ts, user_id,
event_type, value, props).  `user_id` plays the trip id, a `signup` is
the trip start and a `purchase` the trip end, as in the program's trip
pipeline.  The generator keeps its own record of which trips complete,
when and at what fare, and derives the expected daily KPIs from that
record alone: nothing here calls or imports the program.

Every count is fixed by the parameters (never drawn), so two seeds give
inputs of identical size and shape and differ only in values.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400 * 1_000_000
EPOCH_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z
MAX_TRIP_US = 6 * 3600 * 1_000_000
LAST_EXTRA_US = 2 * 3600 * 1_000_000
NOISE_TYPES = np.array(["click", "view", "error"], dtype=object)
# the five validation failure classes of the program's validCond
INVALID_CLASSES = ("null_ts", "bad_user", "bad_type", "null_value", "neg_value")


def _trip_layout(rng, n_valid, span_us, p):
    """Valid, de-duplicated events plus the completed-trip record."""
    n_trips = int(n_valid * p["trips_per_valid_event"])
    n_done = round(n_trips * p["completion_share"])
    n_second_purchase = round(n_done * p["second_purchase_share"])
    n_second_signup = round(n_trips * p["second_signup_share"])
    n_noise = n_valid - n_trips - n_done - n_second_purchase - n_second_signup
    assert n_noise >= 0, "generator shares leave no room for noise events"

    trip_ids = 1000 + rng.permutation(n_trips).astype(np.int64)
    latest_start = span_us - MAX_TRIP_US - LAST_EXTRA_US
    start = rng.integers(0, latest_start, n_trips)
    dur = np.minimum(60_000_000 + rng.exponential(40 * 60e6, n_trips).astype(np.int64),
                     MAX_TRIP_US)
    done = rng.permutation(n_trips)[:n_done]
    end = start[done] + dur[done]
    fare_cents = rng.integers(250, 9000, n_done)

    sp = done[rng.permutation(n_done)[:n_second_purchase]]
    sp_ts = start[sp] + dur[sp] + rng.integers(60_000_000, LAST_EXTRA_US, n_second_purchase)
    ss = rng.permutation(n_trips)[:n_second_signup]
    ss_ts = start[ss] + rng.integers(1, MAX_TRIP_US, n_second_signup)

    noise_user = trip_ids[rng.integers(0, n_trips, n_noise)]
    noise_ts = rng.integers(0, span_us, n_noise)

    user = np.concatenate([trip_ids, trip_ids[done], trip_ids[sp], trip_ids[ss], noise_user])
    ts = np.concatenate([start, end, sp_ts, ss_ts, noise_ts])
    etype = np.concatenate([
        np.full(n_trips, "signup", dtype=object), np.full(n_done, "purchase", dtype=object),
        np.full(n_second_purchase, "purchase", dtype=object),
        np.full(n_second_signup, "signup", dtype=object),
        NOISE_TYPES[rng.integers(0, 3, n_noise)]])
    cents = np.concatenate([
        rng.integers(0, 500, n_trips), fare_cents, rng.integers(250, 9000, n_second_purchase),
        rng.integers(0, 500, n_second_signup), rng.integers(0, 5000, n_noise)])
    trips = {"end_us": end, "fare_cents": fare_cents}
    return user, ts, etype, cents, trips


def _invalid_rows(rng, n_invalid, span_us, users):
    """Rows that each fail exactly one validation class, round-robin."""
    cls = np.arange(n_invalid) % len(INVALID_CLASSES)
    user = users[rng.integers(0, len(users), n_invalid)].astype(object)
    ts = rng.integers(0, span_us, n_invalid).astype(object)
    etype = np.where(rng.integers(0, 2, n_invalid) == 0, "signup", "purchase").astype(object)
    cents = rng.integers(250, 9000, n_invalid).astype(object)
    # where a null-ts row lands in a staged feed (its ts is gone)
    arrival = rng.integers(0, span_us, n_invalid)
    for i, c in enumerate(cls):
        kind = INVALID_CLASSES[c]
        if kind == "null_ts":
            ts[i] = None
        elif kind == "bad_user":
            user[i] = None if i % 2 else -1 - int(rng.integers(0, 1000))
        elif kind == "bad_type":
            etype[i] = "teleport"
        elif kind == "null_value":
            cents[i] = None
        else:
            cents[i] = -int(cents[i])
    return user, ts, etype, cents, arrival


def generate(seed, n_events, days, p):
    """Returns (rows, trips): rows is a dict of equal-length arrays in
    event-time order of arrival (`arrival_us`), trips the record of every
    completed trip.  `p` holds the fixed shares (see config.json)."""
    rng = np.random.default_rng(seed)
    span_us = days * DAY_US
    n_dup = round(n_events * p["duplicate_share"])
    n_invalid = round(n_events * p["invalid_share"])
    n_valid = n_events - n_dup - n_invalid
    user, ts, etype, cents, trips = _trip_layout(rng, n_valid, span_us, p)
    iu, its, ityp, icents, iarr = _invalid_rows(rng, n_invalid, span_us, user)

    ids = 1 + rng.permutation(n_valid + n_invalid).astype(np.int64)
    # re-delivered duplicates: exact copies of valid rows, arriving with
    # the original or up to one hour of feed later
    dup = rng.integers(0, n_valid, n_dup)
    dup_arrival = ts[dup] + rng.integers(0, 3600 * 1_000_000, n_dup)

    rows = {
        "event_id": np.concatenate([ids[:n_valid], ids[n_valid:], ids[:n_valid][dup]]),
        "ts": np.concatenate([ts.astype(object), its, ts[dup].astype(object)]),
        "user_id": np.concatenate([user.astype(object), iu, user[dup].astype(object)]),
        "event_type": np.concatenate([etype, ityp, etype[dup]]),
        "cents": np.concatenate([cents.astype(object), icents, cents[dup].astype(object)]),
        "arrival_us": np.concatenate([ts, iarr, np.minimum(dup_arrival, span_us - 1)]),
    }
    rows["k"] = rng.integers(0, 100, len(rows["event_id"]))
    order = np.argsort(rows["arrival_us"], kind="stable")
    rows = {k: v[order] for k, v in rows.items()}
    return rows, trips


def disorder(rng, idx, share):
    """Shuffle a fixed share of positions among themselves."""
    idx = idx.copy()
    pick = rng.permutation(len(idx))[:round(len(idx) * share)]
    idx[pick] = idx[rng.permutation(pick)]
    return idx


def to_table(rows, idx):
    ts = [None if t is None else EPOCH_US + int(t) for t in rows["ts"][idx]]
    value = [None if c is None else int(c) / 100 for c in rows["cents"][idx]]
    user = [None if u is None else int(u) for u in rows["user_id"][idx]]
    props = ['{"k": %d}' % k for k in rows["k"][idx]]
    return pa.table({
        "event_id": pa.array(rows["event_id"][idx], pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(user, pa.int64()),
        "event_type": pa.array(list(rows["event_type"][idx]), pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array(props, pa.string()),
    })


def table_digest(tables):
    h = hashlib.sha256()
    for t in tables:
        for name in t.column_names:
            h.update(name.encode())
            h.update(repr(t.column(name).to_pylist()).encode())
    return h.hexdigest()


def kpi_truth(end_us, fare_cents):
    """Expected daily KPIs: {date: {total_fare, count_trips, average_fare,
    max_fare, min_fare}} with the program's decimal-exact sum semantics
    (sum of cents, one division at the end)."""
    out = {}
    days = (EPOCH_US + np.asarray(end_us)) // DAY_US
    for d in np.unique(days):
        c = np.asarray(fare_cents)[days == d]
        total = int(c.sum()) / 100
        out[str(np.datetime64(int(d), "D"))] = {
            "total_fare": total, "count_trips": int(len(c)),
            "average_fare": total / len(c),
            "max_fare": int(c.max()) / 100, "min_fare": int(c.min()) / 100}
    return out


def write_stream_input(seed, stage_dir, n_batches, cfg):
    """One parquet file per micro-batch, each one day of feed.  Returns (truth per landed prefix, tables written): truth[i]
    is the KPI set the sink must hold after batches 0..i."""
    p = cfg["generator"]
    rows, trips = generate(seed, p["events_per_batch"] * n_batches, n_batches, p)
    rng = np.random.default_rng([seed, 2])
    batch_of = rows["arrival_us"] // DAY_US
    os.makedirs(stage_dir, exist_ok=True)
    tables = []
    for b in range(n_batches):
        idx = disorder(rng, np.flatnonzero(batch_of == b), p["disorder_share"])
        t = to_table(rows, idx)
        pq.write_table(t, os.path.join(stage_dir, "b%05d.parquet" % b))
        tables.append(t)
    end_batch = trips["end_us"] // DAY_US
    truth = [kpi_truth(trips["end_us"][end_batch <= b], trips["fare_cents"][end_batch <= b])
             for b in range(n_batches)]
    return truth, tables
