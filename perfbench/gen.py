"""Seeded input generator for the feature-store benchmark.

Every table is a pure function of (seed, size): the same seed gives
byte-identical parquet, a different seed different rows of the same
shape. Nothing here reads outside the output directory it is given.

Events follow the harness `events` schema (event_id, ts, user_id,
event_type, value, props):
  * session-shaped: per session a Zipf-skewed user, a start instant and
    a geometric number of events spaced 5 s - 10 min apart (inside the
    engine's 30-minute session gap);
  * ~1% redelivered rows (exact copies, same event_id);
  * ~0.1% poison `props` rows with no integer `k` (the cleanse gate
    quarantines them);
  * micro-batches additionally carry late events stamped on older days.

The query-mix tables (TPC-H-like star schema, documents, embeddings,
events) follow the column layout of the engine's test data at a small
scale factor, so every `SparkEntry` query and its DuckDB oracle run on
them unchanged.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
HOUR_US = 3_600_000_000
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
EVENT_TYPES = np.array(["view", "click", "purchase", "error", "signup"])
DUP_RATE = 0.01
POISON_RATE = 0.001

# Event-history shape shared by the daily_build and microbatch workloads.
HISTORY = dict(users=1000, days=3, sessions=1200)
# One micro-batch = one hour of new sessions on the day after the history,
# plus ~1% redelivered history rows and one late event on each history day
# (so every batch touches every date, whatever the seed).
BATCH = dict(sessions=12)
N_BATCHES = 6


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _zipf_users(rng, n, n_users, a=0.8):
    w = 1.0 / np.arange(1, n_users + 1) ** a
    ids = rng.permutation(n_users)
    return ids[rng.choice(n_users, size=n, p=w / w.sum())]


def _props(rng, n, poison_rate):
    """`{"k": <0..99>}` records; a `poison_rate` share is a missing
    record (NULL), which the cleanse gate quarantines. (A malformed
    string would quarantine too, but the DuckDB oracle's
    CAST('' AS INT) raises on it, so it could not be checked.)"""
    k = rng.integers(0, 100, n)
    props = np.array([f'{{"k": {v}}}' for v in k], dtype=object)
    props[rng.random(n) < poison_rate] = None
    return props


def _sessions(rng, n_sessions, n_users, t0_us, span_us,
              poison_rate=POISON_RATE):
    """Columns (ts, user_id, event_type, value, props) of `n_sessions`
    sessions starting uniformly in [t0_us, t0_us + span_us)."""
    users = _zipf_users(rng, n_sessions, n_users)
    starts = t0_us + rng.integers(0, span_us, n_sessions)
    lens = rng.geometric(1 / 6.5, n_sessions)
    sid = np.repeat(np.arange(n_sessions), lens)
    gaps = rng.integers(5_000_000, 600_000_000, sid.size)
    first = np.r_[0, np.cumsum(lens)[:-1]]
    gaps[first] = 0
    offs = np.cumsum(gaps)
    offs -= np.repeat(offs[first], lens)
    return dict(ts=starts[sid] + offs, user_id=users[sid],
                event_type=EVENT_TYPES[rng.integers(0, 5, sid.size)],
                value=np.round(rng.uniform(0.01, 500.0, sid.size), 2),
                props=_props(rng, sid.size, poison_rate))


def _events_table(cols, first_id):
    order = np.argsort(cols["ts"], kind="stable")
    n = order.size
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": pa.array(cols["ts"][order].astype("datetime64[us]")),
        "user_id": pa.array(cols["user_id"][order].astype(np.int64)),
        "event_type": pa.array(cols["event_type"][order]),
        "value": pa.array(cols["value"][order]),
        "props": pa.array(cols["props"][order], type=pa.string()),
    })


def _redeliver(rng, table, source, rate):
    """`table` plus copies of ~rate*len(table) rows drawn from `source`."""
    n = int(round(len(table) * rate))
    if n == 0:
        return table
    idx = rng.choice(len(source), size=n, replace=False)
    return pa.concat_tables([table, source.take(pa.array(idx))])


def history(seed):
    users, days, sessions = (HISTORY[k] for k in ("users", "days", "sessions"))
    rng = np.random.default_rng([seed, 1])
    base = _events_table(
        _sessions(rng, sessions, users, T0_US, days * DAY_US), 0)
    return _redeliver(rng, base, base, DUP_RATE)


def batches(seed, hist, n=N_BATCHES):
    """`n` hourly micro-batches on the day after the history. Each holds
    one hour of new sessions, ~1% redelivered history rows and one new
    event stamped on each older day."""
    users, days = HISTORY["users"], HISTORY["days"]
    sessions, late = BATCH["sessions"], HISTORY["days"]
    rng = np.random.default_rng([seed, 2])
    next_id = int(max(hist["event_id"].to_numpy())) + 1
    out = []
    day_us = T0_US + days * DAY_US
    for h in range(n):
        fresh = _sessions(rng, sessions, users, day_us + h * HOUR_US,
                          HOUR_US)
        old = dict(ts=T0_US + np.arange(days) * DAY_US
                   + rng.integers(0, DAY_US, late),
                   user_id=_zipf_users(rng, late, users),
                   event_type=EVENT_TYPES[rng.integers(0, 5, late)],
                   value=np.round(rng.uniform(0.01, 500.0, late), 2),
                   props=_props(rng, late, POISON_RATE))
        cols = {k: np.concatenate([fresh[k], old[k]]) for k in fresh}
        t = _events_table(cols, next_id)
        next_id += len(t)
        out.append(_redeliver(rng, t, hist, DUP_RATE))
    return out


def write_events(seed, out_dir, n_batches=0):
    """history -> out_dir/events.parquet; micro-batches ->
    out_dir/batches/batch_NN.parquet."""
    hist = history(seed)
    _write(hist, os.path.join(out_dir, "events.parquet"))
    for i, t in enumerate(batches(seed, hist, n_batches) if n_batches else []):
        _write(t, os.path.join(out_dir, "batches", f"batch_{i:02d}.parquet"))
    return len(hist)


# ---- query-mix tables ------------------------------------------------

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
ADJ = ["small", "red", "blue", "hot", "old", "large", "cold", "green"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "pipe"]
LANGS = ["en"] * 6 + ["de", "es", "fr", "zh"]
ORDER_T0 = np.datetime64("1995-01-01", "D")
ORDER_DAYS = 2400  # 1995-01-01 .. mid 2001


def _days(d):
    return pa.array(d.astype("datetime64[us]"))


def write_query_tables(seed, out_dir, scale=1.0):
    """TPC-H-like tables + documents + embeddings + events; `scale` 1.0
    matches the row counts of the engine's sf0.01 test data, except for
    the documents."""
    rng = np.random.default_rng([seed, 3])
    n_cust, n_supp = int(1500 * scale), max(10, int(100 * scale))
    n_part, n_ord = int(2000 * scale), int(15000 * scale)
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)])})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(np.char.add(np.char.add(
            np.array(ADJ)[rng.integers(0, 8, n_part)], " "),
            np.array(NOUN)[rng.integers(0, 8, n_part)])),
        "p_brand": pa.array(np.char.add("Brand#",
                                        rng.integers(1, 26, n_part).astype(str))),
        "p_type": pa.array(np.array(PTYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + np.arange(n_part) * 0.1 % 1100, 2))})
    odate = ORDER_T0 + rng.integers(0, ORDER_DAYS, n_ord)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
        "o_orderdate": _days(odate),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)])})
    lines = rng.integers(1, 8, n_ord)
    ok = np.repeat(np.arange(n_ord), lines)
    n_li = ok.size
    ln = np.arange(n_li) - np.repeat(np.r_[0, np.cumsum(lines)[:-1]], lines) + 1
    qty = rng.integers(1, 51, n_li).astype(float)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(ok.astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(ln.astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2000, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _days(odate[ok] + rng.integers(1, 122, n_li))})
    # 60 documents, not sf0.01's 500: the DuckDB oracle of
    # dedup_minhash_lsh grows faster than quadratically in the corpus
    # (~4 s at 60 documents, ~270 s at 500) and runs in every check.
    n_doc = max(10, int(60 * scale))
    texts = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            texts.append(" ".join(np.array(WORDS)[
                rng.integers(0, len(WORDS), rng.integers(8, 90))]))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n_doc)]),
        "source": pa.array(np.char.add("src", rng.integers(0, 20, n_doc).astype(str))),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    n_vec = int(500 * scale)
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0, 1, (10, 64))
    v = centers[labels] * 0.15 + rng.normal(0, 1, (n_vec, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})
    n_ev_sessions = int(1500 * scale)
    erng = np.random.default_rng([seed, 4])
    tables["events"] = _events_table(
        _sessions(erng, n_ev_sessions, max(10, int(150 * scale)), T0_US,
                  30 * DAY_US, poison_rate=0.0), 0)
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {k: len(t) for k, t in tables.items()}
