"""Seeded inputs for the lifecycle benchmark.

Everything the engine reads is made here from the workload seed; the
same seed always gives byte-identical files. Two generators:

* ``write_coins`` — CoinAPI-shaped 5-minute OHLCV payloads (one JSON
  array of one candle per tick, the reference's `latest?limit=1` shape)
  for the reference's three symbols, as random walks. The dashboard
  answers each closed day should produce are computed here, from the
  generated values, never from the engine.
* ``write_corpus`` — the ten-table corpus the query registry runs on
  (TPC-H-ish star schema, an `events` stream, `documents` text and
  64-dim unit `embeddings`), with the column names, parquet types and
  value domains of the engine's reference corpora. Documents carry
  planted near-duplicates and embeddings planted clusters, so the
  dedup and similarity families have real work.
"""
import datetime as dt
import json
import os
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# (symbol, table, opening price); XRP opens ×1000 its market price so
# that its integer-rounded prices still move
COINS = [
    ("BITSTAMP_SPOT_BTC_USD", "bitcoin_prices", 28370.0),
    ("BITSTAMP_SPOT_ETH_USD", "ethereum_prices", 1890.0),
    ("BITSTAMP_SPOT_XRP_USD", "ripple_prices", 470.0),
]
FIRST_DAY = dt.datetime(2023, 4, 26)


def _iso(t):
    return t.strftime("%Y-%m-%dT%H:%M:%S.%f") + "0Z"


def _round_half_up(x):
    return int(Decimal(repr(x)).quantize(Decimal(1), rounding=ROUND_HALF_UP))


def _price(p):
    # one decimal, never .5: half-up rounding is then unambiguous
    tenths = int(round(p * 10))
    if tenths % 10 == 5:
        tenths += 1
    return tenths / 10


def write_coins(out_dir, seed, days, ticks_per_day):
    """Write ``<table>.jsonl`` (one payload per line, tick order) and
    ``expected.json`` (per coin, per day: the dashboard answers after
    that day's close-out)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    expected = {}
    for sym, table, p0 in COINS:
        price, rows, lines, per_day = p0, [], [], []
        for d in range(days):
            day = FIRST_DAY + dt.timedelta(days=d)
            prev = None
            for i in range(ticks_per_day):
                # about one tick in eight re-fetches the previous candle
                # (the reference's un-deduplicated refetch, FIXTURES.md A.1)
                refetch = prev is not None and rng.random() < 0.125
                start = prev["start"] if refetch else day + dt.timedelta(minutes=5 * i)
                o = prev["o"] if refetch else _price(price)
                moves = price * 0.002 * rng.standard_normal(3)
                c = _price(max(o + moves[0], 1.0))
                h = _price(max(o, c) + abs(moves[1]))
                lo = _price(max(min(o, c) - abs(moves[2]), 0.1))
                price = c
                t_open = start + dt.timedelta(milliseconds=int(rng.integers(0, 60000)))
                t_close = t_open + dt.timedelta(milliseconds=int(rng.integers(0, 239000)))
                vol = round(float(rng.lognormal(0.0, 1.5)), 8)
                trades = int(rng.integers(1, 200))
                candle = {"time_period_start": _iso(start),
                          "time_period_end": _iso(start + dt.timedelta(minutes=5)),
                          "time_open": _iso(t_open), "time_close": _iso(t_close),
                          "price_open": o, "price_high": h, "price_low": lo,
                          "price_close": c, "volume_traded": vol,
                          "trades_count": trades}
                lines.append(json.dumps([candle]))
                prev = {"start": start, "o": o}
                rows.append({"day": d, "start": start.strftime("%Y-%m-%d %H:%M:%S"),
                             "high": _round_half_up(h), "low": _round_half_up(lo),
                             "vol": vol, "trades": trades})
            # the warehouse after this day's close-out holds every row so far
            today = [r for r in rows if r["day"] == d]
            top = max(rows, key=lambda r: r["vol"])
            per_day.append({
                "rows": len(rows),
                "max_high": max(r["high"] for r in rows),
                "min_low": min(r["low"] for r in rows),
                "top_start": top["start"], "top_vol": top["vol"],
                "day": day.strftime("%Y-%m-%d"),
                "day_rows": len(today),
                "day_vol": sum(r["vol"] for r in today),
                "day_high": max(r["high"] for r in today),
                "day_low": min(r["low"] for r in today),
                "day_trades": sum(r["trades"] for r in today)})
        with open(os.path.join(out_dir, f"{table}.jsonl"), "w") as f:
            f.write("\n".join(lines) + "\n")
        expected[table] = per_day
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(expected, f)


WORDS = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "fr", "es", "zh"]
P_ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
P_NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]
P_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "BUILDING", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "purchase", "view"]


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _days(rng, n, lo, hi):
    base = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - base).astype(int)
    return (base + rng.integers(0, span, n)).astype("datetime64[us]")


def write_corpus(out_dir, seed, sf):
    """The ten corpus tables at scale ``sf`` (sf=0.001: 6,000 line
    items, 500 documents, 500 embeddings)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = lambda base: max(int(base * sf), 1)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s)})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)], s),
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32)})

    nc, ns, np_, no, nl = (n(150_000), n(10_000), n(200_000), n(1_500_000),
                          n(6_000_000))
    _write(out_dir, "customer", {
        "c_custkey": pa.array(range(nc), i64),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(nc)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc), s)})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(range(ns), i64),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(ns)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, ns), 2), f64)})
    _write(out_dir, "part", {
        "p_partkey": pa.array(range(np_), i64),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(rng.choice(P_ADJ, np_),
                                                      rng.choice(P_NOUN, np_))], s),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, np_)], s),
        "p_type": pa.array(rng.choice(P_TYPES, np_), s),
        "p_size": pa.array(rng.integers(1, 51, np_), i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(np_) % 1000) / 10, 2), f64)})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(range(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no), s),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, no), 2), f64),
        "o_orderdate": pa.array(_days(rng, no, "1995-01-01", "2001-08-02"), ts),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no), s)})
    okeys = np.sort(rng.integers(0, no, nl))
    linenos = np.zeros(nl, dtype=np.int32)
    for k in range(1, nl):
        if okeys[k] == okeys[k - 1]:
            linenos[k] = linenos[k - 1] + 1
    qty = rng.integers(1, 51, nl).astype(float)
    flags = rng.integers(0, 6, nl)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(okeys, i64),
        "l_partkey": pa.array(rng.integers(0, np_, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(linenos + 1, i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, nl), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100, f64),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100, f64),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[flags % 3], s),
        "l_linestatus": pa.array(np.array(["O", "F"])[flags // 3], s),
        "l_shipdate": pa.array(_days(rng, nl, "1995-01-02", "2001-11-05"), ts)})

    ne = n(1_000_000)
    ev_ts = np.sort(np.datetime64("2024-01-01T00:00:00", "us")
                    + rng.integers(0, 30 * 86400 * 10**6, ne).astype("timedelta64[us]"))
    _write(out_dir, "events", {
        "event_id": pa.array(range(ne), i64),
        "ts": pa.array(ev_ts, ts),
        "user_id": pa.array(rng.integers(0, max(ne // 66, 15), ne), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne), s),
        "value": pa.array(np.round(rng.uniform(0.01, 330, ne), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], s)})

    # documents and embeddings keep 500 rows below sf0.01, as the
    # reference corpora do
    nd = max(n(50_000), 500)
    texts = []
    for k in range(nd):
        if k >= 10 and rng.random() < 0.1:  # planted near-duplicate
            toks = texts[int(rng.integers(0, k))].split()
            for _ in range(max(len(toks) // 20, 1)):
                toks[int(rng.integers(0, len(toks)))] = str(rng.choice(WORDS))
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    _write(out_dir, "documents", {
        "doc_id": pa.array(range(nd), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, nd, p=[0.4, 0.15, 0.15, 0.15, 0.15]), s),
        "source": pa.array([f"src{k % 20}" for k in range(nd)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})

    nv = max(n(20_000), 500)
    centers = rng.standard_normal((10, 64))
    labels = rng.integers(0, 10, nv)
    vecs = centers[labels] * 0.35 + rng.standard_normal((nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(range(nv), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
