"""Seeded input generators for the benchmark, each with a ledger of what it planted.

Every generator is a pure function of its seed: the same seed writes the
same files and the same ledger.  Outputs are cached by seed under the
benchmark's data directory, so a second run on a seed reuses them.

  alpaca(dir, seed)     Alpaca-shaped 5-minute bar payloads, one JSON file
                        per symbol, for the daily pipeline.
  ticks(dir, seed)      JSON-lines tick files for the streaming twin, one
                        micro-batch's worth per file.
  warehouse(dir, seed)  The star-schema + events + corpus tables the
                        analyst queries read (same schema as the project's
                        test data), as parquet.
"""
import datetime as dt
import hashlib
import json
import os
import random
import shutil
from zoneinfo import ZoneInfo

ET = ZoneInfo("America/New_York")
UTC = dt.timezone.utc

# ---------------------------------------------------------------------------
# Alpaca payloads
# ---------------------------------------------------------------------------

N_SYMBOLS = 16  # 8 disjoint pairs
FULL_BARS = 78
EARLY_CLOSE_BARS = 42  # 09:30-12:55 ET
# Oct 28 - Dec 6 2024: spans the Nov 3 DST fall-back Sunday, the
# Thanksgiving holiday (Nov 28) and its early close (Nov 29).
FIRST_DAY = dt.date(2024, 10, 28)
LAST_DAY = dt.date(2024, 12, 6)
DST_DAY = dt.date(2024, 11, 3)
HOLIDAY = dt.date(2024, 11, 28)
EARLY_CLOSE_DAY = dt.date(2024, 11, 29)
CORRUPT_FILE = "ZZCORRUPT_intraday_5min.json"


def symbols():
    return [f"S{i:02d}" for i in range(N_SYMBOLS)]


def pairs():
    s = symbols()
    return [(s[i], s[i + 1]) for i in range(0, len(s), 2)]


def _days():
    d = FIRST_DAY
    while d <= LAST_DAY:
        yield d
        d += dt.timedelta(days=1)


def _slots(day, start, n):
    t0 = dt.datetime.combine(day, start, tzinfo=ET)
    return [t0 + dt.timedelta(minutes=5 * i) for i in range(n)]


def _fmt_ts(t, local_offset):
    if local_offset:
        return t.astimezone(ET).isoformat(timespec="seconds")
    return t.astimezone(UTC).strftime("%Y-%m-%dT%H:%M:%SZ")


def _rth_utc_key(t):
    """(utc date, utc epoch seconds) of an aware datetime."""
    u = t.astimezone(UTC)
    return u.date().isoformat(), int(u.timestamp())


def alpaca(out_dir, seed):
    """Write the payload files and return the ledger."""
    rng = random.Random(f"alpaca-{seed}")
    os.makedirs(out_dir, exist_ok=True)
    syms = symbols()
    # per-symbol planted rows, and per-symbol set of kept RTH bar times
    kept_rth = {s: set() for s in syms}
    raw_bars = null_close = bad_ts = extended = weekend = gaps = 0
    files_bytes = 0
    pair_of = {}
    for a, b in pairs():
        pair_of[a] = pair_of[b] = (a, b)
    base_px = {s: 50.0 + 150.0 * rng.random() for s in syms}
    for sym in syms:
        a, b = pair_of[sym]
        # second leg tracks the first leg's walk so the spread is mean-reverting
        walk_rng = random.Random(f"walk-{seed}-{a}")
        leg_rng = random.Random(f"leg-{seed}-{sym}")
        local_offset = leg_rng.random() < 0.25  # vendor emitted ET offsets
        px = base_px[a] if sym == a else base_px[a] * (0.8 + 0.4 * rng.random())
        bars = []

        def bar(t, close_null=False, ts_bad=False):
            nonlocal px
            px *= 1.0 + walk_rng.gauss(0, 0.0015) + (leg_rng.gauss(0, 0.0008) if sym == b else 0.0)
            o = round(px * (1 + leg_rng.gauss(0, 0.0005)), 4)
            c = None if close_null else round(px, 4)
            hi = round(max(o, px) * (1 + abs(leg_rng.gauss(0, 0.0004))), 4)
            lo = round(min(o, px) * (1 - abs(leg_rng.gauss(0, 0.0004))), 4)
            ts = t.astimezone(UTC).strftime("%Y-%m-%d %H:%M") if ts_bad else _fmt_ts(t, local_offset)
            bars.append({"timestamp": ts, "open": o, "high": hi, "low": lo,
                         "close": c, "volume": leg_rng.randint(100, 50000)})

        for day in _days():
            wd = day.weekday()
            if wd >= 5:
                # weekend noise (the DST Sunday always gets some)
                if day == DST_DAY or leg_rng.random() < 0.3:
                    for t in _slots(day, dt.time(10, 0), 3):
                        bar(t)
                        weekend += 1
                continue
            if day == HOLIDAY:
                continue
            n = EARLY_CLOSE_BARS if day == EARLY_CLOSE_DAY else FULL_BARS
            # pre-market 08:00-09:25 and post-market 16:00-17:55 leakage
            for t in _slots(day, dt.time(8, 0), leg_rng.randint(0, 18)):
                bar(t)
                extended += 1
            slots = _slots(day, dt.time(9, 30), n)
            # planted gaps: a run of 1-5 missing bars on ~6% of symbol-days
            missing = set()
            if leg_rng.random() < 0.06:
                k = leg_rng.randint(1, 5)
                start = leg_rng.randint(0, n - k)
                missing = set(range(start, start + k))
                gaps += k
            for i, t in enumerate(slots):
                if i in missing:
                    continue
                r = leg_rng.random()
                if r < 0.002:
                    bar(t, close_null=True)
                    null_close += 1
                elif r < 0.004:
                    bar(t, ts_bad=True)
                    bad_ts += 1
                else:
                    bar(t)
                    kept_rth[sym].add(_rth_utc_key(t))
            for t in _slots(day, dt.time(16, 0), leg_rng.randint(0, 24)):
                bar(t)
                extended += 1
        raw_bars += len(bars)
        payload = {
            "symbol": sym, "timeframe": "5Min", "source": "alpaca", "feed": "iex",
            "start_utc": f"{FIRST_DAY.isoformat()}T00:00:00Z",
            "end_utc": f"{LAST_DAY.isoformat()}T23:59:59Z",
            "bars": bars,
        }
        path = os.path.join(out_dir, f"{sym}_intraday_5min.json")
        with open(path, "w") as f:
            json.dump(payload, f, indent=1)
        files_bytes += os.path.getsize(path)
    # one corrupt payload: truncated mid-document
    with open(os.path.join(out_dir, CORRUPT_FILE), "w") as f:
        f.write('{"symbol": "ZZCORRUPT", "timeframe": "5Min", "bars": [{"timestamp": "2024-')
    files_bytes += os.path.getsize(os.path.join(out_dir, CORRUPT_FILE))

    # expected pipeline outputs: inner pair join on (pair, ts), both legs
    # written, DQ per (symbol, UTC trading date) over the written rows
    dq = {}
    paired_rows = 0
    for a, b in pairs():
        common = kept_rth[a] & kept_rth[b]
        paired_rows += len(common)
        per_day = {}
        for d, _ in common:
            per_day[d] = per_day.get(d, 0) + 1
        for d, n in per_day.items():
            dq[f"{a}|{d}"] = n
            dq[f"{b}|{d}"] = n
    statuses = {"OK": 0, "WARN": 0, "FAIL": 0}
    max_missing = 0
    for n in dq.values():
        miss = max(0, FULL_BARS - n)
        max_missing = max(max_missing, miss)
        statuses["OK" if miss == 0 else "WARN" if miss <= 2 else "FAIL"] += 1
    rth = sum(len(v) for v in kept_rth.values())
    ledger = {
        "symbols": len(syms), "pairs": [list(p) for p in pairs()],
        "files": len(syms) + 1, "corrupt_files": 1, "input_bytes": files_bytes,
        "raw_bars": raw_bars, "null_close": null_close, "bad_ts": bad_ts,
        "clean_bars": raw_bars - null_close - bad_ts,
        "extended_hours": extended, "weekend": weekend, "gap_bars": gaps,
        "rth_bars": rth, "paired_rows": paired_rows, "rows_written": 2 * paired_rows,
        "dst_day": DST_DAY.isoformat(), "early_close_day": EARLY_CLOSE_DAY.isoformat(),
        "holiday": HOLIDAY.isoformat(),
        "dq_symbol_days": len(dq), "dq_ok": statuses["OK"], "dq_warn": statuses["WARN"],
        "dq_fail": statuses["FAIL"], "dq_max_missing": max_missing,
        "dq_actual_bars_total": sum(dq.values()),
    }
    return ledger


# ---------------------------------------------------------------------------
# Tick files
# ---------------------------------------------------------------------------

TICK_SYMBOLS = [f"T{i:02d}" for i in range(8)]
TICK_FILES = 80
SLICE_MIN = 15  # minutes of market time per file
TICKS_PER_SYMBOL_MIN = 6
LATE_EVERY = 3  # every 3rd file past mid-morning carries a late tick


def ticks(out_dir, seed):
    """Write TICK_FILES JSON-lines files, each a consecutive 15-minute
    slice of RTH for all tick symbols, and return the ledger: per file,
    the ticks it holds, its late (watermark-dropped) ticks, the 5-minute
    bars its on-time ticks feed, and its per-(day, symbol) counts."""
    rng = random.Random(f"ticks-{seed}")
    os.makedirs(out_dir, exist_ok=True)
    slices_per_day = (6 * 60 + 30) // SLICE_MIN  # 26
    px = {s: 20.0 + 80.0 * rng.random() for s in TICK_SYMBOLS}
    day = dt.date(2024, 3, 4)  # Monday
    files = []
    for k in range(TICK_FILES):
        d_i, s_i = divmod(k, slices_per_day)
        d = day + dt.timedelta(days=d_i + 2 * (d_i // 5))  # skip weekends
        start = dt.datetime.combine(d, dt.time(9, 30), tzinfo=ET) + dt.timedelta(minutes=SLICE_MIN * s_i)
        start_us = int(start.timestamp()) * 1_000_000
        span_us = SLICE_MIN * 60 * 1_000_000
        rows = []
        for s in TICK_SYMBOLS:
            for _ in range(SLICE_MIN * TICKS_PER_SYMBOL_MIN):
                px[s] *= 1.0 + rng.gauss(0, 0.0005)
                rows.append((start_us + rng.randrange(span_us), s, round(px[s], 4), rng.randint(1, 500)))
        late = []
        # late ticks sit 2 h behind a slice at least 2.5 h into the
        # session, so they are behind the watermark on every path
        if s_i >= 10 and k % LATE_EVERY == 0:
            s = rng.choice(TICK_SYMBOLS)
            late.append((start_us - 2 * 3600 * 1_000_000 + rng.randrange(60_000_000), s, round(px[s], 4), 1))
        rows.sort()
        all_rows = rows + late
        bars = {}
        counts = {}
        for us, s, _, _ in rows:
            w = us // 300_000_000 * 300_000_000
            bars[f"{s}|{w}"] = bars.get(f"{s}|{w}", 0) + 1
        for us, s, _, _ in all_rows:
            key = f"{dt.datetime.fromtimestamp(us / 1e6, UTC).date().isoformat()}|{s}"
            counts[key] = counts.get(key, 0) + 1
        with open(os.path.join(out_dir, f"ticks_{k:05d}.json"), "w") as f:
            for us, s, p, q in all_rows:
                ts = dt.datetime.fromtimestamp(us / 1e6, UTC).strftime("%Y-%m-%dT%H:%M:%S.%fZ")
                f.write(f'{{"symbol":"{s}","ts":"{ts}","price":{p},"size":{q}}}\n')
        files.append({"name": f"ticks_{k:05d}.json", "ticks": len(all_rows), "late": len(late),
                      "max_us": rows[-1][0], "bars": bars, "counts": counts})
    return {"symbols": TICK_SYMBOLS, "files": files}


# ---------------------------------------------------------------------------
# Warehouse tables for the analyst queries
# ---------------------------------------------------------------------------

WAREHOUSE_SF = 0.02
WORDS = ("a the data spark join value fast column sort scan small customer merge hash line part "
         "batch slow group row filter query key big window table stream order vector agg").split()


def warehouse(out_dir, seed, sf=WAREHOUSE_SF):
    """TPC-H-ish tables with the test data's schema and value domains,
    scaled by `sf` (sf 1 = 6M lineitem rows)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(int(hashlib.sha256(f"warehouse-{seed}".encode()).hexdigest()[:15], 16))
    os.makedirs(out_dir, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def r2(x):
        return np.round(x, 2)

    def dates(lo, hi, n):
        lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
        days = rng.integers(0, int((hi_d - lo_d).astype(int)) + 1, n)
        return pa.array((lo_d + days).astype("datetime64[us]"), pa.timestamp("us"))

    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb, n_users = int(50000 * sf), max(500, int(20000 * sf)), int(15000 * sf)

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write("customer", {"c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                       "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                       "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                       "c_acctbal": r2(rng.uniform(-999.99, 9999.99, n_cust)),
                       "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    write("supplier", {"s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                       "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                       "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                       "s_acctbal": r2(rng.uniform(-999.99, 9999.99, n_supp))})
    adj = np.array(["blue", "cold", "hot", "red", "small", "new", "old", "large"])
    noun = np.array(["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "nut"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part)
    write("part", {"p_partkey": pa.array(pk, pa.int64()),
                   "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                                         noun[rng.integers(0, 8, n_part)]),
                   "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
                   "p_type": types[rng.integers(0, 6, n_part)],
                   "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                   "p_retailprice": r2(900.0 + (pk % 1000) * 0.1)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    write("orders", {"o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                     "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                     "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                     "o_totalprice": r2(rng.uniform(1000.0, 500000.0, n_ord)),
                     "o_orderdate": dates("1995-01-01", "2001-08-01", n_ord),
                     "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    write("lineitem", {"l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
                       "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
                       "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
                       "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
                       "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                       "l_extendedprice": r2(rng.uniform(900.0, 105000.0, n_line)),
                       "l_discount": rng.integers(0, 11, n_line) / 100.0,
                       "l_tax": rng.integers(0, 9, n_line) / 100.0,
                       "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
                       "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
                       "l_shipdate": dates("1995-01-02", "2001-11-04", n_line)})
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * 86400 * 1_000_000, n_ev))
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    write("events", {"event_id": pa.array(np.arange(n_ev), pa.int64()),
                     "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
                     "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
                     "event_type": etypes[rng.integers(0, 5, n_ev)],
                     "value": r2(rng.exponential(50.0, n_ev)),
                     "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    texts = []
    words = np.array(WORDS)
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # planted near-duplicate
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(WORDS), int(rng.integers(8, 100)))]))
    write("documents", {"doc_id": pa.array(np.arange(n_doc), pa.int64()), "text": texts,
                        "lang": langs[rng.integers(0, len(langs), n_doc)],
                        "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
                        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    emb = (rng.standard_normal((n_emb, 64)) * 0.1).astype(np.float32)
    write("embeddings", {"vec_id": pa.array(np.arange(n_emb), pa.int64()),
                         "embedding": pa.array(list(emb), pa.list_(pa.float32())),
                         "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return {"sf": sf, "lineitem": n_line, "events": n_ev, "documents": n_doc}


def cached(kind, root, seed):
    """Generate `kind` for `seed` under `root` unless a complete copy is
    already there; returns (data dir, ledger, seconds spent generating)."""
    import time
    base = os.path.join(root, kind, f"seed{seed}")
    data = os.path.join(base, "data")
    done = os.path.join(base, "DONE")
    t0 = time.monotonic()
    if not os.path.exists(done):
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(data)
        ledger = {"alpaca": alpaca, "ticks": ticks, "warehouse": warehouse}[kind](data, seed)
        with open(os.path.join(base, "ledger.json"), "w") as f:
            json.dump(ledger, f)
        open(done, "w").close()
    with open(os.path.join(base, "ledger.json")) as f:
        ledger = json.load(f)
    return data, ledger, time.monotonic() - t0
