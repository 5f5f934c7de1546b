"""Seeded input generators for the benchmark.

Every input is a pure function of (seed, size): the same seed gives
byte-identical files. The engine only ever sees the files written here.

- ``tick_file``: a YM-like `;`-delimited tick file for the replay workload.
- ``warehouse``: the ten parquet tables the query surface reads
  (TPC-H-like star schema plus events, documents and embeddings), with
  the column names and types of the repository's test data.
- ``stream_ticks``: pre-expanded ticks (raw price and line delta) plus the
  open-loop send schedule for the stream workload.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Price band of the tick queries' SignalConfig (minPrice/maxPrice); a
# price outside it exercises hold-last.
MIN_PRICE, MAX_PRICE = 39000, 44000
START_PRICE = 41500
# Volume tail: about 60 % of lines carry volume 1, the rest up to 6.
VOLUMES = np.array([1, 2, 3, 4, 5, 6])
VOLUME_P = np.array([0.60, 0.20, 0.10, 0.05, 0.03, 0.02])


def _rng(seed, stream):
    return np.random.default_rng([int(seed), stream])


def _walk(rng, n):
    """YM-like price path: small steps, rare jumps beyond maxJump (50)."""
    steps = rng.choice([-2, -1, 0, 0, 0, 1, 2], size=n)
    jumps = rng.random(n) < 0.0005
    steps[jumps] = rng.choice([-120, -80, 80, 120], size=int(jumps.sum()))
    path = START_PRICE + np.cumsum(steps)
    # Reflect into the valid band so the walk never drifts out for good.
    span = MAX_PRICE - MIN_PRICE - 200
    off = np.mod(path - (MIN_PRICE + 100), 2 * span)
    return (MIN_PRICE + 100 + np.where(off > span, 2 * span - off, off)).astype(np.int64)


def tick_arrays(seed, n_lines):
    """Return (last, volume, well_formed, usec, bad_kind) for n_lines lines.

    About 1 % of prices fall outside [MIN_PRICE, MAX_PRICE] and about
    0.1 % of lines are malformed or blank.
    """
    rng = _rng(seed, 1)
    last = _walk(rng, n_lines)
    out_of_band = rng.random(n_lines) < 0.01
    last[out_of_band] = np.where(rng.random(int(out_of_band.sum())) < 0.5,
                                 MIN_PRICE - 500, MAX_PRICE + 500)
    volume = rng.choice(VOLUMES, size=n_lines, p=VOLUME_P)
    usec = 7 * 3600 * 10**6 + np.cumsum(rng.integers(1, 400_000, size=n_lines))
    bad = rng.random(n_lines) < 0.001
    return last, volume, ~bad, usec, rng.integers(0, 3, size=n_lines)


def tick_file(path, seed, n_lines):
    """Write the replay tick file; return its generator-implied counts."""
    last, volume, ok, usec, kind = tick_arrays(seed, n_lines)
    secs, micro = np.divmod(usec, 10**6)
    hh, rem = np.divmod(secs, 3600)
    mm, ss = np.divmod(rem, 60)
    with open(path, "w") as f:
        for i in range(n_lines):
            if ok[i]:
                p = int(last[i])
                f.write(f"20250619 {hh[i]:02d}{mm[i]:02d}{ss[i]:02d} {micro[i]:07d};"
                        f"{p - 1};{p + 1};{p};{volume[i]}\n")
            else:
                f.write(("", "malformed;data", f"20250619 {hh[i]:02d}{mm[i]:02d}")[kind[i]] + "\n")
    ticks = int(volume[ok].sum())
    return {"lines": n_lines, "well_formed": int(ok.sum()), "ticks": ticks,
            "bars": ticks // 21}


def stream_ticks(path, seed, rate, lead, seconds, burst, burst_every):
    """Write the stream workload's ticks and send schedule as text.

    Line 1 holds the lead-in length and the burst send times (µs); each
    further line is one tick: scheduled send time (µs from stream start),
    raw price, price delta.

    Ticks come from the replay generator (one tick per volume unit, the
    line delta on a line's first replica). The schedule is open loop: a
    steady `rate` ticks/s for `lead` + `seconds` seconds, plus `burst`
    ticks sent at once every `burst_every` seconds of the measured part,
    starting half a period in. The lead-in warms the running query.
    """
    bursts = [lead + burst_every * (k + 0.5) for k in range(int(seconds // burst_every))]
    steady = np.arange(int(rate * (lead + seconds))) / rate
    sched = np.sort(np.concatenate([steady] + [np.full(burst, t) for t in bursts]))
    n = len(sched)
    last, volume, ok, _, _ = tick_arrays(seed, n)
    last, volume = last[ok], volume[ok]
    delta = np.diff(last, prepend=last[0])
    price = np.repeat(last, volume)[:n]
    first = np.repeat(np.arange(len(last)), volume)[:n]
    is_first = np.concatenate([[True], first[1:] != first[:-1]])
    deltas = np.where(is_first, np.repeat(delta, volume)[:n], 0)
    us = np.round(sched * 1e6).astype(np.int64)
    with open(path, "w") as f:
        f.write(" ".join(str(int(round(t * 1e6))) for t in [lead] + bursts) + "\n")
        f.write("".join(f"{a} {b} {c}\n" for a, b, c in zip(us.tolist(), price.tolist(),
                                                          deltas.tolist())))
    return {"ticks": n, "bursts": len(bursts)}


WORDS = ("row the query stream fast spark line small customer group value hash "
         "batch sort data big filter key agg scan slow table part a merge window "
         "order column join vector").split()
ADJ = "blue old hot large cold small new red".split()
NOUN = "widget gizmo ring gear bolt plate anvil rod".split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "de", "es", "fr", "zh"]


def _ts(base, us):
    return pa.array(np.datetime64(base, "us") + us.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _write(d, name, cols):
    pq.write_table(pa.table(cols), os.path.join(d, f"{name}.parquet"))


def warehouse(d, seed, sf):
    """Write the ten tables at scale factor `sf`."""
    rng = _rng(seed, 2)
    os.makedirs(d, exist_ok=True)
    n_cust, n_supp = max(10, int(150_000 * sf)), max(5, int(10_000 * sf))
    n_part, n_ord = max(20, int(200_000 * sf)), max(50, int(1_500_000 * sf))
    n_evt, n_doc = max(100, int(1_000_000 * sf)), max(20, int(50_000 * sf))
    n_emb, n_user = max(20, int(20_000 * sf)), max(10, int(15_000 * sf))
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
    i64 = lambda a: pa.array(a, type=pa.int64())
    i32 = lambda a: pa.array(a, type=pa.int32())
    s = lambda a: pa.array(list(a), type=pa.string())

    _write(d, "region", {"r_regionkey": i32(range(5)),
                         "r_name": s(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    _write(d, "nation", {"n_nationkey": i32(range(25)),
                         "n_name": s(f"NATION_{k}" for k in range(25)),
                         "n_regionkey": i32([k % 5 for k in range(25)])})
    _write(d, "customer", {
        "c_custkey": i64(range(n_cust)),
        "c_name": s(f"Customer#{k:09d}" for k in range(n_cust)),
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": s(rng.choice(SEGMENTS, n_cust))})
    _write(d, "supplier", {
        "s_suppkey": i64(range(n_supp)),
        "s_name": s(f"Supplier#{k:09d}" for k in range(n_supp)),
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    _write(d, "part", {
        "p_partkey": i64(range(n_part)),
        "p_name": s(f"{a} {b}" for a, b in zip(rng.choice(ADJ, n_part), rng.choice(NOUN, n_part))),
        "p_brand": s(f"Brand#{k}" for k in rng.integers(1, 26, n_part)),
        "p_type": s(rng.choice(PTYPES, n_part)),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    _write(d, "orders", {
        "o_orderkey": i64(range(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": s(rng.choice(["O", "F", "P"], n_ord)),
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * 86_400_000_000),
        "o_orderpriority": s(rng.choice(PRIORITIES, n_ord))})
    # (l_orderkey, l_linenumber) is the lineitem key: 1..k lines per order.
    per = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), per)
    lnum = np.arange(len(okey)) - np.repeat(np.cumsum(per) - per, per) + 1
    n_li = len(okey)
    perm = rng.permutation(n_li)
    _write(d, "lineitem", {
        "l_orderkey": i64(okey[perm]),
        "l_partkey": i64(rng.integers(0, n_part, n_li)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
        "l_linenumber": i32(lnum[perm]),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 105_000, n_li),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": s(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": s(rng.choice(["F", "O"], n_li)),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_li) * 86_400_000_000)})
    gaps = rng.integers(1, 2 * 30 * 86_400_000_000 // n_evt, n_evt)
    _write(d, "events", {
        "event_id": i64(range(n_evt)),
        "ts": _ts("2024-01-01", np.cumsum(gaps)),
        "user_id": i64(rng.integers(0, n_user, n_evt)),
        "event_type": s(rng.choice(EVENT_TYPES, n_evt)),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_evt), 2)),
        "props": s(f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt))})
    texts = []
    for k in range(n_doc):
        if k > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            w = texts[int(rng.integers(0, k))].split(" ")
            w[int(rng.integers(0, len(w)))] = "dup"
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    _write(d, "documents", {
        "doc_id": i64(range(n_doc)),
        "text": s(texts),
        "lang": s(rng.choice(LANGS, n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14])),
        "source": s(f"src{k}" for k in rng.integers(0, 20, n_doc)),
        "n_chars": i64([len(t) for t in texts])})
    centers = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, n_emb)
    emb = centers[label] + rng.normal(0, 1.0, (n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(d, "embeddings", {
        "vec_id": i64(range(n_emb)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": i32(label)})
