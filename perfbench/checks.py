"""Output checks. Each returns the number of failed operations it found.

Query answers are compared with their DuckDB oracle the way
tools/check.py canonicalises them: columns matched by name, rows as a
multiset (EXCEPT ALL both ways), cells exact.
"""
import json
import re
import sys

import duckdb
import pyarrow as pa

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _say(msg):
    print(f"[check] {msg}", file=sys.stderr)


def same(con, got_sql, want_sql):
    """True when the two relations hold the same rows (columns by name)."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE got AS {got_sql}")
    con.execute(f"CREATE OR REPLACE TEMP TABLE want AS {want_sql}")
    gc, wc = con.sql("SELECT * FROM got").columns, con.sql("SELECT * FROM want").columns
    if sorted(gc) != sorted(wc):
        _say(f"columns differ: {sorted(gc)} vs {sorted(wc)}")
        return False
    cols = ", ".join(f'"{c}"' for c in sorted(gc))
    a, b = f"SELECT {cols} FROM got", f"SELECT {cols} FROM want"
    extra = con.sql(f"SELECT count(*) FROM ({a} EXCEPT ALL {b})").fetchone()[0]
    short = con.sql(f"SELECT count(*) FROM ({b} EXCEPT ALL {a})").fetchone()[0]
    if extra or short:
        _say(f"{extra} unexpected rows, {short} missing rows")
    return extra == 0 and short == 0


def queries(outdir, whdir, oracle_file, names):
    """Each query's last-pass parquet answer against its oracle."""
    oracles = json.load(open(oracle_file))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{whdir}/{t}.parquet'")
    bad = 0
    for n in names:
        try:
            ok = same(con, f"SELECT * FROM '{outdir}/{n}/*.parquet'", oracles[n])
        except Exception as e:  # unreadable answer or oracle error
            _say(f"{n}: {e}")
            ok = False
        if not ok:
            _say(f"{n}: answer differs from oracle")
            bad += 1
    return bad


# The tick queries derive their `lines` CTE from lineitem; the replay
# check swaps in the lines of the replayed file, parsed as t01 parses.
LINES_CTE = re.compile(r"lines AS \(\s*SELECT row_number\(\).*?FROM lineitem\)", re.S)
REPLAY_LINES = """
CREATE TABLE replay_lines AS
SELECT row_number() OVER (ORDER BY pos) AS line_idx, trim(p[1]) AS ts_str,
       TRY_CAST(trim(p[4]) AS INTEGER) AS last, TRY_CAST(trim(p[5]) AS INTEGER) AS volume
FROM (SELECT pos, string_split(value, ';') AS p FROM raw)
WHERE len(p) = 5 AND TRY_CAST(trim(p[2]) AS INTEGER) IS NOT NULL
  AND TRY_CAST(trim(p[3]) AS INTEGER) IS NOT NULL
  AND TRY_CAST(trim(p[4]) AS INTEGER) IS NOT NULL
  AND TRY_CAST(trim(p[5]) AS INTEGER) IS NOT NULL
"""
BAR_COLS = ("bar_idx, bar_ticks, bar_volume, bar_open_raw, bar_high_raw, bar_low_raw, "
            "bar_close_raw, bar_average_raw, bar_price_delta, bar_signal_re, bar_signal_im, "
            "bar_normalization, bar_flags")
TICK_COLS = "tick_idx, raw_price, price_delta, status_flag, signal_re, signal_im, normalization"


def replay(outdir, tick_file, oracle_file, facts):
    """The replay sink against t03 (ticks) and t07 (bars) run over the file,
    plus the counts the generator implies. A mismatch fails the pass."""
    oracles = json.load(open(oracle_file))
    with open(tick_file) as f:
        lines = f.read().split("\n")[:-1]
    con = duckdb.connect()
    raw = pa.table({"pos": list(range(len(lines))), "value": lines})
    con.register("raw_arrow", raw)
    con.execute("CREATE TABLE raw AS SELECT * FROM raw_arrow")
    con.execute(REPLAY_LINES)
    swap = "lines AS (SELECT line_idx, ts_str, last, volume FROM replay_lines)"
    ticks_sql = LINES_CTE.sub(swap, oracles["t03_hotloop_derivative"])
    bars_sql = LINES_CTE.sub(swap, oracles["t07_bars_boxcar"])
    sink = f"read_parquet('{outdir}/*.parquet')"
    try:
        n = con.sql(f"SELECT count(*), count(bar_idx) FROM {sink}").fetchone()
        ok = n == (facts["ticks"], facts["bars"])
        if not ok:
            _say(f"replay: {n} ticks/bars, generator implies {facts['ticks']}/{facts['bars']}")
        ok = same(con, f"SELECT {TICK_COLS} FROM {sink}", ticks_sql) and ok
        ok = same(con, f"SELECT {BAR_COLS} FROM {sink} WHERE bar_idx IS NOT NULL",
                  f"SELECT {BAR_COLS} FROM ({bars_sql})") and ok
    except Exception as e:
        _say(f"replay: {e}")
        ok = False
    return 0 if ok else 1


def stream(path):
    """PRIORITY got every tick exactly once with HotLoopStep.run's values;
    each drop consumer accounts for every offered tick."""
    bad = 0
    with open(path) as f:
        for line in f:
            if line.startswith("consumer "):
                _, name, sent, dropped, offered = line.split()
                if int(sent) + int(dropped) != int(offered):
                    _say(f"stream: {name} sent {sent} + dropped {dropped} != {offered}")
                    bad += 1
                continue
            count, want, got = line.rstrip("\n").split(" | ")
            if count != "1" or want != got:
                bad += 1
    if bad:
        _say(f"stream: {bad} ticks or consumers wrong")
    return bad
