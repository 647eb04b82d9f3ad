"""Output checks, run after the harness and outside every timed span.

- suite_sf01: each query's first output against its DuckDB twin from
  ``SparkEntry.oracleSql`` over the same fixture (oracle results are
  cached by SQL text and fixture, they never change between runs);
- ingest_mutate: the write script replayed in DuckDB on the same
  batches, each ClickBench read of every round compared at the same
  point.

Cells are canonicalized the way the repo's correctness gate does it
(``tools/check.py``): NaN is NULL, floats round to 9 places, integers stay
integers, dates and timestamps are ISO text; rows compare as sorted
multisets, columns by sorted name.
"""
import datetime
import decimal
import hashlib
import json
import math
import os

import duckdb

FIXTURE_TABLES = ["region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        return "NULL" if math.isnan(f) else repr(round(f, 9))
    if hasattr(v, "isoformat"):
        if getattr(v, "tzinfo", None) is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def digest(columns, rows):
    """Order-insensitive digest of a result: columns by sorted name,
    rows as a sorted multiset of canonical cells."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in idx) for r in rows)
    h = hashlib.md5()
    h.update("\x1f".join(columns[i] for i in idx).encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return h.hexdigest(), len(lines)


def load_dump(work, rel):
    with open(os.path.join(work, rel)) as f:
        d = json.load(f)
    return d["columns"], d["rows"]


def _duck(sf=None):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    if sf:
        for t in FIXTURE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    return con


def _query(con, sql):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def fixture_key(sf):
    parts = [sf] + ["%s:%d" % (t, os.path.getsize(f"{sf}/{t}.parquet"))
                    for t in FIXTURE_TABLES]
    return "|".join(parts)


def check_suite(work, result, sf, cache_path):
    """Returns a list of (op index, cause) for outputs that differ."""
    with open(os.path.join(work, "oracle.json")) as f:
        oracle = json.load(f)
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    fk = fixture_key(sf)
    con = None
    fails = []
    for i, op in enumerate(result["ops"]):
        if op["error"] or not op["dump"]:
            continue
        name = op["name"]
        if name not in oracle:
            fails.append((i, "no oracle SQL for %s" % name))
            continue
        key = hashlib.sha1((fk + "\n" + oracle[name]).encode()).hexdigest()
        if key not in cache:
            con = con or _duck(sf)
            try:
                cache[key] = list(digest(*_query(con, oracle[name])))
            except Exception as e:  # the oracle itself failing is a failure too
                fails.append((i, "oracle error %s: %s" % (type(e).__name__, e)))
                continue
        want = tuple(cache[key])
        got = digest(*load_dump(work, op["dump"]))
        if got != want:
            fails.append((i, "differs from DuckDB oracle (%d rows vs %d)" % (got[1], want[1])))
    os.makedirs(os.path.dirname(cache_path), exist_ok=True)
    with open(cache_path, "w") as f:
        json.dump(cache, f)
    return fails


def check_ingest(work, result, duck_script):
    with open(os.path.join(work, "oracle.json")) as f:
        oracle = json.load(f)
    con = _duck()
    con.execute(duck_script[0][2])
    con.execute("CREATE VIEW events AS SELECT * FROM ev")
    ops = result["ops"]
    script = duck_script[1:]
    rounds = sorted({op["round"] for op in ops})
    if len(ops) != len(script) * len(rounds):
        return [(len(ops) - 1, "ran %d statements in %d rounds, the script has %d"
                 % (len(ops), len(rounds), len(script)))]
    # every round runs the script from the same base table, so each
    # read has one expected result for all rounds
    want = {}
    for i, (kind, name, sql) in enumerate(script):
        if kind == "write":
            for stmt in sql.split("; "):
                con.execute(stmt)
        else:
            want[i] = digest(*_query(con, oracle[name]))
    fails = []
    for i, op in enumerate(ops):
        pos = i % len(script)
        if pos not in want or op["error"] or not op["dump"]:
            continue
        got = digest(*load_dump(work, op["dump"]))
        if got != want[pos]:
            fails.append((i, "%s (round %d) differs from the DuckDB replay (%d rows vs %d)"
                          % (op["name"], op["round"], got[1], want[pos][1])))
    return fails
