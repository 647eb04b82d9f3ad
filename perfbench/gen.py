"""Input generators for the benchmark workloads.

The ingest batches draw only from ``numpy.random.default_rng`` seeded
with the run's seed, so the same seed writes byte-identical files and a
different seed writes different ones. The suite's input is the fixed
fixture plus a fixed query order.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
# ALTER UPDATE, ALTER DELETE, lightweight DELETE
MUTATIONS = ["alter_update", "alter_delete", "delete"]


def _rng(seed, stream):
    return np.random.default_rng([int(seed), stream])


# ---- suite_sf01 ------------------------------------------------------

def suite_order(work, panel):
    """The panel in its fixed order. It takes no seed: shuffling the
    order moved the median query latency by ~19% between seeds (whichever query runs
    first pays the first-use costs it shares with others), against ~9%
    between runs of one order."""
    with open(os.path.join(work, "order.txt"), "w") as f:
        f.write("\n".join(panel) + "\n")
    return panel


# ---- ingest_mutate ---------------------------------------------------

def _events(rng, first_id, n, ver):
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return _event_table(rng, ids, ver)


def _event_table(rng, ids, ver):
    n = len(ids)
    # fixture-like: 2024-01-01 .. 2024-01-30, event time rising with id
    base_us = 1704067200 * 1000000
    ts = base_us + ids * 37000000 % (30 * 86400 * 1000000) \
        + rng.integers(0, 1000000, n)
    return pa.table({
        "event_id": pa.array(ids),
        "ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(rng.integers(1, 2001, n, dtype=np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in
                                rng.choice(5, n, p=[.5, .25, .1, .05, .1])]),
        "value": pa.array(np.round(rng.uniform(0, 330, n), 2)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n)]),
        "ver": pa.array(np.full(n, ver, dtype=np.int64)),
    })


def ingest(work, seed, base_rows, batches, batch_rows, reads):
    """A seeded events-shaped base batch plus `batches` INSERT batches;
    every 2nd batch also re-inserts 50 existing event ids at a higher
    version (ReplacingMergeTree duplicates for OPTIMIZE FINAL). After
    each INSERT the script runs one mutation, in turn an ALTER UPDATE,
    an ALTER DELETE and a lightweight DELETE (the kinds no batch reached
    run after the last one), and it ends with OPTIMIZE FINAL. Two ClickBench reads follow every write (cycling through
    `reads` in order, so every seed reads the same queries).

    Writes script.tsv (kind, name, Spark statement) for the harness and
    returns the replay script (kind, name, DuckDB statement).
    """
    rng = _rng(seed, 2)
    bdir = os.path.join(work, "batches")
    os.makedirs(bdir)

    def batch_file(i, table):
        p = os.path.join(bdir, "b%03d.parquet" % i)
        pq.write_table(table, p)
        return p

    p0 = batch_file(0, _events(rng, 1, base_rows, 0))
    spark = [("create", "create",
              "CREATE TABLE ev ENGINE = ReplacingMergeTree(ver) ORDER BY (event_id) "
              "AS SELECT * FROM file('%s', 'Parquet')" % p0)]
    duck = [("create", "create",
             "CREATE TABLE ev AS SELECT * FROM read_parquet('%s')" % p0)]
    read_cycle = []
    next_id = base_rows + 1
    inserted = 0

    def read():
        for _ in range(2):
            if not read_cycle:
                read_cycle.extend(reversed(reads))
            q = read_cycle.pop()
            spark.append(("read", q, ""))
            duck.append(("read", q, ""))

    def write(name, spark_sql, duck_sql):
        spark.append(("write", name, spark_sql))
        duck.append(("write", name, duck_sql))
        read()

    def mutate(kind):
        x = int(rng.integers(0, 31))
        if kind == "alter_update":
            cond = "user_id %% 97 = %d" % x
            write(kind, "ALTER TABLE ev UPDATE value = value * 2 WHERE " + cond,
                  "UPDATE ev SET value = value * 2 WHERE " + cond)
        elif kind == "alter_delete":
            cond = "event_type = 'error' AND user_id %% 31 = %d" % x
            write(kind, "ALTER TABLE ev DELETE WHERE " + cond, "DELETE FROM ev WHERE " + cond)
        else:
            cond = "event_id %% 997 = %d" % x
            write(kind, "DELETE FROM ev WHERE " + cond, "DELETE FROM ev WHERE " + cond)

    for b in range(1, batches + 1):
        t = _events(rng, next_id, batch_rows, b)
        if b % 2 == 0:
            old = rng.choice(np.arange(1, next_id), 50, replace=False)
            t = pa.concat_tables([t, _event_table(rng, old, b)])
        next_id += batch_rows
        p = batch_file(b, t)
        inserted += os.path.getsize(p)
        write("insert", "INSERT INTO ev SELECT * FROM file('%s', 'Parquet')" % p,
              "INSERT INTO ev SELECT * FROM read_parquet('%s')" % p)
        mutate(MUTATIONS[(b - 1) % len(MUTATIONS)])
    # a short script still runs every kind of mutation once
    for kind in MUTATIONS[batches:]:
        mutate(kind)
    write("optimize_final", "OPTIMIZE TABLE ev FINAL",
          "CREATE TABLE ev2 AS SELECT * FROM ev QUALIFY row_number() "
          "OVER (PARTITION BY event_id ORDER BY ver DESC) = 1; "
          "DROP TABLE ev; ALTER TABLE ev2 RENAME TO ev")
    with open(os.path.join(work, "script.tsv"), "w") as f:
        for kind, name, sql in spark:
            f.write("%s\t%s\t%s\n" % (kind, name, sql))
    sizes = {"base_rows": base_rows, "insert_batches": batches,
             "batch_rows": batch_rows, "inserted_bytes": inserted,
             "writes": sum(1 for s in spark if s[0] == "write"),
             "reads": sum(1 for s in spark if s[0] == "read")}
    return duck, sizes


def tree_digest(path):
    """sha256 over every file under `path` (names and bytes)."""
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(path)):
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
