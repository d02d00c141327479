"""DuckDB replays of the operations' oracle SQL, and the expected-digest store.

An oracle result is written as `<dir>/<key>.parquet`; the benchmark JVM
digests it after its timed region, with the column order and types of the
operation's own output, so a Spark digest and a DuckDB digest are equal
exactly when the two engines return the same multiset of rows (doubles
bit for bit, as in `tools/check.py`).

Expected digests are stored per (workload, seed, input content hash) under
the build directory. An operation with an oracle expects the oracle's
digest; one without expects the digest it gave the first time the key was
seen, so later runs check that it stays the same.
"""
import hashlib
import json
import os
import threading

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def input_hash(data_dir):
    """sha256 over every generated file's relative path and bytes."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(data_dir):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, data_dir).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def replay(data_dir, oracles, out_dir, timeout_s=30.0):
    """Run each `key -> sql` over views of the generated tables and write
    the result to `out_dir/<key>.parquet`. Returns the keys that failed
    or ran longer than `timeout_s`."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    failed = []
    for key, sql in oracles.items():
        out = os.path.join(out_dir, f"{key}.parquet")
        timer = threading.Timer(timeout_s, con.interrupt)
        timer.start()
        try:
            con.execute(f"COPY ({sql}) TO '{out}' (FORMAT PARQUET)")
        except duckdb.Error:
            failed.append(key)
            if os.path.exists(out):
                os.remove(out)
        finally:
            timer.cancel()
    con.close()
    return failed


class Expected:
    """The expected digest of every operation key for one
    (workload, seed, input hash)."""

    def __init__(self, store_dir, workload, seed, ihash):
        self.path = os.path.join(store_dir, f"{workload}-{seed}-{ihash}.json")
        self.digests = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                self.digests = json.load(f)

    def known(self, key):
        return key in self.digests

    def record(self, key, digest, source):
        self.digests.setdefault(key, {"digest": digest, "source": source})

    def save(self):
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        tmp = f"{self.path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(self.digests, f, indent=0, sort_keys=True)
        os.replace(tmp, self.path)


def check(ops, expected):
    """The keys of the operations (one entry per execution) whose digest is
    missing or differs from the expected one. `ops` are the JVM's op records."""
    failed = []
    for op in ops:
        want = expected.digests.get(op["key"])
        got = op.get("digest")
        if got is None or want is None or f'{op["rows"]}:{got}' != want["digest"]:
            failed.append(op["key"])
    return failed
