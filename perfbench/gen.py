"""Seeded input generator for the benchmark.

Writes the ten tables the query registry reads (`<out>/<table>.parquet`),
with the same column names and parquet types as the project's sf0.1
fixture, from nothing but a seed and a size:

  python3 perfbench/gen.py --seed 7 --scale 1 --out DIR
  python3 perfbench/gen.py --seed 7 --scale 0.25 --files 4 --row-groups 2 --out DIR

`--scale 1` gives the fixture's sf0.1 row counts (600 k lineitem rows).
Fact tables (orders, lineitem, events, documents, embeddings) are written
as one file, or with `--files N` as a directory of N files of
`--row-groups` row groups each, so that a scan splits into parallel
tasks. 5 % of documents are near duplicates of an earlier document (its
text plus the token "dup"), as in the fixture. The summary printed (and
returned by `generate`) gives, per table, rows, bytes, files and row
groups, and the near-duplicate fraction of the documents.

Money columns are whole cents (two decimals), which `graft.Det`'s exact
decimal sums rely on. The output is a pure function of the arguments:
the same seed writes byte-identical files, and a different seed writes
different ones (checked by perfbench/tests/test_gen.py).
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUS = ["F", "O", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000   # 1995-01-01T00:00:00 in µs
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00 in µs
ORDER_DAYS = 2404                  # 1995-01-01 .. 2001-08-01
DIM = 64

FACTS = ("orders", "lineitem", "events", "documents", "embeddings")


def cents(rng, lo, hi, n):
    """n money values in [lo, hi] with exactly two decimals."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def dims(rng, scale):
    n_cust = max(15, int(15000 * scale))
    n_supp = max(5, int(1000 * scale))
    n_part = max(20, int(20000 * scale))
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(cents(rng, -999.99, 9999.99, n_cust), pa.float64()),
        "c_mktsegment": pick(rng, SEGMENTS, n_cust)})
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(cents(rng, -999.99, 9999.99, n_supp), pa.float64())})
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    part_price = (9000 + np.arange(n_part) % 1000) / 10.0
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pick(rng, names, n_part),
        "p_brand": pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": pick(rng, P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(part_price, pa.float64())})
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part}, (n_cust, n_supp, n_part, part_price)


def orders_lineitem(rng, scale, n_cust, n_supp, n_part, part_price):
    n_ord = max(150, int(150000 * scale))
    odays = rng.integers(0, ORDER_DAYS + 1, n_ord)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(rng, STATUS, n_ord),
        "o_totalprice": pa.array(cents(rng, 1000, 500000, n_ord), pa.float64()),
        "o_orderdate": pa.array(EPOCH_1995 + odays * DAY_US, pa.timestamp("us")),
        "o_orderpriority": pick(rng, PRIORITY, n_ord)})
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    n = len(okey)
    starts = np.cumsum(lines) - lines
    lineno = np.arange(n) - np.repeat(starts, lines) + 1
    pkey = rng.integers(0, n_part, n)
    qty = rng.integers(1, 51, n).astype(np.float64)
    # extended price = qty × retail price, rounded to whole cents
    ext = np.round(qty * part_price[pkey] * 100) / 100.0
    ship = EPOCH_1995 + (np.repeat(odays, lines) + rng.integers(1, 122, n)) * DAY_US
    lineitem = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(pkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(ext, pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, pa.float64()),
        "l_returnflag": pick(rng, ["A", "N", "R"], n),
        "l_linestatus": pick(rng, ["F", "O"], n),
        "l_shipdate": pa.array(ship, pa.timestamp("us"))})
    return orders, lineitem


def events(rng, scale):
    n = max(100, int(100000 * scale))
    ts = np.sort(rng.integers(0, 30 * DAY_US, n)) + EPOCH_2024
    value = np.round(rng.exponential(50.0, n) * 100) / 100.0
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(15, int(1500 * scale)), n), pa.int64()),
        "event_type": pick(rng, EVENT_TYPES, n),
        "value": pa.array(value, pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string())})


def documents_embeddings(rng, scale):
    n_doc = max(50, int(5000 * scale))
    n_vec = max(20, int(2000 * scale))
    vocab = np.asarray(WORDS, dtype=object)
    toks = [list(vocab[rng.integers(0, len(WORDS), k)])
            for k in rng.integers(10, 101, n_doc)]
    # 5 % near duplicates of an earlier document
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        if i > 0:
            toks[i] = toks[rng.integers(0, i)] + ["dup"]
    text = [" ".join(t) for t in toks]
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pick(rng, LANGS, n_doc, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], pa.string()),
        "n_chars": pa.array([len(s) for s in text], pa.int64())})
    emb = rng.normal(0.0, 0.125, (n_vec, DIM)).astype(np.float32)
    offsets = pa.array(np.arange(0, n_vec * DIM + 1, DIM, dtype=np.int32))
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, pa.array(emb.reshape(-1), pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32())})
    return documents, embeddings


def write(table, path, files, row_groups):
    """One parquet file, or a directory of `files` files of `row_groups`
    row groups each. Snappy and no pandas metadata, so the bytes depend
    on the data only."""
    n = table.num_rows
    if files <= 1:
        pq.write_table(table, path, compression="snappy",
                       row_group_size=max(1, -(-n // max(1, row_groups))))
        return 1, pq.ParquetFile(path).metadata.num_row_groups
    os.makedirs(path, exist_ok=True)
    per_file = -(-n // files)
    groups = 0
    for i in range(files):
        part = table.slice(i * per_file, per_file)
        f = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(part, f, compression="snappy",
                       row_group_size=max(1, -(-part.num_rows // row_groups)))
        groups += pq.ParquetFile(f).metadata.num_row_groups
    return files, groups


def generate(out, seed, scale=1.0, files=1, row_groups=1):
    """Write every table under `out`; return a summary per table
    (rows, bytes, files, row groups) plus the near-duplicate fraction."""
    rng = np.random.Generator(np.random.PCG64(seed))
    tables, (n_cust, n_supp, n_part, price) = dims(rng, scale)
    tables["orders"], tables["lineitem"] = orders_lineitem(
        rng, scale, n_cust, n_supp, n_part, price)
    tables["events"] = events(rng, scale)
    tables["documents"], tables["embeddings"] = documents_embeddings(rng, scale)
    os.makedirs(out, exist_ok=True)
    summary = {}
    for name, t in tables.items():
        path = os.path.join(out, f"{name}.parquet")
        nf, ng = write(t, path, files if name in FACTS else 1,
                       row_groups if name in FACTS else 1)
        size = (os.path.getsize(path) if os.path.isfile(path) else
                sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)))
        summary[name] = {"rows": t.num_rows, "bytes": size, "files": nf,
                         "row_groups": ng}
    text = tables["documents"].column("text").to_pylist()
    summary["near_dup_frac"] = sum(t.endswith(" dup") for t in text) / len(text)
    return summary


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--files", type=int, default=1)
    ap.add_argument("--row-groups", type=int, default=1)
    a = ap.parse_args()
    print(json.dumps(generate(a.out, a.seed, a.scale, a.files, a.row_groups), indent=1))


if __name__ == "__main__":
    main()
