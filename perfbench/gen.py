"""Seeded generator of the benchmark's input catalog.

The ten fixture tables (schemas and value domains as in FIXTURES.md) at a
chosen scale factor, one parquet file per table as in the fixtures, plus two
derived tables for catalog_profile: `lineitem_parts`, an eighth of lineitem
split into 80 files (above TableEnumerator's 64-file threshold, so its
footers are read by a distributed job), and `flags`, with the boolean,
null-heavy and date columns the fixtures lack.

The same seed gives the same rows; row counts follow the fixture scale
(lineitem = 6M x sf); documents and embeddings keep the fixtures' floor of
500 rows below sf0.1.

    python3 perfbench/gen.py <dir> <sf> <seed> [--derived]
"""

import os
import sys
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast", "filter",
         "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
         "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
         "vector", "window"]
DERIVED_FILES = 80


def sizes(sf):
    def n(base):
        return max(1, round(base * sf))
    customer = n(150000)
    return {"customer": customer, "supplier": n(10000), "part": n(200000), "orders": n(1500000),
            "lineitem": n(6000000), "events": n(1000000), "users": max(1, customer // 10),
            "documents": n(50000) if sf >= 0.1 else 500,
            "embeddings": n(20000) if sf >= 0.1 else 500}


def rng(seed, table):
    """One independent stream per (seed, table)."""
    return np.random.Generator(np.random.PCG64([seed & 0xFFFFFFFF, zlib.crc32(table.encode())]))


def pick(r, values, n):
    return pa.array(np.array(values, dtype=object)[r.integers(0, len(values), n)], pa.string())


def days(start, r, span, n):
    d = np.datetime64(start, "D") + r.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def money(r, lo, width, n):
    return pa.array(np.round(lo + r.random(n) * width, 2), pa.float64())


def tables(sf, seed):
    s = sizes(sf)
    out = {}
    i32, i64 = pa.int32(), pa.int64()
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    n, r = s["customer"], rng(seed, "customer")
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(r.integers(0, 25, n), i32),
        "c_acctbal": money(r, -999.99, 10999.98, n),
        "c_mktsegment": pick(r, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n)})
    n, r = s["supplier"], rng(seed, "supplier")
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(r.integers(0, 25, n), i32),
        "s_acctbal": money(r, -999.99, 10999.98, n)})
    n, r = s["part"], rng(seed, "part")
    adj = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"], dtype=object)
    noun = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"], dtype=object)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), i64),
        "p_name": pa.array(adj[r.integers(0, 8, n)] + " " + noun[r.integers(0, 8, n)], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n)]),
        "p_type": pick(r, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n),
        "p_size": pa.array(r.integers(1, 51, n), i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n) % 1000) / 10.0, 1), pa.float64())})
    n, r = s["orders"], rng(seed, "orders")
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), i64),
        "o_custkey": pa.array(r.integers(0, s["customer"], n), i64),
        "o_orderstatus": pick(r, ["F", "O", "P"], n),
        "o_totalprice": money(r, 1000, 499000, n),
        "o_orderdate": days("1995-01-01", r, 2404, n),
        "o_orderpriority": pick(r, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n)})
    n, r = s["lineitem"], rng(seed, "lineitem")
    qty = r.integers(1, 51, n).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, s["orders"], n), i64),
        "l_partkey": pa.array(r.integers(0, s["part"], n), i64),
        "l_suppkey": pa.array(r.integers(0, s["supplier"], n), i64),
        "l_linenumber": pa.array(r.integers(1, 8, n), i32),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(np.round(qty * (900 + r.random(n) * 1200), 2), pa.float64()),
        "l_discount": pa.array(np.round(r.integers(0, 11, n) / 100.0, 2), pa.float64()),
        "l_tax": pa.array(np.round(r.integers(0, 9, n) / 100.0, 2), pa.float64()),
        "l_returnflag": pick(r, ["A", "N", "R"], n),
        "l_linestatus": pick(r, ["F", "O"], n),
        "l_shipdate": days("1995-01-02", r, 2498, n)})
    n, r = s["events"], rng(seed, "events")
    # events are in time order (ts rises with event_id), spread over 30 days
    step = 30 * 86400 * 1_000_000 // n
    ts = np.datetime64("2024-01-01", "us") + ((np.arange(n) + r.random(n)) * step).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, s["users"], n), i64),
        "event_type": pick(r, ["click", "error", "purchase", "signup", "view"], n),
        "value": pa.array(np.maximum(0.01, np.round(-50 * np.log1p(-r.random(n)), 2)), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)])})
    n, r = s["documents"], rng(seed, "documents")
    lengths = r.integers(10, 101, n)
    words = np.array(WORDS, dtype=object)[r.integers(0, len(WORDS), int(lengths.sum()))]
    ends = np.cumsum(lengths)
    text = [" ".join(words[e - k:e]) for e, k in zip(ends, lengths)]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n), i64),
        "text": pa.array(text, pa.string()),
        "lang": pick(r, ["en", "en", "en", "de", "es", "fr", "zh"], n),
        "source": pa.array([f"src{k}" for k in r.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in text], i64)})
    n, r = s["embeddings"], rng(seed, "embeddings")
    vec = r.standard_normal((n, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), i64),
        "embedding": pa.ListArray.from_arrays(pa.array(np.arange(0, n * 64 + 1, 64), pa.int32()),
                                              pa.array(vec.reshape(-1), pa.float32())),
        "label": pa.array(r.integers(0, 10, n), i32)})
    return out


def derived(fixture, seed):
    li = fixture["lineitem"]
    part = li.filter(pa.array(np.asarray(li["l_orderkey"]) % 8 == 0))
    r = rng(seed, "flags")
    n = 5000
    verified = r.random(n) < 0.5
    score = np.round(r.random(n) * 100, 2)
    flags = pa.table({
        "flag_id": pa.array(np.arange(n), pa.int64()),
        "is_active": pa.array(r.random(n) < 0.3),
        "is_verified": pa.array(verified, mask=r.random(n) < 0.5),
        "score": pa.array(score, mask=r.random(n) < 0.9),
        "seen_on": pa.array(np.datetime64("2020-01-01", "D") + r.integers(0, 2000, n).astype("timedelta64[D]"),
                            pa.date32())})
    return part, flags


def generate(out_dir, sf, seed, with_derived=False):
    os.makedirs(out_dir, exist_ok=True)
    fixture = tables(sf, seed)
    for name, t in fixture.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    if with_derived:
        part, flags = derived(fixture, seed)
        parts_dir = os.path.join(out_dir, "lineitem_parts.parquet")
        os.makedirs(parts_dir, exist_ok=True)
        bounds = np.linspace(0, part.num_rows, DERIVED_FILES + 1).astype(int)
        for i in range(DERIVED_FILES):
            pq.write_table(part.slice(bounds[i], bounds[i + 1] - bounds[i]),
                           os.path.join(parts_dir, f"part-{i:05d}.parquet"))
        pq.write_table(flags, os.path.join(out_dir, "flags.parquet"))


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]), "--derived" in sys.argv[4:])
