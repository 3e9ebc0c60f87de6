#!/usr/bin/env python3
"""Seeded input generator for the perfbench workloads.

Every workload reads the ten tables of the testdata layout (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings),
with the schemas `graft.Tables` loads.

Inputs are built in two steps:

1. A *base* dataset at a scale factor, drawn from a fixed RNG (BASE_SEED), so
   its shape never depends on the workload seed: row counts, join fan-outs,
   group sizes, the events co-occurrence graph, planted near-duplicate
   documents and vectors.
2. A per-seed *relabelling*: each key column is mapped through a seeded
   bijection onto its own value set (foreign keys follow the same map), and
   every table's rows are written in a seeded order. Fan-outs, group sizes
   and graph shape stay fixed (the relabelled graph is isomorphic); hash
   partitioning, file order and tie-breaks move. Seed BASE_SEED is the
   identity relabelling, i.e. the base dataset itself.

Usage:
  python3 perfbench/gen.py OUT_DIR --seed N --sf SF   write one dataset
  python3 perfbench/gen.py --check                    self-check (see check())
"""
import argparse
import hashlib
import os
import sys
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# key column -> the key space it belongs to (foreign keys share the space)
KEYS = {
    "region": {"r_regionkey": "region"},
    "nation": {"n_nationkey": "nation", "n_regionkey": "region"},
    "customer": {"c_custkey": "cust", "c_nationkey": "nation"},
    "supplier": {"s_suppkey": "supp", "s_nationkey": "nation"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "order", "l_partkey": "part",
                 "l_suppkey": "supp"},
    "events": {"event_id": "event", "user_id": "user"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec"},
}

WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
COLORS = "blue cold hot large new old red small".split()
NOUNS = "anvil bolt gear gizmo plate ring rod widget".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
DIM = 64


def counts(sf):
    """Row counts per table at scale factor `sf` (sf0.01: 60k lineitem)."""
    n = lambda base, floor=1: max(floor, int(round(base * sf)))
    return {
        "customer": n(150_000, 10), "supplier": n(10_000, 10),
        "part": n(200_000, 10), "orders": n(1_500_000, 10),
        "lineitem": n(6_000_000, 10), "events": n(1_000_000, 100),
        "users": n(15_000, 10), "documents": n(50_000, 500),
        "embeddings": n(20_000, 500),
    }


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return (d * 86_400_000_000).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(sf):
    """The base dataset: pure function of `sf` (RNG fixed at BASE_SEED)."""
    rng = np.random.default_rng(BASE_SEED)
    c = counts(sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    nc = c["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, nc)})
    ns = c["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99)})
    npart = c["part"]
    pk = np.arange(npart, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in zip(
            rng.integers(0, len(COLORS), npart),
            rng.integers(0, len(NOUNS), npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PTYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    no = c["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, no, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, no, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, no)})
    nl = c["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900.0, 105_000.0),
        "l_discount": np.round(rng.uniform(0, 0.10, nl), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, nl), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04")})
    ne = c["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400_000_000
    ts = np.sort(t0 + rng.integers(0, span, ne))
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, c["users"], ne).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    t["documents"] = _documents(rng, c["documents"])
    t["embeddings"] = _embeddings(rng, c["embeddings"])
    return t


def _documents(rng, n):
    """Random texts over a small vocabulary, with planted near-duplicates:
    every 25th document is a copy of an earlier one with a few tokens
    replaced (alternately one token, or every 10th token), so the dedup
    operators find pairs on every dataset."""
    texts = []
    for i in range(n):
        if i % 25 == 24:
            toks = texts[int(rng.integers(0, i))].split(" ")
            edits = [3] if (i // 25) % 2 == 0 else range(5, len(toks), 10)
            for j in edits:
                toks[j] = "dup"
            texts.append(" ".join(toks))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(WORDS, k)))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})


def _embeddings(rng, n):
    """Unit vectors around ten class centroids; every 50th vector is a
    near-copy of an earlier one (planted near-duplicate pairs)."""
    centroids = rng.normal(0, 1, (10, DIM))
    label = rng.integers(0, 10, n)
    v = centroids[label] + rng.normal(0, 1.2, (n, DIM))
    for i in range(49, n, 50):
        j = int(rng.integers(0, i))
        v[i] = v[j] + rng.normal(0, 0.01, DIM)
        label[i] = label[j]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


def relabel(tables, seed):
    """Apply the seed's key bijections and row orders (identity for
    BASE_SEED)."""
    if seed == BASE_SEED:
        return tables
    rng = np.random.default_rng(seed)
    spaces = {}
    for name in TABLES:  # fixed order: the bijections depend on seed only
        for col, space in KEYS[name].items():
            if space not in spaces:
                vals = np.unique(tables[name].column(col).to_numpy())
                spaces[space] = (vals, rng.permutation(vals))
    out = {}
    for name in TABLES:
        t = tables[name]
        for col, space in KEYS[name].items():
            vals, perm = spaces[space]
            old = t.column(col).to_numpy()
            new = perm[np.searchsorted(vals, old)]
            i = t.schema.get_field_index(col)
            t = t.set_column(i, t.schema.field(i),
                             pa.array(new, t.schema.field(i).type))
        out[name] = t.take(pa.array(rng.permutation(t.num_rows)))
    return out


def write(tables, out_dir):
    """Write atomically: a reader sees either no dataset or all of it."""
    parent = os.path.dirname(os.path.abspath(out_dir))
    os.makedirs(parent, exist_ok=True)
    tmp = tempfile.mkdtemp(dir=parent, prefix=".gen-")
    for name in TABLES:
        pq.write_table(tables[name], os.path.join(tmp, f"{name}.parquet"),
                       version="2.6", compression="snappy")
    os.rename(tmp, out_dir)


def ensure(out_dir, seed, sf):
    """Generate the dataset for (seed, sf) unless it is already cached."""
    if not os.path.isdir(out_dir):
        write(relabel(base_tables(sf), seed), out_dir)
    return out_dir


def digest(tables):
    h = hashlib.sha256()
    for name in TABLES:
        sink = pa.BufferOutputStream()
        pq.write_table(tables[name], sink, version="2.6", compression="snappy")
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


def invariants(tables):
    """Shape properties the relabelling must keep: table row counts, the
    co-occurrence edge count of the events graph (distinct user pairs
    sharing an hour bucket — the g01 edge set) and the q10 group count
    (nations with revenue)."""
    import duckdb
    con = duckdb.connect()
    for name, t in tables.items():
        con.register(name, t)
    edges = con.execute("""
        with b as (select distinct user_id u, date_trunc('hour', ts) h
                   from events)
        select count(*) from (select distinct x.u, y.u from b x join b y
                              on x.h = y.h and x.u < y.u)""").fetchone()[0]
    groups = con.execute("""
        select count(*) from (select n_nationkey from lineitem
          join orders on l_orderkey = o_orderkey
          join customer on o_custkey = c_custkey
          join nation on c_nationkey = n_nationkey group by 1)""").fetchone()[0]
    rows = {name: t.num_rows for name, t in tables.items()}
    return {"rows": rows, "edges": edges, "q10_groups": groups}


def check(sf=0.001):
    """Generation is byte-deterministic per seed (the BASE_SEED dataset
    reproduces its own bytes), and a second seed keeps every table's row
    count, the graph edge count and the q10 group count."""
    base = base_tables(sf)
    ok = True
    if digest(base) != digest(base_tables(sf)):
        print("FAIL: base dataset bytes differ between two generations")
        ok = False
    other = relabel(base, 7)
    if digest(other) == digest(base):
        print("FAIL: seed 7 produced the base bytes")
        ok = False
    a, b = invariants(base), invariants(other)
    if a != b:
        print(f"FAIL: invariants moved: {a} vs {b}")
        ok = False
    print(f"{'OK' if ok else 'FAILED'}: {a}")
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir", nargs="?")
    ap.add_argument("--seed", type=int, default=BASE_SEED)
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--check", action="store_true")
    a = ap.parse_args()
    if a.check:
        sys.exit(0 if check() else 1)
    if not a.out_dir:
        ap.error("OUT_DIR is required")
    ensure(a.out_dir, a.seed, a.sf)


if __name__ == "__main__":
    main()
