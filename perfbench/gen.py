#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Writes the ten tables the engine reads (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings) as one
`<table>.parquet` file each, in the physical schema of the sf0.1 test
fixtures: int64 keys, `timestamp[us]` times, float32 embedding lists.
Each file is split into several row groups so a scan is several tasks.

The content is fixed: it is drawn once from a constant base seed, at the
sizes `--events-scale` and `--docs-scale` give (1 = the sf0.1 sizes:
100,000 events over 1,500 series and 5,000 documents). The seed drives
only the row order and the relabelling of keys (a seeded permutation of
each key space, applied to foreign keys too). So every seed gives the same
row counts and value domains, and the same seed writes byte-identical
files. A `manifest.json` lists rows and bytes per table.

Usage: python3 gen.py --seed 7 --out DIR [--events-scale 1] [--docs-scale 1]
                      [--tables events,documents]
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
ROW_GROUPS = 8
BASE_SEED = 20240101

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
# The document vocabulary of the sf fixtures: 30 words, uniform.
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_WEIGHTS = [0.41, 0.15, 0.15, 0.14, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
JAN_2024_US = 1704067200 * 1_000_000
DAY_US = 86400 * 1_000_000
SIZES = {"customer": 15_000, "supplier": 1_000, "part": 20_000, "orders": 150_000}


class Gen:
    """Base content from BASE_SEED; key relabelling and row order from `seed`."""

    def __init__(self, seed, events_scale, docs_scale):
        self.seed = seed % (1 << 32)
        self.scale = {"events": events_scale, "documents": docs_scale}

    def base(self, table):
        return np.random.default_rng([BASE_SEED, TABLES.index(table)])

    def relabel(self, key_space, n):
        """The seeded bijection of 0..n-1 for one key space."""
        return np.random.default_rng([self.seed, 1, TABLES.index(key_space)]) \
            .permutation(n).astype(np.int64)

    def order(self, table, n):
        return np.random.default_rng([self.seed, 2, TABLES.index(table)]).permutation(n)

    def events(self):
        rng, s = self.base("events"), self.scale["events"]
        n, users = round(100_000 * s), round(1_500 * s)
        ts = np.sort(JAN_2024_US + rng.integers(11_000_000, 30 * DAY_US, n))
        user = rng.integers(0, users, n)
        etype = np.array(EVENT_TYPES)[rng.integers(0, 5, n)]
        value = np.round(rng.exponential(50.0, n), 2)
        props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}")
        return {"event_id": pa.array(np.arange(n, dtype=np.int64)),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array(self.relabel("events", users)[user]),
                "event_type": pa.array(etype), "value": pa.array(value),
                "props": pa.array(props)}

    def documents(self):
        rng = self.base("documents")
        n = round(5_000 * self.scale["documents"])
        lens = rng.integers(10, 101, n)
        words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lens.sum()))]
        texts = [" ".join(ws) for ws in np.split(words, np.cumsum(lens)[:-1])]
        # planted duplicates: 5 % near-duplicates (" dup" appended to a copy)
        # and 8 exact copies per 5,000 documents
        ids = rng.permutation(n)
        n_near, n_exact = n // 20, max(1, round(8 * self.scale["documents"]))
        for a, b in zip(ids[:n_near], ids[n_near:2 * n_near]):
            texts[b] = texts[a] + " dup"
        for a, b in zip(ids[2 * n_near:2 * n_near + n_exact],
                        ids[2 * n_near + n_exact:2 * n_near + 2 * n_exact]):
            texts[b] = texts[a]
        lang = np.array(LANGS)[rng.choice(5, n, p=LANG_WEIGHTS)]
        source = np.char.add("src", (np.arange(n) % 20).astype(str))
        return {"doc_id": pa.array(self.relabel("documents", n)),
                "text": pa.array(texts), "lang": pa.array(lang),
                "source": pa.array(source),
                "n_chars": pa.array([len(t) for t in texts], pa.int64())}

    def embeddings(self):
        rng = self.base("embeddings")
        n, dim, k = 2_000, 64, 10
        centers = rng.normal(0.0, 1.0, (k, dim))
        label = rng.integers(0, k, n)
        v = centers[label] + rng.normal(0.0, 1.2, (n, dim))
        v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
        return {"vec_id": pa.array(self.relabel("embeddings", n)),
                "embedding": pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), dim)
                               .cast(pa.list_(pa.float32())),
                "label": pa.array(label.astype(np.int32))}

    def region(self):
        return {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": pa.array(REGIONS)}

    def nation(self):
        keys = np.arange(25, dtype=np.int32)
        return {"n_nationkey": pa.array(keys),
                "n_name": pa.array([f"NATION_{k}" for k in keys]),
                "n_regionkey": pa.array(self.base("nation").integers(0, 5, 25)
                                        .astype(np.int32))}

    def customer(self):
        rng, n = self.base("customer"), SIZES["customer"]
        key = self.relabel("customer", n)
        return {"c_custkey": pa.array(key),
                "c_name": pa.array([f"Customer#{k:09d}" for k in key]),
                "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
                "c_acctbal": pa.array(cents(rng, -999.99, 9999.99, n)),
                "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n)])}

    def supplier(self):
        rng, n = self.base("supplier"), SIZES["supplier"]
        key = self.relabel("supplier", n)
        return {"s_suppkey": pa.array(key),
                "s_name": pa.array([f"Supplier#{k:09d}" for k in key]),
                "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
                "s_acctbal": pa.array(cents(rng, -999.99, 9999.99, n))}

    def part(self):
        rng, n = self.base("part"), SIZES["part"]
        adj = np.array(["blue", "hot", "large", "small", "green"])
        noun = np.array(["anvil", "bolt", "ring", "widget", "gear", "spring"])
        return {
            "p_partkey": pa.array(self.relabel("part", n)),
            "p_name": pa.array(np.char.add(np.char.add(adj[rng.integers(0, 5, n)], " "),
                                           noun[rng.integers(0, 6, n)])),
            "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n).astype(str))),
            "p_type": pa.array(np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                                         "STANDARD"])[rng.integers(0, 6, n)]),
            "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
            "p_retailprice": pa.array(cents(rng, 900.0, 999.9, n))}

    def orders(self):
        rng, n = self.base("orders"), SIZES["orders"]
        cust = rng.integers(0, SIZES["customer"], n)
        return {
            "o_orderkey": pa.array(self.relabel("orders", n)),
            "o_custkey": pa.array(self.relabel("customer", SIZES["customer"])[cust]),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
            "o_totalprice": pa.array(cents(rng, 1000.0, 500000.0, n)),
            "o_orderdate": pa.array(days_since_1995(rng, n, 2404), pa.timestamp("us")),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)])}

    def lineitem(self):
        rng, n = self.base("lineitem"), 600_000
        qty = rng.integers(1, 51, n).astype(np.float64)

        def fk(table):
            return pa.array(self.relabel(table, SIZES[table])[
                rng.integers(0, SIZES[table], n)])
        return {
            "l_orderkey": fk("orders"), "l_partkey": fk("part"), "l_suppkey": fk("supplier"),
            "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * cents(rng, 900.0, 2100.0, n), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
            "l_shipdate": pa.array(days_since_1995(rng, n, 2499), pa.timestamp("us"))}

    def table(self, name):
        t = pa.table(getattr(self, name)())
        return t.take(self.order(name, t.num_rows))


def cents(rng, lo, hi, n):
    """Uniform values in [lo, hi] with two decimals."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def days_since_1995(rng, n, span_days):
    base = np.datetime64("1995-01-01", "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def generate(seed, out, tables=TABLES, events_scale=1, docs_scale=1):
    os.makedirs(out, exist_ok=True)
    g = Gen(seed, events_scale, docs_scale)
    manifest = {"seed": seed, "events_scale": events_scale,
                "docs_scale": docs_scale, "tables": {}}
    for name in tables:
        t = g.table(name)
        path = os.path.join(out, f"{name}.parquet")
        pq.write_table(t, path, row_group_size=max(1, -(-t.num_rows // ROW_GROUPS)))
        manifest["tables"][name] = {"rows": t.num_rows, "bytes": os.path.getsize(path)}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--events-scale", type=float, default=1.0)
    ap.add_argument("--docs-scale", type=float, default=1.0)
    ap.add_argument("--tables", default=",".join(TABLES))
    a = ap.parse_args()
    tables = [t for t in a.tables.split(",") if t]
    unknown = set(tables) - set(TABLES)
    if unknown:
        ap.error(f"unknown tables: {sorted(unknown)}")
    generate(a.seed, a.out, tables, a.events_scale, a.docs_scale)


if __name__ == "__main__":
    main()
