"""Seeded input generator for the benchmark.

Writes the ten parquet tables the program's queries read (the TPC-H-shaped
star schema plus events, documents and embeddings), with the schemas and
value distributions of the fixture tables the registry was written against.
The same (seed, sf) always gives byte-identical tables.

    python3 perfbench/gen.py <out_dir> <seed> <sf>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000   # 1995-01-01 in µs
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01 in µs


def sizes(sf):
    return {
        "supplier": max(10, round(10_000 * sf)),
        "customer": max(150, round(150_000 * sf)),
        "part": max(200, round(200_000 * sf)),
        "orders": max(1_500, round(1_500_000 * sf)),
        "lineitem": max(6_000, round(6_000_000 * sf)),
        "events": max(1_000, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def names(prefix, keys):
    return pa.array([f"{prefix}#{k:09d}" for k in keys])


def ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, sf):
    n = sizes(sf)
    rngs = dict(zip(
        ["supplier", "customer", "part", "orders", "lineitem", "events",
         "documents", "embeddings"],
        (np.random.default_rng(s) for s in np.random.SeedSequence(seed).spawn(8))))
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
    }

    r, k = rngs["supplier"], np.arange(n["supplier"], dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": k, "s_name": names("Supplier", k),
        "s_nationkey": pa.array(r.integers(0, 25, len(k)), pa.int32()),
        "s_acctbal": money(r, -999.99, 9999.99, len(k))})

    r, k = rngs["customer"], np.arange(n["customer"], dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": k, "c_name": names("Customer", k),
        "c_nationkey": pa.array(r.integers(0, 25, len(k)), pa.int32()),
        "c_acctbal": money(r, -999.99, 9999.99, len(k)),
        "c_mktsegment": pick(r, SEGMENTS, len(k))})

    r, k = rngs["part"], np.arange(n["part"], dtype=np.int64)
    adj = np.asarray(PART_ADJ, dtype=object)[r.integers(0, 8, len(k))]
    noun = np.asarray(PART_NOUN, dtype=object)[r.integers(0, 8, len(k))]
    out["part"] = pa.table({
        "p_partkey": k, "p_name": pa.array(adj + " " + noun),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, len(k))]),
        "p_type": pick(r, PART_TYPES, len(k)),
        "p_size": pa.array(r.integers(1, 51, len(k)), pa.int32()),
        "p_retailprice": np.round(900 + (k % 1000) * 0.1, 2)})

    r, k = rngs["orders"], np.arange(n["orders"], dtype=np.int64)
    out["orders"] = pa.table({
        "o_orderkey": k,
        "o_custkey": r.integers(0, n["customer"], len(k)).astype(np.int64),
        "o_orderstatus": pick(r, ["F", "O", "P"], len(k)),
        "o_totalprice": money(r, 1000, 500_000, len(k)),
        "o_orderdate": ts(EPOCH_1995 + r.integers(0, 2404, len(k)) * DAY_US),
        "o_orderpriority": pick(r, PRIORITIES, len(k))})

    r, m = rngs["lineitem"], n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n["orders"], m).astype(np.int64),
        "l_partkey": r.integers(0, n["part"], m).astype(np.int64),
        "l_suppkey": r.integers(0, n["supplier"], m).astype(np.int64),
        "l_linenumber": pa.array(r.integers(1, 8, m), pa.int32()),
        "l_quantity": r.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": money(r, 900, 105_000, m),
        "l_discount": np.round(r.integers(0, 11, m) * 0.01, 2),
        "l_tax": np.round(r.integers(0, 9, m) * 0.01, 2),
        "l_returnflag": pick(r, ["A", "N", "R"], m),
        "l_linestatus": pick(r, ["F", "O"], m),
        "l_shipdate": ts(EPOCH_1995 + r.integers(1, 2499, m) * DAY_US)})

    r, m = rngs["events"], n["events"]
    out["events"] = pa.table({
        "event_id": np.arange(m, dtype=np.int64),
        "ts": ts(EPOCH_2024 + np.sort(r.integers(0, 30 * DAY_US, m))),
        "user_id": r.integers(0, 1500, m).astype(np.int64),
        "event_type": pick(r, EVENT_TYPES, m),
        "value": np.round(r.exponential(50.0, m), 2),
        "props": pa.array([f'{{"k": {v}}}' for v in r.integers(0, 100, m)])})

    # documents: word soup over a 30-word vocabulary; one doc in twenty is
    # another doc's text plus " dup" (near duplicates, and an exact
    # duplicate wherever two of them copy the same doc)
    r, m = rngs["documents"], n["documents"]
    words = np.asarray(VOCAB, dtype=object)
    text = [" ".join(words[r.integers(0, len(VOCAB), r.integers(10, 100))])
            for _ in range(m)]
    dups = np.sort(r.choice(m, m // 20, replace=False))
    sources = r.integers(0, m, len(dups))
    base = list(text)
    for d, s in zip(dups, sources):
        text[d] = base[s if s != d else (s + 1) % m] + " dup"
    out["documents"] = pa.table({
        "doc_id": np.arange(m, dtype=np.int64), "text": pa.array(text),
        "lang": pick(r, LANGS, m, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(m)]),
        "n_chars": np.array([len(t) for t in text], dtype=np.int64)})

    # embeddings: unit-norm gaussian vectors of dimension 64
    r, m = rngs["embeddings"], n["embeddings"]
    v = r.standard_normal((m, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, m), pa.int32())})
    return out


def write(out_dir, seed, sf):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
