#!/usr/bin/env python3
"""Seeded input generator for graft's benchmark.

Writes the ten tables graft reads (region nation customer supplier part
orders lineitem events documents embeddings), one parquet file each,
with the testdata schema, the events layout (microsecond timestamps
without a zone, ids in time order) and the testdata value domains.
Fixed-domain tables (region, nation) are the same for every seed.
The seed fixes every byte: the same seed and profile give identical
files, another seed gives other files.

    python3 perfbench/gen.py <out_dir> --workload <name> --seed <n>
    python3 perfbench/gen.py --selftest <scratch_dir>
"""
import argparse, hashlib, json, os, shutil, sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
DUP_MARK = "dup"
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# Row counts per workload. `interactive` uses sf0.01's sizes: its
# requests are dominated by fixed per-request costs, which sf0.01 shows
# as well as sf0.1 at a tenth of the run time; its events table is also
# the feed its landing requests stream. `corpus` sizes the documents and
# embeddings that the curation stages read.
PROFILES = {
    "interactive": dict(customer=1500, supplier=100, part=2000, orders=15000,
                        lineitem=60000, events=10000, users=150, days=30,
                        documents=500, embeddings=500, dup_share=0.05),
    "corpus": dict(customer=150, supplier=10, part=200, orders=1500,
                   lineitem=6000, events=1000, users=15, days=30,
                   documents=1000, embeddings=400, dup_share=0.10),
}

US_PER_DAY = 86_400_000_000
EVENTS_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00
DAY0_1995 = np.datetime64("1995-01-01", "us")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _strings(fmt, ids):
    return pa.array([fmt % i for i in ids.tolist()], pa.string())


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _ts(us):
    return pa.array(us, pa.timestamp("us"))


def tpch_tables(rng, p):
    nat = np.arange(25)
    tables = {
        "region": pa.table({"r_regionkey": pa.array(np.arange(5), pa.int32()),
                            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({"n_nationkey": pa.array(nat, pa.int32()),
                            "n_name": _strings("NATION_%d", nat),
                            "n_regionkey": pa.array(nat % 5, pa.int32())}),
    }
    c = np.arange(p["customer"])
    tables["customer"] = pa.table({
        "c_custkey": pa.array(c, pa.int64()),
        "c_name": _strings("Customer#%09d", c),
        "c_nationkey": pa.array(rng.integers(0, 25, c.size), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c.size),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, c.size))})
    s = np.arange(p["supplier"])
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(s, pa.int64()),
        "s_name": _strings("Supplier#%09d", s),
        "s_nationkey": pa.array(rng.integers(0, 25, s.size), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s.size)})
    k = np.arange(p["part"])
    names = [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, k.size), rng.choice(PART_NOUN, k.size))]
    tables["part"] = pa.table({
        "p_partkey": pa.array(k, pa.int64()),
        "p_name": pa.array(names),
        "p_brand": _strings("Brand#%d", rng.integers(1, 26, k.size)),
        "p_type": pa.array(rng.choice(PART_TYPES, k.size)),
        "p_size": pa.array(rng.integers(1, 51, k.size), pa.int32()),
        "p_retailprice": np.round(900.0 + (k % 1000) * 0.1, 1)})
    o = np.arange(p["orders"])
    odays = rng.integers(0, 2404, o.size)  # 1995-01-01 .. 2001-08-01
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(o, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, p["customer"], o.size), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], o.size)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o.size),
        "o_orderdate": _ts(DAY0_1995 + odays * np.timedelta64(1, "D")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, o.size))})
    n = p["lineitem"]
    sdays = rng.integers(1, 2500, n)  # 1995-01-02 .. 2001-11-04
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, p["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, p["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": np.round(rng.integers(0, 11, n) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n) * 0.01, 2),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": _ts(DAY0_1995 + sdays * np.timedelta64(1, "D"))})
    return tables


def events_table(rng, n, users, days, first_id=0):
    """Events in id order with increasing timestamps over `days` days."""
    us = np.sort(rng.integers(0, days * US_PER_DAY, n))
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": _ts((EVENTS_EPOCH_US + us).astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n).tolist()])})


def documents_table(rng, n, dup_share):
    """Bag-of-words documents; a `dup_share` of them are near-duplicates:
    another document's text with one word appended."""
    lengths = rng.integers(10, 101, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), m)]) for m in lengths.tolist()]
    n_dup = int(round(n * dup_share))
    dup_ids = rng.choice(n, n_dup, replace=False)
    for d in dup_ids.tolist():
        src = int(rng.integers(0, n))
        if src != d:
            texts[d] = texts[src] + " " + DUP_MARK
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": _strings("src%d", rng.integers(0, 20, n)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def embeddings_table(rng, n, dim=64, clusters=10):
    """Unit vectors scattered around `clusters` centroids; label = cluster."""
    cent = rng.normal(0.0, 1.0, (clusters, dim))
    labels = rng.integers(0, clusters, n)
    v = cent[labels] + rng.normal(0.0, 0.8, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def generate(out_dir, workload, seed):
    """Write the workload's tables under out_dir; return its stated properties."""
    p = PROFILES[workload]
    rng = np.random.default_rng([seed, sorted(PROFILES).index(workload)])
    os.makedirs(out_dir, exist_ok=True)
    tables = tpch_tables(rng, p)
    tables["events"] = events_table(rng, p["events"], p["users"], p["days"])
    tables["documents"] = documents_table(rng, p["documents"], p["dup_share"])
    tables["embeddings"] = embeddings_table(rng, p["embeddings"])
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    props = {"rows": {k: t.num_rows for k, t in tables.items()},
             "nodes": p["users"], "days": p["days"],
             "corpus_docs": p["documents"], "near_dup_share": p["dup_share"],
             "feed_events": tables["events"].num_rows}
    with open(os.path.join(out_dir, "properties.json"), "w") as f:
        json.dump(props, f, indent=1, sort_keys=True)
    return props


def digest(d):
    h = {}
    for root, _, files in os.walk(d):
        for fn in files:
            path = os.path.join(root, fn)
            with open(path, "rb") as f:
                h[os.path.relpath(path, d)] = hashlib.sha256(f.read()).hexdigest()
    return h


def selftest(scratch):
    """Same seed → byte-identical files; another seed → different tables."""
    ok = True
    for w in PROFILES:
        dirs = [os.path.join(scratch, f"{w}-{i}") for i in range(3)]
        for d, s in zip(dirs, (7, 7, 8)):
            shutil.rmtree(d, ignore_errors=True)
            generate(d, w, s)
        a, b, c = (digest(d) for d in dirs)
        same = a == b
        tables = [k for k in a if k.endswith(".parquet")]
        differ = all(a[k] != c[k] for k in tables
                     if os.path.basename(k) not in ("region.parquet", "nation.parquet"))
        print(f"[gen selftest] {w}: same seed identical={same}, "
              f"other seed differs={differ} ({len(tables)} files)")
        ok &= same and differ
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir", nargs="?")
    ap.add_argument("--workload", choices=sorted(PROFILES))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--selftest", metavar="SCRATCH_DIR")
    a = ap.parse_args()
    if a.selftest:
        sys.exit(0 if selftest(a.selftest) else 1)
    if not (a.out_dir and a.workload and a.seed is not None):
        ap.error("out_dir, --workload and --seed are required")
    print(json.dumps(generate(a.out_dir, a.workload, a.seed)))


if __name__ == "__main__":
    main()
