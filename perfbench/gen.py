"""Deterministic synthetic inputs for the benchmark.

Writes the star schema graft reads (region nation customer supplier part
orders lineitem events documents embeddings), one parquet file per table,
with the same column names, types and value ranges as the graft test
data. Row counts scale with `sf` (sf=0.1 -> 600k lineitem rows).

`copies` > 1 upsamples documents and embeddings the way
tools/gen_sf1.py does: copy k gets ids shifted by k*10_000_000 and a
' d<k>' suffix on the text, so the corpus holds near-duplicate document
families rather than exact duplicates.

The data seed is fixed: every run sees the same bytes, so expected
result fingerprints can be committed keyed by the data fingerprint.

    python3 perfbench/gen.py <out_dir> <sf> [copies] [tables]
"""
import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
OFF = 10_000_000
ALL = ["region", "nation", "customer", "supplier", "part", "orders",
       "lineitem", "events", "documents", "embeddings"]
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
RARE = 50000  # extra pseudo-words, so near-duplicates share rare fingerprints


def _ts(start, seconds):
    base = np.datetime64(start, "us")
    return base + (np.asarray(seconds) * 1_000_000).astype("int64").astype("timedelta64[us]")


def tables(sf, copies=1, only=None):
    """Yield (name, pyarrow.Table) for every requested table."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 10)
    n_line = max(int(6_000_000 * sf), 40)
    n_ev = max(int(1_000_000 * sf), 100)
    n_doc = max(int(50_000 * sf), 50)
    n_emb = max(int(20_000 * sf), 50)
    want = set(only or ALL)
    segs = ["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"]
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)

    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": [segs[i] for i in rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = ["small", "red", "blue", "hot", "cold", "green", "big", "shiny"]
    noun = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "pipe"]
    types = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [types[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)})
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    days = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype("int64"))
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("O", "P", "F")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": pa.array(_ts("1995-01-01", rng.integers(0, days + 1, n_ord) * 86400)),
        "o_orderpriority": [prio[i] for i in rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_line).astype("float64")
    flags = rng.integers(0, 6, n_line)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": money(900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("N", "A", "R")[i % 3] for i in flags],
        "l_linestatus": [("O", "F")[i // 3] for i in flags],
        "l_shipdate": pa.array(_ts("1995-01-02", rng.integers(0, days + 95, n_line) * 86400))})
    evtypes = ["signup", "click", "error", "view", "purchase"]
    secs = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(_ts("2024-01-01", secs)),
        "user_id": pa.array(rng.integers(0, n_cust, n_ev), pa.int64()),
        "event_type": [evtypes[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)]})
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = VOCAB + ["".join(letters[rng.integers(0, 26, int(rng.integers(4, 10)))])
                     for _ in range(RARE)]
    texts = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            common = rng.random(n) < 0.5  # half the tokens from the 30 common words
            ids = np.where(common, rng.integers(0, 30, n), rng.integers(30, 30 + RARE, n))
            texts.append(" ".join(words[j] for j in ids))
    langs = rng.choice(["en", "zh", "es", "fr", "de"], n_doc, p=[0.41, 0.15, 0.15, 0.15, 0.14])
    vec = rng.standard_normal((n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    labels = rng.integers(0, 10, n_emb)
    docs, embs = [], []
    for k in range(copies):
        t = [s + (f" d{k}" if k else "") for s in texts]
        docs.append(pa.table({
            "doc_id": pa.array(np.arange(n_doc) + k * OFF, pa.int64()),
            "text": t,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(s) for s in t], pa.int64())}))
        embs.append(pa.table({
            "vec_id": pa.array(np.arange(n_emb) + k * OFF, pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32())}))
    out["documents"] = pa.concat_tables(docs)
    out["embeddings"] = pa.concat_tables(embs)
    for name in ALL:
        if name in want:
            yield name, out[name]


def data_fp(d):
    """Content fingerprint of every parquet file under `d` (names + bytes)."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            with open(os.path.join(d, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def generate(out_dir, sf, copies=1, only=None):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(sf, copies, only):
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return data_fp(out_dir)


if __name__ == "__main__":
    a = sys.argv[1:]
    if len(a) < 2:
        sys.exit(__doc__)
    print(generate(a[0], float(a[1]), int(a[2]) if len(a) > 2 else 1,
                   a[3].split(",") if len(a) > 3 else None))
