"""Seeded generator for the benchmark's input tables.

Writes one parquet file per table, in the column layout and with the
statistics of the engine's testdata (TPC-H-ish star schema, an `events`
stream, a `documents` corpus of 10-99 words drawn from a 30-word
technical vocabulary with 5% near-duplicates, and 64-dim unit
`embeddings` around ten labelled centres; README.md compares the two with
`datastats.py`), and for the /ask workloads a `queries.json` of
generated requests. The same seed and sizes give byte-identical files.

    python3 perfbench/gen.py <out_dir> --seed 7 --sf 0.01 [--docs N]
"""
import argparse
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old"]
PART_NOUN = ["ring", "bolt", "widget", "plate", "gear", "rod", "anvil"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
DAY_US = 86_400_000_000


def _ts(days_since_epoch_us):
    return pa.array(days_since_epoch_us, type=pa.timestamp("us"))


def _epoch_us(y, m, d):
    return int((dt.datetime(y, m, d) - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng, n):
    lens = rng.integers(10, 100, n)
    words = [rng.choice(len(VOCAB), k) for k in lens]
    texts = [" ".join(VOCAB[w] for w in ws) for ws in words]
    # 5% near-duplicates: an existing document with " dup" appended, so
    # the dedup stages have pairs to find (two near-duplicates of one
    # document are exact copies of each other, as in the testdata)
    for i in rng.choice(n, max(1, n // 20), replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n, dim=64, labels=10):
    centres = rng.normal(size=(labels, dim))
    lab = rng.integers(0, labels, n)
    v = centres[lab] + 1.5 * rng.normal(size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(lab, pa.int32()),
    })


def events(rng, n):
    start = _epoch_us(2024, 1, 1)
    gaps = rng.exponential(30 * DAY_US / n, n)
    ts = start + np.cumsum(gaps).astype(np.int64)
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, max(1, n // 67), n), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n).tolist(), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })


def tpch(rng, sf):
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust).tolist(), pa.string())})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, 7, n_part), rng.integers(0, 7, n_part))], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part).tolist(), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2))})
    o_start, o_days = _epoch_us(1995, 1, 1), 2404
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord).tolist(), pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _ts(o_start + rng.integers(0, o_days, n_ord) * DAY_US),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord).tolist(), pa.string())})
    flags = rng.integers(0, 6, n_li)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[flags // 2].tolist(), pa.string()),
        "l_linestatus": pa.array(np.array(["O", "F"])[flags % 2].tolist(), pa.string()),
        "l_shipdate": _ts(o_start + rng.integers(1, o_days + 95, n_li) * DAY_US)})
    return t


def windows(texts, width=8):
    """Non-overlapping `width`-word windows of each text, as
    (text index, window) pairs in text order."""
    out = []
    for i, t in enumerate(texts):
        w = t.split()
        out.extend((i, " ".join(w[o:o + width])) for o in range(0, len(w) - width + 1, width))
    return out


def ask_queries(texts, seed, workload, n_stream, n_warmup, n_gate=64, pool=256):
    """The requests of one /ask workload.

    `ask-miss`: distinct 8-word windows, one per chunk in a seeded chunk
    order before any chunk repeats, so the stream never asks the same
    thing twice. `ask-zipf`: draws with P(rank r) ~ 1/r from a seeded pool
    of `pool` windows taken from distinct chunks. `warmup` precedes the
    stream; `gate` is the build's recall-gate sample from the same pool.
    """
    rng = np.random.default_rng([seed, 1])
    by_chunk = {}
    for i, w in windows(texts):
        by_chunk.setdefault(i, []).append(w)
    order = [int(c) for c in rng.permutation(sorted(by_chunk))]
    seen, rounds = set(), []
    for k in range(max(len(v) for v in by_chunk.values())):
        for c in order:
            if k < len(by_chunk[c]) and by_chunk[c][k] not in seen:
                seen.add(by_chunk[c][k])
                rounds.append(by_chunk[c][k])
    if workload == "ask-miss":
        assert len(rounds) > n_warmup + 100, f"corpus has only {len(rounds)} distinct windows"
        picked = rounds[:n_warmup + n_stream]
        gate = [rounds[int(i)] for i in rng.choice(len(rounds), n_gate, replace=False)]
        return {"warmup": picked[:n_warmup], "stream": picked[n_warmup:], "gate": gate}
    zpool = rounds[:pool]
    p = 1.0 / np.arange(1, pool + 1)
    draws = rng.choice(pool, n_warmup + n_stream, p=p / p.sum())
    seq = [zpool[int(i)] for i in draws]
    return {"warmup": seq[:n_warmup], "stream": seq[n_warmup:], "gate": zpool[:n_gate]}


def generate(out_dir, seed, sf, docs=None):
    """All ten tables at scale `sf`; `docs` overrides the corpus size."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = tpch(rng, sf)
    tables["events"] = events(rng, int(1_000_000 * sf))
    tables["documents"] = documents(rng, docs or max(500, int(50_000 * sf)))
    tables["embeddings"] = embeddings(rng, max(500, int(20_000 * sf)))
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return tables


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--docs", type=int, default=None)
    a = ap.parse_args()
    print(" ".join(sorted(generate(a.out_dir, a.seed, a.sf, a.docs))))
