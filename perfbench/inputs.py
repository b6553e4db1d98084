#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

    python3 perfbench/inputs.py --workload llm_corpus --seed 1 --out DIR [--tiny]

Writes every table as one parquet file `<dir>/<name>.parquet`, with the
schemas of the repository's test data (FIXTURES.md; what graft.Tables
reads and tools/parity.py opens):

    DIR/base/               the eight relational tables, plus documents
                            and embeddings of corpus 0
    DIR/corpus<c>/          llm_corpus only: corpus c's documents and
                            embeddings, the relational tables copied beside
    DIR/injected.json       llm_corpus only: {corpus: [[original, duplicate]...]}

The same seed always gives the same files. The engine only ever sees the
tables; the injected duplicate pairs are kept for the benchmark's recall
check.
"""
import argparse
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Benchmark scale: 40% of the sf0.01 test data's facts and 150-document
# corpora, because a run on a 4-core host has about a minute and the
# DuckDB oracles of the near-duplicate keys are all-pairs. Smoke scale
# is sf0.001 facts.
SIZES = {
    "bench": dict(lineitem=24000, customers=600, parts=800, suppliers=40,
                  events=4000, docs=150, vectors=300, corpora=5),
    "tiny": dict(lineitem=6000, customers=150, parts=200, suppliers=10,
                 events=1000, docs=120, vectors=60, corpora=5),
}
SHARED = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events"]
# l_shipdate covers exactly the 17 months (12 initial + 5 rounds) one
# snapshot_ingest pass ingests, 1995-01-01 .. 1996-05-31, so every
# lineitem row is ingested.
SHIP_DAYS = 517
DUP_SHARE = 0.2      # share of a corpus that duplicates its own documents
EXACT_SHARE = 0.35   # of the duplicates: verbatim copies; the rest edit one token
SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa",
             "do", "fi", "gu", "ha", "je", "ku", "ma", "no", "pe", "ri"]
VOCAB = np.array([a + b + c for c in SYLLABLES for b in SYLLABLES for a in SYLLABLES])
US_PER_DAY = 86400 * 1000000


def rng(seed, *salt):
    return np.random.default_rng([seed, *salt])


def write(table, directory, name):
    pq.write_table(table, os.path.join(directory, f"{name}.parquet"))


def days(g, n, start, span):
    offs = g.integers(0, span, n).astype("int64") * US_PER_DAY
    return pa.array(np.datetime64(start, "us") + offs.astype("timedelta64[us]"),
                    pa.timestamp("us"))


def shared_tables(seed, z):
    n_li, n_ord = z["lineitem"], max(1, z["lineitem"] // 4)
    g = rng(seed, 1)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = z["customers"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(g.integers(0, 25, n), pa.int32()),
        "c_acctbal": np.round(g.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": g.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], n)})
    n = z["suppliers"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(g.integers(0, 25, n), pa.int32()),
        "s_acctbal": np.round(g.uniform(-999.99, 9999.99, n), 2)})
    n = z["parts"]
    adj = g.choice(["small", "red", "blue", "cold", "big", "green"], n)
    noun = g.choice(["widget", "bolt", "ring", "gear", "valve", "panel"], n)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in g.integers(1, 26, n)],
        "p_type": g.choice(["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"], n),
        "p_size": pa.array(g.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 2000) / 10.0, 2)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(g.integers(0, z["customers"], n_ord), pa.int64()),
        "o_orderstatus": g.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(g.uniform(1000.0, 501000.0, n_ord), 2),
        "o_orderdate": days(g, n_ord, "1995-01-01", 2400),
        "o_orderpriority": g.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    ids = np.arange(n_li)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(ids // 4, pa.int64()),
        "l_partkey": pa.array(g.integers(0, z["parts"], n_li), pa.int64()),
        "l_suppkey": pa.array(g.integers(0, z["suppliers"], n_li), pa.int64()),
        "l_linenumber": pa.array(ids % 4 + 1, pa.int32()),
        "l_quantity": g.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(g.uniform(1000.0, 100000.0, n_li), 2),
        "l_discount": g.integers(0, 11, n_li) / 100.0,
        "l_tax": g.integers(0, 9, n_li) / 100.0,
        "l_returnflag": g.choice(["A", "N", "R"], n_li),
        "l_linestatus": g.choice(["F", "O"], n_li),
        "l_shipdate": days(g, n_li, "1995-01-01", SHIP_DAYS)})
    n = z["events"]
    step = 29 * US_PER_DAY // n
    ts = np.datetime64("2024-01-01", "us") + \
        (np.arange(n) * step + g.integers(0, step, n)).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(g.integers(0, 50, n), pa.int64()),
        "event_type": g.choice(["click", "error", "purchase", "signup", "view"], n),
        "value": np.round(g.uniform(0.0, 200.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n)]})
    return t


def documents(seed, c, n):
    """Corpus c: originals drawn log-uniformly (Zipf-like) from 8,000
    words, 80-159 tokens each, then DUP_SHARE duplicates of originals:
    verbatim copies, or copies with one token replaced by a token no
    other document has (token-set Jaccard >= 0.95 at these lengths)."""
    g = rng(seed, 2, c)
    originals = max(1, int(n * (1 - DUP_SHARE)))
    texts, injected = [], []
    for i in range(n):
        if i < originals:
            length = int(g.integers(80, 160))
            idx = np.floor(np.exp(g.random(length) * np.log(len(VOCAB)))).astype(int) - 1
            texts.append(list(VOCAB[idx]))
        else:
            src = int(g.integers(0, originals))
            toks = list(texts[src])
            if g.random() >= EXACT_SHARE:
                toks[int(g.integers(0, len(toks)))] = f"zq{i}"
            texts.append(toks)
            injected.append((src, i))
    text = [" ".join(t) for t in texts]
    table = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": text,
        "lang": g.choice(["de", "en", "es", "fr", "zh"], n),
        "source": [f"src{k}" for k in g.integers(0, 20, n)],
        "n_chars": pa.array([len(s) for s in text], pa.int64())})
    return table, injected


def embeddings(seed, c, n):
    """64-dim vectors around ten seeded centroids, perturbed per corpus."""
    centroids = rng(seed, 3).uniform(-0.5, 0.5, (10, 64))
    g = rng(seed, 4, c)
    label = g.integers(0, 10, n)
    vec = (centroids[label] + 0.6 * g.uniform(-0.5, 0.5, (n, 64))).astype("float32")
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


def generate(workload, seed, out, tiny=False):
    z = SIZES["tiny" if tiny else "bench"]
    base = os.path.join(out, "base")
    os.makedirs(base, exist_ok=True)
    for name, table in shared_tables(seed, z).items():
        write(table, base, name)
    write(documents(seed, 0, z["docs"])[0], base, "documents")
    write(embeddings(seed, 0, z["vectors"]), base, "embeddings")
    if workload != "llm_corpus":
        return
    injected = {}
    for c in range(z["corpora"]):
        d = os.path.join(out, f"corpus{c}")
        os.makedirs(d, exist_ok=True)
        docs, pairs = documents(seed, c, z["docs"])
        write(docs, d, "documents")
        write(embeddings(seed, c, z["vectors"]), d, "embeddings")
        for name in SHARED:
            shutil.copyfile(os.path.join(base, f"{name}.parquet"),
                            os.path.join(d, f"{name}.parquet"))
        injected[str(c)] = pairs
    with open(os.path.join(out, "injected.json"), "w") as f:
        json.dump(injected, f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--out", required=True)
    ap.add_argument("--tiny", action="store_true")
    a = ap.parse_args()
    t0 = time.time()
    generate(a.workload, a.seed, a.out, a.tiny)
    print(f"inputs_s={time.time() - t0:.3f}")


if __name__ == "__main__":
    main()
