#!/usr/bin/env python3
"""Seeded generator of the benchmark's inputs.

Writes the star-schema tables (region, nation, customer, supplier, part,
orders, lineitem), the `events` stream table, and the `documents` and
`embeddings` corpus tables at a scale factor, with the same schemas and
value domains as the engine's testdata.  Every table is one parquet file
with one row group, so a Spark scan of it is one task, as it is on the
testdata.  The same seed and scale always give the same files.

From the `documents` and `embeddings` tables it then derives the
corpus workload's inputs (`--corpus`): document batches with planted
exact copies and word-edited near-copies, vector batches with perturbed
copies, and query chunks of perturbed vectors; each batch is again one
file with one row group.

    python3 perfbench/gen.py --seed 1 --sf 0.1 --out <dir> [--corpus <dir>]
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMB_DIMS = 64

# corpus make-up
DOC_BATCHES = 2          # base documents split into this many batches
EXACT_RATE = 0.10        # planted byte-identical copies, per batch size
NEAR_RATE = 0.10         # planted near-copies (two words replaced)
VEC_BATCHES = 2          # first builds the index, the rest are appended
VEC_COPY_RATE = 0.5      # perturbed copies of earlier vectors, per batch
VEC_NOISE = 0.05         # per-dimension noise before re-normalising
N_QUERIES = 10           # perturbed copies of corpus vectors
QUERY_CHUNK = 10         # queries per search call
QUERY_ID_BASE = 10 ** 9  # query ids never collide with vector ids
BATCH_ID_STRIDE = 10 ** 6

DAY = np.timedelta64(1, "D")
ORDER_LO = np.datetime64("1995-01-01")
ORDER_HI = np.datetime64("2001-08-01")
SHIP_LO = np.datetime64("1995-01-02")
SHIP_HI = np.datetime64("2001-11-04")
EVENT_LO = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 86400 * 1_000_000


def money(rng, lo, hi, n):
    """Uniform 2-decimal amounts in [lo, hi]."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def dates(rng, lo, hi, n):
    days = rng.integers(0, int((hi - lo) / DAY) + 1, n)
    return (lo + days * DAY).astype("datetime64[us]")


def pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def write(out, name, cols):
    table = pa.table(cols)
    # one row group per file, like the testdata
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows))


def documents(rng, n):
    """Bag-of-words documents; 5% are an earlier document plus ' dup'."""
    lengths = rng.integers(8, 101, n)
    words = pick(rng, VOCAB, int(lengths.sum()))
    texts, pos = [], 0
    for i, k in enumerate(lengths):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[pos:pos + k]))
        pos += k
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": pick(rng, LANGS, n, LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def unit_vectors(rng, n):
    v = rng.standard_normal((n, EMB_DIMS))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def embedding_column(vectors):
    flat = pa.array(vectors.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, vectors.size + 1, EMB_DIMS,
                                 dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


def generate(seed, sf, out):
    os.makedirs(out, exist_ok=True)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_line = max(10, int(6_000_000 * sf))
    n_evt = max(10, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    write(out, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    write(out, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    rng = np.random.default_rng([seed, 1])
    write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pick(rng, SEGMENTS, n_cust)})
    rng = np.random.default_rng([seed, 2])
    write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    rng = np.random.default_rng([seed, 3])
    write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(pick(rng, PART_ADJ, n_part),
                                              pick(rng, PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0})
    rng = np.random.default_rng([seed, 4])
    write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": pick(rng, STATUSES, n_ord),
        "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": dates(rng, ORDER_LO, ORDER_HI, n_ord),
        "o_orderpriority": pick(rng, PRIORITIES, n_ord)})
    rng = np.random.default_rng([seed, 5])
    write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, n_line),
        "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": pick(rng, ["F", "O"], n_line),
        "l_shipdate": dates(rng, SHIP_LO, SHIP_HI, n_line)})
    rng = np.random.default_rng([seed, 6])
    offsets = np.sort(rng.integers(0, EVENT_SPAN_US, n_evt))
    write(out, "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": EVENT_LO + offsets.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_evt).astype(np.int64),
        "event_type": pick(rng, EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    rng = np.random.default_rng([seed, 7])
    write(out, "documents", documents(rng, n_docs))
    rng = np.random.default_rng([seed, 8])
    write(out, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": embedding_column(unit_vectors(rng, n_vecs)),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32)})


def perturb(rng, v):
    w = v + rng.normal(0.0, VEC_NOISE, v.shape)
    return (w / np.linalg.norm(w, axis=1, keepdims=True)).astype(np.float32)


def corpus(seed, base, out):
    """Corpus batches from the generated `documents` and `embeddings`.

    Document ids grow with the batch, so the first copy of a text (the
    one dedup keeps) is its smallest id.  The planted exact-copy ids,
    which the near-dup index must all flag, go to `planted.json`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 9])
    texts = pq.read_table(os.path.join(base, "documents.parquet"),
                          columns=["text"])["text"].to_pylist()
    seen, exact = [], []
    for b, chunk in enumerate(np.array_split(np.arange(len(texts)),
                                             DOC_BATCHES)):
        batch = [texts[i] for i in chunk]
        seen.extend(batch)
        n_exact = int(len(batch) * EXACT_RATE)
        n_near = int(len(batch) * NEAR_RATE)
        for src in rng.integers(0, len(seen), n_exact):
            batch.append(seen[src])
        for src in rng.integers(0, len(seen), n_near):
            words = seen[src].split(" ")
            for pos in rng.integers(0, len(words), 2):
                words[pos] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            batch.append(" ".join(words))
        ids = b * BATCH_ID_STRIDE + np.arange(len(batch), dtype=np.int64)
        base_n = len(chunk)
        exact.extend(int(i) for i in ids[base_n:base_n + n_exact])
        write(out, f"docs_{b}", {"doc_id": ids, "text": batch})

    emb = pq.read_table(os.path.join(base, "embeddings.parquet"),
                        columns=["embedding"])["embedding"]
    vecs = np.asarray(emb.combine_chunks().flatten(),
                      dtype=np.float32).reshape(-1, EMB_DIMS)
    pool = np.zeros((0, EMB_DIMS), dtype=np.float32)
    for b, chunk in enumerate(np.array_split(np.arange(len(vecs)),
                                             VEC_BATCHES)):
        pool = np.vstack([pool, vecs[chunk]])
        n_copy = int(len(chunk) * VEC_COPY_RATE)
        copies = perturb(rng, pool[rng.integers(0, len(pool), n_copy)])
        batch = np.vstack([vecs[chunk], copies])
        pool = np.vstack([pool, copies])
        ids = b * BATCH_ID_STRIDE + np.arange(len(batch), dtype=np.int64)
        write(out, f"vecs_{b}", {"vec_id": ids,
                                 "embedding": embedding_column(batch)})
    queries = perturb(rng, pool[rng.integers(0, len(pool), N_QUERIES)])
    for c in range(0, N_QUERIES, QUERY_CHUNK):
        q = queries[c:c + QUERY_CHUNK]
        write(out, f"queries_{c // QUERY_CHUNK}", {
            "q_id": QUERY_ID_BASE + np.arange(c, c + len(q), dtype=np.int64),
            "embedding": embedding_column(q)})
    with open(os.path.join(out, "planted.json"), "w") as f:
        json.dump({"exact_copies": exact}, f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--out", required=True)
    ap.add_argument("--corpus", help="also write the corpus batches here")
    a = ap.parse_args()
    generate(a.seed, a.sf, a.out)
    if a.corpus:
        corpus(a.seed, a.out, a.corpus)


if __name__ == "__main__":
    main()
