"""Checks of the program's outputs against computations made apart from
it: DuckDB oracles (through `tools/check.py`), DuckDB and numpy over the
generated corpus.  Each returns a list of problems; empty means the
outputs are right."""
import contextlib
import glob
import json
import os
import sys

import duckdb
import numpy as np
import pandas as pd

TOP_K = 10


def oracle_compare(root, data_dir, out_dir):
    """`tools/check.py`'s repr-faithful compare of every dumped result
    with its registry DuckDB oracle."""
    sys.path.insert(0, os.path.join(root, "tools"))
    try:
        import check
    finally:
        sys.path.pop(0)
    with contextlib.redirect_stdout(sys.stderr):
        rc = check.main(data_dir, out_dir)
    return [] if rc == 0 else [f"oracle compare failed in {out_dir}"]


def olap(root, data_dir, raw):
    c, x = raw["checks"], raw["extra"]
    problems = []
    if c["dumped"] != x["queries"]:
        problems.append(f"{x['queries'] - c['dumped']} results not dumped")
    return problems + oracle_compare(root, data_dir, c["out"])


def ingest(root, data_dir, raw, min_recall):
    """The gold dimension against q34's oracle, unique customers_latest
    keys after every pipeline run, and the corpus checks."""
    out = raw["checks"]["out"]
    problems = oracle_compare(root, data_dir, f"{out}/gold")
    dups = raw["extra"]["duplicate_keys"]
    if any(dups):
        problems.append(f"customers_latest has duplicate keys: {dups}")
    more, recall = corpus(os.path.join(data_dir, "corpus"), out, min_recall)
    return problems + more, recall


def _parquet_dir(path):
    return pd.concat([pd.read_parquet(p)
                      for p in sorted(glob.glob(f"{path}/*.parquet"))],
                     ignore_index=True)


def _vectors(files):
    ids, vecs = [], []
    for f in files:
        t = pd.read_parquet(f)
        ids.append(t.iloc[:, 0].to_numpy())
        vecs.append(np.stack(t["embedding"].to_numpy()).astype(np.float64))
    return np.concatenate(ids), np.vstack(vecs)


def _numbered(corpus_dir, prefix):
    files = glob.glob(os.path.join(corpus_dir, f"{prefix}_*.parquet"))
    return sorted(files, key=lambda f: int(f.rsplit("_", 1)[1].split(".")[0]))


def recall_at_10(corpus_dir, search_dir):
    """Mean share of each query's exact cosine top-10 (numpy brute force
    over the raw vectors) that the index returned in its top-10."""
    vec_ids, vecs = _vectors(_numbered(corpus_dir, "vecs"))
    q_ids, qs = _vectors(_numbered(corpus_dir, "queries"))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    qs /= np.linalg.norm(qs, axis=1, keepdims=True)
    exact = np.argsort(-(qs @ vecs.T), axis=1)[:, :TOP_K]
    got = _parquet_dir(search_dir)
    got = got[got["rnk"] <= TOP_K].groupby("q_id")["vec_id"].apply(set)
    hits = [len(got.get(q, set()) & set(vec_ids[row]))
            for q, row in zip(q_ids, exact)]
    return float(np.mean(hits)) / TOP_K


def corpus(corpus_dir, out, min_recall):
    """Exact dedup against DuckDB, planted copies against the near-dup
    decisions, and recall against brute force. Returns (problems,
    recall)."""
    problems = []
    docs = ", ".join(f"'{f}'" for f in _numbered(corpus_dir, "docs"))
    want = set(duckdb.connect().execute(
        f"SELECT min(doc_id) FROM read_parquet([{docs}]) GROUP BY "
        r"md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))")
        .df().iloc[:, 0])
    got = set(_parquet_dir(f"{out}/survivors")["doc_id"])
    if got != want:
        problems.append(f"dedup survivors differ from DuckDB: "
                        f"{len(got - want)} extra, {len(want - got)} missing")
    with open(os.path.join(corpus_dir, "planted.json")) as f:
        planted = set(json.load(f)["exact_copies"])
    dec = _parquet_dir(f"{out}/neardup")
    flagged = set(dec.loc[dec["is_dup"], "doc_id"])
    missed = planted - flagged
    if missed:
        problems.append(f"{len(missed)} of {len(planted)} planted exact "
                        f"copies not flagged by NearDupIndex")
    recall = recall_at_10(corpus_dir, f"{out}/search")
    if recall < min_recall:
        problems.append(f"recall@10 {recall:.3f} below {min_recall}")
    return problems, recall
