"""Seeded inputs for the benchmark.

`tables(dir, seed, sf)` writes the ten fixture tables graft's catalog
queries read (`<dir>/<table>.parquet`), with the schemas, key ranges and
value distributions of the reference fixture (FIXTURES.md): a TPC-H-like
star schema scaled by `sf`, plus `documents`, `embeddings` and `events`.

`text_dir(dir, seed, ...)` writes the word-count input of the MapReduce
workload: plain-text files of single-space-separated words that follow a
Zipf law over a vocabulary of a given size. It returns the exact word
histogram, the input's shape and the pairs the per-file combiner emits.

The same seed always gives the same bytes.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the data query table row column key value join group sort order "
         "merge hash scan filter agg window stream batch vector spark part "
         "line customer fast slow small big").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _write(d, name, cols):
    pq.write_table(pa.table(cols), os.path.join(d, f"{name}.parquet"),
                   compression="snappy")


def _days(rng, n, start, span):
    base = np.datetime64(start, "us")
    off = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(base + off, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(d, seed, sf):
    """Writes the fixture tables at scale factor `sf` under `d`."""
    os.makedirs(d, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_docs, n_vec, n_ev = max(500, int(50_000 * sf)), max(500, int(20_000 * sf)), int(1_000_000 * sf)

    _write(d, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                         "r_name": REGIONS})
    _write(d, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                         "n_name": [f"NATION_{i}" for i in range(25)],
                         "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(d, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    _write(d, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    keys = np.arange(n_part, dtype=np.int64)
    _write(d, "part", {
        "p_partkey": keys,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                               rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1)})
    _write(d, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", 2404),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    _write(d, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", 2496)})

    # Documents: uniform words over WORDS; ~5% are near-duplicates of an
    # earlier document (its words with the tail replaced by "dup") and a
    # few are exact copies, so the dedup operators have work to find.
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.05:
            words = texts[rng.integers(0, i)].split()
            k = 1 + int(rng.random() < 0.1)
            text = " ".join(words[:max(1, len(words) - k)] + ["dup"] * k)
        elif i > 10 and r < 0.052:
            text = texts[rng.integers(0, i)]
        else:
            text = " ".join(rng.choice(WORDS, rng.integers(10, 101)))
        texts.append(text)
    _write(d, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    # Embeddings: 64-dim unit vectors, weakly clustered around one of ten
    # label centroids (same-label cosine ~0.03, as in the reference data).
    labels = rng.integers(0, 10, n_vec).astype(np.int32)
    cent = rng.normal(size=(10, 64))
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    v = 0.185 * cent[labels] + rng.normal(scale=0.125, size=(n_vec, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(d, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": labels})

    # Events: ascending timestamps over 30 days from 2024-01-01 (µs),
    # one user per ~67 events, exponential values, {"k": int} props.
    start = np.datetime64("2024-01-01T00:00:00", "us")
    us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    n_users = max(15, n_ev // 67)
    _write(d, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(start + us.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})


def text_dir(d, seed, files, words_per_file, vocab, zipf_s):
    """Writes `files` text files of `words_per_file` single-space-separated
    words drawn from a Zipf(`zipf_s`) law over `vocab` distinct words.
    Returns (histogram, shape, pairs): the word counts the reference
    tokenizer (split on ' ' only) produces, a description of the input, and
    the (word, count) pairs the client's per-file combiner emits."""
    os.makedirs(d, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    ranks = np.arange(1, vocab + 1, dtype=np.float64)
    p = ranks ** -zipf_s
    p /= p.sum()
    lexicon = np.array([f"w{i:x}" for i in rng.permutation(vocab)])
    counts = np.zeros(vocab, dtype=np.int64)
    total_bytes = pairs = 0
    for f in range(files):
        idx = rng.choice(vocab, words_per_file, p=p)
        per_file = np.bincount(idx, minlength=vocab)
        counts += per_file
        pairs += int(np.count_nonzero(per_file))
        data = " ".join(lexicon[idx]).encode()
        total_bytes += len(data)
        with open(os.path.join(d, f"part-{f:05d}.txt"), "wb") as fh:
            fh.write(data)
    hist = {str(w): int(c) for w, c in zip(lexicon, counts) if c}
    shape = {"files": files, "bytes": total_bytes, "words": files * words_per_file,
             "vocab": vocab, "distinct_words": len(hist), "zipf_s": zipf_s}
    return hist, shape, pairs


if __name__ == "__main__":
    import sys
    import time
    t = time.time()
    tables(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
    print(f"{time.time() - t:.2f} s")
