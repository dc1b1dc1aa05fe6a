"""Deterministic generator for the query-mix inputs of the benchmark.

Writes the `lineitem`, `events`, `documents` and `embeddings` tables that
the llm_corpus queries read, one parquet file per table, with the column
names and types the loaders in `graft.model.Tables` expect. Each table has
its own generator stream from a fixed seed (GEN_SEED), so the tables, and
with them the pinned per-query digests in `pins/llm_corpus.tsv`, are the
same on every run; the benchmark's `--seed` only shuffles the query order.

Usage: python3 perfbench/gen_data.py <out_dir> [scale_factor]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 20240101
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = ("a the key agg row scan slow fast table value part hash batch window "
         "spark order data column join small line customer query filter sort "
         "group big merge stream vector").split()


def _ts_ms(days: np.ndarray, origin: str) -> pa.Array:
    base = np.datetime64(origin, "ms")
    return pa.array(base + days.astype("timedelta64[D]").astype("timedelta64[ms]"),
                    type=pa.timestamp("ms"))


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def generate(out: str, sf: float) -> None:
    os.makedirs(out, exist_ok=True)
    # TPC-H key ranges: lineitem references this many orders, parts, suppliers
    n_ord, n_part, n_supp = int(1_500_000 * sf), int(200_000 * sf), int(10_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)

    rng = np.random.default_rng([GEN_SEED, 1])
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts_ms(rng.integers(1, 2455, n_line), "1995-01-01")})

    # events span about 30 days whatever the scale
    rng = np.random.default_rng([GEN_SEED, 2])
    gaps_us = rng.exponential(30 * 86400e6 / n_ev, n_ev).astype(np.int64) + 1
    ts = np.datetime64("2024-01-01T00:00:00", "us") + \
        np.cumsum(gaps_us).astype("timedelta64[us]")
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, max(2, n_ev // 66), n_ev, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    # documents: word soup over a small vocabulary; 6 % are near-copies of
    # an earlier document (a few words replaced) and 0.5 % exact copies, so
    # the dedup and near-duplicate operators have real work to find
    rng = np.random.default_rng([GEN_SEED, 3])
    words = np.array(VOCAB)
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.005:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.065:
            toks = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[j] = str(words[rng.integers(0, len(words))])
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words),
                                                     int(rng.integers(8, 90)))]))
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    # embeddings: 64-dim unit vectors around 10 label centroids
    rng = np.random.default_rng([GEN_SEED, 4])
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_emb, dtype=np.int32)
    vecs = centers[labels] + rng.normal(0.0, 1.6, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              type=pa.list_(pa.float32())),
        "label": labels})


if __name__ == "__main__":
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    generate(sys.argv[1], float(sys.argv[2]) if len(sys.argv) == 3 else 0.1)
