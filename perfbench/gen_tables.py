"""Seeded generator of the engine tables the engine_mix workload reads.

Writes `documents.parquet`, `embeddings.parquet` and `events.parquet`
with the schemas of the repository's test tables (TESTDATA.md), so the
same loaders (`graft.Tables`) and the same oracle SQL apply:

    documents  (doc_id BIGINT, text VARCHAR, lang VARCHAR,
                source VARCHAR, n_chars BIGINT)
    embeddings (vec_id BIGINT, embedding FLOAT[64], label INTEGER)
    events     (event_id BIGINT, ts TIMESTAMP, user_id BIGINT,
                event_type VARCHAR, value DOUBLE, props VARCHAR)

Shapes: documents are 10-100 words drawn uniformly from a 30-word
vocabulary, in 5 languages and 20 round-robin sources; 5% are an
earlier document's text plus " dup", so the dedup queries find pairs.
Embeddings are unit-norm Gaussian vectors with a label in 0..9. Events
arrive as a Poisson stream over 30 days from 1,500 users, 5 event types,
exponential values rounded to cents and a small JSON `props`.

Usage: python3 gen_tables.py <out_dir> <seed> [scale]
(scale 1 = 5,000 documents, 2,000 embeddings, 100,000 events)
"""
import os
import sys

import duckdb
import numpy as np
import pandas as pd

N_DOCS, N_VECS, N_EVENTS = 5000, 2000, 100000
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS, LANG_P = ["en", "zh", "es", "fr", "de"], [0.4, 0.15, 0.15, 0.15, 0.15]
DUP_P = 0.05
DIM = 64
USERS = 1500
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
SPAN_US = 30 * 86400 * 10 ** 6
START_US = 1704067200 * 10 ** 6  # 2024-01-01 00:00:00 UTC


def documents(rng, n):
    texts, lens = [], rng.integers(10, 101, n)
    for i in range(n):
        if i > 0 and rng.random() < DUP_P:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, lens[i])))
    ids = np.arange(n, dtype=np.int64)
    return pd.DataFrame({
        "doc_id": ids, "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def embeddings(rng, n):
    x = rng.standard_normal((n, DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": [row.astype(np.float64).tolist() for row in x],
        "label": rng.integers(0, 10, n).astype(np.int32)})


def events(rng, n):
    arrivals = np.cumsum(rng.exponential(1.0, n))
    ts = START_US + (arrivals * ((SPAN_US - 1) / arrivals[-1])).astype(np.int64)
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64), "ts_us": ts,
        "user_id": rng.integers(0, USERS, n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def generate(out, seed, scale=1.0):
    """Writes the three tables under `out`; the same seed gives the same rows."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 17])
    docs = documents(rng, int(N_DOCS * scale))
    vecs = embeddings(rng, int(N_VECS * scale))
    evs = events(rng, int(N_EVENTS * scale))
    con = duckdb.connect()
    for name, sql in [
            ("documents", "SELECT doc_id, text, lang, source, n_chars FROM docs"),
            ("embeddings", "SELECT vec_id, CAST(embedding AS FLOAT[]) AS embedding,"
                           " label FROM vecs"),
            ("events", "SELECT event_id, make_timestamp(ts_us) AS ts, user_id,"
                       " event_type, value, props FROM evs")]:
        con.execute(f"COPY ({sql} ORDER BY 1) TO '{out}/{name}.parquet' (FORMAT parquet)")
    con.close()
    return out


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]) if len(sys.argv) > 3 else 1.0)
