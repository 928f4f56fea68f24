"""Seeded input generators for the benchmark workloads.

Each generator writes parquet tables in the schemas of the engine's
test data (TESTDATA.md) into one directory. The same seed gives the same
bytes, so `manifest()` can digest them for the run record.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00
HOUR_US = 3600 * 1_000_000


def _write(out, name, table):
    pq.write_table(table, os.path.join(out, name + ".parquet"))


# --- station frame --------------------------------------------------------

def stations(out, seed, n_series, n_points):
    """Long-format hourly station readings in the `events` schema, one
    series per `user_id`. A diurnal baseline with noise carries planted
    storms, +/-150..250 spikes and valleys, flat segments, extreme
    values, extreme level changes, NaN runs and missing hours, so every
    detector has events to find in every series."""
    rng = np.random.default_rng(seed)
    hours = np.arange(n_points)
    phase = rng.uniform(0, 2 * np.pi, size=(n_series, 1))
    v = 40 + 15 * np.sin(2 * np.pi * hours / 24 + phase) \
        + rng.normal(0, 9, size=(n_series, n_points))
    keep = np.ones((n_series, n_points), dtype=bool)
    per = max(1, n_points // 250)  # planted features per kind per series
    for s in range(n_series):
        row = v[s]
        for _ in range(per):  # storms: 6-30 wet hours of 60-140
            a = rng.integers(0, n_points - 30)
            row[a:a + rng.integers(6, 31)] = rng.uniform(60, 140)
        for _ in range(per):  # flat segments
            a = rng.integers(0, n_points - 20)
            row[a:a + rng.integers(4, 20)] = rng.uniform(10, 60)
        for _ in range(2 * per):  # single-point spikes and valleys
            a = rng.integers(1, n_points - 1)
            row[a] += rng.choice([-1.0, 1.0]) * rng.uniform(150, 250)
        for _ in range(per):  # extreme values above the 300 ceiling
            a = rng.integers(0, n_points - 5)
            row[a:a + rng.integers(1, 5)] = rng.uniform(310, 400)
        for _ in range(per):  # extreme level changes
            a = rng.integers(0, n_points - 12)
            row[a:a + rng.integers(3, 12)] += rng.uniform(200, 260)
        for _ in range(per):  # NaN runs
            a = rng.integers(0, n_points - 10)
            row[a:a + rng.integers(1, 10)] = np.nan
        for _ in range(per):  # missing hours, some longer than 6 h
            a = rng.integers(1, n_points - 13)
            keep[s, a:a + rng.integers(1, 13)] = False
    sid, hr = np.nonzero(keep)
    n = len(sid)
    ts = EPOCH_US + hr.astype(np.int64) * HOUR_US
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(sid.astype(np.int64) + 1),
        "event_type": pa.array(np.full(n, "reading", dtype=object), type=pa.string()),
        "value": pa.array(np.round(v[keep], 2)),
        "props": pa.array(np.full(n, "{}", dtype=object), type=pa.string()),
    })
    _write(out, "events", table)


# --- corpus ---------------------------------------------------------------

WORDS = ("a the data spark query table column row key value part line order "
         "customer sort hash join group agg filter scan window stream batch "
         "merge vector fast slow big small index cache shuffle stage task job "
         "plan node edge graph rank score token text word doc label model "
         "train test split batch input output read write load save file block "
         "page memory disk").split()
LANGS = np.array(["en", "zh", "es", "fr", "de"], dtype=object)


def corpus(out, seed, n_docs, n_vecs, dim=64):
    """`documents` + `embeddings` in the test data schemas. In every block
    of 40 documents, the 2nd and 3rd copy the 1st with one token
    replaced, so 5% of documents sit in three-document near-duplicate
    families (Jaccard ~0.9) of the same shape for every seed; the rest
    are random 40-100-token documents. 1% of vectors copy the previous
    vector with component 0 shifted by 0.07 (cosine ~0.999); the rest
    are random unit vectors."""
    rng = np.random.default_rng(seed)
    words = np.array(WORDS, dtype=object)
    toks = []
    for i in range(n_docs):
        if i % 40 in (1, 2):
            t = list(toks[i - i % 40])
            t[rng.integers(0, len(t))] = words[rng.integers(0, len(words))]
        else:
            t = list(words[rng.integers(0, len(words), size=rng.integers(40, 101))])
        toks.append(t)
    text = [" ".join(t) for t in toks]
    lang = rng.choice(LANGS, size=n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(text, type=pa.string()),
        "lang": pa.array(lang, type=pa.string()),
        "source": pa.array(["src%d" % s for s in rng.integers(0, 20, size=n_docs)], type=pa.string()),
        "n_chars": pa.array(np.array([len(s) for s in text], dtype=np.int64)),
    })
    _write(out, "documents", docs)

    x = rng.normal(size=(n_vecs, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    dup = np.nonzero(rng.random(n_vecs) < 0.01)[0]
    dup = dup[dup > 0]
    x[dup] = x[dup - 1]
    x[dup, 0] += 0.07
    flat = pa.array(x.astype(np.float32).ravel(), type=pa.float32())
    offsets = pa.array(np.arange(0, (n_vecs + 1) * dim, dim, dtype=np.int32))
    embs = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, size=n_vecs).astype(np.int32)),
    })
    _write(out, "embeddings", embs)


def manifest(out):
    """Row count and content digest of every table in `out`."""
    state = {}
    for f in sorted(os.listdir(out)):
        if f.endswith(".parquet"):
            path = os.path.join(out, f)
            with open(path, "rb") as fh:
                digest = hashlib.sha256(fh.read()).hexdigest()[:16]
            state[f[:-len(".parquet")]] = {
                "rows": pq.ParquetFile(path).metadata.num_rows, "sha256": digest}
    return state


# --- orders table ---------------------------------------------------------

DAY_US = 86400 * 1_000_000


def orders(out, seed, sf):
    """The engine's TPC-H-style `orders` table with the test data's
    uniform value distributions at scale `sf` (sf 0.1: 150k orders over
    15k customers)."""
    rng = np.random.default_rng(seed)
    n_cust, n_ord = int(150_000 * sf), int(1_500_000 * sf)
    order_days = rng.integers(9131, 11535 + 1, size=n_ord)  # 1995-01-01 .. 2001-08-01
    _write(out, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n_ord), 2)),
        "o_orderdate": pa.array(order_days.astype(np.int64) * DAY_US, type=pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord))}))
