"""Deterministic synthetic catalog for the benchmark.

Writes the ten tables the engine's catalog expects (``region`` ...
``embeddings``, one parquet file each) with the same schemas and value
domains as the project's test catalogs: a TPC-H-like star schema, an
``events`` table, a near-duplicate-rich ``documents`` corpus over a
30-word vocabulary, and clustered unit-norm ``embeddings``.

The catalog depends only on ``(scale, data_seed)``; the benchmark keeps
both fixed so the stored reference digests apply to every run, and its
``--seed`` permutes the operation order instead.

A second generator, :func:`ingest_corpus`, builds the streaming-ingest
input: documents over a large vocabulary whose near-duplicate structure
is unambiguous (a planted copy has exactly its original's token set;
unrelated documents share few tokens), so which documents survive
dedup is a pure function of arrival order and is computed exactly by
:func:`ingest_survivors`.
"""
from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the data table row column key value join hash sort merge group agg "
    "filter scan query batch stream window order line part customer vector "
    "spark big small fast slow"
).split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, n: int, start: datetime, span_days: int) -> pa.Array:
    d = rng.integers(0, span_days, n)
    base = np.datetime64(start, "us")
    return pa.array(base + d.astype("timedelta64[D]"), pa.timestamp("us"))


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _documents(rng, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document, sometimes marked
            src = texts[int(rng.integers(i))]
            texts.append(src + " dup" if rng.random() < 0.5 else src)
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(WORDS, k)))
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int, dim: int = 64, labels: int = 10) -> dict:
    cent = rng.normal(size=(labels, dim))
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    lab = rng.integers(0, labels, n)
    vec = 0.15 * cent[lab] + rng.normal(scale=1 / 8, size=(n, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
        "label": lab.astype(np.int32),
    }


def write_catalog(out: str, scale: float = 0.01, data_seed: int = 42) -> None:
    """Write the ten catalog tables under ``out`` (created if absent)."""
    rng = np.random.default_rng(data_seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp = int(150_000 * scale), int(10_000 * scale)
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_ev, n_docs = int(1_000_000 * scale), int(50_000 * scale)
    n_users, n_vec = int(15_000 * scale), int(50_000 * scale)

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    pk = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(P_ADJ, n_part), rng.choice(P_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1),
    })
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, datetime(1995, 1, 1), 2405),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    per_order = rng.integers(1, 8, n_ord)
    n_li = int(per_order.sum())
    _write(out, "lineitem", {
        "l_orderkey": np.repeat(np.arange(n_ord, dtype=np.int64), per_order),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": np.concatenate(
            [np.arange(1, k + 1) for k in per_order]).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, datetime(1995, 1, 2), 2499),
    })
    start = np.datetime64(datetime(2024, 1, 1), "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev))
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    _write(out, "documents", _documents(rng, n_docs))
    _write(out, "embeddings", _embeddings(rng, n_vec))


# --- streaming ingest input -------------------------------------------


def ingest_corpus(n: int, data_seed: int = 7) -> tuple[dict, np.ndarray]:
    """Documents for the ingest workload plus each one's duplicate
    cluster id. About a fifth of the documents are planted copies of an
    earlier one: same token set, words shuffled and one repeated, so
    their Jaccard similarity is exactly 1. Originals draw 40 tokens from
    a 5,000-word vocabulary, so two unrelated documents have Jaccard
    near 0.004, far below any dedup threshold."""
    rng = np.random.default_rng(data_seed)
    vocab = np.array([f"w{i}" for i in range(5000)])
    texts: list[str] = []
    cluster = np.empty(n, dtype=np.int64)
    for i in range(n):
        if i > 0 and rng.random() < 0.2:
            j = int(rng.integers(i))
            toks = texts[j].split()
            toks = list(rng.permutation(toks)) + [toks[0]]
            texts.append(" ".join(toks))
            cluster[i] = cluster[j]
        else:
            texts.append(" ".join(rng.choice(vocab, 40, replace=False)))
            cluster[i] = i
    ids = np.arange(n, dtype=np.int64)
    docs = {
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    return docs, cluster


def split_batches(n: int, n_batches: int, seed: int) -> list[np.ndarray]:
    """Seeded document-to-batch split: a permutation of the document
    ids cut into ``n_batches`` equal slices."""
    order = np.random.default_rng(seed).permutation(n)
    return np.array_split(order, n_batches)


def ingest_survivors(batches: list[np.ndarray], cluster: np.ndarray) -> set[int]:
    """Doc ids the dedup ingest must keep: each duplicate cluster is
    represented by its smallest doc id within the first batch that
    carries any member (within a batch the smaller id of a verified
    pair is kept; across batches the already-ingested one is)."""
    seen: set[int] = set()
    keep: set[int] = set()
    for b in batches:
        first: dict[int, int] = {}
        for d in sorted(int(x) for x in b):
            c = int(cluster[d])
            if c not in seen and c not in first:
                first[c] = d
        keep.update(first.values())
        seen.update(first)
    return keep


def write_ingest_batches(
    out: str, docs: dict, batches: list[np.ndarray]
) -> None:
    """One parquet file per batch, named so the file source reads them
    in batch order (one per trigger)."""
    os.makedirs(out, exist_ok=True)
    table = pa.table(docs)
    t0 = datetime(2024, 1, 1).timestamp()
    for i, b in enumerate(batches):
        path = os.path.join(out, f"part-{i:04d}.parquet")
        pq.write_table(table.take(pa.array(np.sort(b))), path)
        # the file source orders by modification time, then path
        os.utime(path, (t0 + i, t0 + i))

