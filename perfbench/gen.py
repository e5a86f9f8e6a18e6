"""Seeded input generator: writes the fixture schema as parquet files.

The benchmark's program only ever sees these generated files.  The shape
follows the repository's reference fixture at the same scale factor:

* ``orders``: ``150_000 * sf`` customers, ten orders per customer on
  average, uniform status ``P``/``O``/``F`` (a third obsolete), order dates
  uniform over 1995-01-01 .. 2001-08-01;
* ``lineitem``: Poisson(4) lines per order, so about 1.8 % of orders have
  no entity link; ``l_partkey`` uniform over ``200_000 * sf`` parts, which
  gives about 30 documents per person entity;
* ``customer``: distinct ``Customer#<key>`` names (no blocking-key
  collisions, as in the fixture), 25 nations, balances uniform over
  [-999.99, 9999.99];
* ``documents``: texts of 10..99 tokens over a 30-word vocabulary, with
  about 4.8 % planted near-duplicates (an earlier document's text with a
  ``dup`` token appended or removed; 476 of 500 fixture documents survive
  near-dedup);
* ``region``, ``nation``, ``supplier``, ``part``, ``events`` and
  ``embeddings`` are generated too, so every raw table the program and its
  DuckDB twins open exists;
* ``ingest_batch``: the documents one streaming-ingest drain appends to
  its manifest (not a fixture table): token-unique documents the app must
  admit; exact copies and near-duplicates of corpus documents and one
  short document it must reject; and the expected verdict of each.

The same (seed, sf) always writes byte-identical files.  Every workload
runs at ``SF``.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "the a fast slow big small key order sort table scan merge part window "
    "hash join batch stream spark group query row data filter customer line "
    "value agg column vector"
).split()
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
ADJ = ("cold", "small", "large", "red", "blue", "green", "bright", "plain")
NOUN = ("widget", "bolt", "gear", "valve", "panel", "spring", "lever", "pipe")

#: the scale factor of every workload's inputs
SF = 0.001
#: share of documents planted as near-duplicates of an earlier document
NEAR_DUP_SHARE = 0.048
#: one ingest drain: fresh documents, exact copies and near-duplicates
#: of corpus documents, tokens per fresh document (the app's quality gate
#: needs 5), first doc_id
INGEST_FRESH, INGEST_COPIES, INGEST_NEAR_DUPS = 30, 3, 3
INGEST_TOKENS, INGEST_FIRST_ID = 20, 10_000_000
NEAR_DUP_MIN_TOKENS = 40
EPOCH_1995 = np.datetime64("1995-01-01", "D")
ORDER_DAYS = int((np.datetime64("2001-08-01", "D") - EPOCH_1995).astype(int))


def shape(sf: float) -> dict[str, int]:
    """Row counts of the fixture at scale factor ``sf``."""
    return {
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _days(rng: np.random.Generator, n: int) -> np.ndarray:
    d = EPOCH_1995 + rng.integers(0, ORDER_DAYS + 1, n).astype("timedelta64[D]")
    return d.astype("datetime64[us]")


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < NEAR_DUP_SHARE:
            src = texts[int(rng.integers(0, i))]
            texts.append(src[:-4] if src.endswith(" dup") else src + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _ingest_batch(rng: np.random.Generator, corpus: pa.Table) -> pa.Table:
    """Fresh documents are made of tokens no other document has, so no
    exact or near-duplicate check can reject them.  Copies repeat a corpus
    text byte for byte.  Near-duplicates append one token to a corpus text
    of at least NEAR_DUP_MIN_TOKENS tokens, so their word-shingle Jaccard
    with it is above 0.97 and MinHash-LSH cannot miss them.  The short
    document fails the quality gate."""
    texts, admitted = [], []
    for i in range(INGEST_FRESH):
        texts.append(" ".join(f"w{i}x{j}r{rng.integers(10**6)}" for j in range(INGEST_TOKENS)))
        admitted.append(True)
    corpus_texts = corpus.column("text").to_pylist()
    for k in rng.choice(len(corpus_texts), INGEST_COPIES, replace=False):
        texts.append(corpus_texts[int(k)])
        admitted.append(False)
    long_texts = [t for t in corpus_texts if len(t.split()) >= NEAR_DUP_MIN_TOKENS]
    for k in rng.choice(len(long_texts), INGEST_NEAR_DUPS, replace=False):
        texts.append(long_texts[int(k)] + " extra")
        admitted.append(False)
    texts.append("too short")
    admitted.append(False)
    order = rng.permutation(len(texts))
    return pa.table(
        {
            "doc_id": pa.array(INGEST_FIRST_ID + np.arange(len(texts)), pa.int64()),
            "text": pa.array([texts[i] for i in order], pa.string()),
            "admitted": pa.array([admitted[i] for i in order], pa.bool_()),
        }
    )


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Every raw table of the fixture schema for (seed, sf)."""
    rng = np.random.default_rng(seed)
    n = shape(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc).tolist()),
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, ns), 2)),
        }
    )
    npart = n["part"]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": pa.array(
                [f"{ADJ[a]} {NOUN[b]}" for a, b in rng.integers(0, 8, (npart, 2))]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
            "p_type": pa.array(rng.choice(("ECONOMY", "PROMO", "STANDARD"), npart).tolist()),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": pa.array(np.round(900.0 + np.arange(npart) / 10.0, 2)),
        }
    )
    no = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(("P", "O", "F"), no).tolist()),
            "o_totalprice": pa.array(np.round(rng.uniform(1_000.0, 500_000.0, no), 2)),
            "o_orderdate": pa.array(_days(rng, no), pa.timestamp("us")),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, no).tolist()),
        }
    )
    lines = rng.poisson(4.0, no)
    nl = int(lines.sum())
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(np.repeat(np.arange(no), lines), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(
                np.concatenate([np.arange(1, k + 1) for k in lines if k] or [[]]),
                pa.int32(),
            ),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2_100.0, nl), 2)),
            "l_discount": pa.array(np.round(rng.integers(0, 11, nl) / 100.0, 2)),
            "l_tax": pa.array(np.round(rng.integers(0, 9, nl) / 100.0, 2)),
            "l_returnflag": pa.array(rng.choice(("A", "N", "R"), nl).tolist()),
            "l_linestatus": pa.array(rng.choice(("O", "F"), nl).tolist()),
            "l_shipdate": pa.array(_days(rng, nl), pa.timestamp("us")),
        }
    )
    ne = n["events"]
    start = np.datetime64(datetime(2024, 1, 1), "us")
    gaps = rng.integers(1, 120_000_000, ne).cumsum().astype("timedelta64[us]")
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(start + gaps, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(1, ne // 50), ne), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, ne).tolist()),
            "value": pa.array(np.round(rng.uniform(0.0, 200.0, ne), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    out["ingest_batch"] = _ingest_batch(rng, out["documents"])
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, 64)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
        }
    )
    return out


def write(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, tbl in tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    return counts

