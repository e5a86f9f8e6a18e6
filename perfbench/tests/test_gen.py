"""The input generator is deterministic in its seed and keeps the
fixture's shape."""

import filecmp
import os

import duckdb

from perfbench import gen


def _write(tmp_path, name, seed):
    out = tmp_path / name
    gen.write(str(out), seed, gen.SF)
    return out


def test_same_seed_writes_identical_files(tmp_path):
    a, b = _write(tmp_path, "a", 7), _write(tmp_path, "b", 7)
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b))
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert mismatch == [] and errors == [] and len(match) == len(names)


def test_other_seed_writes_other_files(tmp_path):
    a, b = _write(tmp_path, "a", 7), _write(tmp_path, "b", 8)
    for name in (
        "orders.parquet", "lineitem.parquet", "customer.parquet", "documents.parquet",
        "ingest_batch.parquet",
    ):
        assert not filecmp.cmp(a / name, b / name, shallow=False), name


def test_shape_follows_the_fixture(tmp_path):
    d = _write(tmp_path, "a", 42)
    con = duckdb.connect()
    n = lambda t: con.sql(f"SELECT COUNT(*) FROM '{d}/{t}.parquet'").fetchone()[0]
    assert (n("customer"), n("orders"), n("part"), n("documents")) == (150, 1500, 200, 500)
    # Poisson(4) lines per order
    assert 5700 < n("lineitem") < 6300
    # about 30 documents per person entity, ten orders per customer
    per_part = con.sql(
        f"SELECT AVG(c) FROM (SELECT COUNT(DISTINCT l_orderkey) c FROM '{d}/lineitem.parquet' GROUP BY l_partkey)"
    ).fetchone()[0]
    assert 25 < per_part < 35
    per_cust = con.sql(
        f"SELECT AVG(c) FROM (SELECT COUNT(*) c FROM '{d}/orders.parquet' GROUP BY o_custkey)"
    ).fetchone()[0]
    assert 8 < per_cust < 12
    # planted near-duplicates: a text that is another's plus or minus ' dup'
    dups = con.sql(
        f"""SELECT COUNT(*) FROM '{d}/documents.parquet' a JOIN '{d}/documents.parquet' b
            ON a.text = b.text || ' dup'"""
    ).fetchone()[0]
    assert 10 <= dups <= 40


def test_ingest_batch_verdicts(tmp_path):
    """Fresh documents share no token with any other document; every
    rejected one is a corpus copy, a near-duplicate or too short."""
    d = _write(tmp_path, "a", 5)
    con = duckdb.connect()
    batch = con.sql(f"SELECT * FROM '{d}/ingest_batch.parquet'").fetchall()
    corpus = {t for (t,) in con.sql(f"SELECT text FROM '{d}/documents.parquet'").fetchall()}
    fresh = [t for _, t, ok in batch if ok]
    assert len(fresh) == gen.INGEST_FRESH
    tokens = [w for t in fresh for w in t.split()]
    assert len(tokens) == len(set(tokens))
    assert not set(tokens) & {w for t in corpus for w in t.split()}
    for _, t, ok in batch:
        if not ok:
            assert t in corpus or t.removesuffix(" extra") in corpus or len(t.split()) < 5
