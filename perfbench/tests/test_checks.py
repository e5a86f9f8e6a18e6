"""The output checks accept the DuckDB twin's own rows and reject a
deliberately corrupted result.  No Spark session is needed: the "program
output" here is built from the twins themselves."""

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from perfbench import gen
from puma_matcher_spark.oracle import duck_connection as duck

from perfbench.workloads import (
    WORKLOADS,
    Op,
    compare_to_oracle,
    full_matcher_twin_sql,
    ingest_check,
)


@pytest.fixture(scope="module")
def data(tmp_path_factory):
    d = tmp_path_factory.mktemp("data")
    gen.write(str(d), 3, gen.SF)
    return str(d)


def _drop_first_row(t: pa.Table) -> pa.Table:
    return t.slice(1)


@pytest.mark.parametrize("query", ["match_stats", "dedup_components_cc"])
def test_oracle_compare_rejects_dropped_and_changed_rows(data, query):
    from puma_matcher_spark.queries import REGISTRY

    con = duck(data)
    sql = REGISTRY[query].oracle
    good = con.sql(sql).arrow()
    assert compare_to_oracle(con, query, good, sql).ok
    assert not compare_to_oracle(con, query, _drop_first_row(good), sql).ok
    col = good.column_names[-1]
    changed = good.set_column(
        good.num_columns - 1, col, pc.add(good.column(col), pa.scalar(1, good.column(col).type))
    )
    assert not compare_to_oracle(con, query, changed, sql).ok


def _match_full_outputs(con, tmp_path, drop_candidate=False, bump_count=False, swap_pair=False):
    twin = con.sql(
        f"SELECT *, 50.0 AS score FROM ({full_matcher_twin_sql()}) ORDER BY ALL"
    ).arrow()
    if drop_candidate:
        twin = _drop_first_row(twin)
    path = tmp_path / "candidates"
    path.mkdir(exist_ok=True)
    pq.write_table(twin, path / "part-0.parquet")
    stats = con.sql(
        f"""WITH t AS ({full_matcher_twin_sql()}),
        m AS (SELECT document_version1_id AS d, score_type FROM t
              UNION ALL SELECT document_version2_id, score_type FROM t)
        SELECT d AS document_version_id, score_type,
               COUNT(*) + {1 if bump_count else 0} AS match_count
        FROM m GROUP BY 1, 2"""
    ).arrow()
    totals = con.sql(
        "SELECT DISTINCT document_version1_id, document_version2_id,"
        " 1.0 AS total_score, 1.0 AS total_contextual_score"
        f" FROM ({full_matcher_twin_sql()}) ORDER BY ALL"
    ).arrow()
    if swap_pair:  # same row count, one pair replaced by one that is not kept
        ids = totals.column("document_version1_id").to_pylist()
        ids[0] = -1
        totals = totals.set_column(0, "document_version1_id", pa.array(ids, pa.int64()))
    return [
        Op("app_build", 1.0),
        Op("persist_candidates", 1.0, str(path)),
        Op("statistics", 1.0, stats),
        Op("total_scores", 1.0, totals),
    ]


def test_match_full_check_accepts_the_twin_and_rejects_corruption(data, tmp_path):
    con = duck(data)
    check = WORKLOADS["match_full"].check
    ok = {c.op: c.ok for c in check(con, data, _match_full_outputs(con, tmp_path))}
    assert all(ok.values()), ok
    bad = {c.op: c.ok for c in check(con, data, _match_full_outputs(con, tmp_path, drop_candidate=True))}
    assert not bad["persist_candidates"]
    bad = {c.op: c.ok for c in check(con, data, _match_full_outputs(con, tmp_path, bump_count=True))}
    assert not bad["statistics"]
    bad = {c.op: c.ok for c in check(con, data, _match_full_outputs(con, tmp_path, swap_pair=True))}
    assert not bad["total_scores"]


def _sink(tmp_path, ids_by_batch):
    sink = tmp_path / "admitted"
    for batch, ids in ids_by_batch.items():
        part = sink / f"batch_id={batch}"
        part.mkdir(parents=True)
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64())}), part / "part-0.parquet")
    return Op("ingest_drain", 1.0, {"sink": str(sink), "progress": []})


def test_ingest_check_accepts_the_admissible_set_and_rejects_corruption(data, tmp_path):
    con = duck(data)
    want = [
        i for (i,) in con.sql(
            f"SELECT doc_id FROM '{data}/ingest_batch.parquet' WHERE admitted ORDER BY 1"
        ).fetchall()
    ]
    assert ingest_check(con, data, _sink(tmp_path / "ok", {0: want})).ok
    assert not ingest_check(con, data, _sink(tmp_path / "drop", {0: want[1:]})).ok
    # the same document admitted by two batches
    assert not ingest_check(con, data, _sink(tmp_path / "twice", {0: want, 1: want[:1]})).ok
    assert not ingest_check(con, data, _sink(tmp_path / "none", {})).ok
