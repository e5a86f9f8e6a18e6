"""The benchmark's workloads: what one iteration runs and how its outputs
are checked.

Each workload is a closed loop with one client: an iteration starts only
after the previous one has finished.  An iteration first drops every
derived cache the program keeps (``reset_table_cache`` and the
``persist_rotating`` ring), because at scale each app runs once.  The
timed operations hand their output to the client (``toArrow``) or write it
to a sink; the checks run afterwards, outside the timed region, against
DuckDB twins evaluated on the same generated files.  Every operation but
``app_build`` has one check; ``app_build``'s output is what the sinks after
it write, so their checks cover it.
"""

from __future__ import annotations

import os
import tempfile
import time
from dataclasses import dataclass
from typing import Callable


@dataclass
class Op:
    """One timed operation of an iteration and its output for the checks."""

    name: str
    seconds: float
    output: object = None


@dataclass
class Check:
    op: str
    ok: bool
    detail: str = ""


@dataclass
class Workload:
    name: str
    iterate: Callable              # (spark, data_dir, work_dir) -> list[Op]
    check: Callable                # (con, data_dir, ops) -> list[Check]
    input_stats: Callable          # (con, data_dir) -> dict


def drop_derived_caches() -> None:
    from puma_matcher_spark.functions import caching
    from puma_matcher_spark.sources.testdata import reset_table_cache

    reset_table_cache()
    caching.drain()


def _timed(name: str, fn) -> Op:
    t0 = time.perf_counter()
    out = fn()
    return Op(name, time.perf_counter() - t0, out)


def compare_to_oracle(con, query: str, got, oracle_sql: str) -> Check:
    """Multiset comparison of a collected Arrow result with its DuckDB
    twin, with oracle.compare_query's rules (same column names, same row
    count, equal rows with doubles compared at 9 decimals) but evaluated
    inside DuckDB, so outputs of 10^5 rows check in well under a second."""
    want = f"_want_{query}"  # the twin's rows, computed once per run
    if want not in {r[0] for r in con.execute("SHOW TABLES").fetchall()}:
        con.execute(f"CREATE TEMP TABLE {want} AS {oracle_sql}")
    want_types = dict(
        (r[0], r[1]) for r in con.execute(f"DESCRIBE {want}").fetchall()
    )
    cols = sorted(got.column_names)
    if cols != sorted(want_types):
        return Check(query, False, f"columns {cols} vs oracle {sorted(want_types)}")
    proj = ", ".join(
        f"ROUND(CAST({c} AS DOUBLE), 9) + 0.0 AS {c}"
        if want_types[c] in ("DOUBLE", "FLOAT")
        else c
        for c in cols
    )
    con.register("_got", got)
    try:
        n_got, n_want, extra, missing = con.execute(
            f"""SELECT (SELECT COUNT(*) FROM _got), (SELECT COUNT(*) FROM {want}),
  (SELECT COUNT(*) FROM (SELECT {proj} FROM _got EXCEPT ALL SELECT {proj} FROM {want})),
  (SELECT COUNT(*) FROM (SELECT {proj} FROM {want} EXCEPT ALL SELECT {proj} FROM _got))"""
        ).fetchone()
    finally:
        con.unregister("_got")
    return Check(
        query,
        n_got == n_want and extra == 0 and missing == 0,
        f"rows={n_got} oracle={n_want} extra={extra} missing={missing}",
    )


# --------------------------------------------------------------------------
# match_full: apps.run_full_matcher and its three sinks, then two
# match-family queries
# --------------------------------------------------------------------------

#: run after the app's sinks with the caches dropped: the first query
#: builds the queries._CAND_CACHE memo, the second reads it (the app
#: itself never touches the memo)
MATCH_QUERIES = ("entity_scores", "match_candidates")

#: the app's laboratory family links documents through floor(o_custkey / 2)
#: (apps._family_stages), not the raw custkey of queries.V_ENTITIES2
_APP_ENTITIES2 = """entities2 AS (
  SELECT o_orderkey AS document_version_id,
         CAST(FLOOR(o_custkey / 2) AS BIGINT) AS entity_id FROM orders)"""


def full_matcher_twin_sql() -> str:
    """DuckDB twin of run_full_matcher's candidate pair set: the
    queries._tf_chain matcher/scorer CTEs for both families, then the
    type (P2), date (P3), validity (P4) and multi-type (P5) filters."""
    from puma_matcher_spark.queries import V_DOCS, V_ENTITIES, _tf_chain

    prop = "(d{i}.document_type LIKE 'PROPOSAL%')"
    year = "YEAR(COALESCE(d{i}.date, TIMESTAMP '1900-01-01'))"
    p1, p2 = prop.format(i=1), prop.format(i=2)
    y1, y2 = year.format(i=1), year.format(i=2)
    return f"""WITH {V_DOCS}, {V_ENTITIES}, {_APP_ENTITIES2},
{_tf_chain('p_', 'entities')}, {_tf_chain('l_', 'entities2')},
all_cand AS (
  SELECT document_version1_id, document_version2_id, 'person' AS score_type FROM p_cand
  UNION ALL
  SELECT document_version1_id, document_version2_id, 'laboratory' FROM l_cand),
kept AS (
  SELECT c.* FROM all_cand c
  JOIN documents_dim d1 ON c.document_version1_id = d1.document_version_id
  JOIN documents_dim d2 ON c.document_version2_id = d2.document_version_id
  WHERE {p1} <> {p2}
    AND (CASE WHEN {p1} THEN {y1} ELSE {y2} END)
     <= (CASE WHEN {p1} THEN {y2} ELSE {y1} END)
    AND NOT d1.obsolete AND NOT d2.obsolete),
typed AS (
  SELECT *, COUNT(DISTINCT score_type)
              OVER (PARTITION BY document_version1_id, document_version2_id) AS n_types
  FROM kept)
SELECT document_version1_id, document_version2_id, score_type
FROM typed WHERE n_types > 1 OR score_type = 'laboratory'"""


def _create_twin(con) -> None:
    """The twin's pair set as temp table ``twin``, computed once per run."""
    con.execute(f"CREATE TEMP TABLE IF NOT EXISTS twin AS {full_matcher_twin_sql()}")


def _query_ops(spark, data_dir: str, names) -> list[Op]:
    from puma_matcher_spark.queries import REGISTRY

    return [
        _timed(q, lambda q=q: REGISTRY[q].spark_fn(spark, data_dir).toArrow())
        for q in names
    ]


def _match_full_iterate(spark, data_dir: str, work_dir: str) -> list[Op]:
    from puma_matcher_spark import apps
    from puma_matcher_spark.operators.persister import persist_parquet

    drop_derived_caches()
    cand_path = os.path.join(work_dir, "candidates")
    app = _timed("app_build", lambda: apps.run_full_matcher(spark, data_dir))
    res = app.output
    app.output = None
    ops = [
        app,
        _timed(
            "persist_candidates",
            lambda: persist_parquet(res.candidates, cand_path) or cand_path,
        ),
        _timed("statistics", lambda: res.statistics.toArrow()),
        _timed("total_scores", lambda: res.total_scores.toArrow()),
    ]
    drop_derived_caches()
    return ops + _query_ops(spark, data_dir, MATCH_QUERIES)


def _match_full_check(con, data_dir: str, ops: list[Op]) -> list[Check]:
    queries = [op for op in ops if op.name in MATCH_QUERIES]
    return _sinks_check(con, ops) + _oracle_check(con, data_dir, queries)


def _sinks_check(con, ops: list[Op]) -> list[Check]:
    """The app's three sinks against the twin's pair set."""
    out = {op.name: op.output for op in ops}
    _create_twin(con)
    con.execute(
        "CREATE OR REPLACE TEMP VIEW got AS SELECT * FROM read_parquet("
        f"'{out['persist_candidates']}/*.parquet')"
    )
    checks = []
    key = "document_version1_id, document_version2_id, score_type"
    diff = con.sql(
        f"SELECT (SELECT COUNT(*) FROM (SELECT {key} FROM got EXCEPT SELECT {key} FROM twin)),"
        f" (SELECT COUNT(*) FROM (SELECT {key} FROM twin EXCEPT SELECT {key} FROM got)),"
        f" (SELECT COUNT(*) - COUNT(DISTINCT ({key})) FROM got),"
        " (SELECT COUNT(*) FROM got WHERE NOT (score BETWEEN 0 AND 100) OR score IS NULL)"
    ).fetchone()
    checks.append(
        Check(
            "persist_candidates",
            diff == (0, 0, 0, 0),
            "extra={} missing={} duplicate={} score_out_of_range={}".format(*diff),
        )
    )
    con.register("stats", out["statistics"])
    bad = con.sql(
        """WITH m AS (
  SELECT document_version1_id AS d, score_type FROM twin
  UNION ALL SELECT document_version2_id, score_type FROM twin),
want AS (SELECT d, score_type, COUNT(*) AS n FROM m GROUP BY 1, 2),
have AS (SELECT document_version_id AS d, score_type, match_count AS n FROM stats)
SELECT COUNT(*) FROM (
  (SELECT * FROM want EXCEPT ALL SELECT * FROM have)
  UNION ALL (SELECT * FROM have EXCEPT ALL SELECT * FROM want))"""
    ).fetchone()[0]
    checks.append(Check("statistics", bad == 0, f"match_count mismatches={bad}"))
    con.register("totals", out["total_scores"])
    pair = "document_version1_id, document_version2_id"
    extra, missing, dup, null = con.sql(
        f"SELECT (SELECT COUNT(*) FROM (SELECT {pair} FROM totals EXCEPT SELECT {pair} FROM twin)),"
        f" (SELECT COUNT(*) FROM (SELECT {pair} FROM twin EXCEPT SELECT {pair} FROM totals)),"
        f" (SELECT COUNT(*) - COUNT(DISTINCT ({pair})) FROM totals),"
        " (SELECT COUNT(*) FROM totals WHERE total_score IS NULL"
        " OR total_contextual_score IS NULL)"
    ).fetchone()
    checks.append(
        Check(
            "total_scores",
            (extra, missing, dup, null) == (0, 0, 0, 0),
            f"extra={extra} missing={missing} duplicate={dup} null_total={null}",
        )
    )
    return checks


def _match_full_stats(con, data_dir: str) -> dict:
    from puma_matcher_spark.queries import V_ENTITIES, _all_cand_ctes, _tf_chain

    counts = _row_counts(con, ("orders", "lineitem"))
    counts["person_pairs"] = con.sql(
        f"WITH {V_ENTITIES}, {_tf_chain('p_', 'entities')} SELECT COUNT(*) FROM p_pairs"
    ).fetchone()[0]
    counts["scored_pairs"] = con.sql(
        f"WITH {V_ENTITIES}, {_APP_ENTITIES2}, {_tf_chain('p_', 'entities')},"
        f" {_tf_chain('l_', 'entities2')}"
        " SELECT (SELECT COUNT(*) FROM p_cand) + (SELECT COUNT(*) FROM l_cand)"
    ).fetchone()[0]
    _create_twin(con)
    counts["kept_pairs"] = con.sql("SELECT COUNT(*) FROM twin").fetchone()[0]
    # the queries' candidate set (raw-custkey laboratory family)
    counts["query_pairs"] = con.sql(
        f"{_all_cand_ctes()} SELECT COUNT(*) FROM all_cand"
    ).fetchone()[0]
    return counts


# --------------------------------------------------------------------------
# dedup_ingest: one streaming drain, then blocked-pair connected components
# --------------------------------------------------------------------------

#: the streaming app's near-duplicate threshold (its default), passed
#: explicitly so the trace counts verified pairs at the same threshold
INGEST_JACCARD = 0.8
DRAIN_TIMEOUT_S = 150


def _progress(p) -> dict:
    """The parts of a StreamingQueryProgress the trace reads."""
    return {"durationMs": dict(p.durationMs), "numInputRows": int(p.numInputRows)}


def _ingest_drain(spark, data_dir: str, work_dir: str) -> Op:
    """Append the generated batch to the manifest of a new stream and
    drain it once (availableNow) against the documents table as static
    corpus into a new sink and checkpoint.  The timed region runs from
    the manifest append until the drain commits; it includes building the
    static corpus's dedup index."""
    import pyarrow.parquet as pq
    from puma_matcher_spark.apps import run_streaming_ingest_app
    from puma_matcher_spark.sources.testdata import load_tables

    root = tempfile.mkdtemp(prefix="ingest-", dir=work_dir)
    incoming = os.path.join(root, "incoming")
    os.mkdir(incoming)
    rows = []
    for r in pq.read_table(os.path.join(data_dir, "ingest_batch.parquet")).to_pylist():
        path = os.path.join(incoming, f"{r['doc_id']}.txt")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(r["text"])
        rows.append(f"{r['doc_id']},{path}\n")
    manifest = os.path.join(root, "manifest.csv")
    with open(manifest, "w", encoding="utf-8") as fh:
        fh.write("doc_id,file_path\n")
    sink = os.path.join(root, "admitted")

    def drain():
        with open(manifest, "a", encoding="utf-8") as fh:
            fh.writelines(rows)
        corpus = load_tables(spark, data_dir).llm_documents().select("doc_id", "text")
        q = run_streaming_ingest_app(
            spark, manifest, corpus, sink, os.path.join(root, "checkpoint"),
            jaccard_threshold=INGEST_JACCARD,
        )
        if not q.awaitTermination(DRAIN_TIMEOUT_S):
            q.stop()
            raise TimeoutError(f"the drain did not end within {DRAIN_TIMEOUT_S} s")
        return q

    op = _timed("ingest_drain", drain)
    op.output = {"sink": sink, "progress": [_progress(p) for p in op.output.recentProgress]}
    return op


def _dedup_ingest_iterate(spark, data_dir: str, work_dir: str) -> list[Op]:
    drop_derived_caches()
    drain = _ingest_drain(spark, data_dir, work_dir)
    return [drain] + _query_ops(spark, data_dir, ("dedup_components_cc",))


def ingest_check(con, data_dir: str, op: Op) -> Check:
    """The sink holds exactly the batch's admissible documents, each once
    across all batch partitions."""
    con.execute(
        "CREATE OR REPLACE TEMP VIEW want AS SELECT doc_id FROM read_parquet("
        f"'{data_dir}/ingest_batch.parquet') WHERE admitted"
    )
    try:
        con.execute(
            "CREATE OR REPLACE TEMP VIEW admitted AS SELECT doc_id FROM read_parquet("
            f"'{op.output['sink']}/batch_id=*/*.parquet')"
        )
        n, want, extra, missing, dup = con.sql(
            "SELECT (SELECT COUNT(*) FROM admitted), (SELECT COUNT(*) FROM want),"
            " (SELECT COUNT(*) FROM (SELECT * FROM admitted EXCEPT SELECT * FROM want)),"
            " (SELECT COUNT(*) FROM (SELECT * FROM want EXCEPT SELECT * FROM admitted)),"
            " (SELECT COUNT(*) - COUNT(DISTINCT doc_id) FROM admitted)"
        ).fetchone()
    except Exception as e:  # no sink partition: nothing was admitted
        return Check(op.name, False, f"sink unreadable: {e}"[:300])
    return Check(
        op.name,
        n == want and (extra, missing, dup) == (0, 0, 0),
        f"admitted={n} expected={want} extra={extra} missing={missing} duplicate={dup}",
    )


def _dedup_ingest_check(con, data_dir: str, ops: list[Op]) -> list[Check]:
    drain, cc = ops
    return _oracle_check(con, data_dir, [cc]) + [ingest_check(con, data_dir, drain)]


def _dedup_ingest_stats(con, data_dir: str) -> dict:
    from puma_matcher_spark.queries import REGISTRY

    counts = _row_counts(con, ("customer", "documents"))
    counts["blocked_pairs"] = con.sql(
        f"SELECT COUNT(*) FROM ({REGISTRY['dedup_blocked_pairs'].oracle})"
    ).fetchone()[0]
    counts["cc_components"] = con.sql(
        f"SELECT COUNT(DISTINCT component) FROM ({REGISTRY['dedup_components_cc'].oracle})"
    ).fetchone()[0]
    counts["ingest_batch"], counts["ingest_admissible"] = con.sql(
        f"SELECT COUNT(*), COUNT(*) FILTER (WHERE admitted)"
        f" FROM read_parquet('{data_dir}/ingest_batch.parquet')"
    ).fetchone()
    return counts


def _oracle_check(con, data_dir: str, ops: list[Op]) -> list[Check]:
    from puma_matcher_spark.queries import REGISTRY

    return [
        compare_to_oracle(con, op.name, op.output, REGISTRY[op.name].oracle)
        for op in ops
    ]


def _row_counts(con, names) -> dict:
    return {n: con.sql(f"SELECT COUNT(*) FROM {n}").fetchone()[0] for n in names}


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload("match_full", _match_full_iterate, _match_full_check, _match_full_stats),
        Workload("dedup_ingest", _dedup_ingest_iterate, _dedup_ingest_check, _dedup_ingest_stats),
    )
}
