"""Per-layer tracing, measured from outside the program.

A traced iteration wraps the module-level public functions each layer
exposes (``operators.matcher.entity_tf``, ``operators.stats.match_statistics``,
...).  Each wrapper opens a span, tags the Spark jobs it launches with
``setJobGroup("layer.<layer>.<span id>")``, materialises a DataFrame output
inside the span (an eager local checkpoint, so downstream spans neither
re-run it nor carry its plan) and returns that output.  Spans live in
memory and are written out when the run ends.  A layer's self time is the time its spans cover minus the
part of each span its child spans cover.

Counts come from Spark's own stores after the iteration: jobs, stages,
tasks, spill and shuffle bytes from the application status store (filled
with ``spark.ui.enabled=false``), scan and join counts from the SQL status
store's executed plan graphs.  The streaming layers (the manifest_text
reader, the stream's admission triggers, the sink) run in Spark's stream
thread and in a Python process the JVM starts, so their numbers come from
the untraced drain's ``recentProgress`` and written files
(``stream_metrics``).

Materialising at every layer boundary removes the recompute an untraced
iteration pays (each sink of ``run_full_matcher`` re-runs the un-persisted
matcher chain), so a traced iteration is not a timing of the program:
the end-to-end metrics come from untraced runs, and the report prints the
traced total beside an untraced iteration of the same run.
"""

from __future__ import annotations

import importlib
import itertools
import os
import re
import sys
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

MIB = 1024.0 * 1024.0


@dataclass
class Span:
    id: int
    layer: str
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    rows: int | None = None      # rows of the materialised output
    info: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"layer.{self.layer}.{self.id}"


@dataclass(frozen=True)
class Target:
    """A function (or class method, ``Class.method``) to wrap."""

    module: str
    attr: str
    layer: str
    materialise: bool = True


#: the layers' public entry points the apps and queries call
TARGETS = (
    Target("puma_matcher_spark.sources.testdata", "load_tables", "testdata", False),
    Target("puma_matcher_spark.operators.matcher", "entity_tf", "matcher"),
    Target("puma_matcher_spark.operators.matcher", "cap_entity_frequency", "matcher"),
    Target("puma_matcher_spark.operators.matcher", "entity_pairs", "matcher"),
    Target("puma_matcher_spark.operators.scorer", "with_idf", "scorer"),
    Target("puma_matcher_spark.operators.scorer", "score_entity_pairs", "scorer"),
    Target("puma_matcher_spark.operators.filters", "type_filter", "filters"),
    Target("puma_matcher_spark.operators.filters", "date_filter", "filters"),
    Target("puma_matcher_spark.operators.filters", "document_version_id_filter", "filters"),
    Target("puma_matcher_spark.operators.filters", "multiple_type_match_filter", "filters"),
    Target("puma_matcher_spark.operators.normaliser", "normalisation_factor", "normaliser", False),
    Target("puma_matcher_spark.operators.normaliser", "normalise_scores", "normaliser"),
    Target("puma_matcher_spark.pipeline", "Pipeline.run", "pipeline", False),
    Target("puma_matcher_spark.pipeline", "Pipeline.run_config", "pipeline", False),
    Target("puma_matcher_spark.operators.stats", "mirror_candidates", "stats"),
    Target("puma_matcher_spark.operators.stats", "match_statistics", "stats"),
    Target("puma_matcher_spark.operators.stats", "total_score", "stats"),
    Target("puma_matcher_spark.operators.weights", "best_weights", "weights"),
    Target("puma_matcher_spark.operators.weights", "weight_grid", "weights"),
    Target("puma_matcher_spark.operators.persister", "canonicalize_pairs", "persister"),
    Target("puma_matcher_spark.operators.persister", "dedup_candidates", "persister"),
    Target("puma_matcher_spark.operators.persister", "persist_parquet", "persister", False),
    Target("puma_matcher_spark.functions.caching", "persist_rotating", "caching", False),
    Target("puma_matcher_spark.queries", "_entity_candidates", "caching", False),
    Target("puma_matcher_spark.queries", "q_dedup_blocked_pairs", "dedup"),
    Target("puma_matcher_spark.operators.dedup", "connected_components", "dedup"),
    Target("puma_matcher_spark.operators.graph", "loop_shuffle_partition_count", "graph", False),
    Target("puma_matcher_spark.apps", "run_incremental_ingest_app", "ingest", False),
    Target("puma_matcher_spark.llmdata.dedup", "build_dedup_index", "lsh", False),
    Target("puma_matcher_spark.llmdata.dedup", "incremental_ingest_indexed", "lsh"),
    Target("puma_matcher_spark.llmdata.dedup", "minhash_incremental_pairs_indexed", "lsh"),
    Target("puma_matcher_spark.llmdata.dedup", "jaccard_for_pairs_from_shingles", "lsh"),
)

LAYERS = tuple(dict.fromkeys(t.layer for t in TARGETS))
JOIN_NODES = ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")


class Tracer:
    """Installs span wrappers around TARGETS and records spans in memory."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.cached_mb = 0.0
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- installation ------------------------------------------------------
    def install(self, targets=TARGETS) -> None:
        for t in targets:
            module = importlib.import_module(t.module)
            owner, name = module, t.attr
            if "." in t.attr:
                cls, name = t.attr.split(".")
                owner = getattr(module, cls)
            orig = getattr(owner, name)
            wrapped = self._wrap(orig, t, name)
            self._patch(owner, name, wrapped)
            if owner is module:
                # modules that imported the function by name call it there
                for mod in list(sys.modules.values()):
                    if (
                        mod is not module
                        and getattr(mod, "__name__", "").startswith("puma_matcher_spark")
                        and getattr(mod, name, None) is orig
                    ):
                        self._patch(mod, name, wrapped)

    def _patch(self, owner, name, value) -> None:
        self._patches.append((owner, name, getattr(owner, name)))
        setattr(owner, name, value)

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._patches):
            setattr(owner, name, orig)
        self._patches.clear()

    # -- spans ---------------------------------------------------------------
    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    def _wrap(self, fn, target: Target, name: str):
        tracer = self

        def traced(*args, **kwargs):
            stack = tracer._stack()
            # spans opened in a worker thread (Pipeline's per-config
            # threads) hang under the main thread's innermost span
            parent = stack[-1] if stack else (
                tracer._main_stack[-1] if tracer._main_stack else None
            )
            before = tracer._before(name, args)
            span = Span(
                next(tracer._ids), target.layer, f"{target.module.rsplit('.', 1)[-1]}.{name}",
                parent.id if parent else None, 0.0,
            )
            with tracer._lock:
                tracer.spans.append(span)
            stack.append(span)
            tracer._set_group(span)
            span.start = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame) and before.get("build"):
                    span.rows = out.count()  # fills the cache just enrolled
                elif isinstance(out, DataFrame) and target.materialise:
                    # a checkpoint, not a persist: it also cuts the plan,
                    # so plans do not nest one cached plan per boundary
                    out = out.localCheckpoint(eager=True)
                    span.rows = out.count()
            finally:
                span.end = time.perf_counter()
                stack.pop()
                tracer._set_group(stack[-1] if stack else None)
            tracer._after(span, name, args, out, before)
            return out

        traced.__wrapped__ = fn
        return traced

    def _before(self, name: str, args) -> dict:
        """Observations taken before a call, outside its span."""
        if name == "type_filter":
            return {"rows_in": args[0].count()}
        if name == "persist_rotating":
            from puma_matcher_spark.functions import caching

            df = args[0]
            hit = any(caching._same_plan(df, e) for e in list(caching._RING))
            # a miss is a cache build: materialise it inside the span
            return {"hit": hit, "build": not hit}
        if name == "_entity_candidates":
            from puma_matcher_spark import queries

            return {"memo": len(queries._CAND_CACHE)}
        return {}

    def _after(self, span: Span, name: str, args, out, before: dict) -> None:
        span.info.update({k: v for k, v in before.items() if k != "build"})
        if name == "_entity_candidates":
            from puma_matcher_spark import queries

            span.info["hit"] = len(queries._CAND_CACHE) == before["memo"]
            self._sample_cache()
        elif name == "persist_rotating":
            self._sample_cache()
        elif name == "weight_grid":
            span.info["grid_size"] = out.select("weight_id").distinct().count()
        elif name == "persist_parquet":
            span.info.update(_dir_size(args[1]))
        elif name == "loop_shuffle_partition_count":
            span.info["partitions"] = out
        elif name == "jaccard_for_pairs_from_shingles":
            from perfbench.workloads import INGEST_JACCARD

            span.info["verified"] = out.where(out["jaccard"] >= INGEST_JACCARD).count()

    def _sample_cache(self) -> None:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        mb = sum((i.memSize() + i.diskSize()) for i in infos) / MIB
        self.cached_mb = max(self.cached_mb, mb)


def _dir_size(path: str) -> dict:
    files, size = 0, 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith("part-") and not n.endswith(".crc"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return {"files": files, "bytes": size}


# --------------------------------------------------------------------------
# Spark's stores
# --------------------------------------------------------------------------


def _as_py(jvm, scala_coll):
    return jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_coll)


def last_sql_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    ids = [e.executionId() for e in _as_py(spark._jvm, store.executionsList())]
    return max(ids, default=-1)


_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": MIB, "GiB": MIB * 1024.0,
}


def _metric_value(text: str | None) -> float:
    """A SQL metric's displayed value as a number: the total (first
    value of the last line) in seconds, bytes or a plain count."""
    if not text:
        return 0.0
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


_DOT_NODE = re.compile(
    r'^\s*\d+ \[id="node\d+" labelType="html" label="(.*?)" tooltip="(.*?)"\];\s*$'
)
_MULTI = " total (min, med, max (stageId: taskId))"


def _parse_label(label: str) -> tuple[str, dict[str, float]]:
    """Node name and metric totals from a plan-graph DOT label."""
    parts = [p for p in label.split("<br>") if p]
    name = re.sub(r"</?b>", "", parts[0]) if parts else ""
    metrics: dict[str, float] = {}
    i = 1
    while i < len(parts):
        p = parts[i]
        if p.endswith(_MULTI) and i + 1 < len(parts):
            metrics[p[: -len(_MULTI)]] = _metric_value(parts[i + 1])
            i += 2
            continue
        key, sep, value = p.rpartition(": ")
        if sep:
            metrics[key] = _metric_value(value)
        i += 1
    return name, metrics


def sql_nodes(spark, after_id: int) -> list[dict]:
    """Executed plan nodes of every SQL execution with id > ``after_id``:
    name, description, metric totals and the execution's job ids.  One
    py4j round trip per execution: the plan graph rendered as DOT with
    its metric values."""
    jvm = spark._jvm
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    for ex in _as_py(jvm, store.executionsList()):
        eid = ex.executionId()
        if eid <= after_id:
            continue
        jobs = [int(j) for j in _as_py(jvm, ex.jobs()).keySet()]
        dot = store.planGraph(eid).makeDotFile(store.executionMetrics(eid))
        for line in dot.splitlines():
            m = _DOT_NODE.match(line)
            if m:
                name, metrics = _parse_label(m.group(1))
                desc = m.group(2).replace('\\"', '"')
                out.append(
                    {"exec": eid, "jobs": jobs, "name": name, "desc": desc, "metrics": metrics}
                )
    return out


def _executed(node: dict) -> bool:
    """A plan graph also shows the plan under a cache read, with 0 rows;
    a node counts as executed when it output rows."""
    return node["metrics"].get("number of output rows", 0) > 0


def is_matcher_self_join(node: dict) -> bool:
    """The entity self-join of operators.matcher.entity_pairs: an equi-join
    of the tf frame with itself on entity_id, keeping dv1 < dv2."""
    return (
        node["name"].startswith(JOIN_NODES)
        and _executed(node)
        and re.search(
            r"\[entity_id#\d+L?\], \[entity_id#\d+L?\], Inner.*"
            r"document_version1_id#\d+L? < document_version2_id#",
            node["desc"],
        ) is not None
    )


def job_stats(spark) -> dict[int, dict]:
    """Per job launched inside a span: its group, and the summed stats of
    the stages that ran."""
    jvm = spark._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = {}
    stage_cache: dict[int, dict] = {}
    for job in _as_py(jvm, store.jobsList(None)):
        group = job.jobGroup()
        group = group.get() if group.isDefined() else None
        if not (group or "").startswith("layer."):
            continue  # not launched inside a span
        agg = {"stages": 0, "tasks": 0, "spill_mb": 0.0, "shuffle_write_mb": 0.0,
               "group": group}
        for sid in _as_py(jvm, job.stageIds()):
            sid = int(sid)
            if sid not in stage_cache:
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # never submitted (skipped) stage
                    st = None
                if st is None or str(st.status()) == "SKIPPED" or st.numCompleteTasks() == 0:
                    stage_cache[sid] = {}
                else:
                    stage_cache[sid] = {
                        "tasks": st.numCompleteTasks(),
                        "spill_mb": (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MIB,
                        "shuffle_write_mb": st.shuffleWriteBytes() / MIB,
                    }
            s = stage_cache[sid]
            if s:
                agg["stages"] += 1
                agg["tasks"] += s["tasks"]
                agg["spill_mb"] += s["spill_mb"]
                agg["shuffle_write_mb"] += s["shuffle_write_mb"]
        jobs[int(job.jobId())] = agg
    return jobs


# --------------------------------------------------------------------------
# per-layer metrics
# --------------------------------------------------------------------------


def self_times(spans: list[Span]) -> dict[int, float]:
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s.id, ()), key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = max(0.0, (s.end - s.start) - covered)
    return out


def layer_metrics(tracer: Tracer, jobs: dict[int, dict], nodes: list[dict]) -> dict[str, float]:
    spans = tracer.spans
    own = self_times(spans)
    by_layer: dict[str, list[Span]] = {layer: [] for layer in LAYERS}
    for s in spans:
        by_layer[s.layer].append(s)
    span_of_group = {s.group: s for s in spans}
    m: dict[str, float] = {}
    for layer, ss in by_layer.items():
        m[f"{layer}.self_s"] = sum(own[s.id] for s in ss)
        agg = {"jobs": 0, "stages": 0, "tasks": 0, "spill_mb": 0.0}
        for job in jobs.values():
            span = span_of_group.get(job["group"])
            if span is not None and span.layer == layer:
                agg["jobs"] += 1
                for k in ("stages", "tasks", "spill_mb"):
                    agg[k] += job[k]
                m[f"{layer}.shuffle_write_mb"] = (
                    m.get(f"{layer}.shuffle_write_mb", 0.0) + job["shuffle_write_mb"]
                )
        for k, v in agg.items():
            m[f"{layer}.{k}"] = v
        m.setdefault(f"{layer}.shuffle_write_mb", 0.0)

    def spans_named(n: str) -> list[Span]:
        return [s for s in spans if s.name.endswith("." + n)]

    def ratio(a: float, b: float) -> float:
        return a / b if b else 0.0

    scans = [n for n in nodes if n["name"].startswith("Scan parquet") and _executed(n)]
    m["testdata.scans"] = len(scans)
    m["testdata.rows_read"] = sum(n["metrics"].get("number of output rows", 0) for n in scans)
    m["testdata.scan_s"] = sum(n["metrics"].get("scan time", 0.0) for n in scans)
    m["matcher.pairs_out"] = sum(s.rows or 0 for s in spans_named("entity_pairs"))
    m["filters.keep_ratio"] = ratio(
        sum(s.rows or 0 for s in spans_named("document_version_id_filter")),
        sum(s.info.get("rows_in", 0) for s in spans_named("type_filter")),
    )
    runs = spans_named("run")
    m["pipeline.wall_s"] = sum(s.end - s.start for s in runs)
    m["pipeline.overlap"] = ratio(
        sum(s.end - s.start for s in spans_named("run_config")), m["pipeline.wall_s"]
    )
    m["weights.grid_size"] = sum(s.info.get("grid_size", 0) for s in spans_named("weight_grid"))
    writes = spans_named("persist_parquet")
    m["persister.bytes_written"] = sum(s.info.get("bytes", 0) for s in writes)
    m["persister.files"] = sum(s.info.get("files", 0) for s in writes)
    cache_calls = spans_named("persist_rotating") + spans_named("_entity_candidates")
    m["caching.build_s"] = sum(
        s.end - s.start for s in spans_named("persist_rotating") if not s.info.get("hit")
    )
    m["caching.hit_ratio"] = ratio(sum(bool(s.info.get("hit")) for s in cache_calls), len(cache_calls))
    m["caching.cached_mb"] = tracer.cached_mb
    cc_groups = {s.group for s in spans_named("connected_components")}
    cc_execs = {
        n["exec"] for n in nodes
        if "Limit" in n["name"] and any(jobs.get(j, {}).get("group") in cc_groups for j in n["jobs"])
    }
    m["dedup.cc_iterations"] = len(cc_execs)
    m["graph.loop_partitions"] = sum(
        s.info.get("partitions", 0) for s in spans_named("loop_shuffle_partition_count")
    )
    cc_tasks = sum(j["tasks"] for j in jobs.values() if j["group"] in cc_groups)
    m["graph.tasks_per_iteration"] = ratio(cc_tasks, m["dedup.cc_iterations"])
    m["lsh.candidate_pairs"] = sum(
        s.rows or 0 for s in spans_named("minhash_incremental_pairs_indexed")
    )
    m["lsh.verify_ratio"] = ratio(
        sum(s.info.get("verified", 0) for s in spans_named("jaccard_for_pairs_from_shingles")),
        m["lsh.candidate_pairs"],
    )
    return m


def stream_metrics(ops) -> dict[str, float]:
    """The streaming layers, from what Spark and the file system record of
    an untraced drain: per-trigger durations from the query's
    recentProgress (the manifest_text simple stream reader reads its
    files while Spark asks for the latest offset), and the part files the
    drain wrote to its sink and index."""
    m = {
        "manifest.read_s": 0.0, "manifest.files_read": 0,
        "stream.add_batch_ms": 0, "stream.query_planning_ms": 0,
        "stream.latest_offset_ms": 0, "stream.wal_commit_ms": 0,
        "sink.bytes_written": 0, "sink.files": 0,
    }
    for op in ops:
        if op.name != "ingest_drain":
            continue
        for p in op.output["progress"]:
            d = p["durationMs"]
            m["manifest.read_s"] += (d.get("latestOffset", 0) + d.get("getBatch", 0)) / 1000.0
            m["manifest.files_read"] += p["numInputRows"]
            m["stream.add_batch_ms"] += d.get("addBatch", 0)
            m["stream.query_planning_ms"] += d.get("queryPlanning", 0)
            m["stream.latest_offset_ms"] += d.get("latestOffset", 0)
            m["stream.wal_commit_ms"] += d.get("walCommit", 0)
        written = _dir_size(op.output["sink"])
        m["sink.bytes_written"] += written["bytes"]
        m["sink.files"] += written["files"]
    return m


def traced_run(wl, sess, con, work, ledger, run_checked) -> tuple[dict, dict]:
    """One untraced then one traced iteration; returns (metrics, record)."""
    from perfbench import report

    spark = sess.spark
    first = last_sql_execution_id(spark)
    untraced, ops = run_checked(wl, sess, con, work, ledger)
    nodes_u = sql_nodes(spark, first)
    executions = sum(is_matcher_self_join(n) for n in nodes_u)

    tracer = Tracer(spark)
    first = last_sql_execution_id(spark)
    tracer.install()
    try:
        traced, _ = run_checked(wl, sess, con, work, ledger)
    finally:
        tracer.uninstall()
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    t0 = time.perf_counter()
    layer = layer_metrics(tracer, job_stats(spark), sql_nodes(spark, first))
    layer["matcher.executions"] = executions
    layer.update(stream_metrics(ops))
    layer["trace.traced_s"] = traced
    layer["trace.untraced_s"] = untraced
    layer["trace.unattributed_s"] = max(
        0.0, traced - sum(s.end - s.start for s in tracer.spans if s.parent is None)
    )
    collect_s = time.perf_counter() - t0
    spans_path = report.write_spans(wl.name, tracer.spans)
    print(report.render(wl.name, layer), flush=True)
    metrics = {
        m["name"]: {"value": layer.get(m["name"], 0.0), "unit": m["unit"]}
        for m in report.per_layer_spec()
    }
    record = {"trace": {"layers": layer, "spans_file": spans_path, "collect_s": collect_s}}
    return metrics, record
