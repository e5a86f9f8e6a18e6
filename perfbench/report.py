"""The per-layer report: each per-layer metric beside the end-to-end metric
and workloads it should move, and where it should read flat."""

from __future__ import annotations

import json
import os
from dataclasses import asdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

#: layer -> (end-to-end metrics it should move, workloads it runs on,
#: workloads where the prediction is no change)
LAYER_MAP = {
    "testdata": ("run_s, cpu_s", "all", "-"),
    "matcher": ("run_s, cpu_s", "match_full", "dedup_ingest"),
    "scorer": ("run_s, cpu_s", "match_full", "dedup_ingest"),
    "filters": ("run_s, cpu_s", "match_full", "dedup_ingest"),
    "normaliser": ("run_s", "match_full", "dedup_ingest"),
    "pipeline": ("run_s", "match_full", "dedup_ingest"),
    "stats": ("run_s, cpu_s", "match_full", "dedup_ingest"),
    "weights": ("run_s", "match_full", "dedup_ingest"),
    "persister": ("run_s", "match_full", "dedup_ingest"),
    "caching": ("run_s, cpu_s", "match_full", "dedup_ingest"),
    "dedup": ("run_s, cpu_s", "dedup_ingest", "match_full"),
    "graph": ("run_s", "dedup_ingest", "match_full"),
    "ingest": ("run_s, cpu_s", "dedup_ingest", "match_full"),
    "lsh": ("run_s, cpu_s", "dedup_ingest", "match_full"),
    "manifest": ("run_s", "dedup_ingest", "match_full"),
    "stream": ("run_s", "dedup_ingest", "match_full"),
    "sink": ("run_s", "dedup_ingest", "match_full"),
    "trace": ("-", "all", "-"),
}


def benchmark_spec() -> dict:
    with open(ROOT / "BENCHMARK.json", encoding="utf-8") as fh:
        return json.load(fh)


def per_layer_spec() -> list[dict]:
    return benchmark_spec()["per_layer"]


def write_spans(workload: str, spans) -> str:
    """Write the run's spans as JSON under .perfbench_out/; returns the
    path relative to the checkout root."""
    out = ROOT / ".perfbench_out"
    out.mkdir(exist_ok=True)
    path = out / f"spans-{workload}-{os.getpid()}.json"
    with open(path, "w", encoding="utf-8") as fh:
        json.dump([asdict(s) for s in spans], fh)
    return str(path.relative_to(ROOT))


def render(workload: str, layer: dict[str, float]) -> str:
    """Every layer value (BENCHMARK.json's per-layer metrics first), one
    line each, beside the layer's end-to-end mapping."""
    units = {m["name"]: m["unit"] for m in per_layer_spec()}
    names = list(units) + sorted(k for k in layer if k not in units)
    lines = [
        f"per-layer report, workload {workload} (traced iteration; "
        "'flat on' = workloads where the prediction is no change)",
        f"{'metric':32} {'value':>14} {'unit':8} {'moves':28} {'on':26} flat on",
    ]
    for name in names:
        moves, on, flat = LAYER_MAP.get(name.split(".")[0], ("-", "-", "-"))
        lines.append(
            f"{name:32} {layer.get(name, 0.0):14.4f} {units.get(name, '-'):8} "
            f"{moves:28} {on:26} {flat}"
        )
    t, u = layer.get("trace.traced_s", 0.0), layer.get("trace.untraced_s", 0.0)
    lines.append(
        f"traced iteration {t:.3f} s vs untraced {u:.3f} s: gap {t - u:+.3f} s "
        f"({(t / u - 1) * 100 if u else 0.0:+.1f} %).  The gap is tracing "
        "overhead, minus the recompute that materialising at layer boundaries "
        "removes, minus the JVM warm-up the untraced iteration paid first; "
        "self times add up the busy time of parallel Pipeline configs."
    )
    return "\n".join(lines)
