"""The printed metric names are BENCHMARK.json's, and the file follows the
benchmark contract's limits."""

import json
import re
from pathlib import Path

from perfbench import report, trace

ROOT = Path(__file__).resolve().parents[2]
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def test_benchmark_json_shape():
    b = spec()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 2 <= len(b["workloads"]) <= 8 and 1 <= b["run_seconds"] <= 60
    names = [w["name"] for w in b["workloads"]] + [
        m["name"] for m in b["end_to_end"] + b["per_layer"]
    ]
    assert len(names) == len(set(names)) and all(NAME.match(n) for n in names)
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in b["workloads"])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25}]
    assert max(m["bound"] for m in b["end_to_end"]) == 0.25


def test_workloads_exist():
    from perfbench.workloads import WORKLOADS

    assert {w["name"] for w in spec()["workloads"]} <= set(WORKLOADS)


def test_end_to_end_names_match_the_untraced_run():
    from perfbench.run import end_to_end_metrics

    printed = end_to_end_metrics(9.0, [2.0], [3.0])
    assert set(printed) == {m["name"] for m in spec()["end_to_end"]}
    units = {m["name"]: m["unit"] for m in spec()["end_to_end"]}
    assert all(v["unit"] == units[k] for k, v in printed.items())


def test_per_layer_names_are_computed_by_the_trace():
    """Every per-layer metric of BENCHMARK.json is one the traced run
    computes (layer_metrics over an empty trace yields every key)."""

    class _Empty:
        spans, cached_mb = [], 0.0

    keys = set(trace.layer_metrics(_Empty(), {}, {})) | set(trace.stream_metrics([]))
    keys |= {"matcher.executions", "trace.traced_s", "trace.untraced_s", "trace.unattributed_s"}
    assert {m["name"] for m in report.per_layer_spec()} <= keys
    assert {m["name"].split(".")[0] for m in report.per_layer_spec()} <= set(report.LAYER_MAP)
