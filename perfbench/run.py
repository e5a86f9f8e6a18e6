"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload match_full --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run sets up the Spark session (timed
from process start to the first job), generates its inputs from
``--seed`` into a private work directory, runs the workload's iterations
back to back for at least ``--seconds`` seconds, checks every output
against its DuckDB twin, and prints one JSON object as the last line of
standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` one untraced and one traced iteration
run and the metrics are the per-layer ones (see trace.py).  The lines
before the last carry the run record: session conf, input statistics,
host-drift sentinel, every sample, and every check.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

#: driver heap: the workloads' inputs are small, and the host is shared
DRIVER_MEMORY = "3g"
#: bench.py's codegen sentinel (500M rows on 32 cores), resized for the
#: cores of this run so it stays about a second long
SENTINEL_ROWS_PER_CORE = 15_625_000


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def _process_age_s() -> float:
    """Seconds since this process started, interpreter start included
    (the start time in /proc/self/stat counts clock ticks since boot)."""
    with open("/proc/self/stat", encoding="ascii") as fh:
        start = int(fh.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start / os.sysconf("SC_CLK_TCK")


def _cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of a live process, from /proc."""
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class Session:
    """Owns the Spark session, its JVM and the run's environment."""

    def __init__(self, work: Path, data_dir: str):
        self.cores = _cores()
        self.data_dir = data_dir
        local, tmp = work / "spark-local", work / "tmp"
        local.mkdir(parents=True, exist_ok=True)
        tmp.mkdir()
        # temporary files of this process, its Python workers and the JVM
        # (native libraries it unpacks, its perf-data file) stay inside
        # the checkout
        os.environ["TMPDIR"] = tempfile.tempdir = str(tmp)
        # Python workers (pandas UDFs, the manifest_text DataSource) import
        # the package, so the checkout root must be on their path
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        )
        os.environ["SPARK_LOCAL_DIRS"] = str(local)
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
        self.conf = {
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        self.spark = None
        self.jvm = None

    def record(self) -> dict:
        return {
            "master": f"local[{self.cores}]",
            "shuffle_partitions": self.cores,
            "driver_memory": DRIVER_MEMORY,
            "spark_local_dirs": "work/spark-local",
            **self.conf,
        }

    def setup(self) -> float:
        """Launch the JVM, build the session and run a trivial job; returns
        the seconds since process start, so Python start, package import
        and JVM launch all count."""
        from puma_matcher_spark.session import get_spark

        self.spark = get_spark(
            "perfbench", shuffle_partitions=self.cores, extra_conf=self.conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).count()
        elapsed = _process_age_s()
        self.jvm = self.spark.sparkContext._gateway.proc
        return elapsed

    def sentinel(self) -> float:
        t0 = time.perf_counter()
        self.spark.range(SENTINEL_ROWS_PER_CORE * self.cores).selectExpr(
            "sum(id * 2 + 1) AS s"
        ).collect()
        return time.perf_counter() - t0

    def cpu_s(self) -> float:
        """CPU seconds used so far by the JVM plus this Python driver."""
        with open(f"/proc/{self.jvm.pid}/stat", encoding="ascii") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
        jvm = (int(f[11]) + int(f[12])) / os.sysconf("SC_CLK_TCK")
        return jvm + sum(os.times()[:2])

    def peak_rss_mb(self) -> float:
        """Peak RSS of the JVM plus this Python driver."""
        own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        return own + (_vm_hwm_mb(self.jvm.pid) if self.jvm else 0.0)

    def close(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to end."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end_metrics(setup_s: float, walls: list[float], cpus: list[float]) -> dict:
    """The end-to-end metrics of BENCHMARK.json, from one untraced run."""
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "run_s": {"value": _median(walls), "unit": "s"},
        "cpu_s": {"value": _median(cpus), "unit": "s"},
    }


def run_checked(wl, sess: Session, con, work: Path, ledger: dict) -> tuple[float, list]:
    """One iteration plus its output checks; returns (wall seconds, ops)."""
    t0, c0 = time.perf_counter(), sess.cpu_s()
    try:
        ops = wl.iterate(sess.spark, sess.data_dir, str(work))
    except Exception as e:  # the op failed: count it, keep the record
        traceback.print_exc()
        ledger["attempted"] += 1
        ledger["failed"] += 1
        ledger["errors"].append(f"{type(e).__name__}: {e}"[:500])
        return time.perf_counter() - t0, []
    wall = time.perf_counter() - t0
    ledger["cpu_s"].append(sess.cpu_s() - c0)
    checks = wl.check(con, sess.data_dir, ops)
    ledger["attempted"] += len(checks)
    ledger["failed"] += sum(not c.ok for c in checks)
    ledger["checks"].extend(
        {"op": c.op, "ok": c.ok, "detail": c.detail[:300]} for c in checks
    )
    return wall, ops


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="puma_matcher_spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import puma_matcher_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not in this checkout: {e}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    work = ROOT / ".perfbench_work" / f"{wl.name}-{args.seed}-{os.getpid()}"
    data_dir = str(work / "data")
    sess = None
    try:
        sess = Session(work, data_dir)
        setup_s = sess.setup()
        from puma_matcher_spark.oracle import duck_connection

        from perfbench import gen

        gen.write(data_dir, args.seed, gen.SF)
        con = duck_connection(data_dir)
        inputs = wl.input_stats(con, data_dir)
        sentinel_s = sess.sentinel()
        steal0, total0 = _cpu_ticks()
        ledger = {"attempted": 0, "failed": 0, "checks": [], "errors": [], "cpu_s": []}
        record = {
            "workload": wl.name,
            "seed": args.seed,
            "sf": gen.SF,
            "conf": sess.record(),
            "inputs": inputs,
        }
        if args.trace:
            from perfbench.trace import traced_run

            metrics, extra = traced_run(wl, sess, con, work, ledger, run_checked)
            record.update(extra)
        else:
            walls, op_times = [], {}
            start = time.perf_counter()
            while True:
                wall, ops = run_checked(wl, sess, con, work, ledger)
                if not ops:
                    break
                walls.append(wall)
                for op in ops:
                    op_times.setdefault(op.name, []).append(op.seconds)
                if time.perf_counter() - start >= args.seconds:
                    break
            record["run_samples_s"] = walls
            record["op_samples_s"] = op_times
            metrics = end_to_end_metrics(setup_s, walls, ledger["cpu_s"])
        steal1, total1 = _cpu_ticks()
        # share of CPU time the hypervisor gave to other guests while the
        # workload ran: a host-drift sign beside the sentinel, which runs
        # once before the measurement
        record["steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
        record["sentinel_s"] = sentinel_s
        record["cpu_samples_s"] = ledger["cpu_s"]
        # peak RSS moves with the JVM's heap sizing and GC timing (about
        # +-15 % run to run), so it is recorded, not gated
        record["peak_rss_mb"] = sess.peak_rss_mb()
        record["failed_ratio"] = ledger["failed"] / max(1, ledger["attempted"])
        record["checks"] = ledger["checks"]
        record["errors"] = ledger["errors"]
        print(json.dumps({"perfbench": record}), flush=True)
        print(
            json.dumps(
                {
                    "correct": ledger["failed"] == 0 and ledger["attempted"] > 0,
                    "attempted": max(1, ledger["attempted"]),
                    "failed": ledger["failed"],
                    "metrics": metrics,
                }
            ),
            flush=True,
        )
        return 0
    finally:
        if sess is not None:
            sess.close()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
