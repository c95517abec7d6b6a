#!/usr/bin/env python3
"""Benchmark of the disk-usage refresh/lookup service and a registry
query mix.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  The last line of standard output is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``; the
lines before it print every metric by name with its unit.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
they are the per-layer ones (see README.md).  Inputs, caches, Spark
scratch space and trace files stay under ``.perfbench_work/`` in the
checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import random
import shlex
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

from inputs import InventorySpec  # noqa: E402

# Driver heap that fits a 15 GiB host with no swap, next to the Python
# driver, four Python workers and the page cache (the package default
# is 16g).
DRIVER_MEM = "4g"
SETUPS = 3  # set-ups per run; setup_s is their median
WARMUP_S = 5.0  # untimed units after set-up, before the timed loop
LOOKUP_RATE = 1000.0  # lookups per second, open loop
QUERY_SF = 0.01  # scale factor of the query_mix tables


@dataclass(frozen=True)
class Workload:
    inventory: InventorySpec
    queries: bool = False  # time query-mix passes instead of refreshes


WORKLOADS = {
    # ~86 k distinct addresses: collect + snapshot build dominate.
    "refresh_wide_serve": Workload(InventorySpec(
        rows=200_000, files=16, addresses=100_000, zipf=None)),
    # Registry queries beside a small served inventory.
    "query_mix": Workload(InventorySpec(
        rows=20_000, files=2, addresses=2_000, zipf=1.1), queries=True),
}


def host_settings() -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {
        "cpus": len(os.sched_getaffinity(0)),
        "driver_mem": DRIVER_MEM,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
    }


def configure_environment(trace_dir: str | None) -> None:
    """Size Spark to this host and keep every file it writes inside the
    checkout; with ``trace_dir``, also turn on Spark's event log there.
    Must run before the JVM starts."""
    local, tmp = os.path.join(WORK, "spark-local"), os.path.join(WORK, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_LOCAL_DIR": local,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_WAREHOUSE": os.path.join(WORK, "warehouse"),
        "TMPDIR": tmp,
        # Without it, the JVMs spark-submit starts write /tmp/hsperfdata_*.
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "--conf", "spark.ui.showConsoleProgress=false"]
    if trace_dir is not None:
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir=file://{trace_dir}",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(map(shlex.quote, args + ["pyspark-shell"]))


def prepare_inputs(name: str, wl: Workload, seed: int) -> tuple[str, str | None]:
    """Generate (or reuse) this seed's inputs; return (inventory dir,
    query tables dir or None)."""
    import inputs

    root = os.path.join(WORK, "inputs")
    inv = inputs.cached(root, f"{name}-inventory-{seed}",
                        lambda tmp, final: inputs.write_inventory(tmp, final, wl.inventory, seed))
    tables = None
    if wl.queries:
        tables = inputs.cached(root, f"tables-{QUERY_SF}-{seed}",
                               lambda tmp, final: inputs.write_tables(tmp, seed, QUERY_SF))
    inputs.prune_cache(root, keep=8)
    return inv, tables


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class Bench:
    """One run of one workload: set-up, timed loop, checks, teardown."""

    def __init__(self, name: str, seed: int, seconds: float, trace_dir: str | None):
        from spans import Spans

        self.name, self.seed, self.seconds = name, seed, seconds
        self.wl = WORKLOADS[name]
        self.spans = Spans(trace_dir is not None)
        self.spark = None
        self.handler = None
        self.failures: list[str] = []
        self.attempted = 0
        self.setup_s: list[float] = []
        self.build_s: list[float] = []
        self.units: list[float] = []  # wall time of each timed unit of work
        self.query_times: dict[str, list[tuple[float, float]]] = {}

    # -- set-up ---------------------------------------------------------
    def setup(self, inv_dir: str) -> None:
        """Build the session and a serving handler ``SETUPS`` times; the
        last pair stays up.  Each set-up ends when the first lookup can
        be served."""
        import inputs
        from go_mailio_diskusage_handler_spark.session import build_session
        from go_mailio_diskusage_handler_spark.streaming.refresh import DiskUsageHandler

        download = inputs.inventory_download(inv_dir)

        def traced_download(bucket, key):
            with self.spans.span("manifest.fetch"):
                return download(bucket, key)

        for _ in range(SETUPS):
            if self.spark is not None:
                self.spans.sc = None
                self.spark.stop()
            t0 = time.perf_counter()
            with self.spans.span("setup"):
                with self.spans.span("session.build"):
                    self.spark = build_session(f"perfbench-{self.name}")
                t1 = time.perf_counter()
                self.spans.sc = self.spark.sparkContext
                with self.spans.span("refresh"):
                    self.handler = DiskUsageHandler(
                        self.spark,
                        f"s3://{inputs.INVENTORY_BUCKET}/{inputs.INVENTORY_PREFIX}",
                        3600, traced_download, path_scheme="file",
                        clock=lambda: inputs.INVENTORY_DAY, eager=True, autostart=False)
            t2 = time.perf_counter()
            self.build_s.append(t1 - t0)
            self.setup_s.append(t2 - t0)
        self.spark.sparkContext.setLogLevel("ERROR")

    # -- timed loops ----------------------------------------------------
    def loop(self, client, unit, check=None) -> None:
        """Run ``unit(timed)`` back to back: untimed for ``WARMUP_S``
        (the JIT is still warming after set-up), then timed for
        ``self.seconds``, each timed unit inside one lookup window.
        ``unit`` returns its wall time, or None when it failed;
        ``check()`` runs after every unit, outside the window."""
        for timed, seconds in ((False, WARMUP_S), (True, self.seconds)):
            deadline = time.perf_counter() + seconds
            ran = False
            while not ran or time.perf_counter() < deadline:
                ran = True
                if timed:
                    client.open()
                dt = unit(timed)
                if timed:
                    client.close()
                    if dt is not None:
                        self.units.append(dt)
                if check is not None and dt is not None:
                    check()

    def refresh(self, timed: bool) -> float | None:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.spans.span("unit" if timed else "warmup"), self.spans.span("refresh"):
                self.handler.execute_job()
        except Exception as exc:  # a failed refresh is a counted failure
            self.failures.append(f"refresh: {type(exc).__name__}: {exc}")
            return None
        return time.perf_counter() - t0

    def query_pass(self, tables: str, order: list[str], rng: random.Random, timed: bool):
        import querymix

        rng.shuffle(order)
        total = 0.0
        with self.spans.span("unit" if timed else "warmup"):
            for q in order:
                self.attempted += 1
                try:
                    c, e = querymix.run_query(self.spark, q, tables, self.spans)
                except Exception as exc:  # a failed query is a counted failure
                    self.failures.append(f"query {q}: {type(exc).__name__}: {exc}")
                    continue
                if timed:
                    self.query_times.setdefault(q, []).append((c, e))
                total += c + e
        return total

    def run(self) -> dict:
        import inputs
        import querymix
        from pyspark import SparkContext
        from service import LookupClient, snapshot_errors

        inv_dir, tables = prepare_inputs(self.name, self.wl, self.seed)
        expected, meta = inputs.load_expected(inv_dir)

        def check():
            errors = snapshot_errors(self.handler, expected, meta)
            if errors:
                self.failures.append(f"snapshot: {errors[:3]}")

        try:
            self.setup(inv_dir)
            check()
            client = LookupClient(self.handler, expected, LOOKUP_RATE, self.seed)
            client.start()
            try:
                if self.wl.queries:
                    order, rng = list(querymix.MIX), random.Random(self.seed)
                    self.loop(client, lambda timed: self.query_pass(tables, order, rng, timed))
                else:
                    self.loop(client, self.refresh, check)
            finally:
                client.stop()
            self.attempted += client.count + SETUPS
            # Peaks of the workload itself: the oracle check below holds
            # pandas and DuckDB frames that would otherwise set them.
            res = {"client": client, "addresses": len(expected),
                   "peak_rss_mb": vm_hwm_mb(os.getpid()),
                   "jvm_peak_rss_mb": vm_hwm_mb(SparkContext._gateway.proc.pid)}
            if self.wl.queries:
                failed = querymix.check_all(self.spark, tables)
                self.attempted += len(querymix.MIX)
                self.failures += [f"oracle {q}: {why}" for q, why in failed.items()]
            return res
        finally:
            self.teardown()

    def teardown(self) -> None:
        """Stop Spark and wait for the JVM (and with it the Python
        workers it started) to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        if self.spark is not None:
            self.spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()


# -- metrics ---------------------------------------------------------------

def end_to_end(bench: Bench, res: dict) -> dict[str, tuple[float, str]]:
    c = res["client"]
    return {
        "setup_s": (statistics.median(bench.setup_s), "s"),
        "work_s": (statistics.median(bench.units), "s"),
        "lookup_p99_ms": (c.window_median(99), "ms"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }


def _units(values: list[float]) -> str:
    return f"median of {len(values)}: " + " ".join(f"{u:.3f}" for u in values)


def report_lines(bench: Bench, res: dict, host: dict) -> list[str]:
    """Every end-to-end figure, by the names README.md uses."""
    from service import LATE_LIMIT_MS, percentile

    c = res["client"]
    failed = failed_count(bench, res)
    lines = [
        f"workload {bench.name} seed {bench.seed} seconds {bench.seconds:g}",
        "host " + " ".join(f"{k}={v}" for k, v in host.items()),
        f"setup_s {statistics.median(bench.setup_s):.4f} s (median of {len(bench.setup_s)}; "
        f"first {bench.setup_s[0]:.4f} s)",
    ]
    work = statistics.median(bench.units)
    if bench.wl.queries:
        per_query = [statistics.median(x + y for x, y in t) for t in bench.query_times.values()]
        lines += [
            f"query_total_s {work:.4f} s ({_units(bench.units)})",
            f"query_geomean_s {math.exp(statistics.fmean(map(math.log, per_query))):.4f} s "
            f"({len(per_query)} queries, median per query)",
        ]
        for q, t in sorted(bench.query_times.items()):
            lines.append(f"  {q} construct {statistics.median(x for x, _ in t):.4f} s "
                         f"execute {statistics.median(y for _, y in t):.4f} s")
    else:
        lines.append(f"refresh_s {work:.4f} s ({_units(bench.units)})")
    late = sum(x > LATE_LIMIT_MS for x in c.latency_ms)
    for q in (50, 99):
        lines.append(f"lookup_p{q}_ms {c.window_median(q):.4f} ms (median over "
                     f"{len(c.windows)} windows; pooled {percentile(c.latency_ms, q):.4f} ms, "
                     f"n={c.count})")
    lines += [
        f"lookup_late_frac {late / max(c.count, 1):.6f} ratio (limit {LATE_LIMIT_MS:g} ms)",
        f"peak_rss_mb {res['peak_rss_mb']:.1f} MB (Python driver)",
        f"jvm_peak_rss_mb {res['jvm_peak_rss_mb']:.1f} MB",
        f"error_rate {failed / bench.attempted:.6f} ratio ({failed}/{bench.attempted})",
    ]
    lines += [f"failure: {f}" for f in bench.failures[:10]]
    if c.wrong:
        lines.append(f"failure: {c.wrong} wrong lookup answers")
    return lines


def failed_count(bench: Bench, res: dict) -> int:
    return len(bench.failures) + res["client"].wrong


def untraced_reference(args) -> dict:
    """Run the same workload and seed untraced in a child process and
    return its result object (for the tracing overhead)."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, check=True,
                         timeout=100, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    import go_mailio_diskusage_handler_spark  # noqa: F401  (fail fast without the package)

    reference = untraced_reference(args) if args.trace else None
    trace_dir = None
    if args.trace:
        import shutil

        trace_dir = os.path.join(WORK, "trace", f"{args.workload}-{args.seed}")
        shutil.rmtree(trace_dir, ignore_errors=True)
        os.makedirs(trace_dir)
    configure_environment(trace_dir)
    host = host_settings()
    bench = Bench(args.workload, args.seed, args.seconds, trace_dir)
    res = bench.run()
    for line in report_lines(bench, res, host):
        print(line)
    failed = failed_count(bench, res)
    if args.trace:
        import layers

        e2e = end_to_end(bench, res)
        metrics = layers.per_layer(bench, res, trace_dir, e2e, reference)
        correct = not failed and reference["correct"]
    else:
        metrics = end_to_end(bench, res)
        correct = not failed
    print(json.dumps({
        "correct": correct,
        "attempted": bench.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
