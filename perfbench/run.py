#!/usr/bin/env python3
"""Benchmark of the bioeco-spark engine: one workload per process.

    python3 perfbench/run.py --workload portal_etl --seed 1 --seconds 1 --trace 0

Closed loop, one client: operations (catalog queries, or the stages of one
portal ETL run) run one at a time. Caches are cleared before every catalog
query and before the portal pass ("cold with clear"): Spark's cache is
emptied and every persistent RDD unpersisted, so a persist pays for its own
fill. ``--seed`` generates the inputs.

A run sets up the session (``setup_s``: process start until the first
trivial Spark job completes), then runs one pass over the workload in that
fresh session (``first_pass_s``), in the listed order. ``--seconds`` is the
shortest time to measure; a pass of either workload lasts far longer than
the value BENCHMARK.json passes, so a run measures exactly one pass. A
second pass would not fit the time budget of a benchmark round (see
README.md). A finished run removes its scratch files. Outputs are
checked after each operation's timer stops. The last line of stdout is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Per-operation diagnostics go to
``perfbench/work/artifacts/<workload>-seed<seed>-trace<trace>.json``.

``--trace 1`` starts the session with the event log on and runs the same
pass with job groups and spans; the per-layer metrics come from that pass.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

from workloads import CATALOG_WORKLOADS, CatalogWorkload, PortalWorkload

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
SCRATCH = os.path.join(WORK, "run")  # emptied at the start of every run
ARTIFACTS = os.path.join(WORK, "artifacts")
WORKLOADS = ("portal_etl", *CATALOG_WORKLOADS)


def process_age() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def spark_conf(event_log_dir: str | None) -> dict[str, str]:
    tmp = os.path.join(SCRATCH, "tmp")
    conf = {
        "spark.driver.memory": "4g",
        "spark.ui.showConsoleProgress": "false",
        # Python workers import the package from the checkout whatever the
        # caller's cwd (the JVM also inherits PYTHONPATH from this process)
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.local.dir": os.path.join(SCRATCH, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(SCRATCH, "warehouse"),
        # keep every file the JVM and embedded Derby write inside the checkout
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem "
            f"-Dderby.system.home={SCRATCH} -Dderby.stream.error.file={SCRATCH}/derby.log"
        ),
    }
    if event_log_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.logBlockUpdates.enabled": "true",
        })
    return conf


def start_spark(event_log_dir: str | None = None):
    from bioeco_portal_etl_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=spark_conf(event_log_dir))
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM has exited
    (stopping the context also stops its Python worker daemon)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def clear_cache(spark) -> None:
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


class Runner:
    """Runs one pass over a workload's operations and keeps the counts."""

    def __init__(self, args, spark, tracer, data_dir: str, expected: dict | None):
        self.spark, self.tracer = spark, tracer
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.times: dict[str, float] = {}
        if args.workload == "portal_etl":
            out = os.path.join(SCRATCH, "sinks")
            os.makedirs(out, exist_ok=True)
            self.workload = PortalWorkload(spark, data_dir, out, expected, tracer)
        else:
            names = CATALOG_WORKLOADS[args.workload]
            self.workload = CatalogWorkload(spark, names, data_dir, tracer)

    def run_pass(self) -> float:
        """One pass in the listed order: the first query of a fresh JVM pays
        most of the warm-up, so a seeded order made the pass time depend on
        the seed. Returns the sum of the operations' times."""
        self.workload.reset()
        for op in self.workload.ops():
            if self.workload.clear_before_each_op:
                self._clear()
            self.tracer.op = op.name
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                result = op.run()
            except Exception:
                self.times[op.name] = time.perf_counter() - t0
                self._fail(op.name, traceback.format_exc())
                continue
            self.times[op.name] = time.perf_counter() - t0
            try:
                op.check(result)
            except Exception:
                self._fail(op.name, traceback.format_exc())
        self._clear()
        return sum(self.times.values())

    def _clear(self) -> None:
        self.tracer.count_leaked()
        clear_cache(self.spark)

    def _fail(self, name: str, tb: str) -> None:
        self.failed += 1
        self.errors.append(f"{name}: {tb.strip().splitlines()[-1]}")
        print(f"[perfbench] {name} failed:\n{tb}", file=sys.stderr)


def make_inputs(args) -> tuple[str, dict | None]:
    import datagen

    data_dir = os.path.join(SCRATCH, "inputs")
    if args.workload == "portal_etl":
        return data_dir, datagen.write_portal_inputs(data_dir, args.seed)
    datagen.write_documents(data_dir, args.seed)
    return data_dir, None


def layer_metrics(runner: Runner, counters: dict, pass_s: float, rss_mb: float) -> dict:
    """Per-layer metrics: sums over the traced pass. Layers a workload does
    not touch read 0."""
    tracer = runner.tracer

    def counter(name: str) -> float:
        return float(counters.get(name, 0))

    def span(name: str) -> float:
        return sum(v for (_op, s), v in tracer.spans.items() if s == name)

    run_s, cpu_s = counter("run_ms") / 1e3, counter("cpu_ns") / 1e9
    op_times = sorted(runner.times.values())
    deciles = statistics.quantiles(op_times, n=10) if len(op_times) > 1 else op_times * 9
    files, size, rows = runner.workload.sink_totals()
    m = {
        "catalog.build_s": (span("catalog.build"), "s"),
        "catalog.build_jobs": (counter("build_jobs"), "count"),
        "exec.jobs": (counter("jobs"), "count"),
        "exec.stages": (counter("stages"), "count"),
        "exec.tasks": (counter("tasks"), "count"),
        "exec.run_s": (run_s, "s"),
        "exec.cpu_s": (cpu_s, "s"),
        "exec.gc_s": (counter("gc_ms") / 1e3, "s"),
        "exec.offcpu_s": (max(run_s - cpu_s, 0.0), "s"),
        "exec.cpu_per_run": (cpu_s / run_s if run_s else 0.0, "ratio"),
        "plan.s": (span("plan"), "s"),
        "plan.exchanges": (counter("exchanges"), "count"),
        "plan.broadcasts": (counter("broadcasts"), "count"),
        "shuffle.write_bytes": (counter("shuffle_write_bytes"), "bytes"),
        "shuffle.read_bytes": (counter("shuffle_read_bytes"), "bytes"),
        "shuffle.spill_bytes": (counter("spill_bytes"), "bytes"),
        "cache.fills": (counter("cache_fills"), "count"),
        "cache.leaked": (float(tracer.leaked), "count"),
        "cache.peak_bytes": (counter("cache_peak_bytes"), "bytes"),
        "session.jvm_peak_rss_mb": (rss_mb, "MiB"),
        "sources.files.read_s": (span("sources.files.read"), "s"),
        "pipelines.programs.s": (span("pipelines.programs"), "s"),
        "pipelines.layers.s": (span("pipelines.layers"), "s"),
        "sinks.fixtures.s": (span("sinks.fixtures"), "s"),
        "sinks.jdbc_upsert.s": (span("sinks.jdbc_upsert"), "s"),
        "sinks.files_written": (float(files), "count"),
        "sinks.bytes_written": (float(size), "bytes"),
        "sinks.rows_written": (float(rows), "count"),
        "query.p50_s": (deciles[4], "s"),
        "query.p90_s": (deciles[8], "s"),
        "ops.error_rate": (runner.failed / runner.attempted, "ratio"),
        "trace.pass_s": (pass_s, "s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="shortest time to measure; a run always measures one whole pass")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    try:
        # the program under test; absent when only the benchmark is present
        import bioeco_portal_etl_spark.session  # noqa: F401
        import tests.oracle  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable here: {e}", file=sys.stderr)
        return 2

    # what a crashed run left behind (a finished run removes its own); the
    # removal is the benchmark's work, so set-up time does not count it
    t0 = time.perf_counter()
    shutil.rmtree(SCRATCH, ignore_errors=True)
    cleanup_s = time.perf_counter() - t0
    os.makedirs(os.path.join(SCRATCH, "tmp"))
    os.makedirs(ARTIFACTS, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(SCRATCH, "spark-local"),
        "TMPDIR": os.path.join(SCRATCH, "tmp"),
    })
    if args.workload == "portal_etl":
        import bioeco_portal_etl_spark.pipelines.layers  # noqa: F401
        import bioeco_portal_etl_spark.pipelines.programs  # noqa: F401
    else:
        import bioeco_portal_etl_spark.catalog  # noqa: F401
    log_dir = os.path.join(SCRATCH, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
    spark = start_spark(log_dir if args.trace else None)
    setup_s = process_age() - cleanup_s

    from tracing import Tracer, jvm_peak_rss_mb, reduce_event_log

    runner = None
    try:
        tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
        runner = Runner(args, spark, tracer, *make_inputs(args))
        first_pass_s = runner.run_pass()
        if args.trace:
            rss_mb = jvm_peak_rss_mb(spark)
    finally:
        if runner is not None:
            runner.workload.close()
        stop_jvm(spark)  # also flushes the event log

    # per operation: wall time, and with --trace 1 its jobs and plan fingerprint
    ops = {op: {"seconds": t} for op, t in runner.times.items()}
    if args.trace:
        counters, per_op = reduce_event_log(log_dir)
        for op, diag in ops.items():
            diag.update(per_op.get(op, {}))
        metrics = layer_metrics(runner, counters, first_pass_s, rss_mb)
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "first_pass_s": {"value": first_pass_s, "unit": "s"},
        }

    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "metrics": metrics, "ops": ops,
        "errors": runner.errors, "attempted": runner.attempted, "failed": runner.failed,
    }
    path = os.path.join(ARTIFACTS, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1)
    # leave the next run's set-up an empty scratch directory
    shutil.rmtree(SCRATCH, ignore_errors=True)
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
