"""Tracing for the benchmark's traced run (``--trace 1``).

Two sources, both recorded from the benchmark's own code:

* spans: wall-clock intervals the benchmark times around its calls into each
  layer (a catalog query function, plan preparation, the collect, a portal
  pipeline stage). Each span also sets the Spark job group to
  ``"<op>|<span>"``, so every job Spark runs inside the span is attributed
  to it.
* Spark's event log (``spark.eventLog.enabled``, a session conf): after the
  session stops, ``reduce_event_log`` folds the job, stage, task and SQL
  events into counters for the pass and per operation, using the job group.

With tracing off, ``span`` records nothing and sets no job group, so an
untraced run pays no tracing cost.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

# counters summed over the tasks, jobs and plans of the pass
COUNTERS = (
    "jobs", "build_jobs", "stages", "tasks", "run_ms", "cpu_ns", "gc_ms",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "exchanges",
    "broadcasts", "cache_fills", "cache_peak_bytes",
)


class Tracer:
    """Spans and leaked-cache count of one pass; the runner sets ``op``
    before each operation."""

    def __init__(self, sc, enabled: bool):
        self.sc, self.enabled = sc, enabled
        self.op = ""
        # (op, span) -> seconds
        self.spans: dict[tuple[str, str], float] = defaultdict(float)
        self.leaked = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        self.sc.setJobGroup(f"{self.op}|{name}", name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans[(self.op, name)] += time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def plan(self, df) -> None:
        """Prepare the executed plan before the action runs, so the ``plan``
        span holds analysis, optimization and physical planning."""
        if self.enabled:
            df._jdf.queryExecution().executedPlan()

    def count_leaked(self) -> None:
        """Count the persistent RDDs still alive when the benchmark is about
        to clear them (after each catalog query, after the portal pass)."""
        if self.enabled:
            self.leaked += len(self.sc._jsc.getPersistentRDDs())


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM (VmHWM), in MiB."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def _plan_nodes(info: dict):
    yield info.get("nodeName", "")
    for child in info.get("children", []):
        yield from _plan_nodes(child)


def _plan_shape(info: dict) -> str:
    kids = ",".join(_plan_shape(c) for c in info.get("children", []))
    return f"{info.get('nodeName', '')}({kids})"


def _events(log_dir: str):
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(path):
            continue
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def reduce_event_log(log_dir: str) -> tuple[dict[str, float], dict[str, dict]]:
    """Fold the event log into ``counters[counter]`` for the pass and
    ``per_op[op] = {"jobs", "plan_fingerprint"}``, using the job group
    ``"<op>|<span>"`` the tracer set. Jobs outside a span are ignored."""
    stage_op: dict[int, str] = {}
    exec_op: dict[int, str] = {}
    final_plan: dict[int, dict] = {}
    c = dict.fromkeys(COUNTERS, 0)
    per_op: dict[str, dict] = defaultdict(lambda: {"jobs": 0, "plan_fingerprint": ""})
    live_blocks: dict[str, int] = {}
    filled: set[int] = set()
    cached_bytes = 0

    for ev in _events(log_dir):
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            gid = props.get("spark.jobGroup.id") or ""
            if gid.count("|") != 1:
                continue
            op, span = gid.split("|")
            c["jobs"] += 1
            per_op[op]["jobs"] += 1
            if span == "catalog.build":
                c["build_jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_op.setdefault(sid, op)
            if "spark.sql.execution.id" in props:
                exec_op[int(props["spark.sql.execution.id"])] = op
        elif kind == "SparkListenerTaskEnd":
            if ev.get("Stage ID") not in stage_op:
                continue
            m = ev.get("Task Metrics") or {}
            c["tasks"] += 1
            c["run_ms"] += m.get("Executor Run Time", 0)
            c["cpu_ns"] += m.get("Executor CPU Time", 0)
            c["gc_ms"] += m.get("JVM GC Time", 0)
            c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        elif kind == "SparkListenerStageCompleted":
            if (ev.get("Stage Info") or {}).get("Stage ID") in stage_op:
                c["stages"] += 1
        elif kind == "SparkListenerBlockUpdated":
            # cached RDD blocks
            b = ev.get("Block Updated Info") or {}
            block = b.get("Block ID", "")
            if not block.startswith("rdd_"):
                continue
            size = b.get("Memory Size", 0) + b.get("Disk Size", 0)
            cached_bytes += size - live_blocks.pop(block, 0)
            if size:
                live_blocks[block] = size
                rdd = int(block.split("_")[1])
                if rdd not in filled:
                    filled.add(rdd)
                    c["cache_fills"] += 1
            c["cache_peak_bytes"] = max(c["cache_peak_bytes"], cached_bytes)
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            final_plan[ev["executionId"]] = ev.get("sparkPlanInfo") or {}

    for eid, plan in sorted(final_plan.items()):
        op = exec_op.get(eid)
        if op is None:
            continue
        nodes = list(_plan_nodes(plan))
        c["exchanges"] += sum(n == "Exchange" for n in nodes)
        c["broadcasts"] += sum(n == "BroadcastExchange" for n in nodes)
        # an operation's last execution is its result query
        shape = _plan_shape(plan).encode()
        per_op[op]["plan_fingerprint"] = hashlib.sha1(shape).hexdigest()[:12]
    return c, dict(per_op)
