"""SparkSession factory.

The reference executes eagerly in-memory single-node R (SURVEY.md §4.1); this
engine instead declares lazy DataFrame plans and lets Catalyst/Tungsten plan
physical execution. Session defaults are chosen for correctness-parity with the
DuckDB oracle (UTC session timezone, ANSI off to match permissive R semantics)
and for scale (AQE on: runtime partition coalescing + skew-join splitting).
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

# the directory holding this package: Python workers (mapInPandas, UDFs)
# import it from here whatever the caller's cwd
_CHECKOUT = str(Path(__file__).resolve().parent.parent)


def physical_memory_mb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20


def default_driver_memory() -> str:
    """A quarter of physical memory, at most 24g: the Python workers and a
    DuckDB oracle share the host (a fixed 24g was OOM-killed on 15 GB)."""
    return f"{min(physical_memory_mb() // 4, 24 * 1024)}m"


def get_spark(
    app_name: str = "bioeco-portal-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    On a real cluster, ``master`` comes from spark-submit; locally we default to
    ``local[$SPARK_GRAFT_CPUS]``. Shuffle partitions default to one per local
    core (``$SPARK_GRAFT_CPUS``) — on a 1000-executor cluster AQE coalesces
    from a high initial count, so production submits should raise this to
    ~2-3x total cores. The driver heap is ``$SPARK_GRAFT_DRIVER_MEM`` if set,
    else :func:`default_driver_memory`.
    Python workers get the package's checkout on their PYTHONPATH, ahead of
    the caller's PYTHONPATH; an ``extra_conf`` value for
    ``spark.executorEnv.PYTHONPATH`` replaces both.
    """
    worker_path = [_CHECKOUT, *filter(None, [os.environ.get("PYTHONPATH")])]
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # --- correctness parity with the DuckDB oracle ---
        .config("spark.sql.session.timeZone", "UTC")
        # permissive R semantics (as.numeric junk -> NA, out-of-range index
        # -> NULL) — the reference never errors on dirty cells
        .config("spark.sql.ansi.enabled", "false")
        # read TIMESTAMP(NANOS) parquet columns as long; sources.files
        # converts them back to (microsecond) timestamps on load
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- scale posture (SURVEY.md §4.3) ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Arrow for the pandas paths (the UTM->WGS84 UDF, mapInPandas kernels)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # no call-site capture per Column/DataFrame call (~6 py4j round trips
        # each); it only enriches error messages
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config(
            "spark.sql.shuffle.partitions",
            str(
                shuffle_partitions
                if shuffle_partitions is not None
                else (int(cpus) if str(cpus).isdigit() else 32)
            ),
        )
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", os.pathsep.join(worker_path))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
