"""get_spark puts the package on the Python workers' path itself, so
mapInPandas queries run whatever directory the caller starts in."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

from tests.conftest import SF_SMOKE

REPO = Path(__file__).resolve().parent.parent

_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from bioeco_portal_etl_spark.catalog import queries
from bioeco_portal_etl_spark.session import get_spark

conf = {{"spark.driver.memory": "1g"}}
spark = get_spark(master="local[1]", shuffle_partitions=1,
                  extra_conf={{**conf, "spark.executorEnv.PYTHONPATH": "/override"}})
assert spark.sparkContext.environment["PYTHONPATH"] == "/override"
spark.stop()
spark = get_spark(master="local[2]", shuffle_partitions=2, extra_conf=conf)
print(spark.sparkContext.environment["PYTHONPATH"])
print(queries()["mm7_wav_clip_stats"](spark, {sf!r}).count())
spark.stop()
"""


def test_mapinpandas_query_runs_outside_the_checkout(tmp_path):
    script = tmp_path / "run.py"
    script.write_text(_SCRIPT.format(repo=str(REPO), sf=SF_SMOKE))
    env = {**os.environ, "PYTHONPATH": "/caller/path"}
    proc = subprocess.run([sys.executable, str(script)], cwd=tmp_path, env=env,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    worker_path, rows = proc.stdout.split()[-2:]
    # the checkout first, merged with the caller's PYTHONPATH
    assert worker_path == os.pathsep.join([str(REPO), "/caller/path"])
    assert int(rows) > 0


def test_default_driver_heap_is_below_physical_memory():
    from bioeco_portal_etl_spark.session import (
        default_driver_memory,
        physical_memory_mb,
    )

    heap = default_driver_memory()
    assert heap.endswith("m")
    assert 0 < int(heap[:-1]) < physical_memory_mb()


_DEBUG_KEY = "spark.python.sql.dataFrameDebugging.enabled"


def test_dataframe_debugging_off_unless_overridden(tmp_path):
    """get_spark turns off PySpark's per-call origin capture; extra_conf
    can turn it back on."""
    script = tmp_path / "conf.py"
    script.write_text(
        f"import sys\nsys.path.insert(0, {str(REPO)!r})\n"
        "from bioeco_portal_etl_spark.session import get_spark\n"
        "conf = {'spark.driver.memory': '1g'}\n"
        "for extra in ({}, {" + repr(_DEBUG_KEY) + ": 'true'}):\n"
        "    spark = get_spark(master='local[1]', shuffle_partitions=1,\n"
        "                      extra_conf={**conf, **extra})\n"
        "    print(spark.conf.get(" + repr(_DEBUG_KEY) + "))\n"
        "    spark.stop()\n"
    )
    proc = subprocess.run([sys.executable, str(script)], cwd=tmp_path,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert proc.stdout.split()[-2:] == ["false", "true"]
