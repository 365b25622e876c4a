"""Session defaults that only a freshly launched driver JVM shows.

The tier-1 session is shared by every test, so the driver's JVM flags are
checked in a subprocess that launches its own JVM through ``get_spark``."""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parents[1]

_PROBE = """
import json
from platform_etl_backend_spark.engine.session import get_spark

spark = get_spark(
    "session-probe", master="local[1]",
    extra_conf={"spark.driver.extraJavaOptions": "-XX:-UsePerfData"},
)
mx = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print(json.dumps(list(mx.getInputArguments())))
spark.stop()
"""


def test_driver_runs_c1_only_and_keeps_caller_java_options():
    """``-XX:TieredStopAtLevel=1`` reaches the driver JVM from the engine
    defaults, and a caller's own ``extraJavaOptions`` neither drops it nor
    is dropped by it."""
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (str(REPO), os.environ.get("PYTHONPATH")) if p))
    out = subprocess.run(
        [sys.executable, "-c", _PROBE], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    args = json.loads(out.strip().splitlines()[-1])
    assert "-XX:TieredStopAtLevel=1" in args
    assert "-XX:-UsePerfData" in args
