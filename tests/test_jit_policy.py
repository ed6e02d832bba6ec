"""A JVM that ``session.get_spark`` launches runs with the session's JIT
policy, even when the caller passes its own ``--driver-java-options``.

The policy raises HotSpot's C2 (tier-4) compile thresholds 10× (see the
``session`` module docstring). It travels as
``spark.driver.defaultJavaOptions``: pyspark appends
``PYSPARK_SUBMIT_ARGS`` after the session's ``--conf`` settings, and a
``--driver-java-options`` there (perfbench passes one) replaces
``spark.driver.extraJavaOptions`` but not ``defaultJavaOptions``. The
pytest session's JVM is already running, so the check launches a fresh
one in a child process and reads the effective values back through
``HotSpotDiagnosticMXBean``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

EXPECTED = {
    "Tier4InvocationThreshold": "50000",
    "Tier4MinInvocationThreshold": "6000",
    "Tier4CompileThreshold": "150000",
    "Tier4BackEdgeThreshold": "400000",
}

CHILD = """
import json, sys
from bigbookapi_etl_with_airflow_and_snowflake_spark.session import get_spark

spark = get_spark(app_name="jit-policy", master="local[1]")
jvm = spark._jvm
mx = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
)
out = {name: mx.getVMOption(name).getValue() for name in json.loads(sys.argv[1])}
out["java.io.tmpdir"] = jvm.java.lang.System.getProperty("java.io.tmpdir")
spark.stop()
print(json.dumps(out))
"""


def test_fresh_driver_jvm_gets_the_jit_policy(tmp_path):
    jtmp = tmp_path / "jtmp"
    jtmp.mkdir()
    env = dict(
        os.environ,
        SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_LOCAL_DIRS=str(tmp_path / "local"),
        # as perfbench sets it: the caller's own driver JVM options
        PYSPARK_SUBMIT_ARGS=f'--driver-java-options "-Djava.io.tmpdir={jtmp}" pyspark-shell',
    )
    env["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, env.get("PYTHONPATH")) if p)
    proc = subprocess.run(
        [sys.executable, "-c", CHILD, json.dumps(sorted(EXPECTED))],
        env=env, cwd=str(tmp_path), capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    # the caller's --driver-java-options reached the JVM too
    assert got.pop("java.io.tmpdir") == str(jtmp)
    assert got == EXPECTED
