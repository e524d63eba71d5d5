"""``session.get_spark`` sizes its defaults from the host it runs on."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = """
import os, sys
sys.path.insert(0, sys.argv[1])
from debezium_connector_yugabytedb_1_spark.session import get_spark
spark = get_spark(app_name="session-probe")
print("PROBE", spark.sparkContext.defaultParallelism, os.cpu_count(),
      spark.conf.get("spark.python.sql.dataFrameDebugging.enabled"))
spark.stop()
"""


def test_default_cores_follow_the_host():
    """With ``SPARK_GRAFT_CPUS`` unset, a fresh session runs one local
    thread per host CPU (its own JVM: the suite's session is already
    built with explicit cores), and PySpark's per-call call-site capture
    is off."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    # the heap default is not under test; keep the probe JVM small
    env["SPARK_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", PROBE, REPO],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    probe = [line for line in out.stdout.splitlines() if line.startswith("PROBE")]
    assert probe, out.stdout[-2000:] + out.stderr[-1000:]
    parallelism, cpus, debugging = probe[0].split()[1:]
    assert int(parallelism) == int(cpus)
    assert debugging == "false"
