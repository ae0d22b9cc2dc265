"""Session defaults that depend on the host, checked in a fresh process
(the test session itself runs with an explicit master)."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = """
from osm_coverage_spark.session import get_spark
s = get_spark()
print(s.sparkContext.master, s.conf.get("spark.python.sql.dataFrameDebugging.enabled"))
s.stop()
"""


def test_default_master_uses_the_cpus_this_process_may_use():
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_INHERIT_MASTER")}
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [REPO, env.get("PYTHONPATH")]))
    done = subprocess.run([sys.executable, "-c", PROBE], env=env, cwd=REPO,
                          capture_output=True, text=True, timeout=600)
    assert done.returncode == 0, done.stderr[-4000:]
    master, debugging = done.stdout.split()[-2:]
    assert master == f"local[{len(os.sched_getaffinity(0))}]"
    assert debugging == "false"
