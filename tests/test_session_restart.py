"""Session restart: the registry's artifact cache must not outlive its
SparkSession. Runs in a subprocess, because the Tier-1 suite shares one
session fixture and stopping it would break every later test."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = """
import sys
import __spark_entry__ as entry
from vectorsearch_rbac_spark.sources import get_spark

sf_dir = sys.argv[1]
spark = get_spark("restart")
first = sorted(map(tuple, entry.q_rbac_qdtree_topk(spark, sf_dir).collect()))
spark.stop()
spark = get_spark("restart")
second = sorted(map(tuple, entry.q_rbac_qdtree_topk(spark, sf_dir).collect()))
spark.stop()
assert first and first == second, "results changed across the restart"
print("RESTART_OK")
"""


def test_cached_entry_survives_session_restart(sf_dir):
    """Run a ``_cached`` entry, stop the session, open a new one and run it
    again: the second call must rebuild its cached artifact in the new
    session and return the same rows, not reuse a plan bound to the
    stopped one."""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g", PYTHONPATH=REPO)
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, sf_dir],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0 and "RESTART_OK" in proc.stdout, proc.stderr[-3000:]
