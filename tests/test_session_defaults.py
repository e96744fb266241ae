"""``session.get_spark`` sizes an unconfigured session to the host.

With neither ``cpus=`` nor ``SPARK_GRAFT_CPUS`` given, the session runs
local[n] with n shuffle partitions, n being the cores this process may
run on.  The check runs in a child process: the suite's own session is
already built with an explicit core count."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from .conftest import REPO_ROOT

_CHILD = """
import json, os, sys
sys.path.insert(0, sys.argv[1])
from data_engineering_examples_spark.session import get_spark

spark = get_spark("session-defaults")
print("RESULT::" + json.dumps({
    "parallelism": spark.sparkContext.defaultParallelism,
    "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
    "affinity": len(os.sched_getaffinity(0)),
}))
"""


def test_unset_cpus_default_to_affinity_count():
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, REPO_ROOT],
        capture_output=True, text=True, timeout=300, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = next(ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT::"))
    got = json.loads(line[len("RESULT::"):])
    assert got["parallelism"] == got["affinity"], got
    assert got["shuffle_partitions"] == got["affinity"], got
