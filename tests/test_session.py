"""Session defaults: core count from the machine, and Python workers
that can import the package from any working directory."""

from __future__ import annotations

import os
import subprocess
import sys

from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_core_count_defaults_to_usable_cores(monkeypatch):
    from pypiper_spark.session import _core_count

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert _core_count() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert _core_count() == 3
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "not-a-number")
    assert _core_count() == len(os.sched_getaffinity(0))


def test_stateful_counter_runs_outside_repo_root(tmp_path):
    """q_stream_stateful_counter's Python workers unpickle a function
    that lives in pypiper_spark. Started from another directory, with
    the repo only on the driver's sys.path, the query must still run."""
    script = f"""
import sys
sys.path.insert(0, {REPO!r})
from pypiper_spark.registry import all_queries
from pypiper_spark.session import get_spark
spark = get_spark(shuffle_partitions=4)
n = all_queries()["q_stream_stateful_counter"].fn(spark, {SF_DIR!r}).count()
print("ROWS", n)
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    r = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    errors = [line for line in r.stderr.splitlines() if "Error" in line]
    assert r.returncode == 0, "\n".join(errors[:5]) or r.stderr[-3000:]
    rows = [line for line in r.stdout.splitlines() if line.startswith("ROWS ")]
    assert rows and int(rows[0].split()[1]) > 0, r.stdout[-2000:]
