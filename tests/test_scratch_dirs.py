"""Driver queries that write a table on every call leave nothing in the
temp dir once their process exits: their per-call dirs live under one
per-process root that is removed at interpreter exit."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERIES = {
    "warehouse_schema_evolution_q": "nspc_evolve_",
    "orders_bucketed_join_q": "nspc_buckjoin_",
    "events_partition_prune_q": "nspc_part_",
    "events_dpp_join_q": "nspc_dpp_",
    "warehouse_snapshot_diff_q": "nspc_diff_",
}
SCRIPT = """
import os, sys
import __spark_entry__ as e
from nspc_etl_basic_spark import get_spark

spark = get_spark(master="local[2]", shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
for name in sys.argv[2:]:
    getattr(e, name)(spark, sys.argv[1]).collect()
root = e._scratch_root()
print(root, sorted(p.split("_")[1] for p in os.listdir(root)))
"""


def test_per_call_query_dirs_are_removed_at_exit(tmp_path, sf_dir):
    tmp, cwd = tmp_path / "tmp", tmp_path / "cwd"
    tmp.mkdir()
    cwd.mkdir()
    env = dict(os.environ, TMPDIR=str(tmp))
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT, sf_dir, *QUERIES],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    root, kinds = proc.stdout.strip().splitlines()[-1].split(" ", 1)
    # the queries did write under the root, and the root sat in TMPDIR
    assert os.path.dirname(root) == str(tmp)
    assert kinds == repr(sorted(p.split("_")[1] for p in QUERIES.values()))
    left = sorted(os.listdir(tmp))
    assert not [p for p in left if p.startswith(("nspc_scratch_", *QUERIES.values()))], left
