"""Smoke test of the benchmark: every workload at the tiny size, untraced
and traced, prints every metric BENCHMARK.json names with its unit and
runs its output checks; outside a checkout the bench fails cleanly.

    python -m pytest perfbench/tests -q

Each case starts its own Spark session, so the file takes a few minutes.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
sys.path.insert(0, str(BENCH))

import gen  # noqa: E402


def _run(cwd: Path, *args: str, timeout: int = 600) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_prints_every_metric(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1",
             "--trace", str(trace), "--size", "tiny")
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    tele = json.loads(lines[-2])["telemetry"]
    # the output checks ran and passed
    assert tele["checks"] and tele["failed_ops"] == [] and tele["ops_failed_ratio"] == 0
    assert "run_steal_ppm" in tele and "run_busy_ppm" in tele
    if trace:
        assert (ROOT / tele["spans_file"]).is_file()
        m = result["metrics"]
        assert m["spark.jobs_per_op"]["value"] > 0
        if workload == "load_small_upsert":
            # the fresh-table file of every traced batch takes the insert path
            assert m["operators.infer_schema.self_s"]["value"] > 0
            assert m["sinks.warehouse.write.spark_jobs"]["value"] > 0


def test_fails_without_the_engine(tmp_path):
    """A directory holding only BENCHMARK.json and the bench itself: the
    command exits non-zero and prints no result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("out", "__pycache__"))
    p = _run(tmp_path, "--workload", SPEC["workloads"][0]["name"], "--seed", "1",
             "--seconds", "1", "--trace", "0", timeout=180)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def test_upsert_expectations_follow_last_wins_over_valid_rows():
    """The generator's expected statistics: invalid rows are dropped
    before duplicate keys resolve, and every key exists after seeding."""
    sc = gen.UpsertScenario(seed=3, keys_per_table=50, sizes=(10, 20, 30))
    seeds = sc.seed_files()
    assert [f.rows_inserted for f in seeds] == [50] * len(gen.TABLES)
    files = [sc.next_file() for _ in range(6)]
    assert [f.rows_failed for f in files] == [0, 3, 0, 0, 3, 0]
    for f in files:
        assert f.rows_inserted == 0
        assert f.rows_updated <= f.rows_read - f.rows_failed
    assert all(len(state) == 50 for state in sc.state.values())


def test_fresh_file_inserts_every_distinct_key():
    sc = gen.UpsertScenario(seed=3, keys_per_table=50, sizes=(10, 20, 30))
    sc.seed_files()
    upserts = gen.UpsertScenario(seed=3, keys_per_table=50, sizes=(10, 20, 30))
    upserts.seed_files()
    f = sc.fresh_file(0)
    assert f.table == "fresh0" and f.rows_read == 21
    assert (f.rows_inserted, f.rows_updated, f.rows_failed) == (20, 0, 0)
    assert len(sc.state["fresh0"]) == 20
    # the upsert stream does not depend on the fresh files drawn
    assert sc.next_file().text == upserts.next_file().text


def test_digest_is_order_independent():
    rows = [("1", "a b 1", "2.50", "3", "2024-01-01 00:00:00"),
            ("2", "c d 2", "10.00", "0", "2024-02-01 12:00:00")]
    assert gen.state_digest(rows) == gen.state_digest(rows[::-1])
    assert gen.state_digest(rows) != gen.state_digest(rows[:1])
