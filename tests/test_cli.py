"""CLI entry point (``python -m nspc_etl_basic_spark``): the reference's
invocation shape — positional path, --config, isfile/isdir dispatch, exit
codes (loader.py:1503-1659, 1661-1687)."""

from __future__ import annotations

import os
import subprocess
import sys

from nspc_etl_basic_spark.__main__ import main
from nspc_etl_basic_spark.sinks.writer import ParquetWarehouse

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _sql_conf(spark) -> dict:
    return {k: v for k, v in spark.conf.getAll.items() if k.startswith("spark.sql.")}


def test_cli_single_file_exit_codes(spark, tmp_path):
    # main() calls get_spark() -> getOrCreate(), which re-applies its SQL
    # conf to the live fixture session. The fixture comes from the same
    # factory, so nothing may move: a drift here would run every later
    # test in the session under a conf other than the one it started with.
    conf_before = _sql_conf(spark)
    src = tmp_path / "sales.csv"
    src.write_text("id,amount\n1,10.5\n2,7\n")
    wh = str(tmp_path / "wh")
    rc = main([str(src), "--warehouse", wh, "--no-move"])
    assert rc == 0
    assert _sql_conf(spark) == conf_before
    rows = ParquetWarehouse(spark, wh).read("sales_csv").orderBy("id").collect()
    assert [(r.id, float(r.amount)) for r in rows] == [(1, 10.5), (2, 7.0)]

    # missing path -> 1 (loader.py:1686-1687)
    assert main([str(tmp_path / "nope.csv"), "--warehouse", wh]) == 1


def test_cli_flags_override_config(spark, tmp_path):
    src = tmp_path / "in.csv"
    src.write_text("id,v\n1,a\n")
    wh = str(tmp_path / "wh")
    rc = main(
        [str(src), "--warehouse", wh, "--no-move", "--override-table-name", "renamed"]
    )
    assert rc == 0
    assert ParquetWarehouse(spark, wh).exists("renamed")

    # strict failure -> exit 1: a bad INT against the now-existing typed
    # table in upsert mode
    whx = ParquetWarehouse(spark, wh)
    src2 = tmp_path / "in2.csv"
    src2.write_text("id,v\nnot_an_int,a\n")
    rc2 = main(
        [
            str(src2), "--warehouse", wh, "--no-move",
            "--override-table-name", "renamed", "--table-mode", "upsert",
        ]
    )
    assert rc2 == 1
    assert whx.read("renamed").count() == 1  # target unchanged


def test_cli_directory_batch(spark, tmp_path):
    d = tmp_path / "inbox"
    d.mkdir()
    (d / "a.csv").write_text("id,v\n1,x\n")
    (d / "b.csv").write_text("id,v\n2,y\n")
    wh = str(tmp_path / "wh")
    rc = main([str(d), "--warehouse", wh, "--no-move"])
    assert rc == 0
    whx = ParquetWarehouse(spark, wh)
    assert whx.exists("a_csv") and whx.exists("b_csv")
    # batch statistics recorded
    assert whx.read("EtlBatchJobStatistics").count() >= 1


def test_cli_subprocess_end_to_end(tmp_path):
    """One real ``python -m`` invocation (fresh JVM): config YAML + CSV,
    matching the reference's test_date_formats.py invocation shape."""
    src = tmp_path / "dates.csv"
    src.write_text("id,when\n1,01/02/2024 10:00:00\n2,02/03/2024 11:30:00\n")
    cfg = tmp_path / "cfg.yaml"
    cfg.write_text(
        "database:\n  warehouse_path: %s\nloader:\n  table_mode: drop_recreate\n"
        % (tmp_path / "wh")
    )
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_GRAFT_CPUS="4")
    proc = subprocess.run(
        [
            sys.executable, "-m", "nspc_etl_basic_spark",
            str(src), "--config", str(cfg), "--no-move",
        ],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert (tmp_path / "wh" / "dates_csv" / "_current").exists()
