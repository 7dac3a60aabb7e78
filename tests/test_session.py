"""The session factory's builder conf that only takes at JVM start."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

_DEBUGGING_SCRIPT = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, sys.argv[1])
    import pyspark.errors.utils as errors_utils
    from pyspark.sql import functions as F
    from nspc_etl_basic_spark import get_spark

    spark = get_spark(master="local[1]", shuffle_partitions=1)

    def no_capture(depth):
        raise AssertionError("call site captured")

    errors_utils._capture_call_site = no_capture
    (F.col("a") + F.lit(1)).alias("b")
    print(errors_utils.is_debugging_enabled())
    spark.stop()
    """
)


def test_factory_turns_off_dataframe_debugging():
    """PySpark caches the flag at the first wrapped ``functions``/``Column``
    call of a process, so it is checked in a process of its own: after
    ``get_spark`` no call pays the call-site capture."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "SPARK_DRIVER_MEM": "1g"}
    proc = subprocess.run(
        [sys.executable, "-c", _DEBUGGING_SCRIPT, repo],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0 and proc.stdout.strip().endswith("False"), (
        proc.stdout[-2000:] + proc.stderr[-4000:]
    )
