"""Streaming data-quality gates: the batch constraint suite
(`operators/quality.py`) evaluated per micro-batch.

Each micro-batch runs the whole check suite in its single aggregate pass
and appends the long-format results (stamped with the micro-batch id) to
a parquet metrics table — the same append-only shape as the job/batch
statistics sinks (`sinks/metadata.py`), so the metrics are directly
queryable. ``fail_on_violation=True`` turns the suite into an ingest
gate: the stream stops on the first failing batch, and because the
metrics append happens before the raise, the failure is recorded.

Scale: adds exactly one aggregate job per micro-batch (map-side
combined); the bounded collect is the per-check result rows (a handful),
never data.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nspc_etl_basic_spark.operators.quality import Check, run_checks
from nspc_etl_basic_spark.streaming.ingest import drain


class QualityGateError(RuntimeError):
    """A micro-batch violated one or more data-quality checks."""


def run_stream_quality(
    df: DataFrame,
    checks: Sequence[Check],
    metrics_path: str,
    checkpoint_path: str,
    fail_on_violation: bool = False,
    query_name: str = "stream_quality",
):
    """Drain an AvailableNow stream through the constraint suite.

    Returns the finished StreamingQuery. Empty micro-batches are skipped
    (an empty aggregate would report every metric as null/failed).
    """

    def _check_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        res = run_checks(batch_df, checks).withColumn(
            "batch_id", F.lit(int(batch_id)).cast("long")
        )
        res.write.mode("append").parquet(metrics_path)
        if fail_on_violation:
            failed = [
                r["check_name"]
                for r in res.where(~F.col("passed")).collect()
            ]
            if failed:
                raise QualityGateError(
                    f"micro-batch {batch_id} failed checks: {failed}"
                )

    writer = df.writeStream.foreachBatch(_check_batch)
    try:
        return drain(writer, checkpoint_path, query_name)
    except Exception as exc:  # noqa: BLE001 — unwrap the gate failure
        # Spark wraps foreachBatch exceptions in StreamingQueryException;
        # re-surface the gate violation as the exported type so callers'
        # `except QualityGateError` actually works
        if "QualityGateError" in str(exc):
            raise QualityGateError(str(exc)) from exc
        raise
