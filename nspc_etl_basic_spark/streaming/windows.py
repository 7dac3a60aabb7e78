"""Event-time windowed aggregation with watermarks (SURVEY.md §7.1 M7).

Works identically on batch and streaming DataFrames — the batch twin is
what the driver's oracle checks (``events_windowed`` in
``__spark_entry__.py``); the streaming form adds the watermark so state
for closed windows is dropped (bounded state at 100 TB/day rates).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _agg_exprs() -> list[Column]:
    return [
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("sum_value"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_value"),
    ]


def windowed_agg(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str | None = None,
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Tumbling event-time window per key. With ``watermark`` set (streaming),
    late rows beyond the bound are dropped and window state is reclaimed."""
    df = events
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    return df.groupBy(F.window(ts_col, window), F.col(key_col)).agg(*_agg_exprs())


def sliding_window_agg(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str | None = None,
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Sliding (overlapping) event-time windows — each row lands in
    window/slide buckets."""
    df = events
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    return df.groupBy(
        F.window(ts_col, window, slide), F.col(key_col)
    ).agg(*_agg_exprs())
