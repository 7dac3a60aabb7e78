from nspc_etl_basic_spark.streaming.dedup import (
    stream_dedup_exact,
    stream_dedup_keys,
)
from nspc_etl_basic_spark.streaming.ingest import (
    run_available_now,
    run_stream_upsert,
    run_stream_upsert_cdc,
    stream_directory,
)
from nspc_etl_basic_spark.streaming.windows import (
    windowed_agg,
    sliding_window_agg,
)
from nspc_etl_basic_spark.streaming.sessionize import sessionize_stateful
from nspc_etl_basic_spark.streaming.joins import attribution_join
from nspc_etl_basic_spark.streaming.quality import QualityGateError, run_stream_quality
from nspc_etl_basic_spark.streaming.scd import run_stream_scd2
from nspc_etl_basic_spark.streaming.mv import run_stream_mv
from nspc_etl_basic_spark.streaming.anomaly import run_stream_anomaly, stats_store_table
from nspc_etl_basic_spark.streaming.spandedup import (
    gram_store_table,
    read_gram_counts,
    run_stream_span_dedup,
)

__all__ = [
    "attribution_join",
    "QualityGateError",
    "run_stream_quality",
    "run_stream_scd2",
    "run_stream_mv",
    "run_stream_anomaly",
    "stats_store_table",
    "gram_store_table",
    "read_gram_counts",
    "run_stream_span_dedup",
    "stream_directory",
    "run_available_now",
    "run_stream_upsert",
    "run_stream_upsert_cdc",
    "windowed_agg",
    "sliding_window_agg",
    "sessionize_stateful",
    "stream_dedup_exact",
    "stream_dedup_keys",
]

from nspc_etl_basic_spark.streaming.freq import (
    count_store_table,
    heavy_hitters_from_store,
    run_stream_heavy_hitters,
)

__all__ += [
    "count_store_table",
    "heavy_hitters_from_store",
    "run_stream_heavy_hitters",
]

from nspc_etl_basic_spark.streaming.ewma import (
    ewma_from_store,
    ewma_store_table,
    run_stream_ewma,
)

__all__ += ["ewma_from_store", "ewma_store_table", "run_stream_ewma"]
