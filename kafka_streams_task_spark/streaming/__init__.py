from .ann import knn_ivfpq_stream_index, streaming_ivfpq_ingest
from .dedup import (
    streaming_dedup_exact,
    streaming_dedup_near,
    streaming_dedup_watermarked,
)
from .dsir import streaming_dsir_filter
from .drift import (
    read_drift_log,
    snapshot_drift_history,
    streaming_snapshot_drift,
)
from .joins import interval_join
from .kn import streaming_kn_filter
from .mixing import (
    read_score_boundaries,
    read_score_counts,
    streaming_score_boundaries,
)
from .sketch import (
    read_distinct_count,
    read_token_frequencies,
    read_top_tokens,
    read_value_quantiles,
    streaming_distinct_values,
    streaming_token_frequencies,
    streaming_top_tokens,
    streaming_value_quantiles,
)
from .pipeline import commit_batch_to_snapshot, streaming_crawl_to_snapshot
from .topology import weather_hotels_stream, weather_rollup_stream

__all__ = [
    "knn_ivfpq_stream_index",
    "streaming_ivfpq_ingest",
    "weather_rollup_stream",
    "weather_hotels_stream",
    "streaming_dedup_exact",
    "streaming_dedup_watermarked",
    "streaming_dedup_near",
    "streaming_dsir_filter",
    "streaming_kn_filter",
    "streaming_crawl_to_snapshot",
    "commit_batch_to_snapshot",
    "snapshot_drift_history",
    "streaming_snapshot_drift",
    "read_drift_log",
    "interval_join",
    "streaming_score_boundaries",
    "read_score_boundaries",
    "read_score_counts",
    "streaming_top_tokens",
    "read_top_tokens",
    "streaming_token_frequencies",
    "read_token_frequencies",
    "streaming_value_quantiles",
    "read_value_quantiles",
    "streaming_distinct_values",
    "read_distinct_count",
]
