"""Structured Streaming variants of the batch operators.

The reference has NO streaming (README:42 lists it as future work —
SURVEY §2.11); these modules deliver it as the natural Spark extension:
the timeliness per-day counts as a watermarked windowed aggregation, and
streaming dedup via dropDuplicatesWithinWatermark. Batch and streaming
share semantics so Q6-style checks can move to a live feed without API
changes (SURVEY §7.4 item 6).
"""

from .jobs import (
    bounded_shuffle_partitions,
    run_stream_to_memory,
    streaming_day_counts,
    streaming_hll,
    streaming_interval_join,
    streaming_enrich,
    streaming_dedup,
    streaming_minhash_candidates,
    streaming_mrl_sketch,
    streaming_running_counts,
    streaming_sessionize,
    streaming_upsert_parquet,
    streaming_heavy_hitters,
    streaming_drift_monitor,
    streaming_drift_readout,
)

__all__ = [
    "bounded_shuffle_partitions",
    "streaming_day_counts",
    "streaming_hll",
    "streaming_interval_join",
    "streaming_enrich",
    "streaming_dedup",
    "streaming_minhash_candidates",
    "streaming_mrl_sketch",
    "streaming_running_counts",
    "streaming_sessionize",
    "streaming_upsert_parquet",
    "run_stream_to_memory",
    "streaming_heavy_hitters",
    "streaming_drift_monitor",
    "streaming_drift_readout",
]
