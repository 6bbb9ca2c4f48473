from ubw_spark.streaming.stages import (
    read_stream,
    tumbling_window_agg,
    sliding_window_agg,
    session_window_agg,
    stateful_running_totals,
    stateful_retention_state,
    stream_dedup,
    stream_funnel_user_state,
    stream_stream_interval_join,
    stream_static_enrich,
    write_stream_upsert,
    run_to_memory,
)

__all__ = [
    "read_stream",
    "tumbling_window_agg",
    "sliding_window_agg",
    "session_window_agg",
    "stateful_running_totals",
    "stateful_retention_state",
    "stream_dedup",
    "stream_funnel_user_state",
    "stream_stream_interval_join",
    "stream_static_enrich",
    "write_stream_upsert",
    "run_to_memory",
]
