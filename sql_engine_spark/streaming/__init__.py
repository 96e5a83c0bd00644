from sql_engine_spark.streaming.windows import (
    run_to_batch,
    session_window_agg,
    sliding_window_counts,
    tumbling_window_agg,
)

__all__ = [
    "tumbling_window_agg",
    "sliding_window_counts",
    "session_window_agg",
    "run_to_batch",
]
