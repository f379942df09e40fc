from omicidx_etl_spark.streaming.dedup import dedup_redelivered, stream_dedup_events
from omicidx_etl_spark.streaming.replay import replay_quarantined, stream_replay
from omicidx_etl_spark.streaming.windows import (
    session_event_stats,
    stream_session_stats,
    stream_windowed_stats,
    windowed_event_stats,
)

__all__ = [
    "dedup_redelivered",
    "session_event_stats",
    "stream_dedup_events",
    "replay_quarantined",
    "stream_replay",
    "stream_session_stats",
    "stream_windowed_stats",
    "windowed_event_stats",
]
