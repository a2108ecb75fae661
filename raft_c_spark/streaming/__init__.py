from raft_c_spark.streaming.ingest import (  # noqa: F401
    EVENT_SCHEMA,
    read_event_stream,
    stream_dedup,
    stream_enrich,
    stream_ingest_to_store,
    stream_session_agg,
    stream_series_state,
    stream_tumbling_avg,
)
from raft_c_spark.streaming.results import stream_results  # noqa: F401
