from stateful_spark_streaming_spark.streaming.track_state import (  # noqa: F401
    TrackStateConfig,
    track_state_stream,
)
from stateful_spark_streaming_spark.streaming.pipeline import (  # noqa: F401
    ParquetSnapshotSink,
    flight_socket_pipeline,
    run_snapshot_query,
)
