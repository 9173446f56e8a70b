"""stateful_spark_streaming_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the capabilities of the reference repo
``vplechnoy/stateful-spark-streaming`` (Scala / Spark 2.4 DStreams), re-expressed
Spark-first on the DataFrame / SQL / Structured Streaming stack:

- keyed, chronologically-sorted, timestamp-deduplicated, count-bounded "tracks"
  (reference: FeatureTrack.scala, FeatureTrackPurger.scala) as both batch
  window-function pipelines and a Structured Streaming stateful processor;
- a tagged-schema layer (TRACK_ID / START_TIME semantic tags on columns,
  reference: FeatureFunctions.scala:9-20) on StructField metadata;
- the full relational surface (joins / aggregations / windows / set ops) via
  Catalyst built-ins;
- LLM-data-pipeline operators (dedup exact/minhash/simhash, similarity search,
  text analysis, multimodal plumbing) designed for 100 TB scale.

Nothing here is a translation of the reference's code — only its semantics.
"""

__version__ = "0.1.0"

from stateful_spark_streaming_spark.session import get_spark  # noqa: F401
from stateful_spark_streaming_spark.operators import (  # noqa: F401
    dedup,
    geometry,
    multimodal,
    relational,
    sampling,
    similarity,
    temporal,
    text,
    tracks,
    windows,
)
from stateful_spark_streaming_spark.streaming.track_state import (  # noqa: F401
    TrackStateConfig,
    track_state_stream,
)
from stateful_spark_streaming_spark.streaming.pipeline import (  # noqa: F401
    ParquetSnapshotSink,
    flight_socket_pipeline,
    multi_state_pipeline,
    run_snapshot_query,
    run_streaming_dedup,
    run_streaming_enriched_counts,
    run_streaming_event_pairs,
    run_streaming_session_windows,
    run_streaming_tumbling_counts,
)
