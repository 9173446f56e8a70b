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
