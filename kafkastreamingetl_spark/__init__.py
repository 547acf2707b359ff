"""kafkastreamingetl_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the query and data-processing capabilities of
the reference streaming-ETL pipeline (smohantym/KafkaStreamingETL), expressed
as idiomatic Spark DataFrame / SQL / Structured Streaming programs:

- ``session``    — tuned SparkSession builder (reference: spark/app.py:13-33)
- ``catalog``    — parquet table loading + temp-view registration
- ``memo``       — the session-scoped LRU behind every driver-side memo
- ``operators``  — composable DataFrame -> DataFrame transforms covering the
  reference's operator inventory (SURVEY.md §2) plus large-scale
  training-data-pipeline extensions (dedup, similarity search, text analysis,
  multimodal plumbing)
- ``sources``    — batch/streaming sources incl. a Spark-native synthetic
  event generator (reference: producer/producer.py) and Kafka adapters
- ``streaming``  — watermark/trigger/sink policy objects and a pipeline
  assembler (reference: spark/app.py:159-209)

Every operator is a pure function usable identically on batch and streaming
DataFrames, so batch DuckDB-oracle tests validate logic whose production home
is a stream.
"""

__version__ = "0.1.0"
