"""kafka_spark_streaming_eval_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first engine with the query and data-processing
capabilities of the reference repo ``bhogalparminder/kafka-spark-streaming-eval``
(a Kafka -> Spark Structured Streaming latency/throughput evaluation pipeline,
see SURVEY.md), extended with the operators a large-scale training-data
pipeline needs: deduplication, similarity search, multimodal columns and text
analysis.  Everything is expressed with the DataFrame/SQL API so Catalyst +
Tungsten choose the physical plan; Python UDFs are reserved for genuinely
non-relational logic (and are Arrow-vectorized when used).

Layout
------
- ``session``    SparkSession factory tuned for local testing / cluster scale
- ``pyworker``   Python worker daemon that imports the installed PySpark
- ``catalog``    parquet table loading + temp-view registration
- ``plans``      query registry: name -> (Spark callable, DuckDB oracle SQL)
- ``operators``  batch operators (reference parity, relational, dedup,
                 similarity, text, multimodal)
- ``sources``    readers/writers (CSV metric scans, JSON decode, Kafka-gated)
- ``streaming``  Structured Streaming jobs (event generator, metrics sink,
                 event-time windows, recovery)
"""

__version__ = "0.1.0"
