"""PySpark-native analytics engine with the capabilities of
pedromorfeu/spark-kafka-airflow-pipeline, re-expressed Spark-first.

Layers
------
- ``metadata``   : declarative dataflow spec (mirrors the reference's JSON
  metadata model, ``metadata/model/Dataflow.scala:3-32``).
- ``executor``   : runs a dataflow spec as a PySpark DataFrame DAG
  (reference executor: ``PipelineProcessor.scala:13-42``).
- ``transforms`` : add_fields / validate_fields transformation registry.
- ``io``         : batch + streaming sources and sinks (files, Kafka).
- ``functions``  : column-expression library (vectors, text, hashing).
- ``operators``  : relational / dedup / similarity / text-analysis query
  builders over the test star schema.
- ``streaming``  : Structured Streaming pipelines (windows, watermarks,
  stateful dedup).

Everything is DataFrame-first: logical plans are declared with the
PySpark DataFrame/SQL API and physical strategy is left to Catalyst +
Tungsten + AQE. Python UDFs appear only where built-in expressions
genuinely cannot express the semantics (and then as Arrow-batched
pandas UDFs).
"""

from spark_kafka_airflow_pipeline_spark.metadata import (
    AddField,
    Dataflow,
    DataflowMetadata,
    Sink,
    Source,
    SpecError,
    Transformation,
    Validation,
    load_metadata,
    parse_metadata,
)
from spark_kafka_airflow_pipeline_spark.executor import PipelineExecutor
from spark_kafka_airflow_pipeline_spark.session import get_spark, stop_spark

__all__ = [
    "AddField",
    "Dataflow",
    "DataflowMetadata",
    "PipelineExecutor",
    "Sink",
    "Source",
    "SpecError",
    "Transformation",
    "Validation",
    "get_spark",
    "load_metadata",
    "parse_metadata",
    "stop_spark",
]
