"""spark-submit / CLI entry point — parity with ``PipelineApp.main``
(``PipelineApp.scala:10-23``): args are the metadata path and an
optional Kafka bootstrap server; builds the session, runs every
dataflow, exits.

Usage:
    python -m spark_kafka_airflow_pipeline_spark <metadata.json> [kafka_server]
    spark-submit [--master M] spark_kafka_airflow_pipeline_spark/__main__.py
        <metadata.json> [kafka_server]

spark-submit takes a Python file, not ``-m``, so this module also runs as
a file: it then puts the package's parent directory on ``sys.path``.

The reference passes ``kafkaServer`` as args(1) and hard-wires it into
its Kafka sinks; here any sink with ``format: "kafka"`` and an empty
``paths`` list inherits the CLI server (documented convenience — sinks
may also carry explicit bootstrap servers in ``paths``).
"""

from __future__ import annotations

import logging
import sys
from dataclasses import replace
from pathlib import Path

if not __package__:  # run as a file (spark-submit)
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from spark_kafka_airflow_pipeline_spark.executor import PipelineExecutor  # noqa: E402
from spark_kafka_airflow_pipeline_spark.metadata import load_metadata  # noqa: E402
from spark_kafka_airflow_pipeline_spark.session import get_spark  # noqa: E402


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if not argv:
        print(__doc__, file=sys.stderr)
        return 2
    metadata_path = argv[0]
    kafka_server = argv[1] if len(argv) > 1 else None

    logging.basicConfig(level=logging.INFO, format="%(levelname)s %(message)s")
    meta = load_metadata(metadata_path)
    if kafka_server:
        meta = replace(meta, dataflows=[
            replace(flow, sinks=[
                replace(sink, paths=[kafka_server])
                if sink.format.lower() == "kafka" and not sink.paths else sink
                for sink in flow.sinks
            ])
            for flow in meta.dataflows
        ])

    spark = get_spark(app_name="Pipeline app")  # reference appName, PipelineApp.scala:17
    try:
        PipelineExecutor(spark).process(meta)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
