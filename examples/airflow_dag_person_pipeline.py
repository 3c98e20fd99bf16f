"""Airflow DAG example for the person pipeline.

The reference keeps Airflow entirely external — shell scripts start the
stack and an Airflow task invokes spark-submit
(``/root/reference/src/main/resources/start-env.sh:8-11``); no DAG code
exists in the reference repo. This example is the idiomatic equivalent
for the new engine: one task per dataflow submitting the CLI file.

spark-submit takes a Python file, so the command names the CLI module's
file, found relative to this example (``examples/`` sits next to the
package). A DAG copied into an Airflow dags folder points ``CLI`` at
its checkout instead.

Import-guarded: Airflow is not installed in the test container; the
file documents the integration without creating a dependency, and
``BASH_COMMAND`` imports without it.
"""

from __future__ import annotations

import shlex
from pathlib import Path

CLI = (Path(__file__).resolve().parent.parent
       / "spark_kafka_airflow_pipeline_spark" / "__main__.py")

BASH_COMMAND = (
    'spark-submit --master "${SPARK_MASTER:-local[*]}" '
    f"{shlex.quote(str(CLI))} "
    "{{ var.value.pipeline_metadata_path }} "
    "{{ var.value.kafka_bootstrap_servers }}"
)

try:
    from datetime import datetime

    from airflow import DAG
    from airflow.operators.bash import BashOperator

    with DAG(
        dag_id="person_pipeline",
        start_date=datetime(2026, 1, 1),
        schedule="@hourly",
        catchup=False,
        tags=["spark", "etl"],
    ) as dag:
        run_pipeline = BashOperator(
            task_id="run_person_pipeline",
            bash_command=BASH_COMMAND,
        )
except ImportError:  # pragma: no cover - airflow absent in test env
    dag = None
