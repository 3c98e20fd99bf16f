"""The Airflow DAG example's spark-submit command runs the paper's
person pipeline end to end."""

from __future__ import annotations

import importlib.util
import json
import subprocess
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _dag_module():
    spec = importlib.util.spec_from_file_location(
        "airflow_dag_person_pipeline",
        REPO / "examples" / "airflow_dag_person_pipeline.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_dag_command_runs_person_pipeline(spark, tmp_path):
    """The DAG's exact command, templates filled in, on a copy of
    ``examples/person_pipeline.json`` whose sinks write under
    ``tmp_path``: one row passes validation, two are discarded."""
    spec = json.loads((REPO / "examples" / "person_pipeline.json").read_text())
    for sink in spec["dataflows"][0]["sinks"]:
        sink["paths"] = [str(tmp_path / sink["name"])]
    meta = tmp_path / "person_pipeline.json"
    meta.write_text(json.dumps(spec))
    command = (_dag_module().BASH_COMMAND
               .replace("{{ var.value.pipeline_metadata_path }}", str(meta))
               .replace("{{ var.value.kafka_bootstrap_servers }}",
                        "localhost:9092"))

    run = subprocess.run(["bash", "-c", command], cwd=REPO, timeout=600,
                         capture_output=True, text=True)

    assert run.returncode == 0, run.stderr[-4000:]
    ok = spark.read.parquet(str(tmp_path / "raw-ok" / "raw-ok"))
    ko = spark.read.parquet(str(tmp_path / "raw-ko" / "raw-ko"))
    assert [r.name for r in ok.collect()] == ["Fran"]
    assert sorted(r.name for r in ko.collect()) == ["Miguel", "Xabier"]
