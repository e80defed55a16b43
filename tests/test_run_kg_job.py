"""The spark-submit entry point (jobs/run_kg_job.py) runs end to end as its
own process: a synthetic corpus in, a stage store and a metrics line out."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_run_kg_job_synthetic_smoke(tmp_path):
    out = tmp_path / "kg_out"
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "jobs", "run_kg_job.py"),
         "--synthetic-pages", "40", "--output", str(out)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    metrics = json.loads(proc.stdout.strip().splitlines()[-1])
    assert metrics["n_triples"] > 0
    assert os.path.exists(out / "edges" / "_SUCCESS")


def _job_module():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "run_kg_job", os.path.join(ROOT, "jobs", "run_kg_job.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_run_kg_job_session_carries_sql_conf(spark):
    """A session the job did not build (spark-submit's) reads back every
    runtime SQL setting that get_spark applies."""
    from docprocai_service_spark.session import SQL_CONF

    for k in SQL_CONF:
        spark.conf.unset(k)
    try:
        job_spark = _job_module().session()
        assert {k: job_spark.conf.get(k, None) for k in SQL_CONF} == SQL_CONF
    finally:
        for k, v in SQL_CONF.items():
            spark.conf.set(k, v)
