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
