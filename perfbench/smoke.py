#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at tiny input sizes.

    python3 perfbench/smoke.py

For every workload in BENCHMARK.json it makes two runs of perfbench/run.py:

- untraced: every end-to-end metric of BENCHMARK.json is in the result with
  its unit, every named number of the workload is printed in the table, and
  no operation failed;
- traced, with one row dropped from the program's output before it is
  checked: every per-layer metric is in the result with its unit, and the
  corrupted output counts as a failed operation (failed_frac > 0).

Exits 0 when all checks hold and prints what failed otherwise.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Rows of the human-readable table each workload must print, besides the
# end-to-end metrics.
TABLE_ROWS = {
    "kg_store": ["pass_s", "lazy_triples_per_s", "triples_per_s", "resume_s", "batch_first_s", "batch_p50_s",
                 "failed_frac", "host_steal_frac"],
    "graph_analytics": [
        "pass_s",
        "host_steal_frac",
        "query_s.label_propagation_tpch",
        "query_s.pagerank_tpch",
        "query_s.triangle_counts_tpch",
        "query_s.khop_reach_tpch",
        "query_s.minhash_near_dup_docs",
        "failed_frac",
    ],
}


def _run(workload: str, trace: int, corrupt: bool) -> tuple[str, dict | None]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    if corrupt:
        cmd.append("--corrupt-output")
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return p.stdout + p.stderr[-4000:], None
    return p.stdout, json.loads(lines[-1])


def _check_metrics(result: dict, wanted: list[dict]) -> list[str]:
    got = result["metrics"]
    problems = [f"metric {m['name']} missing" for m in wanted if m["name"] not in got]
    problems += [
        f"metric {m['name']} has unit {got[m['name']]['unit']}, not {m['unit']}"
        for m in wanted
        if m["name"] in got and got[m["name"]]["unit"] != m["unit"]
    ]
    extra = set(got) - {m["name"] for m in wanted}
    if extra:
        problems.append(f"metrics not in BENCHMARK.json: {sorted(extra)}")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for w in (x["name"] for x in spec["workloads"]):
        before = len(problems)
        out, res = _run(w, trace=0, corrupt=False)
        if res is None:
            problems.append(f"{w}: untraced run failed:\n{out}")
        else:
            problems += [f"{w}: {p}" for p in _check_metrics(res, spec["end_to_end"])]
            printed = {line.split()[0] for line in out.splitlines() if line.startswith("  ") and line.split()}
            problems += [f"{w}: table row {r} not printed" for r in TABLE_ROWS[w] if r not in printed]
            if res["failed"] or not res["correct"] or res["attempted"] < 1:
                problems.append(f"{w}: clean run reports {res['failed']}/{res['attempted']} failed:\n{out}")

        out, res = _run(w, trace=1, corrupt=True)
        if res is None:
            problems.append(f"{w}: traced run failed:\n{out}")
        else:
            problems += [f"{w} traced: {p}" for p in _check_metrics(res, spec["per_layer"])]
            if res["failed"] == 0 or res["correct"]:
                problems.append(f"{w}: a dropped output row was not detected (failed_frac = 0)")
        print(f"smoke {w}: {'ok' if len(problems) == before else 'FAILED'}", flush=True)

    for p in problems:
        print("FAILED:", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
