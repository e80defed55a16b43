#!/usr/bin/env python3
"""Repository benchmark: lazy KG build, the store deployment path, and graph analytics.

    python3 perfbench/run.py --workload kg_store --seed 1 --seconds 10 --trace 0

Runs one workload on `local[nproc]` from a single driver process, checks
every output, prints a table of end-to-end numbers, the environment, and
as the last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones (E2E below); with
`--trace 1` the Spark event log is enabled, spans wrap the calls into the
package, and the metrics are the per-layer ones (LAYERS below). Layers a
workload does not enter read 0. See perfbench/README.md for why each
workload exists and which layer metric should move which end-to-end metric.

All inputs, stores, Spark local dirs and temp files live under
`.perfbench_work/` in the checkout and are removed at exit.
"""

from __future__ import annotations

import time


def _process_start() -> float:
    """Wall-clock time this process started, from /proc (10 ms ticks)."""
    import os

    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return time.time()


T_PROC = _process_start()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import proc  # noqa: E402
import workloads  # noqa: E402
from tracing import EventLog, Tracer  # noqa: E402
from workloads import E2E, LAYERS  # noqa: E402

# Driver heap pinned through the package's own SPARK_DRIVER_MEM knob: its
# 12g default does not fit a 15 GB host shared with other jobs.
DRIVER_MEM = "2g"


class MemorySampler(threading.Thread):
    """Peak proportional set size of the process tree, sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_bytes = 0
        self._stop_event = threading.Event()

    def run(self) -> None:
        while not self._stop_event.is_set():
            self.peak_bytes = max(self.peak_bytes, proc.tree_pss_bytes())
            self._stop_event.wait(self.interval)

    def stop(self) -> None:
        self._stop_event.set()
        self.join(timeout=10)


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["bench", "tiny"], default="bench",
                   help="input sizes; 'tiny' is for the smoke test")
    p.add_argument("--corrupt-output", action="store_true",
                   help="drop one row of the program's output before checking it (smoke test)")
    return p.parse_args(argv)


def _environment(spark, work: str, load_at_start: tuple) -> dict:
    import pandas
    import pyarrow
    import pyspark

    conf = dict(spark.sparkContext.getConf().getAll())
    keep = ("spark.master", "spark.driver.memory", "spark.local.dir", "spark.eventLog.enabled")
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "python": sys.version.split()[0],
        "conf": {k: v for k, v in sorted(conf.items()) if k.startswith("spark.sql.") or k in keep},
        "store_local_dir": work,
        "loadavg_start": list(load_at_start),
    }


def _end_spark(spark) -> None:
    """Stop the session if it is running, end the JVM and wait until it and
    every other process the run started have ended."""
    from pyspark import SparkContext

    try:
        if spark is not None:
            spark.stop()
    except Exception:
        # e.g. a SIGTERM that arrived in the middle of a call into the JVM
        traceback.print_exc()
    finally:
        jvm = getattr(SparkContext._gateway, "proc", None)
        if jvm is not None and jvm.stdin is not None:
            try:
                jvm.stdin.close()  # the gateway JVM exits when its stdin closes
            except OSError:
                pass
        proc.end_descendants()


def main(argv=None) -> int:
    args = _parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "docprocai_service_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: the package is not present under {ROOT}", file=sys.stderr)
        return 2
    # A terminated run still stops Spark and removes its work directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    load_at_start = os.getloadavg()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Everything Spark, its Python workers and tempfile write stays in the checkout.
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
    )
    for k in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_CPUS"):
        os.environ.pop(k, None)
    import tempfile

    tempfile.tempdir = tmp

    # Processes orphaned by the JVM (Python workers) become this process's
    # children, so the run can wait for them to end.
    proc.become_subreaper()
    sampler = MemorySampler()
    sampler.start()
    spark = None
    try:
        from docprocai_service_spark.session import get_spark

        event_dir = os.path.join(work, "eventlog")
        extra = {
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            # A fixed heap size, so G1 does not resize the heap differently
            # from run to run. Heap pages become resident only when touched,
            # so peak memory still follows the heap the run uses.
            "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                              f"-Xms{DRIVER_MEM}"),
        }
        if args.trace:
            os.makedirs(event_dir, exist_ok=True)
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
            })
        spark = get_spark(app_name=f"perfbench-{args.workload}", cores=cores, extra_conf=extra)
        spark.range(1).count()
        session_ready, session_cpu = time.time(), proc.tree_cpu_s()
        env = _environment(spark, work, load_at_start)

        run = workloads.Run(
            spark=spark, work=work, seed=args.seed, seconds=args.seconds,
            size=workloads.SIZES[args.size][args.workload], trace=bool(args.trace),
            corrupt=args.corrupt_output, tracer=Tracer(spark.sparkContext) if args.trace else None,
        )
        out = workloads.Outcome()
        steal0 = proc.steal_ticks()
        workloads.WORKLOADS[args.workload](run, out)
        steal1 = proc.steal_ticks()
        spark.stop()
        spark = None
        layers = out.layers(EventLog(event_dir)) if args.trace else {}
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            _end_spark(spark)
        finally:
            sampler.stop()
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass

    # Set-up is counted in CPU seconds, like a pass: its wall swings with the
    # CPU time the host gives other tenants.
    setup_s = session_cpu + out.warm_cpu_s
    peak_mb = sampler.peak_bytes / 2**20
    out.row("setup_s", setup_s, "s", f"CPU of session start {session_cpu:.2f} s + warm-up {out.warm_cpu_s:.2f} s; "
            f"wall {session_ready - T_PROC:.2f} s + {out.warm_s:.2f} s")
    out.row("pass_s", statistics.median(out.pass_walls), "s", f"median, n={len(out.pass_walls)}, "
            f"max {max(out.pass_walls):.3f}")
    out.row("pass_cpu_s", statistics.median(out.pass_cpu), "s", f"median, n={len(out.pass_cpu)}, "
            "user + system CPU of driver + JVM + Python workers")
    out.row("peak_rss_mb", peak_mb, "MB", "PSS of driver + JVM + Python workers")
    out.row("failed_frac", out.failed / max(out.attempted, 1), "ratio", f"{out.failed}/{out.attempted} operations")
    out.row("host_steal_frac", (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1), "ratio",
            "CPU time the host gave other tenants during the workload; timings grow with it")
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}")
    for name, value, unit, note in out.table:
        print(f"  {name:<42} {value:>16.6g} {unit:<6} {note}")
    out.phases.update(session=session_ready - T_PROC, total=time.time() - T_PROC)
    print("  phases: " + ", ".join(f"{k} {v:.2f} s" for k, v in out.phases.items()))
    for p in out.problems:
        print(f"  FAILED: {p}")
    if args.trace:
        print("  per-layer:")
        for name, unit, _better in LAYERS:
            print(f"    {name:<46} {layers.get(name, 0):>16.6g} {unit}")
    print("env " + json.dumps(env, sort_keys=True))

    if args.trace:
        metrics = {name: {"value": layers.get(name, 0), "unit": unit} for name, unit, _ in LAYERS}
    else:
        values = {"setup_s": setup_s, "pass_cpu_s": statistics.median(out.pass_cpu), "peak_rss_mb": peak_mb}
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in E2E}
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
