"""The driver JVM's JIT defaults (session.py) and the per-thread-group CPU
reader (metrics.py)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import types

import pytest

from docprocai_service_spark import session
from docprocai_service_spark.metrics import jvm_pid, jvm_thread_cpu
from docprocai_service_spark.session import DRIVER_JIT_OPTIONS, get_spark

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Prints {flag: [value, origin]} for the JIT flags and one extraJavaOptions
# flag, as the driver JVM of a local[2] session reports them.
_PROBE = """
import json, sys
from docprocai_service_spark.session import get_spark
spark = get_spark(app_name="jit-probe", cores=2, extra_conf={
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.extraJavaOptions": "-XX:-UsePerfData"})
jvm = spark.sparkContext._jvm
bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
opts = {f: bean.getVMOption(f) for f in sys.argv[1:]}
print(json.dumps({f: [o.getValue(), str(o.getOrigin())] for f, o in opts.items()}))
spark.stop()
"""


def _flags(options: str) -> dict[str, str]:
    return dict(opt.removeprefix("-XX:").split("=", 1) for opt in options.split())


@pytest.mark.skipif(not hasattr(os, "sched_setaffinity"), reason="needs CPU affinity")
def test_driver_jit_defaults_reach_the_jvm():
    """A local[2] job on 2 CPUs (the child's affinity is cut to 2, which its
    JVM inherits) gets every flag of DRIVER_JIT_OPTIONS at JVM creation,
    beside a caller's extraJavaOptions."""
    flags = _flags(DRIVER_JIT_OPTIONS)
    assert flags
    cpus = sorted(os.sched_getaffinity(0))[:2]
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, *flags, "UsePerfData"],
        cwd=_REPO, env={**os.environ, "PYTHONPATH": _REPO, "SPARK_DRIVER_MEM": "1g"},
        preexec_fn=lambda: os.sched_setaffinity(0, cpus),
        capture_output=True, text=True, timeout=300, check=True,
    ).stdout.strip().splitlines()[-1]
    got = json.loads(out)
    assert {f: got[f] for f in flags} == {f: [v, "VM_CREATION"] for f, v in flags.items()}
    assert got["UsePerfData"] == ["false", "VM_CREATION"]


def test_shared_session_jit_flags_follow_its_master(spark):
    """The shared session (local[8], past DRIVER_JIT_MAX_CPUS) gets what
    get_spark chooses for its master: there, HotSpot's own compiler count."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    chosen = session._driver_jit_options(spark.sparkContext.master)
    for flag, value in _flags(DRIVER_JIT_OPTIONS).items():
        option = bean.getVMOption(flag)
        if chosen:
            assert (option.getValue(), str(option.getOrigin())) == (value, "VM_CREATION")
        else:
            assert str(option.getOrigin()) != "VM_CREATION"


@pytest.mark.parametrize(
    "host, master, applied",
    [
        (4, "local[4]", True),
        (4, "local[*]", True),
        (2, "local", True),
        (4, "local[4,3]", True),
        (4, "local[8]", False),
        (16, "local[4]", False),
        (16, "local[*]", False),
        (4, "local-cluster[2,2,1024]", False),
        (4, "spark://host:7077", False),
    ],
)
def test_jit_defaults_only_within_the_measured_bound(monkeypatch, host, master, applied):
    monkeypatch.setattr(session, "_host_cpus", lambda: host)
    assert session._driver_jit_options(master) == (DRIVER_JIT_OPTIONS if applied else None)


def _builder_options(monkeypatch, **kwargs) -> dict[str, str]:
    """The options get_spark hands to SparkSession.Builder.getOrCreate."""
    from pyspark.sql import SparkSession

    seen: dict[str, str] = {}

    def capture(builder):
        seen.update(builder._options)
        return types.SimpleNamespace(sparkContext=types.SimpleNamespace(setLogLevel=lambda _: None))

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    get_spark(**kwargs)
    return seen


def test_caller_extra_java_options_keep_the_jit_defaults(monkeypatch):
    monkeypatch.setattr(session, "_host_cpus", lambda: 4)
    extra = "-Djava.io.tmpdir=/tmp/x -XX:-UsePerfData -Xms2g"
    opts = _builder_options(monkeypatch, cores=4, extra_conf={"spark.driver.extraJavaOptions": extra})
    assert opts["spark.driver.extraJavaOptions"] == extra
    assert opts["spark.driver.defaultJavaOptions"] == DRIVER_JIT_OPTIONS
    # a caller's own defaultJavaOptions replaces the defaults
    opts = _builder_options(monkeypatch, cores=4, extra_conf={"spark.driver.defaultJavaOptions": "-Xss4m"})
    assert opts["spark.driver.defaultJavaOptions"] == "-Xss4m"
    # past the bound nothing is set
    assert "spark.driver.defaultJavaOptions" not in _builder_options(monkeypatch, cores=8)


def _process_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rpartition(")")[2].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


@pytest.mark.skipif(not os.path.isdir("/proc/self/task"), reason="needs /proc")
def test_jvm_thread_cpu_groups_add_up_to_the_process(spark):
    spark.range(0, 20_000, numPartitions=8).selectExpr("id % 13 AS k").groupBy("k").count().collect()
    pid = jvm_pid(spark)
    before = _process_cpu_s(pid)
    groups = jvm_thread_cpu(spark)
    after = _process_cpu_s(pid)
    assert set(groups) == {"jit_c2", "jit_c1", "gc", "tasks", "py4j", "other", "exited"}
    assert groups["tasks"] > 0 and groups["jit_c1"] > 0 and groups["jit_c2"] > 0
    assert min(groups.values()) >= 0
    # the groups sum to the process total as it stood between the two reads
    tick = 1 / os.sysconf("SC_CLK_TCK")
    assert before - tick <= sum(groups.values()) <= after + tick
