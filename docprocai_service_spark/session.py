"""SparkSession factory.

Replaces the reference's single worker thread + priority queue
(reference: service/DocProcAiService.py:694-707) with a properly configured
Spark runtime: all scale-out in this engine happens through partitioning,
not through that loop.

Defaults are tuned for the sandbox (local[N], single JVM) but every knob is
what you would set on a 1000-executor cluster too: AQE for runtime re-planning
and skew-join mitigation, Arrow for the pandas-UDF fast path, explicit shuffle
partition count instead of the 200 default.

On a small host the driver JVM gets a JIT default (`DRIVER_JIT_OPTIONS`):
one C2 compiler thread. A batch job runs in a fresh JVM, and C2 otherwise
spends about half of a cold pass's JVM CPU compiling driver code that runs
once per JVM (Janino, ASM class reading for closure cleaning, serialization,
Catalyst). With one C2 thread the compile queue is worked hottest-first and
lukewarm methods age out of it, while hot task loops still get compiled. It
was measured only at `local[4]` on a 4-CPU host, so it is set only for a
`local[N]` master with N and the host's CPUs both at most
`DRIVER_JIT_MAX_CPUS` (4); wider hosts keep HotSpot's own compiler count. It
goes in `spark.driver.defaultJavaOptions`, not `extraJavaOptions`, so that a
caller's `extraJavaOptions` (a tmpdir, a heap size) adds to it instead of
silently replacing it; a caller who sets `defaultJavaOptions` replaces it.
"""

from __future__ import annotations

import os
import re
from contextlib import contextmanager

from pyspark.sql import SparkSession

_LOCAL_CLUSTER = re.compile(r"local-cluster\[(\d+),(\d+),(\d+)\]")


def _package_zip() -> str:
    """Zip this package for distribution to executors — the programmatic
    equivalent of `spark-submit --py-files pkg.zip` (north_rule's submit
    mode); executors' Python workers import the package from the shipped
    zip, not from a shared filesystem. The zip name is a CONTENT hash of
    the .py sources, not a PID (PIDs recycle across sessions, and a stale
    same-named zip from an older tree would silently ship old code to the
    executors); identical content reuses the cached zip across processes."""
    import hashlib
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    members = []
    for root, _dirs, files in os.walk(pkg_dir):
        for fn in files:
            if fn.endswith(".py"):
                full = os.path.join(root, fn)
                rel = os.path.join("docprocai_service_spark", os.path.relpath(full, pkg_dir))
                members.append((rel, full))
    digest = hashlib.sha256()
    for rel, full in sorted(members):
        digest.update(rel.encode())
        with open(full, "rb") as f:
            digest.update(f.read())
    out = os.path.join(
        tempfile.gettempdir(),
        f"docprocai_service_spark_pyfiles_{digest.hexdigest()[:16]}.zip",
    )
    if not os.path.exists(out):
        # atomic publish: concurrent sessions building the same content race
        # on the final name, never on a half-written zip
        tmp = f"{out}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for rel, full in sorted(members):
                z.write(full, rel)
        os.replace(tmp, out)
    return out


FAT_SCAN_BATCH = 256


@contextmanager
def fat_binary_scan(spark: SparkSession, batch_rows: int = FAT_SCAN_BATCH):
    """Scope `spark.sql.parquet.columnarReaderBatchSize` to a fat-binary-scan
    workload (web-page tables with ~5KB `html:binary` rows).

    At the 4096-row default such a scan materializes ~20MB on-heap column
    vectors per batch — HUMONGOUS allocations for G1's 4-8MB regions on
    6-12g executor heaps, measured as a 15× scan-CPU inflation (65-90k
    triples/s vs 324k at 256 under 4×4-core executor JVMs; thread dumps
    pinned in OnHeapColumnVector.appendBytes). 256 rows × 5KB ≈ 1.3MB
    batches stay region-friendly.

    This is a runtime SQL conf consumed when the scan's physical plan is
    built, so the context must wrap the ACTIONS that execute the page scan,
    not just the `spark.read` call. It restores the previous value on exit
    so narrow-table queries in the same session keep the cheap 4096 default
    (a global 256 cost them a measured 15-30%).
    """
    key = "spark.sql.parquet.columnarReaderBatchSize"
    # get(key, None) returns None when the conf is not EXPLICITLY set (the
    # built-in default doesn't count) — restoring via unset() keeps the
    # session following Spark's default instead of pinning a stale copy.
    old = spark.conf.get(key, None)
    spark.conf.set(key, str(batch_rows))
    try:
        yield spark
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def _default_driver_mem() -> str:
    """min(12g, half of physical RAM). 12g, NOT bigger: on a huge heap (48g)
    G1 grows the young gen to tens of GB and each young pause copies a
    massive survivor set — measured 250ms pauses and a 2-5× end-to-end
    slowdown of the allocation-heavy KG pipeline at 16 threads (a real
    cluster sizes executor heaps 8-16g per 4-8 cores for the same reason).
    Half of RAM leaves the other half to the Python workers and the OS on a
    small host."""
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, OSError, ValueError):  # no sysconf: keep the cap
        return "12g"
    return f"{min(12 << 10, ram // 2 >> 20)}m"


# One C1 + one C2 compiler thread, the tiered minimum (HotSpot's default is
# 3 on 4 cores and grows with the core count). Levers and numbers: CHANGES.md
# (JIT defaults entry). Raising the tier-4 thresholds cut a little more cold
# CPU but kept hot task loops in profiled C1 code longer (pagerank_tpch at
# sf0.1 ~8% slower); TieredStopAtLevel=1 leaves them in C1 code for good.
DRIVER_JIT_OPTIONS = "-XX:CICompilerCount=2"
# Every measurement of DRIVER_JIT_OPTIONS ran 4 task threads on 4 CPUs. On a
# wider host HotSpot's own count grows (~12 compiler threads at 32 cores) and
# more task threads' hot loops would queue behind the one C2 thread; that was
# not measured, so the default stops at this bound.
DRIVER_JIT_MAX_CPUS = 4

_LOCAL = re.compile(r"local(?:\[(\d+|\*)(?:,\d+)?\])?")


def _host_cpus() -> int:
    """CPUs this process may run on (the JVM it launches inherits them)."""
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def _driver_jit_options(master: str) -> str | None:
    """DRIVER_JIT_OPTIONS for a `local[N]` master within DRIVER_JIT_MAX_CPUS
    task threads and host CPUs, else None (HotSpot's defaults). Masters whose
    tasks run in other JVMs (`local-cluster`, a cluster URL) get None too."""
    m = _LOCAL.fullmatch(master)
    if m is None:
        return None
    host = _host_cpus()
    slots = host if m.group(1) == "*" else int(m.group(1) or 1)
    return DRIVER_JIT_OPTIONS if max(slots, host) <= DRIVER_JIT_MAX_CPUS else None


#: The session's runtime SQL settings. Every key is runtime-settable
#: (spark.conf.isModifiable), so a session this module did not build — the
#: one spark-submit hands jobs/run_kg_job.py — gets them with spark.conf.set.
SQL_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 1000, not 10000: with ~5KB html rows a 10k-row Arrow batch is ~50MB
    # resident per task on BOTH sides of the Python boundary — measured 2×
    # slower than 1k batches at 16 threads (cache locality + JVM/Python
    # pipelining at batch granularity). 1k rows ≈ 5MB batches.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "1000",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Parquet scan batch stays at the 4096 default HERE: a global 256
    # taxes every narrow-table scan ~15-30% (16× more per-batch overhead
    # for rows of a few dozen bytes — measured q1 1.04s@256 vs 0.89s@4096
    # at 16 cores). The 256 batch is the right size ONLY for fat binary
    # columns (~5KB html rows), where 4096-row batches are ~20MB
    # OnHeapColumnVector arrays — G1-humongous for 4-8MB regions, 15×
    # scan-CPU inflation under small-heap executors. That case is scoped
    # per-workload via fat_binary_scan() above (the conf is execution-
    # time, and parquet exposes no per-read option for it — verified
    # against ParquetFileFormat, which reads only the SQLConf).
    # Spark 4's ICU case mappings trigger CollationAwareUTF8String.<clinit>
    # on the first lower()/upper() inside a codegen'd stage — observed
    # 25-45s with all executor threads serialized on the class-init lock.
    # JVM case mapping is identical for the ASCII join keys used here.
    "spark.sql.icu.caseMappings.enabled": "false",
}


def get_spark(
    app_name: str = "docprocai_service_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) the SparkSession.

    cores: int N -> local[N]; "*" -> local[*]; None -> $SPARK_GRAFT_CPUS or "*".
    master: explicit master URL (or $SPARK_GRAFT_MASTER) overrides `cores` —
      `local-cluster[n,c,m]` runs n REAL separate executor JVMs with c cores
      and m MB each (the multi-executor stand-in for the north_rule's
      N-vs-4N-executor cluster sizing; each executor has a private heap and
      GC, unlike local[N]'s shared-heap threads).
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER")
    lc = _LOCAL_CLUSTER.fullmatch(master) if master else None
    if master is None:
        if cores is None:
            cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cores}]"
    elif lc and cores is None:
        cores = int(lc.group(1)) * int(lc.group(2))  # total task slots
    if shuffle_partitions is None:
        n = os.cpu_count() or 8
        shuffle_partitions = int(cores) if str(cores).isdigit() else n

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem())
        .config("spark.ui.enabled", "false")
        # delete a superseded round's rdd-* dir in the checkpoint dir; a core
        # conf, read when the context starts, so not in SQL_CONF
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config(map=SQL_CONF)
    )
    jit = _driver_jit_options(master)
    if jit:
        builder = builder.config("spark.driver.defaultJavaOptions", jit)
    if lc:
        # Executor JVM sizing: the worker-memory field of local-cluster is the
        # cap; claim all of it for the executor heap. 4-8g per 2-4 cores is
        # the same shape a real cluster uses (see _default_driver_mem).
        builder = builder.config("spark.executor.memory", f"{lc.group(3)}m")
        # Every executor JVM on this ONE box otherwise sizes its GC / JIT /
        # netty thread pools to the MACHINE's core count (32) — n executors
        # × ~32 GC threads thrash a taskset-pinned core slice and scaling
        # INVERTS (measured: 4×4-core executors at 78k triples/s vs 145k for
        # 1). A real cluster executor owns its host slice, which is exactly
        # what ActiveProcessorCount declares. Locality wait is likewise a
        # rack-topology knob: on loopback a "remote" block fetch costs
        # microseconds, while waiting the default 3s per non-local task wave
        # serializes small stages onto whichever executor holds cached blocks.
        builder = builder.config(
            "spark.executor.extraJavaOptions",
            f"-XX:ActiveProcessorCount={lc.group(2)}",
        ).config("spark.locality.wait", "0")
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if lc:
        # Ship the package to executors exactly as spark-submit --py-files
        # would; executor-side Python workers import from this zip.
        spark.sparkContext.addPyFile(_package_zip())
    return spark
