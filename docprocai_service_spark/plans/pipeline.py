"""The full KG-construction pipeline: extract → triples → link → canonicalize
→ materialize, with per-stage checkpoints, lineage rows and metrics (C13).

The reference runs these as priority-ordered queue tasks (ingest=0, linking=1,
assessment=2 — reference: service/DocProcAiService.py:199,293,376-383) on one
worker thread; here the ordering is the explicit stage DAG below, and
parallelism is the cluster. The reference's global BERTopic recompute per
ingest (service/DocProcAiService.py:186-189) becomes the per-batch
canonicalization stage.

Lineage (FIXTURES.md F3): one row per (stage, partition) with an
order-insensitive key hash and row counts, computed as a grouped aggregation
over spark_partition_id() — distributed, no driver collect. Triple-count
metrics additionally flow through df.observe() accumulators, the Spark analog
of the reference's per-task progress reporting
(reference: service/DocProcAiService.py:511-557).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.canonicalize import canonicalize_entities, entity_names
from ..operators.extract import extract_stage
from ..operators.linking import link_mentions
from ..operators.materialize import EDGE_KEYS, edges_table, entities_table, resolve_entities
from ..operators.triples import fused_triples_stage, mentions_stage, triples_stage
from ..session import fat_binary_scan
from ..sources.manifest import StageStore, content_fingerprint


def lineage_rows(df: DataFrame, stage: str, key_cols: list[str], rows_in: int, wall_ms: int) -> DataFrame:
    """Per-partition lineage: order-insensitive key hash + row count (no collect)."""
    key = F.xxhash64(*[F.col(c).cast("string") for c in key_cols])
    return (
        df.withColumn("__key", key)
        .groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(
            # bit_xor: order-insensitive and overflow-free (ANSI mode is on in
            # Spark 4, where a long SUM over hashes would raise on overflow)
            F.sha2(F.expr("bit_xor(__key)").cast("string"), 256).alias("input_keys_hash"),
            F.count("*").alias("rows_out"),
        )
        .select(
            F.lit(stage).alias("stage"),
            "partition_id",
            "input_keys_hash",
            F.lit(rows_in).cast("long").alias("rows_in"),
            "rows_out",
            F.lit(wall_ms).cast("long").alias("wall_ms"),
        )
    )


@dataclass
class PipelineResult:
    extracted: DataFrame
    triples: DataFrame
    mentions: DataFrame
    linked: DataFrame
    canon_map: DataFrame
    entities: DataFrame
    edges: DataFrame
    lineage: DataFrame | None
    metrics: dict = field(default_factory=dict)
    triples_obs: Observation | None = None

    def n_triples(self) -> int:
        """Triple count. In store mode it is in metrics (counted at write);
        in the lazy no-store mode it comes from the observe() accumulator
        when one has fired, else falls back to a direct count().

        Observation caveat (not fixable at this layer): the observe node
        records only the FIRST action that touches it, and `triples` is
        persist()ed — if that first action is PARTIAL (e.g. `.show()`,
        `.limit(k).collect()`), the observation under-counts permanently
        because later full actions read cached partitions and bypass the
        observe node. Consumers that take partial actions first must use
        `result.triples.count()` themselves. The non-blocking fired-probe
        below guarantees this method never hangs when no action has run —
        it counts directly instead (filling the cache, i.e. the same cost
        any first full action would pay)."""
        if "n_triples" in self.metrics:
            return self.metrics["n_triples"]
        n = None
        if self.triples_obs is not None and self._obs_fired():
            n = int(self.triples_obs.get["n_triples"])
        if n is None:
            n = self.triples.count()
        self.metrics["n_triples"] = n
        return n

    def _obs_fired(self) -> bool:
        """Non-blocking: has the observe() node seen an action complete?"""
        try:
            return bool(self.triples_obs._jo.getRowOrEmpty().isDefined())
        except Exception:
            return False  # Observation internals unavailable → use count()


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    alias_dict: DataFrame,
    out_dir: str | None = None,
    link_strategy: str = "prereduced",
    canon_threshold: float = 0.7,
    resume: bool = True,
    collect_lineage: bool = True,
) -> PipelineResult:
    """Run (or resume) the five-stage DAG; persist per-stage when out_dir given.

    With out_dir + resume, each materialized stage is skipped when its
    _SUCCESS + manifest are present and its input keys are all covered —
    kill the job anywhere and re-running converges to identical bytes.
    """
    store = StageStore(spark, out_dir) if out_dir else None
    metrics: dict = {}
    lineages: list[DataFrame] = []
    triples_obs: Observation | None = None
    t_start = time.time()

    # Resume ledger: the "extracted" stage holds exactly one row per input
    # page, so it is the key coverage record for the whole DAG (pages with no
    # triples still appear there — checking coverage against sparse downstream
    # outputs would spuriously re-run stages).
    _covered: list[bool] = []

    def pages_covered() -> bool:
        if not _covered:
            _covered.append(
                store.is_done("extracted") and store.todo_keys("extracted", pages).isEmpty()
            )
        return _covered[0]

    # DAG order; a stage that is recomputed invalidates everything downstream
    # so a crash between stage overwrites cannot resume a stale later stage
    # (its _SUCCESS+manifest from the previous run would otherwise look done).
    _STAGE_ORDER = ["extracted", "triples", "mentions", "linked", "canon_map", "edges", "entities"]

    def run_stage(name: str, make, key_cols: list[str], rows_in: int = -1) -> DataFrame:
        t0 = time.time()
        if store is not None:
            if resume and store.is_done(name) and pages_covered():
                df = store.read(name)
                metrics[f"{name}_resumed"] = True
            else:
                for downstream in _STAGE_ORDER[_STAGE_ORDER.index(name) + 1:]:
                    if store.is_done(downstream):
                        store.invalidate(downstream)
                # stamp canon_map with the alias-dict fingerprint it derives
                # from, so incremental ingest can auto-detect dictionary
                # changes (streaming/incremental.py) — one tiny agg job on a
                # dimension-sized table, store mode only
                meta = (
                    {"alias_fp": content_fingerprint(alias_dict, ["alias", "entity_id", "prior"])[1]}
                    if name == "canon_map"
                    else None
                )
                if name in ("extracted", "triples"):
                    # These two stage writes are the only actions that scan
                    # the fat ~5KB html / extracted-text columns — scope the
                    # 256-row parquet batch to them so every narrow stage
                    # readback downstream keeps the 4096 default (ADVICE r4:
                    # a job-wide scope taxed narrow scans 15-30%).
                    with fat_binary_scan(spark):
                        df = store.write(name, make(), meta=meta)
                else:
                    # edges go into the store's bucketed layout — the one
                    # incremental_ingest's upsert merges into and the point
                    # queries prune (sources/manifest.py)
                    bucket_by = EDGE_KEYS[0] if name == "edges" else None
                    df = store.write(name, make(), bucket_by=bucket_by, meta=meta)
        else:
            # No store: cache ONLY the multi-consumer stages (triples feeds
            # mentions + edge resolution; canon_map feeds resolution +
            # entities). Single-consumer stages stay lazy so e.g. extract
            # fuses into the triples pass — one scan over the html bytes
            # instead of a materialize-then-rescan. persist() is LAZY — no
            # eager materialization job/barrier here (an eager localCheckpoint
            # measured 2-7s of anti-scaling block-store overhead); the first
            # consuming action fills the cache, later consumers reuse it.
            df = make()
            if name == "triples":
                nonlocal triples_obs
                triples_obs = Observation("triples_pipeline")
                df = df.observe(triples_obs, F.count(F.lit(1)).alias("n_triples"))
                df = df.persist(StorageLevel.MEMORY_AND_DISK)
            elif name == "canon_map":
                df = df.persist(StorageLevel.MEMORY_AND_DISK)
        wall = int((time.time() - t0) * 1000)
        metrics[f"{name}_wall_ms"] = wall
        if collect_lineage:
            lineages.append(lineage_rows(df, name, key_cols, rows_in, wall))
        return df

    extracted = run_stage("extracted", lambda: extract_stage(pages), ["url", "warc_ts"])
    # Store mode parses the MATERIALIZED extracted stage (resume ledger reuse);
    # no-store mode fuses extract into the parse so html crosses Arrow once.
    # Both run the same parse kernel (operators/triples.py).
    def make_triples() -> DataFrame:
        if store is not None:
            return triples_stage(extracted)
        return fused_triples_stage(pages)

    triples = run_stage("triples", make_triples, ["url", "warc_ts", "sent_no"])
    mentions = run_stage("mentions", lambda: mentions_stage(triples), ["mention_id"])
    linked = run_stage(
        "linked", lambda: link_mentions(mentions, alias_dict, strategy=link_strategy), ["mention_id"]
    )

    canon_map = run_stage(
        "canon_map",
        lambda: canonicalize_entities(entity_names(alias_dict), threshold=canon_threshold),
        ["entity_id"],
    )
    # resolved inside `make`: a resumed edges stage never builds the alias map
    edges = run_stage(
        "edges", lambda: edges_table(resolve_entities(triples, alias_dict, canon_map)), EDGE_KEYS
    )
    entities = run_stage("entities", lambda: entities_table(alias_dict, canon_map), ["entity_id"])

    lineage = None
    if collect_lineage:
        lineage = lineages[0]
        for extra in lineages[1:]:
            lineage = lineage.unionByName(extra)
        if store is not None:
            lineage.write.mode("overwrite").parquet(store.path("lineage"))

    if store is not None:
        # the triples manifest holds the count its write observed — no job.
        # In no-store mode the count flows through the observe() accumulator
        # on the one cache-filling action instead (PipelineResult.n_triples):
        # a separate count() action here was a measured serial term that
        # capped N→4N scaling.
        n_triples = store.manifest("triples")["rows"]
        metrics["n_triples"] = n_triples
        metrics["triples_per_sec"] = n_triples / max(time.time() - t_start, 1e-9)
    metrics["total_wall_s"] = time.time() - t_start
    return PipelineResult(
        extracted, triples, mentions, linked, canon_map, entities, edges, lineage, metrics,
        triples_obs=triples_obs,
    )
