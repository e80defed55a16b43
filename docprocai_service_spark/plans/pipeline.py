"""The full KG-construction pipeline: extract → triples → link → canonicalize
→ materialize, with lineage rows and metrics (C13).

The reference runs these as priority-ordered queue tasks (ingest=0, linking=1,
assessment=2 — reference: service/DocProcAiService.py:199,293,376-383) on one
worker thread; here the ordering is the explicit stage DAG below, and
parallelism is the cluster. The reference's global BERTopic recompute per
ingest (service/DocProcAiService.py:186-189) becomes the per-batch
canonicalization stage.

Two modes, one semantic:
  * no store (`out_dir=None`): the DAG as one lazy plan, extract fused into
    the parse so html crosses Arrow once;
  * store (`out_dir=X`): `incremental_ingest` onto `StageStore(X)` — a build
    is the first micro-batch, a re-run over committed pages is a replay. So
    the store has one commit protocol (batch-numbered appends committed by
    the batch log, intent-bracketed edge merge), and every call is
    idempotent. A call whose pages differ from the store's ADDS its new
    pages and never drops committed ones; to recompute from scratch, use a
    new `out_dir`.

Lineage (FIXTURES.md F3): one row per (stage, partition) with an
order-insensitive key hash and row counts, computed as a grouped aggregation
over spark_partition_id() — distributed, no driver collect. `rows_in` and
`wall_ms` are -1 (not measured). Triple-count metrics additionally flow
through df.observe() accumulators, the Spark analog of the reference's
per-task progress reporting (reference: service/DocProcAiService.py:511-557).
"""

from __future__ import annotations

import logging
import time
from dataclasses import dataclass, field
from functools import reduce

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.canonicalize import canonicalize_entities, entity_names
from ..operators.extract import extract_stage
from ..operators.linking import link_mentions
from ..operators.materialize import EDGE_KEYS, edges_table, entities_table, resolve_entities
from ..operators.triples import fused_triples_stage, mentions_stage
from ..sources.manifest import KEYS, StageStore
from ..streaming import incremental

_log = logging.getLogger(__name__)

#: Each stage's lineage key columns, in DAG order.
LINEAGE_KEYS = {
    "extracted": KEYS,
    "triples": [*KEYS, "sent_no"],
    "mentions": ["mention_id"],
    "linked": ["mention_id"],
    "canon_map": ["entity_id"],
    "edges": EDGE_KEYS,
    "entities": ["entity_id"],
}


def lineage_rows(stages: dict[str, DataFrame]) -> DataFrame:
    """Per-(stage, partition) lineage: order-insensitive key hash + row
    count (no collect). Each stage's partition ids and key hashes are taken
    before the union, so one aggregation — one shuffle — serves every
    stage."""
    keyed = [
        df.select(
            F.lit(name).alias("stage"),
            F.spark_partition_id().alias("partition_id"),
            F.xxhash64(*[F.col(c).cast("string") for c in LINEAGE_KEYS[name]]).alias("__key"),
        )
        for name, df in stages.items()
    ]
    return (
        reduce(DataFrame.unionByName, keyed)
        .groupBy("stage", "partition_id")
        .agg(
            # bit_xor: order-insensitive and overflow-free (ANSI mode is on in
            # Spark 4, where a long SUM over hashes would raise on overflow)
            F.sha2(F.expr("bit_xor(__key)").cast("string"), 256).alias("input_keys_hash"),
            F.count("*").alias("rows_out"),
        )
        .select(
            "stage",
            "partition_id",
            "input_keys_hash",
            F.lit(-1).cast("long").alias("rows_in"),
            "rows_out",
            F.lit(-1).cast("long").alias("wall_ms"),
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
        """Triple count. In store mode it is in metrics (the triples
        manifest's count); in the lazy no-store mode it comes from the
        observe() accumulator when one has fired, else falls back to a
        direct count().

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
        """Non-blocking: has the observe() node seen an action complete? A
        probe that fails (Observation internals changed) is logged and read
        as "not fired", so n_triples counts directly."""
        try:
            return bool(self.triples_obs._jo.getRowOrEmpty().isDefined())
        except Exception:
            _log.warning("n_triples: observation probe failed -> count()", exc_info=True)
            return False


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    alias_dict: DataFrame,
    out_dir: str | None = None,
    collect_lineage: bool = True,
) -> PipelineResult:
    """Run the five-stage DAG over `pages`: lazily, or onto the stage store
    at `out_dir` (see the module docstring). Store mode sets
    `{stage}_resumed` for each stage whose committed manifest the call left
    as it found it, and writes the lineage rows to `<out_dir>/lineage`; it
    raises ValueError when no pages reach an empty store."""
    t_start = time.time()
    triples_obs, metrics = None, {}
    if out_dir is None:
        stages, triples_obs = _lazy_stages(pages, alias_dict)
    else:
        store = StageStore(spark, out_dir)
        before = {name: store.version(name) for name in LINEAGE_KEYS}
        # module attribute, not a from-import: a tracer that wraps
        # incremental.incremental_ingest sees the store build too
        incremental.incremental_ingest(spark, pages, store, alias_dict)
        if not store.is_done("extracted"):
            # `extracted` commits last: nothing is committed
            raise ValueError(f"store {out_dir!r} has no committed pages; pass at least one")
        stages = {name: store.read(name) for name in LINEAGE_KEYS}
        metrics = {f"{n}_resumed": v is not None and store.version(n) == v for n, v in before.items()}
        # the triples manifest holds the count its commits observed — no job
        metrics["n_triples"] = store.manifest("triples")["rows"]

    lineage = lineage_rows(stages) if collect_lineage else None
    if out_dir is not None:
        if lineage is not None:
            lineage.write.mode("overwrite").parquet(store.path("lineage"))
        metrics["triples_per_sec"] = metrics["n_triples"] / max(time.time() - t_start, 1e-9)
    metrics["total_wall_s"] = time.time() - t_start
    return PipelineResult(**stages, lineage=lineage, metrics=metrics, triples_obs=triples_obs)


def _lazy_stages(pages: DataFrame, alias_dict: DataFrame) -> tuple[dict, Observation]:
    # Cache ONLY the multi-consumer stages (triples feeds mentions + edge
    # resolution; canon_map feeds resolution + entities). Single-consumer
    # stages stay lazy so e.g. extract fuses into the triples pass — one scan
    # over the html bytes instead of a materialize-then-rescan. persist() is
    # LAZY — no eager materialization job/barrier here (an eager
    # localCheckpoint measured 2-7s of anti-scaling block-store overhead);
    # the first consuming action fills the cache, later consumers reuse it.
    # The triple count flows through the observe() accumulator on that one
    # cache-filling action (PipelineResult.n_triples): a separate count()
    # action here was a measured serial term that capped N→4N scaling.
    extracted = extract_stage(pages)
    triples_obs = Observation("triples_pipeline")
    triples = (
        fused_triples_stage(pages)
        .observe(triples_obs, F.count(F.lit(1)).alias("n_triples"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    mentions = mentions_stage(triples)
    linked = link_mentions(mentions, alias_dict)
    canon_map = canonicalize_entities(entity_names(alias_dict)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    edges = edges_table(resolve_entities(triples, alias_dict, canon_map))
    entities = entities_table(alias_dict, canon_map)
    stages = dict(extracted=extracted, triples=triples, mentions=mentions, linked=linked,
                  canon_map=canon_map, edges=edges, entities=entities)
    return stages, triples_obs
