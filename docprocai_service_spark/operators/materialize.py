"""Stage 5 — canonical entity/edge table materialization (capability C9).

Replaces the reference's per-row INSERT loops and upserts
(reference: persistence/SegmentDbConnector.py:75-124, one INSERT per segment
from service/DocProcAiService.py:122-130) with batched, partitioned,
idempotent DataFrame writes.

Plan shape for edges: the subj/obj → entity resolution is TWO broadcast joins
against the (pre-reduced, tiny) alias dictionary plus one broadcast join
against the canon mapping — the 100 TB triple stream is never shuffled until
the final groupBy(src, dst, pred), whose keys are entity ids (salting for the
head-entity skew is inherited from AQE + the bucketed layout).

Output layout: `edges_table` and `entities_table` return exactly the F3
schemas; the store writes the edges stage bucketed by src_entity
(sources/manifest.py owns that layout: 16 buckets of xxhash64). Bucketing
co-locates each entity's edges for the neighborhood point queries below and
bounds file count at web scale (a raw partitionBy(entity) would create 10⁸
directories).
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.manifest import scan_buckets, write_bucketed
from .canonicalize import entity_names
from .linking import reduce_alias_dict

#: Key of the edges table; the store buckets it by the first (src_entity).
EDGE_KEYS = ["src_entity", "dst_entity", "pred"]


def resolve_entities(triples: DataFrame, alias_dict: DataFrame, canon_map: DataFrame) -> DataFrame:
    """triples → (src_entity, dst_entity, pred, url, warc_ts, sent_no).

    Unlinkable surfaces become deterministic NIL entities
    ('NIL:' + sha256(lower(surface))) so unknown-but-identical mentions still
    aggregate — never dropped rows, never random ids.
    """
    # The alias→entity and entity→canon lookups are composed DICT-SIDE into
    # one alias→resolved-id map before broadcasting (r7, guide §1.2: the old
    # shape probed two broadcast tables per side — four joins over the O(n)
    # triple stream; coalesce(canon, entity) is a pure function of the
    # dictionary rows, so composing it on the ~10⁴-row side is free and
    # halves the per-row probes). localCheckpoint before broadcast for the
    # same reason link_mentions pins its reduced dict: a BroadcastExchange
    # whose child contains a window aggregation can stall in AQE planning.
    best = reduce_alias_dict(alias_dict)
    amap = (
        best.join(
            canon_map.select("entity_id", "canon_id"), "entity_id", "left"
        )
        .select(
            F.col("alias").alias("__alias"),
            F.coalesce("canon_id", "entity_id").alias("__rid"),
        )
        .localCheckpoint()
    )

    def link_side(df: DataFrame, surface_col: str, out_col: str) -> DataFrame:
        df = df.withColumn("__alias", F.lower(F.col(surface_col)))
        df = df.join(F.broadcast(amap), "__alias", "left")
        resolved = F.coalesce(
            F.col("__rid"),
            F.concat(F.lit("NIL:"), F.sha2(F.lower(F.col(surface_col)), 256)),
        )
        return df.withColumn(out_col, resolved).drop("__alias", "__rid")

    out = link_side(triples, "subj", "src_entity")
    out = link_side(out, "obj", "dst_entity")
    return out.select("src_entity", "dst_entity", "pred", "url", "warc_ts", "sent_no")


def edges_table(resolved: DataFrame) -> DataFrame:
    """Aggregate resolved triples into weighted canonical edges."""
    return resolved.groupBy(*EDGE_KEYS).agg(F.count("*").alias("weight"))


def entities_table(alias_dict: DataFrame, canon_map: DataFrame) -> DataFrame:
    """Canonical entity registry: id = MIN member id, name = name of that member,
    member_count = #merged entity ids. Order-free reductions only."""
    members = canon_map.join(entity_names(alias_dict), "entity_id", "left")
    return members.groupBy(F.col("canon_id").alias("entity_id")).agg(
        F.min_by("name", F.col("entity_id")).alias("canonical_name"),
        F.count("*").alias("member_count"),
    )


def out_neighborhood(
    spark,
    edges_path: str,
    entity_ids: list[str],
    hops: int = 1,
    max_frontier: int = 100_000,
) -> DataFrame:
    """Point query over the materialized bucketed edges table: the out-edge
    neighborhood of `entity_ids` within `hops`, reading ONLY the bucket
    partition dirs that can hold the frontier's edges — the read-side payoff
    the bucket(src_entity) layout exists for (the reference serves the
    analogous per-entity link lookups from a Postgres index,
    persistence/SegmentDbConnector.py:190-221; here the partition filter is
    the index). Per hop: one pruned scan + a driver-collected frontier —
    O(touched buckets) IO per hop regardless of table size, which is the
    right trade for point/feature queries (bulk neighborhood jobs should use
    khop_reach/graph ops instead; this loop is deliberately driver-paced).

    Directionality contract: this prunes on bucket(src_entity), the layout
    of the store's edges stage on every path that writes it. For reverse
    lookups ("who points at X?") materialize the dst-bucketed twin once with
    `write_edges_by_dst` and query it with `in_neighborhood` — same IO
    bound, opposite walk.
    max_frontier bounds the driver collect; exceeding it raises instead of
    silently degrading.

    Returns the distinct visited edges (src_entity, dst_entity, pred,
    weight, hop) with hop = the round whose frontier first expanded the
    edge's src (each node is expanded at most once — on a cycle the next
    frontier subtracts already-expanded nodes, so the loop terminates and
    no bucket is re-read for a node it already served).
    """
    return _bfs_neighborhood(
        spark, edges_path, entity_ids, "src_entity", "dst_entity",
        hops, max_frontier,
    )


def write_edges_by_dst(edges: DataFrame, path: str) -> None:
    """Materialize the dst-bucketed twin of the edges table — one extra
    shuffle-free pass at write time buys partition-pruned REVERSE point
    lookups forever after (the classic both-directions layout for adjacency
    at scale: same rows, second sort/partition key). `edges` is an edges
    table, read from the store or not (a src-keyed bucket column read from
    disk is replaced)."""
    write_bucketed(edges, path, "dst_entity")


def in_neighborhood(
    spark,
    edges_by_dst_path: str,
    entity_ids: list[str],
    hops: int = 1,
    max_frontier: int = 100_000,
) -> DataFrame:
    """Reverse point query over the dst-bucketed twin (`write_edges_by_dst`):
    edges whose dst is in the frontier, walking backwards through src — hop =
    the round whose frontier first expanded the edge's dst. Same per-hop IO
    bound as `out_neighborhood`: bucket partition filter first, exact
    IN-list second."""
    return _bfs_neighborhood(
        spark, edges_by_dst_path, entity_ids, "dst_entity", "src_entity",
        hops, max_frontier,
    )


def _bfs_neighborhood(
    spark,
    path: str,
    entity_ids: list[str],
    key_col: str,
    next_col: str,
    hops: int,
    max_frontier: int,
) -> DataFrame:
    frontier = sorted(set(entity_ids))
    visited: set[str] = set()
    seen_edges = None
    for hop in range(1, hops + 1):
        if not frontier:
            break
        if len(frontier) > max_frontier:
            raise ValueError(
                f"frontier of {len(frontier)} exceeds max_frontier={max_frontier}; "
                "use khop_reach/graph ops for bulk neighborhoods"
            )
        hop_edges = (
            pruned_edge_scan(spark, path, frontier, key_col=key_col)
            .withColumn("hop", F.lit(hop))
            .localCheckpoint()
        )
        seen_edges = (
            hop_edges if seen_edges is None else seen_edges.unionByName(hop_edges)
        )
        visited.update(frontier)
        frontier = sorted(
            {r[next_col] for r in hop_edges.select(next_col).distinct().collect()}
            - visited
        )
    if seen_edges is None:
        return spark.createDataFrame(
            [], "src_entity string, dst_entity string, pred string, weight long, hop int"
        )
    return seen_edges


def pruned_edge_scan(
    spark,
    edges_path: str,
    frontier: list[str],
    key_col: str = "src_entity",
) -> DataFrame:
    """One frontier hop's scan: bucket partition filter FIRST (prunes the
    parquet listing to the dirs that can hold the frontier's key entities —
    plan-asserted in tests/test_plans.py), then the exact key IN-list.
    `key_col` must be the column the layout at `edges_path` was bucketed on
    (src for the store's edges stage, dst for the `write_edges_by_dst`
    twin)."""
    probe = spark.createDataFrame([(e,) for e in frontier], f"{key_col} string")
    return (
        scan_buckets(spark, edges_path, probe, key_col)
        .where(F.col(key_col).isin(frontier))
        .select("src_entity", "dst_entity", "pred", "weight")
    )


# =====================================================================
# Deterministic sharded training-data export (round-6, VERDICT r5 #4)
# =====================================================================

def shard_assignment(id_col: Column, n_shards: int) -> Column:
    """Deterministic, engine-portable shard id in [0, n_shards): the first
    32 bits of md5(id-as-string) mod n_shards. md5-prefix rather than
    xxhash64 so the assignment is bit-identical in any engine that can
    compute md5 — DuckDB mirrors it as
    CAST('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8) AS BIGINT) % n,
    which is what makes the export's placement column SQL-oracle-able.
    Uniform over ids, so shards are size-balanced in expectation (CLT: a
    shard of k docs deviates O(sqrt k) from the mean)."""
    h32 = F.conv(F.substring(F.md5(id_col.cast("string")), 1, 8), 16, 10)
    return F.pmod(h32.cast("long"), F.lit(n_shards)).cast("int")


def export_shards(
    df: DataFrame,
    path: str,
    n_shards: int | None = None,
    target_bytes: int | None = None,
    id_col: str = "doc_id",
    bytes_col: str = "text",
    checksums: str = "sha256",
) -> dict:
    """The dedup→filter pipeline's last mile: write `df` as n size-balanced
    parquet shards with a deterministic placement, a content manifest, and
    kill-and-resume byte-identity.

    Layout: `path/shard=K/data.parquet`, one file per shard. Every row's
    shard is `shard_assignment(id_col, n)` — a pure function of the row id,
    so re-running the export (after a crash, on another cluster, at another
    parallelism) places every row identically. `repartition(n, shard)` makes
    each shard's rows live in exactly one write task, and
    `sortWithinPartitions(shard, id)` fixes the row order, so each shard
    FILE is byte-deterministic (parquet encodes deterministically given
    schema + row order); the post-write rename to `data.parquet` removes the
    only nondeterministic bit (the committer's task-UUID file names).

    Commit protocol: data files → renames → `_manifest.json` (per-shard rows
    + bytes + sha256, plus the export params) → `_EXPORT_SUCCESS` marker,
    strictly in that order. A kill anywhere before the marker leaves no
    marker, and the next call rewrites the whole export (mode=overwrite,
    deterministic, hence byte-identical to an uninterrupted run); a
    completed export short-circuits to a no-op that returns the existing
    manifest. Single-writer semantics like StageStore (sources/manifest.py).

    Sizing: pass `n_shards` directly, or `target_bytes` to derive it from
    one SUM(octet_length(bytes_col)) aggregation over the input (uncompressed
    payload bytes — the stable, engine-independent size proxy; parquet's
    compressed size depends on encoder versions, so targeting it would make
    n_shards nondeterministic across environments).

    At 100 TB: one hash-partition shuffle on the shard column (unavoidable —
    the deliverable IS a placement), one write pass, no driver data motion;
    the manifest pass re-reads the shard files EXECUTOR-side (binaryFile
    scan → JVM sha2) so the driver only ever holds n_shards digest rows —
    never file bytes. binaryFile materializes a whole file per row, so keep
    shards under ~2 GB when checksums are on, or pass checksums="none"
    (rows + bytes still recorded; parquet's own page checksums carry
    integrity) for jumbo shards.
    """
    if (n_shards is None) == (target_bytes is None):
        raise ValueError("pass exactly one of n_shards / target_bytes")
    if checksums not in ("sha256", "none"):
        raise ValueError(f"checksums must be 'sha256' or 'none', got {checksums!r}")
    from ..sources.manifest import content_fingerprint

    marker = os.path.join(path, "_EXPORT_SUCCESS")
    manifest_path = os.path.join(path, "_manifest.json")
    # Full request parameters, persisted in the manifest (ADVICE r6: the old
    # manifest recorded neither target_bytes nor the checksum policy, so a
    # resume could not tell which request produced it).
    params = {
        "id_col": id_col,
        "bytes_col": bytes_col,
        "checksums": checksums,
        "n_shards_arg": n_shards,
        "target_bytes": target_bytes,
    }
    # Input identity: order-free (count, xor-of-id-hash) over the id column —
    # one single-column agg scan per call. Stamped at write and REQUIRED to
    # match on the short-circuit (ADVICE r6, medium): a completed export for
    # a different df / different params must not be silently adopted; the
    # deterministic overwrite below rebuilds it instead.
    _, input_fp = content_fingerprint(df, [id_col])
    if os.path.exists(marker) and os.path.exists(manifest_path):
        with open(manifest_path) as f:
            stored = json.load(f)
        if (
            stored.get("params") == params
            and stored.get("input_fingerprint") == input_fp
        ):
            return stored

    if n_shards is None:
        total = df.agg(
            F.sum(F.octet_length(F.col(bytes_col).cast("string"))).alias("b")
        ).first()["b"] or 0
        n_shards = max(1, -(-int(total) // int(target_bytes)))

    out = (
        df.withColumn("shard", shard_assignment(F.col(id_col), n_shards))
        .repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", id_col)
    )
    out.write.mode("overwrite").partitionBy("shard").parquet(path)

    shards = []
    for d in sorted(glob.glob(os.path.join(path, "shard=*"))):
        parts = sorted(glob.glob(os.path.join(d, "part-*.parquet")))
        final = os.path.join(d, "data.parquet")
        if len(parts) == 1:
            os.replace(parts[0], final)
        elif parts or not os.path.exists(final):
            raise RuntimeError(f"expected exactly one part file in {d}, got {parts}")
        shards.append(
            {
                "shard": int(os.path.basename(d).split("=", 1)[1]),
                "bytes": os.path.getsize(final),
            }
        )
    if checksums == "sha256":
        digests = {
            r["shard"]: r["digest"]
            for r in (
                df.sparkSession.read.format("binaryFile")
                .load(os.path.join(path, "shard=*", "data.parquet"))
                .select(
                    F.regexp_extract("path", r"shard=(\d+)", 1).cast("int").alias("shard"),
                    F.lower(F.sha2(F.col("content"), 256)).alias("digest"),
                )
                .collect()
            )
        }
        for s in shards:
            s["sha256"] = digests[s["shard"]]
    counts = {
        r["shard"]: r["rows"]
        for r in spark_read_counts(df.sparkSession, path)
    }
    for s in shards:
        s["rows"] = counts.get(s["shard"], 0)
    # Every shard id 0..n_shards-1 appears (ADVICE r6: consumers iterating
    # the id range used to hit missing entries) — zero-row shards get
    # rows=0 / bytes=0 and no file/sha256 (no directory is written for them).
    present = {s["shard"] for s in shards}
    for k in range(n_shards):
        if k not in present:
            shards.append({"shard": k, "bytes": 0, "rows": 0})
    shards.sort(key=lambda s: s["shard"])
    manifest = {
        "n_shards": n_shards,
        "id_col": id_col,
        "params": params,
        "input_fingerprint": input_fp,
        "total_rows": sum(s["rows"] for s in shards),
        "total_bytes": sum(s["bytes"] for s in shards),
        "shards": shards,
    }
    tmp = manifest_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, manifest_path)
    with open(marker, "w") as f:
        f.write("ok\n")
    return manifest


def spark_read_counts(spark, path: str) -> list[dict]:
    """Per-shard row counts of an exported layout (one footer-only agg)."""
    return [
        {"shard": r["shard"], "rows": r["rows"]}
        for r in (
            spark.read.parquet(path)
            .groupBy("shard")
            .agg(F.count(F.lit(1)).alias("rows"))
            .collect()
        )
    ]
