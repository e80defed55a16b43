"""Skew-aware join utilities (explicit salting).

The reference never faces skew — it processes one document at a time
(reference: service/DocProcAiService.py:694-707) and delegates every real join
to Postgres. At 100 TB the head entities (Wikipedia/Wikidata-hub analogs;
Zipf-distributed in the corpus) dominate join keys, so the north_rule demands
explicit handling: Catalyst/AQE will split skewed *shuffle* partitions, but it
will NOT replicate a dimension table for you — that is what `salted_join`
does. AQE skew-join stays enabled as the backstop (session.py).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_on: str,
    n_salts: int = 8,
    how: str = "left",
) -> DataFrame:
    """Equi-join `big ⋈ small` on `key`, salted to defuse hot keys.

    big gets salt = pmod(xxhash64(salt_on), n_salts) — deterministic, so
    re-runs produce identical partition placement; small is replicated
    n_salts× via explode. Result is row-identical to the unsalted join
    (property-tested), but each hot key's rows now spread over n_salts
    shuffle partitions.
    """
    salted_big = big.withColumn("__salt", F.pmod(F.xxhash64(F.col(salt_on)), F.lit(n_salts)))
    salted_small = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<long>"))
    )
    return salted_big.join(salted_small, [key, "__salt"], how).drop("__salt")


def skew_aware_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_on: str,
    n_salts: int = 8,
    how: str = "left",
    hot_fraction: float = 0.25,
    probe_rows: int = 100_000,
    max_probe_bytes: int = 8 << 30,
) -> DataFrame:
    """`salted_join` with the published ablation encoded as a guardrail.

    The skew ablation (BENCH/BASELINE.md, round 3) measured salting as a
    2.32× WIN when one hub key carries ~50% of the stream but a 0.69× LOSS
    at mild Zipf skew (the n_salts× dimension replication costs more than
    the imbalance it removes when no reducer saturates). This wrapper makes
    that lesson structural: a bounded probe estimates the hottest key's
    share; only when it exceeds `hot_fraction` does the join salt, otherwise
    it stays plain. Output is row-identical either way (property-tested), so
    the probe affects only the physical plan.

    Probe shape (VERDICT r4 #3): a PREFIX probe (`limit(probe_rows)`) reads
    only the first partition(s), so on an input sorted or clustered by the
    join key — common after a sorted write or range partitioning — the
    prefix is one key neighborhood and the estimate is badly biased either
    way. The stratified probe here is one JVM-side column-pruned scan (the
    same cost envelope as a `sample(fraction)` probe, with zero Python rows):
    each partition contributes the key counts of its first
    probe_rows/num_partitions rows PLUS its true row count, and each
    partition's prefix distribution is scaled to its size before the shares
    are combined. Size-weighting matters: range partitioning puts ALL of a
    hub key's rows into ONE oversized partition, and an equal-quota sample
    would underweight exactly the partition that proves the skew. Collected
    driver-side state is <= probe_rows + num_partitions tiny rows.

    Within-partition sorting makes a prefix a single key run, and scaling
    that run to the partition's size inflates the key's estimate toward the
    whole partition — so a raw scaled share would false-salt ANY key-sorted
    input whose largest partition exceeds hot_fraction of the table (review
    r5; reproduced with 10 uniform keys in 2 sorted partitions). The salt
    decision therefore requires CORROBORATION beyond the share estimate:
    the top key must be seen in >= 2 partition prefixes (a >hot_fraction
    key under balanced partitioning spans several), or sit in a partition
    > 2x the median size (range partitioning isolates a dominant key into
    an oversized partition — the hub-at-the-tail signature), or the input
    must have a single partition (no stratification possible; the prefix is
    the only evidence, as with the old probe). Residual under-detection,
    documented: a hub that exactly fills one BALANCED partition of very few
    is indistinguishable from a sorted key run by any prefix probe; AQE
    skew-join remains the backstop there.

    Probe COST (ADVICE r5): the per-partition true row counts make this a
    FULL key-column scan of `big`, and the join then executes the upstream
    plan a second time — cheap against a parquet scan (column-pruned,
    footer-fast), expensive against a derived plan. Two guards: (a) when
    Catalyst's size estimate for `big` exceeds `max_probe_bytes` (default
    8 GiB) the probe is SKIPPED and the join stays plain — at that scale AQE
    skew-join (enabled session-wide, session.py) is the cheaper detector,
    and an O(input) probe would rival the join itself; (b) callers feeding a
    derived `big` below the threshold should localCheckpoint it first so the
    probe and the join share one materialization (the khop/pagerank loops
    already do). The probe quota divides by defaultParallelism rather than
    forcing a plan→RDD conversion for the exact partition count — the quota
    only shapes prefix sizes, so an approximation is fine.
    """
    # Gate on the LARGEST LEAF relation, not the plan-root estimate
    # (ADVICE r6): without CBO the root estimate multiplies child sizes
    # through joins/explodes, so derived plans routinely "estimate" far
    # above 8 GiB at tiny actual sizes and the probe (hence salting)
    # silently turned off for exactly the derived-plan callers this wrapper
    # targets. The probe's own cost is one column-pruned pass over the
    # leaves, so the leaf bound is the honest cost proxy.
    try:
        leaves = big._jdf.queryExecution().optimizedPlan().collectLeaves()
        est_bytes = max(
            int(leaves.apply(i).stats().sizeInBytes())
            for i in range(leaves.size())
        )
    except Exception:
        est_bytes = 0  # unknown -> probe (small/test plans lack stats rarely)
        logging.getLogger(__name__).warning(
            "skew_aware_join: largest-leaf size estimate failed; probing anyway",
            exc_info=True,
        )
    if est_bytes > max_probe_bytes:
        logging.getLogger(__name__).info(
            "skew_aware_join: probe skipped (largest leaf ~%d bytes > "
            "max_probe_bytes=%d); falling back to plain join with AQE "
            "skew handling", est_bytes, max_probe_bytes,
        )
        return big.join(small, key, how)
    # per-partition row offset from monotonically_increasing_id's documented
    # layout: partition id in the upper 31 bits, record-in-partition in the
    # lower 33.
    n_parts = big.sparkSession.sparkContext.defaultParallelism
    per_part = max(1, probe_rows // max(1, n_parts))
    off = F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))
    probe = (
        big.select(
            F.col(key).alias("__k"),
            F.spark_partition_id().alias("__p"),
            (off < per_part).alias("__in"),
        )
        .groupBy("__p", "__in", F.when(F.col("__in"), F.col("__k")).alias("__k"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    part_total: dict = {}
    prefix_total: dict = {}
    prefix_counts: dict = {}
    for r in probe:
        part_total[r["__p"]] = part_total.get(r["__p"], 0) + r["c"]
        if r["__in"]:
            prefix_total[r["__p"]] = prefix_total.get(r["__p"], 0) + r["c"]
            prefix_counts.setdefault(r["__p"], {})[r["__k"]] = r["c"]
    total = sum(part_total.values())
    est: dict = {}
    seen_in: dict = {}
    for p, key_counts in prefix_counts.items():
        scale = part_total[p] / prefix_total[p]
        for k_, c in key_counts.items():
            est[k_] = est.get(k_, 0) + c * scale
            seen_in.setdefault(k_, []).append(p)
    if total > 0 and est:
        top_key = max(est, key=est.get)
        sizes = sorted(part_total.values())
        median_size = sizes[len(sizes) // 2]
        corroborated = (
            len(seen_in[top_key]) >= 2
            or len(part_total) == 1
            or max(part_total[p] for p in seen_in[top_key]) > 2 * median_size
        )
        if est[top_key] / total > hot_fraction and corroborated:
            return salted_join(big, small, key=key, salt_on=salt_on, n_salts=n_salts, how=how)
    return big.join(small, key, how)

