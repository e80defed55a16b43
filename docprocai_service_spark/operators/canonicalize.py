"""Stage 4 — canonicalization via MinHash-LSH + connected components (C7/C8).

Replaces two reference mechanisms:
  * the all-pairs nested-loop similarity join over segments
    (reference: service/DocProcAiService.py:710-757, threshold 0.7 from
    config.yaml:50) → MinHash signatures + LSH band-key equi-join, so
    candidate count is ~linear instead of quadratic;
  * the global BERTopic re-fit per ingest that transitively groups similar
    items (reference: fileextractlib/TopicModel.py:28-71, triggered from
    service/DocProcAiService.py:186-189) → connected components, run per
    batch: an exact union-find on the driver when a bounded probe shows the
    input is dimension-sized, large-star/small-star on DataFrames above it.

Determinism: canonical id = MIN(member id) per component — an order-free
reduction, never `first()`; signatures are pure functions of the name
(functions/hashing.py); an entity's name is its longest alias, ties to the
lexicographically smallest (entity_names). The distributed rounds
truncate lineage every round (the known plan-size hazard of iterative
DataFrame jobs, SURVEY.md §4.2) through _truncate_lineage, which the
session drives for this module and graph.py alike: checkpoint() to the
checkpoint dir when one is set, localCheckpoint() otherwise.

Routing: both operators pick driver vs distributed from a probe count
bounded by `driver_threshold` — the only selector — and log the route with
the count that chose it.

Scale notes: similarity runs over DISTINCT names, not mentions — at web scale
distinct surface forms are orders of magnitude smaller than mention count.
Band keys of ultra-hot buckets (stopword-like names) are capped via a
group-size guard to bound the pair explosion.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import (
    DEFAULT_BANDS,
    DEFAULT_K,
    band_keys,
    make_jaccard_udf,
    make_minhash_udf,
    signature_similarity,
)

_log = logging.getLogger(__name__)


def entity_names(alias_dict: DataFrame) -> DataFrame:
    """(entity_id, name): each entity's display name — its LONGEST alias,
    ties broken by the lexicographically smallest. The total order makes the
    name a pure function of the alias set (a bare max_by on length keeps
    whichever tied alias it meets first, i.e. depends on row order)."""
    return alias_dict.groupBy("entity_id").agg(
        F.min_by("alias", F.struct(-F.length("alias"), F.col("alias"))).alias("name")
    )


def similarity_edges(
    names: DataFrame,
    id_col: str = "id",
    name_col: str = "name",
    threshold: float = 0.7,
    k: int = DEFAULT_K,
    bands: int = DEFAULT_BANDS,
    max_bucket: int = 200,
    verify: str = "exact",
    shingle: str = "char",
    n: int = 3,
    sigs_out: list | None = None,
) -> DataFrame:
    """(id, name) → undirected candidate edges (src, dst, sim ≥ threshold).

    Plan shape: minhash UDF (narrow) → posexplode band keys → self equi-join
    on band_key (shuffle on uniform sha256 keys) → distinct pair → similarity
    verification ≥ threshold. `max_bucket` drops degenerate buckets
    (> max_bucket members) — at web scale a single hot bucket would otherwise
    produce a quadratic pair blowup; dropped buckets are boilerplate-like
    names whose pairs are almost surely below threshold anyway.

    verify='exact' (default) re-computes true shingle Jaccard on the pruned
    candidate set (Arrow UDF) — deterministic near the threshold, where the
    MinHash estimate's ~1/√k noise would coin-flip borderline pairs.
    verify='estimate' keeps the pure-JVM signature similarity (cheaper; use
    when the threshold sits in a margin, e.g. page-level dedup at 0.9).

    sigs_out: the signature frame is persist()ed because both join sides and
    the verify step reuse it; the returned edges are LAZY, so this function
    cannot know when it is safe to unpersist. Pass a list and the persisted
    frame is appended to it — the caller unpersists after materializing the
    edges (canonicalize_entities does). Without it, repeated invocations in
    one session accumulate cached blocks until memory pressure evicts them.
    """
    from pyspark import StorageLevel

    # Small-file inputs (a single parquet file → 1-2 partitions) would run
    # the signature UDF on one core; spread them first. The shuffle moves
    # only the (id, name) projection — negligible next to the sketch CPU.
    par = names.sparkSession.sparkContext.defaultParallelism
    if names.rdd.getNumPartitions() < min(par, 8):
        names = names.repartition(par)

    minhash = make_minhash_udf(k=k, shingle=shingle, n=n)
    sigs = names.select(
        F.col(id_col).alias("id"),
        F.col(name_col).alias("name"),
        minhash(F.col(name_col)).alias("sig"),
    ).persist(StorageLevel.MEMORY_AND_DISK)  # computed once, reused by both
    # join sides; persist is LAZY (no eager barrier job like localCheckpoint)
    if sigs_out is not None:
        sigs_out.append(sigs)

    banded = sigs.select("id", F.explode(band_keys(F.col("sig"), bands, k)).alias("band_key"))
    # bound hot buckets before the self-join
    sized = banded.withColumn("__n", F.count("*").over(Window.partitionBy("band_key")))
    banded = sized.filter(F.col("__n") <= max_bucket).drop("__n")

    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(right, "band_key")
        .filter(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("src"), F.col("r.id").alias("dst"))
        .distinct()
    )
    if verify == "exact":
        n1 = sigs.select(F.col("id").alias("src"), F.col("name").alias("name1"))
        n2 = sigs.select(F.col("id").alias("dst"), F.col("name").alias("name2"))
        # asNondeterministic (guide §4.4): the ≥-threshold filter below
        # references the UDF column, and the optimizer's filter pushdown
        # otherwise DUPLICATES the evaluation — plan-verified two
        # ArrowEvalPython nodes running jaccard_udf over every candidate
        # pair, one below the pushed filter and one in the output
        # projection. The UDF is pure, so the marker only pins a single
        # evaluation; results are identical (oracle-hashed).
        jac = make_jaccard_udf(shingle=shingle, n=n).asNondeterministic()
        scored = (
            pairs.join(n1, "src")
            .join(n2, "dst")
            .withColumn("sim", jac(F.col("name1"), F.col("name2")))
        )
    else:
        s1 = sigs.select(F.col("id").alias("src"), F.col("sig").alias("sig1"))
        s2 = sigs.select(F.col("id").alias("dst"), F.col("sig").alias("sig2"))
        scored = (
            pairs.join(s1, "src")
            .join(s2, "dst")
            .withColumn("sim", signature_similarity(F.col("sig1"), F.col("sig2")))
        )
    return scored.filter(F.col("sim") >= threshold).select("src", "dst", "sim")


def _truncate_lineage(df: DataFrame) -> DataFrame:
    """Materialize `df` and cut its lineage, as the session decides: with a
    checkpoint dir set (sc.setCheckpointDir — HDFS/S3 on a cluster),
    checkpoint(eager=True) writes the blocks there and they survive executor
    loss; without one, localCheckpoint() is the local[N] fast path. Its
    blocks are not replicated and have no lineage to recompute from, so on a
    cluster a lost executor kills the job."""
    ckpt_dir = df.sparkSession.sparkContext.getCheckpointDir()
    _log.info(
        "truncate_lineage: checkpoint_dir=%s -> %s",
        ckpt_dir, "checkpoint" if ckpt_dir else "localCheckpoint",
    )
    return df.checkpoint(eager=True) if ckpt_dir else df.localCheckpoint()


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 25,
    driver_threshold: int = 200_000,
) -> DataFrame:
    """Undirected connected components → (id, comp) with comp = MIN(id) in component.

    Route, chosen by `driver_threshold` alone: when the edge set and the
    supplied vertex set each hold at most driver_threshold rows (the normal
    case: edges are LSH-verified near-duplicate pairs over DISTINCT names, a
    tiny fraction of corpus size even at web scale), an exact union-find runs
    on the driver — one collect instead of ~2 actions × O(log n) rounds of
    scheduler latency. Both probes are bounded limit().count()s, never an
    unbounded collect. Above it the distributed large-star/small-star
    formulation runs (_components_two_phase): O(log n) ROUNDS regardless of
    graph diameter, so a 10⁴-link transitive near-dup chain finishes in
    ~⌈log⌉ rounds. driver_threshold=0 sends every non-empty graph there.
    Both routes give the same result (comp = min reachable id, order-free);
    a two-phase run that does not reach its fixed point in max_iter rounds
    raises RuntimeError.
    """
    n_edges = edges.limit(driver_threshold + 1).count()
    n_vertices = 0 if vertices is None else vertices.limit(driver_threshold + 1).count()
    driver = n_edges <= driver_threshold and n_vertices <= driver_threshold
    _log.info(
        "connected_components: edges=%d vertices=%d driver_threshold=%d -> %s",
        n_edges, n_vertices, driver_threshold, "driver" if driver else "twophase",
    )
    if driver:
        return _components_driver(edges, vertices)
    return _components_two_phase(edges, vertices, max_iter=max_iter)


def _components_two_phase(
    edges: DataFrame,
    vertices: DataFrame | None,
    max_iter: int = 25,
) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond", Algorithm 2/3) — the
    O(log n)-round formulation, diameter-independent:

      large-star: every node u attaches each STRICTLY LARGER neighbor to
        m = min(N(u) ∪ {u});
      small-star: every node u attaches its smaller-or-equal neighbors and
        itself to m = min(N≤(u) ∪ {u}).

    Each operation is one groupBy (min per center) + one join — two shuffles
    per round, lineage truncated per round. At the fixed point the edge set
    is a forest of stars rooted at each component's minimum id, which is
    exactly this module's output contract (comp = MIN(member id)).

    Edge invariant kept throughout: pairs are stored normalized (u < v), no
    self-loops, distinct — both star operations only ever emit (m, x) with
    m < x, so normalization is structural, not a per-round sort.
    """
    spark = edges.sparkSession
    pairs = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v"))
        .distinct()
    )
    pairs = _truncate_lineage(pairs)
    # Capture the FULL vertex set once, from the input plan, while upstream
    # caches (e.g. similarity_edges' signature persist) are still alive — the
    # isolated-vertex fill after the loop must not replay the raw `edges`
    # lineage (self-loop-only ids are absent from `pairs`, so pairs alone
    # can't provide them; ADVICE r3 #4).
    all_ids = edges.select(F.col("src").alias("id")).union(
        edges.select(F.col("dst").alias("id"))
    )
    if vertices is not None:
        all_ids = all_ids.union(vertices.select("id"))
    all_ids = _truncate_lineage(all_ids.distinct())
    converged = False
    for _ in range(max_iter):
        # ---- large-star: center every node; attach larger neighbors to min
        nbrs = pairs.select(F.col("u").alias("c"), F.col("v").alias("n")).union(
            pairs.select(F.col("v").alias("c"), F.col("u").alias("n"))
        )
        mins = nbrs.groupBy("c").agg(F.min("n").alias("mn")).select(
            "c", F.least(F.col("mn"), F.col("c")).alias("m")
        )
        large = (
            nbrs.join(mins, "c")
            .filter(F.col("n") > F.col("c"))
            .select(F.col("m").alias("u"), F.col("n").alias("v"))  # m < c < n
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # ---- small-star: center the LARGER endpoint; attach its smaller
        # neighbors (and itself) to the minimum of that neighborhood
        smap = large.select(F.col("v").alias("c"), F.col("u").alias("n"))
        gmin = smap.groupBy("c").agg(F.min("n").alias("m"))
        small = (
            smap.join(gmin, "c")
            .select(F.col("m").alias("u"), F.col("n").alias("v"))  # attach neighbors
            .union(gmin.select(F.col("m").alias("u"), F.col("c").alias("v")))  # attach center
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        new_pairs = _truncate_lineage(small)
        # fixed point: identical edge sets (both are distinct + normalized,
        # so equal counts + empty one-way difference ⇒ set equality)
        if (
            new_pairs.count() == pairs.count()
            and new_pairs.subtract(pairs).limit(1).count() == 0
        ):
            pairs = new_pairs
            converged = True
            break
        pairs = new_pairs
    if not converged:
        # silent non-convergence = silently WRONG components
        raise RuntimeError(
            f"two-phase connected_components did not converge in "
            f"max_iter={max_iter} rounds; components are incorrect."
        )
    # star forest → labels: members point at roots; roots + isolated vertices
    # (self-loop-only nodes, or extra ids from `vertices`) label themselves
    members = pairs.select(F.col("v").alias("id"), F.col("u").alias("comp"))
    roots = pairs.select(F.col("u").alias("id")).distinct().withColumn("comp", F.col("id"))
    labels = members.unionByName(roots).distinct()
    isolated = (
        all_ids.join(labels.select("id"), "id", "left_anti")
        .withColumn("comp", F.col("id"))
    )
    return labels.unionByName(isolated)


def _components_driver(edges: DataFrame, vertices: DataFrame | None) -> DataFrame:
    """Exact union-find on collected edges; identical output contract.

    The output id/comp columns keep the INPUT id type (string, long, …) —
    the two-phase route preserves it structurally, so the driver route must
    too or the result dtype would depend on which route the probe picked."""
    from pyspark.sql import types as T

    spark = edges.sparkSession
    id_type = edges.schema["src"].dataType
    out_schema = T.StructType(
        [T.StructField("id", id_type), T.StructField("comp", id_type)]
    )
    pairs = [(r[0], r[1]) for r in edges.select("src", "dst").collect()]
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    ids = set()
    for a, b in pairs:
        ids.add(a)
        ids.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    if vertices is not None:
        ids |= {r[0] for r in vertices.select("id").collect()}
    rows = [(x, find(x)) for x in sorted(ids)]
    return spark.createDataFrame(rows, out_schema)


def _canonicalize_driver(
    rows: list[tuple[str, str]],
    threshold: float,
    k: int = DEFAULT_K,
    bands: int = DEFAULT_BANDS,
    max_bucket: int = 200,
) -> list[tuple[str, str]]:
    """Pure-driver LSH + exact-verify + union-find over collected (id, name)
    rows. Bit-identical semantics to similarity_edges(verify='exact') +
    connected_components: same signatures (minhash_signature is the UDF's
    scalar oracle), same band slicing, same hot-bucket cap, same exact-Jaccard
    threshold, comp = MIN(id). Exists because a few-hundred-row dimension
    canonicalization costs ~10 Spark jobs of pure scheduler latency — the
    single biggest fixed serial term in the KG pipeline's N→4N scaling."""
    from ..functions.hashing import jaccard, minhash_signature

    r = k // bands
    buckets: dict[tuple[int, tuple[int, ...]], list[int]] = {}
    ids = [i for i, _ in rows]
    # keyed by ROW index, not id: if an entity_id appears twice with different
    # names, each row is verified against its OWN name — same semantics as the
    # distributed path, which joins each row's name back by position.
    name_of = [nm for _, nm in rows]
    for idx, (eid, nm) in enumerate(rows):
        sig = minhash_signature(nm, k=k)
        for b in range(bands):
            buckets.setdefault((b, tuple(sig[b * r : (b + 1) * r])), []).append(idx)
    cand: set[tuple[int, int]] = set()
    for members in buckets.values():
        if len(members) > max_bucket:
            continue  # same hot-bucket cap as the distributed band join
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                a, b = members[i], members[j]
                if ids[a] == ids[b]:
                    continue
                cand.add((a, b) if ids[a] < ids[b] else (b, a))
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for a, b in cand:
        if jaccard(name_of[a], name_of[b]) >= threshold:
            ra, rb = find(ids[a]), find(ids[b])
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
    return [(eid, find(eid)) for eid in ids]


def canonicalize_entities(
    names: DataFrame,
    threshold: float = 0.7,
    driver_threshold: int = 20_000,
) -> DataFrame:
    """(entity_id, name) → (entity_id, canon_id) mapping via LSH components.

    Entities whose names are near-duplicates (planted `… Ltd` variants, crawl
    noise) collapse to one canonical id = MIN(entity_id) of the component;
    entities with no similar peer map to themselves.

    Route: dimension-sized inputs run the whole LSH+verify+union-find on the
    driver (_canonicalize_driver), the same "small side stays local" call a
    broadcast join makes. The probe collects at most driver_threshold+1 raw
    (entity_id, name) ROWS in one bounded job (not a distinct-name count — a
    full result proves the input is dimension-sized and is already in hand).
    Larger inputs — the web-scale case, or any non-empty input at
    driver_threshold=0 — run the distributed banded join + components. Both
    routes are output-identical (tests/test_canonicalize.py pins that).
    """
    probe = names.select("entity_id", "name").limit(driver_threshold + 1).collect()
    driver = len(probe) <= driver_threshold
    _log.info(
        "canonicalize_entities: rows=%d driver_threshold=%d -> %s",
        len(probe), driver_threshold, "driver" if driver else "distributed",
    )
    if driver:
        mapping = _canonicalize_driver([(r["entity_id"], r["name"]) for r in probe], threshold)
        return names.sparkSession.createDataFrame(mapping, "entity_id string, canon_id string")
    sigs_holder: list = []
    edges = similarity_edges(
        names, id_col="entity_id", name_col="name", threshold=threshold,
        sigs_out=sigs_holder,
    )
    comps = connected_components(edges)
    # every connected_components route has materialized `edges` by now (driver:
    # collect; two-phase: eager lineage truncation) — the signature cache has
    # served its purpose and must not accumulate across invocations.
    for cached in sigs_holder:
        cached.unpersist()
    return (
        names.select(F.col("entity_id"))
        .join(comps.withColumnRenamed("id", "entity_id"), "entity_id", "left")
        .select("entity_id", F.coalesce(F.col("comp"), F.col("entity_id")).alias("canon_id"))
    )
