"""Distributed graph neighborhood operators over materialized KG edges.

Beyond the reference (which has no graph analytics at all — its only
graph-shaped computation is the transitive grouping inside BERTopic refits,
reference: service/DocProcAiService.py:186-189, covered here by
operators/canonicalize.py): once entities and edges are materialized, a
training-data pipeline wants NEIGHBORHOOD features — how many distinct
nodes an entity reaches in <= k hops, which hub it sits under, etc. This
module provides the BFS-style building block as pure DataFrame ops.

Scale notes: the reach set is materialized as DISTINCT (src, dst) pairs, so
per-round cost is one equi-join shuffle + one distinct — the same shape as
one round of connected_components, with the same lineage-truncation hazard
(checkpoint per round). Total size is bounded by sum of k-hop neighborhood
sizes; for hub-heavy graphs cap k small (k=2..3 is what feature pipelines
use) — an unbounded k is transitive closure, which is what
connected_components is for.

Lineage truncation: every operator here truncates through
canonicalize._truncate_lineage, so the session decides how, not a per-call
option: with a checkpoint dir set the rounds are checkpointed there and
survive executor loss; without one they are localCheckpointed.

Join strategy: every iterative operator here knows, driver-side, the exact
size of the small side of its per-round join (node count, frontier count —
free once the side is checkpointed). joins.small_side, the package's one
chooser, turns that count into the plan choice and logs it: at or below
joins.BROADCAST_ROWS the side is broadcast, so the O(m) edge side is only
streamed; above it the side is hinted shuffle-hash, and pagerank/LPA pin
their edge side to the join key (_pin_by_key) so only the O(n) side moves
per round.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import joins
from .canonicalize import _truncate_lineage


def _fresh(df: DataFrame) -> DataFrame:
    """Re-alias every column, minting new expression ids. localCheckpoint /
    checkpoint preserve the plan's attribute ids, so two checkpoints derived
    from one another can share exprIds; a later self-union/join of such
    plans fails Catalyst's constraint rewrite (NoSuchElementException:
    key not found: src#N). One no-op Project fixes the identity."""
    return df.select([F.col(c).alias(c) for c in df.columns])


def _pin_by_key(df: DataFrame, key: str) -> DataFrame:
    """Materialize a LOOP-INVARIANT join input pinned to hashpartitioning on
    `key` — the GraphX partitioning strategy, expressed in DataFrames.

    localCheckpoint/checkpoint drop outputPartitioning (the LogicalRDD scan
    comes back unpartitioned), so an iterative operator that checkpoints its
    edge list re-shuffles the FULL edge set inside every round's join — and
    AQE's late broadcast conversion doesn't save it, because the decision
    happens after the shuffle stage already ran (measured: the executed
    sf0.1 pagerank round carried `Exchange hashpartitioning(src)` over the
    600k-pair scan feeding a BroadcastHashJoin). `repartition(key).persist()`
    instead keeps the partitioning visible through InMemoryTableScan, so
    every round's join streams the big side with ZERO exchange and ZERO
    sort (shuffle-hash) — only the small varying side (ranks/labels/
    frontier) shuffles, O(n) instead of O(m) per round. MEMORY_AND_DISK
    spills instead of evicting. Both callers pass a plan rooted at a
    _truncate_lineage checkpoint, so a lost block replays from that
    checkpoint — reliable whenever the session has a checkpoint dir.
    Callers unpersist() after the loop's last round is materialized."""
    pinned = df.repartition(F.col(key)).persist(StorageLevel.MEMORY_AND_DISK)
    pinned.count()
    return pinned


def khop_reach(edges: DataFrame, k: int = 2) -> DataFrame:
    """Directed reach pairs: (src, dst) such that dst is reachable from src
    in 1..k hops. Self-pairs are ALWAYS excluded — the extension join filters
    src != dst too, so a cycle back to the start node does not produce
    (v, v) (and khop_reach_counts therefore never counts self).

    Delta-BFS (round 5): the per-round join extends only the FRONTIER — the
    pairs first discovered in the previous round — not the whole accumulated
    reach set, and pairs already reached are anti-joined away before the
    union, so round i joins |frontier| rows instead of |reach| (the old
    shape re-derived every length-<i path each round). Terminates early
    when a round discovers nothing new (diameter < k). Per round: one
    shuffle join + one distinct + one anti-join, lineage truncated so round
    i does not replay rounds 1..i-1.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    # Round outputs go to the session's checkpoint dir when one is set
    # (_truncate_lineage), so an executor loss mid-iteration cannot kill the
    # job — same contract as connected_components.
    # The deduped edge set is checkpointed ONCE and reused every round;
    # _fresh re-aliases each checkpointed plan because localCheckpoint
    # preserves attribute ids, and joining/unioning two checkpoints that
    # share exprIds trips Catalyst's union constraint rewrite.
    base = edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    pairs = _fresh(_truncate_lineage(base))
    reach = pairs
    frontier = pairs
    for _ in range(1, k):
        # Per-round join strategy (r7, guide §3.1): sort-merge would SORT
        # both the frontier and the edge set EVERY round (checkpoints
        # come back unpartitioned, so nothing is ever pre-sorted).
        # shuffle_hash keeps the same exchanges with zero Sort operators:
        # the edge set is the build side (uniform hash-partitioned slices
        # of the deduped pair set — no skew, no oversized build). Same for
        # the anti-join: reach's (src, dst) keys are unique and
        # hash-uniform, so its per-partition build is bounded. Measured
        # (scaled-sf1.0 twin, alternating-order interleaved A/B): won
        # every paired round, 5.0-6.2 s vs 6.1-10.3 s.
        ext = (
            frontier.alias("r")
            .join(pairs.alias("e").hint("shuffle_hash"), F.col("r.dst") == F.col("e.src"))
            .select(F.col("r.src").alias("src"), F.col("e.dst").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        frontier = _fresh(
            _truncate_lineage(
                ext.join(reach.hint("shuffle_hash"), ["src", "dst"], "left_anti")
            )
        )
        if frontier.isEmpty():
            break
        # LAZY union, deliberately NOT re-checkpointed: every leg of the
        # union is itself a checkpoint (pairs + each round's frontier),
        # so lineage depth is bounded at k legs and consumers just scan
        # the materialized blocks. A per-round
        # _truncate_lineage(reach.union(frontier)) would re-write the ENTIRE
        # accumulated reach set each round — O(k·|reach|) extra block
        # writes for zero lineage benefit (guide §1.2: don't compute
        # things you throw away).
        reach = _fresh(reach.union(frontier))
    return reach


#: PageRank mass is carried in integer micro-units of 1e-12 so every sum is
#: EXACT and order-free — the whole iteration is deterministic under any
#: partitioning, which is what makes it hash-comparable against a SQL oracle
#: (a float PageRank's per-node sums reorder across partitionings and can
#: flip rounded digits).
PR_SCALE = 1_000_000_000_000


def pagerank_fixed(
    edges: DataFrame,
    iters: int = 10,
    damping_pct: int = 85,
    checkpoint_every: int = 1,
    seeds: list[str] | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Deterministic fixed-point PageRank over directed (src, dst) edges.

    rank'(v) = floor(0.15*SCALE/n) + Σ_{u→v} floor(rank(u)*85 / (100*outdeg(u)))

    All arithmetic is 64-bit integer (floor division), so the result is a
    pure function of the edge set — independent of partitioning, join order,
    and summation order. The floor truncation leaks a vanishing amount of
    mass per iteration (≤ outdeg(u) micro-units per node); this is the
    documented price of exactness. Dangling nodes leak their mass (the
    standard simplification). One join + one aggregation shuffle per
    iteration, lineage truncated per round like connected_components.

    seeds: PERSONALIZED PageRank — both the initial mass and the teleport
    term go only to the seed set (split evenly, floor division), instead of
    uniformly to all n nodes: rank measures proximity TO THE SEEDS through
    the edge structure (the standard entity-relatedness feature over a KG:
    "how related is every entity to {Acme Corp, Globex}?"). Seeds must be
    nodes of the edge set (raises ValueError otherwise — a silently absent
    seed would quietly leak its teleport share). The iteration keeps the
    exact same plan shape: the seed base term is a JVM literal IN-list
    CASE, zero extra shuffles, and the result stays a pure integer function
    of (edge set, seed set) — hence still fully SQL-oracle-checkable.

    weight_col: WEIGHTED PageRank — the KG edges table carries a
    corroboration weight (operators/materialize.edges_table: how many
    triples assert this edge), and rank should follow it. Parallel edges
    are summed into W(u,v) = Σ weight; each neighbor receives
    floor( floor(rank(u)·85/100) · W(u,v) / W_out(u) ). The damping factor
    is applied BEFORE the weight product — that ordering keeps the
    intermediate ≤ floor(rank·0.85) · W(u,v), inside int64 for any per-edge
    weight below ~10⁷ at PR_SCALE=1e12 (the caller's documented bound;
    beyond it 64-bit products wrap in both engines identically, but don't
    go there); it is also the contract the oracle mirrors term-for-term.
    weight_col=None keeps the uniform-outdeg path byte-identical to
    previous rounds.

    Output: (id, rank) with rank in micro-units (BIGINT); divide by
    PR_SCALE for the conventional [0, 1] value.

    checkpoint_every: lineage-truncation cadence. Every round (default) is
    the safe setting; every 2-3 rounds trades a deeper plan for fewer
    barrier jobs (measured ~11% faster at sf0.1 with 3). The RESULT is
    cadence-independent — the integer arithmetic is exact either way.

    Join strategy comes from the node count n (module docstring): at or
    below BROADCAST_ROWS the degree, rank and contribution vectors are
    broadcast (zero join exchanges per round); above it the edge list is
    pinned to hashpartitioning(src) via repartition+persist so only the
    O(n) vectors shuffle per round (the GraphX strategy — never the O(m)
    edges). The RESULT is identical either way — integer math is
    partitioning-free.
    """
    if checkpoint_every < 1:
        raise ValueError("checkpoint_every must be >= 1")
    if seeds is not None and not seeds:
        raise ValueError("seeds must be non-empty when given")
    # The deduped pair set is checkpointed FIRST: every later setup job
    # (outdeg, nodes) and all k iteration jobs read the materialized blocks
    # instead of re-running the caller's edge-derivation plan (measured 2×
    # end-to-end when the distinct was left lazy and the upstream re-ran
    # inside the deg_pairs job — exchange reuse does not cross jobs).
    if weight_col is None:
        pairs = _truncate_lineage(edges.select("src", "dst").distinct())
    else:
        pairs = _truncate_lineage(
            edges.select("src", "dst", F.col(weight_col).cast("long").alias("w"))
            .groupBy("src", "dst")
            .agg(F.sum("w").alias("w"))
        )
    nodes = _truncate_lineage(
        pairs.select(F.col("src").alias("id"))
        .union(pairs.select(F.col("dst").alias("id")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        if seeds is not None:
            raise ValueError("seeds given but the edge set is empty")
        # empty edge set: no nodes, no ranks — an empty result, not a
        # ZeroDivisionError (ADVICE r4)
        return nodes.withColumn("rank", F.lit(0).cast("long"))
    if seeds is not None:
        # validate BEFORE materializing deg_pairs: a mistyped seed must not
        # strand a pinned O(m) cache with no unpersist path (and the check
        # only needs the node set anyway)
        seed_list = sorted(set(seeds))
        present = nodes.filter(F.col("id").isin(seed_list)).count()
        if present != len(seed_list):
            raise ValueError(
                f"{len(seed_list) - present} seed(s) are not nodes of the edge set"
            )
    # n is known driver-side, so the per-iteration join strategy is chosen
    # EXPLICITLY instead of left to AQE (whose broadcast conversion runs
    # only after the iteration's shuffle stage already moved the full edge
    # list — measured: `Exchange hashpartitioning(src)` over the 600k-pair
    # scan feeding a BroadcastHashJoin, every round):
    #   * rank vector fits a broadcast (n <= BROADCAST_ROWS): keep the
    #     edge list as a plain checkpoint and statically broadcast the
    #     ranks — ZERO exchange on either join side per iteration; only the
    #     contribution aggregation shuffles (its map-side partials reduce
    #     O(m) rows to O(n) before moving). An interleaved sf0.1 A/B
    #     measured the AQE-late-broadcast shape ~40% slower than this.
    #   * n beyond broadcast (web-scale): pin the edge list to
    #     hashpartitioning(src) (_pin_by_key) so the O(m) side never moves
    #     and only the O(n) rank vector shuffles per round — the GraphX
    #     partitioning strategy; shuffle_hash keeps the cached side
    #     sort-free.
    small_n = n <= joins.BROADCAST_ROWS
    # The per-edge contribution denominator (outdeg(u), or total out-weight
    # W_out(u) in weighted mode) is LOOP-INVARIANT — fold it into the edge
    # list ONCE (VERDICT r4 #1: re-deriving it inside every iteration's plan
    # cost one extra aggregation + join shuffle per round).
    #
    # Join strategy for that one setup join (r7, guide §3.1): the degree
    # table is NODE-sized — exactly the object n already deems
    # broadcastable for the per-iteration rank join — but left to itself
    # Catalyst picked a SortMergeJoin here (post-aggregate size estimates
    # are unusable), paying an Exchange + TWO Sorts over the full O(m) pair
    # set. Broadcast it under small_n (measured on the scaled sf1.0 twin,
    # interleaved: pagerank end-to-end 13.96 → 11.28 s best, winner in
    # every paired round); beyond small_n pin shuffled-hash so the O(m)
    # side is exchanged but never sorted.
    if weight_col is None:
        deg_plan = pairs.groupBy(F.col("src")).agg(F.count(F.lit(1)).alias("outdeg"))
        contrib_expr = f"(rank * {damping_pct}) DIV (outdeg * 100)"
    else:
        deg_plan = pairs.groupBy(F.col("src")).agg(F.sum("w").alias("outw"))
        contrib_expr = f"((rank * {damping_pct}) DIV 100) * w DIV outw"
    deg_pairs_plan = pairs.join(joins.small_side(deg_plan, n, "pagerank.degree"), "src")
    if small_n:
        deg_pairs = _truncate_lineage(deg_pairs_plan)
    else:
        deg_pairs = _pin_by_key(deg_pairs_plan, "src")
    if seeds is None:
        base_col = F.lit(((100 - damping_pct) * PR_SCALE // 100) // n).cast("long")
        init_col = F.lit(PR_SCALE // n).cast("long")
    else:
        s = len(seed_list)
        is_seed = F.col("id").isin(seed_list)
        base_col = (
            F.when(is_seed, F.lit(((100 - damping_pct) * PR_SCALE // 100) // s))
            .otherwise(F.lit(0))
            .cast("long")
        )
        init_col = (
            F.when(is_seed, F.lit(PR_SCALE // s)).otherwise(F.lit(0)).cast("long")
        )
    ranks = nodes.withColumn("rank", init_col)
    # try/finally (ADVICE r5): don't strand the pinned O(m) deg⋈pairs cache
    # when an iteration fails mid-loop.
    try:
        for i in range(iters):
            rank_side = joins.small_side(
                ranks.withColumnRenamed("id", "src"), n, "pagerank.rank"
            )
            contrib = (
                deg_pairs.join(rank_side, "src")
                .select(
                    F.col("dst").alias("id"),
                    F.expr(contrib_expr).alias("c"),
                )
                .groupBy("id")
                .agg(F.sum("c").cast("long").alias("c"))
            )
            ranks = (
                nodes.join(joins.small_side(contrib, n, "pagerank.contrib"), "id", "left")
                .select(
                    "id",
                    (base_col + F.coalesce(F.col("c"), F.lit(0))).alias("rank"),
                )
            )
            if (i + 1) % checkpoint_every == 0 or i == iters - 1:
                ranks = _truncate_lineage(ranks)
        return ranks
    finally:
        if not small_n:
            deg_pairs.unpersist()


def khop_reach_counts(edges: DataFrame, k: int = 2) -> DataFrame:
    """(id, n_reach): number of DISTINCT nodes reachable from id in <= k
    hops — the neighborhood-size feature column. Exact (integer) semantics,
    so it carries a full SQL oracle (unlike sketch-based ops). Inherits
    khop_reach's materialized reach-pair set — fine at the stated k=2..3
    feature contract, O(n·avg_deg^k) on hub graphs beyond it; the
    bounded-memory scale path for counts is khop_reach_counts_approx."""
    return (
        khop_reach(edges, k=k)
        .groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_reach"))
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """(id, n_triangles): number of triangles each node participates in,
    over the UNDIRECTED simple graph induced by the edge set (direction and
    multiplicity dropped, self-loops removed) — the local-clustering feature
    a KG quality pipeline derives from materialized edges (dense triangle
    neighborhoods ≈ well-corroborated entities; hub nodes with zero closure
    ≈ disambiguation bait).

    Scale shape — degree-ordered orientation (the classic hub-safe
    formulation, e.g. Cohen's MapReduce triangle enumeration): each
    undirected edge is directed from its lower-(degree, id) endpoint to the
    higher, so every triangle has exactly ONE node with two out-edges in it
    and is enumerated exactly once as a wedge + closure probe. Wedge count
    is Σ_v C(outdeg⁺(v), 2) with outdeg⁺ bounded by O(√m) — a Wikipedia-hub
    entity with 10⁶ neighbors contributes ZERO wedges at its apex (all its
    edges point INTO it); its triangles are charged to its low-degree
    neighbors. Without the orientation the same hub would explode the wedge
    join to C(10⁶, 2) rows. Cost: 3 aggregation/join shuffles to build the
    oriented list, one self-join (wedges), one closure join, one final agg.

    Deterministic — pure integer counting over a canonical edge set, so it
    carries a full SQL oracle (triangle_counts_tpch). Nodes whose only
    edges are self-loops are excluded (they are not in the simple graph).
    """
    und = _fresh(
        _truncate_lineage(
            edges.select(
                F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
    )
    deg = (
        und.select(F.col("a").alias("n"))
        .unionAll(und.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    withdeg = (
        und.join(deg.select(F.col("n").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("n").alias("b"), F.col("d").alias("db")), "b")
    )
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    ori = _fresh(
        _truncate_lineage(
            withdeg.select(
                F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("src"),
                F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
            )
        )
    )
    # wedges at each apex: unordered pairs of out-neighbors (lexicographic
    # dedup — the pair {v, w} is one wedge either way); closure = the
    # canonical undirected edge (v, w), which exists iff v < w matches und's
    # (least, greatest) form
    # shuffle_hash on both heavy joins (guide §3.1): sort-merge would SORT
    # the wedge stream — Σ_v C(outdeg⁺(v), 2) rows, the largest intermediate
    # of the whole operator (≫ m on co-purchase-shaped graphs) — plus the
    # oriented edge list, twice. A shuffled hash join builds the hash table
    # from the edge-list side (m/partitions rows — bounded, the orientation
    # already capped per-node fan-out at O(√m)) and streams the wedges with
    # zero sorts. Same partitioning, same shuffles, no Sort operators.
    wedges = (
        ori.alias("o1")
        .join(ori.alias("o2").hint("shuffle_hash"), F.col("o1.src") == F.col("o2.src"))
        .filter(F.col("o1.dst") < F.col("o2.dst"))
        .select(
            F.col("o1.src").alias("apex"),
            F.col("o1.dst").alias("v"),
            F.col("o2.dst").alias("w"),
        )
    )
    closed = wedges.join(
        und.hint("shuffle_hash"), (F.col("v") == F.col("a")) & (F.col("w") == F.col("b"))
    ).select("apex", "v", "w")
    member = (
        closed.select(F.col("apex").alias("id"))
        .unionAll(closed.select(F.col("v").alias("id")))
        .unionAll(closed.select(F.col("w").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    nodes = (
        und.select(F.col("a").alias("id")).union(und.select(F.col("b").alias("id"))).distinct()
    )
    return nodes.join(member, "id", "left").select(
        "id", F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("n_triangles")
    )


def common_neighbor_scores(
    edges: DataFrame,
    min_common: int = 1,
    max_apex_degree: int | None = None,
) -> DataFrame:
    """Link prediction over the undirected simple graph: for each NON-adjacent
    node pair (u, v) sharing at least `min_common` neighbors, emit
    (u, v, cn, jaccard_ppm) with u < v, cn = |N(u) ∩ N(v)| and jaccard_ppm =
    floor(1e6 · cn / |N(u) ∪ N(v)|) — the classic common-neighbors /
    neighborhood-Jaccard candidate-link features a KG pipeline uses to
    propose missing edges. All-integer arithmetic (counts + one floor
    division), so the operator carries a full SQL oracle.

    Scale shape: candidate pairs are generated per APEX (each shared
    neighbor w contributes C(deg(w), 2) wedge rows), which is inherently
    quadratic in apex degree — no orientation trick removes it, because the
    PAIR SET ITSELF is quadratic at a hub. `max_apex_degree` is therefore
    the contract knob: apexes above the cap are excluded from evidence
    (same bounded-candidate-generation trade as the LSH hot-bucket cap in
    canonicalize.py — a Wikipedia-style hub shared by 10⁶ entities carries
    ~zero link-prediction signal anyway, exactly like a stopword shingle).
    cn/jaccard then count CAPPED evidence — the oracle mirrors the cap, so
    the contract stays exact. Cost: one wedge self-join bounded by
    Σ_{deg(w)≤cap} C(deg(w), 2), one (u,v) aggregation, one anti-join
    against the edge set, two degree joins.
    """
    if min_common < 1:
        raise ValueError("min_common must be >= 1")
    und = _fresh(
        _truncate_lineage(
            edges.select(
                F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
    )
    # deg is consumed three times (cap filter, du join, dv join) — node-sized,
    # checkpoint once instead of re-running the union+agg per consumer
    deg = _fresh(
        _truncate_lineage(
            und.select(F.col("a").alias("n"))
            .unionAll(und.select(F.col("b").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
        )
    )
    # Deliberately NOT broadcast: an interleaved best-of ablation at sf0.1
    # (32 cores, 4 rounds) measured SMJ 8.5 s vs F.broadcast(deg) 9.5-10.1 s.
    # The cap semi-join's shuffle of nbr by w is REQUIRED by the wedge
    # self-join anyway (exchange reuse makes the semi-join's partitioning
    # free), so broadcasting deg removes no nbr shuffle — it only converts
    # the two candidate-set joins, whose input is the small post-agg pair
    # set, while adding three broadcast exchanges + hash-table builds. The
    # same argument holds on a real cluster, and shuffle joins are also the
    # only shape that survives web-scale node counts (deg = one row per
    # node).
    nbr = und.select(F.col("a").alias("w"), F.col("b").alias("n")).unionAll(
        und.select(F.col("b").alias("w"), F.col("a").alias("n"))
    )
    if max_apex_degree is not None:
        nbr = nbr.join(
            deg.filter(F.col("d") <= max_apex_degree).select(F.col("n").alias("w")),
            "w",
            "left_semi",
        )
    pairs = (
        nbr.alias("x")
        .join(nbr.alias("y"), F.col("x.w") == F.col("y.w"))
        .filter(F.col("x.n") < F.col("y.n"))
        .select(F.col("x.n").alias("u"), F.col("y.n").alias("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("cn"))
        .filter(F.col("cn") >= min_common)
    )
    candidates = pairs.join(
        und, (F.col("u") == F.col("a")) & (F.col("v") == F.col("b")), "left_anti"
    )
    return (
        candidates.join(deg.select(F.col("n").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")), "v")
        .select(
            "u",
            "v",
            F.col("cn").cast("long").alias("cn"),
            F.expr("(1000000 * cn) DIV (du + dv - cn)").cast("long").alias("jaccard_ppm"),
        )
    )


def bfs_distances(
    edges: DataFrame,
    seeds: list[str],
    max_hops: int = 3,
) -> DataFrame:
    """Multi-source BFS hop distances: (id, dist) for every node reachable
    from ANY seed in <= max_hops directed hops, dist = MINIMUM hop count
    (seeds themselves at dist 0, even if absent from the edge set — the
    caller asked about them, so they appear with distance zero rather than
    silently vanishing). The shortest-path-feature twin of khop_reach: reach
    answers "which pairs", this answers "how far from this seed set" — the
    proximity column a KG pipeline derives per entity cohort (e.g. distance
    from the curated-seed entities as a trust tier).

    Exact integer semantics — the visited set is built by set algebra only
    (join + distinct + anti-join per round), so the result is a pure
    function of (edge set, seed set, max_hops) under any partitioning, and
    the operator carries a full SQL oracle (DuckDB recursive CTE with
    min(dist); BFS-by-increasing-round makes the first discovery the
    minimum by construction, no re-relaxation needed — hop weights are 1).

    Scale shape: per round one equi-join (frontier ⋈ edges, |frontier|-sized
    probe side) + one distinct + one anti-join against visited — the
    delta-BFS shape of khop_reach, but keyed from a seed set instead of
    all-pairs, so the state is O(reachable nodes), NOT O(n·avg_deg^k) pairs:
    this one is safe at any hubbiness and any max_hops. Early-exits when a
    round discovers nothing new (frontier drained before max_hops).
    """
    if not seeds:
        raise ValueError("seeds must be non-empty")
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    spark = edges.sparkSession
    # RAW pairs, deliberately NOT .distinct()ed: the visited/frontier sets are
    # built by distinct() + anti-join AFTER the extension join, so duplicate
    # edges cannot change any round's frontier — they only multiply the
    # pre-distinct join output by the (small) edge-multiplicity factor. A
    # distinct here is a full O(m) shuffle whose only effect is shaving that
    # factor off the per-round scan (guide §2.4: remove shuffles outright);
    # the checkpoint still materializes the projection once so rounds never
    # replay the caller's edge derivation.
    pairs = _fresh(_truncate_lineage(edges.select("src", "dst")))
    visited = spark.createDataFrame(
        [(s, 0) for s in sorted(set(seeds))], "id string, dist int"
    )
    frontier = visited.select("id")
    # The frontier's exact size is known each round (the checkpoint makes
    # counting it free), so it picks the extension join's strategy: a
    # broadcastable frontier means the O(m) edge side never shuffles — for
    # the seeded-proximity contract (|seeds| small, few hops) every round
    # stays broadcast and the edge list is only ever STREAMED. A frontier
    # beyond BROADCAST_ROWS is a shuffle-hash build side (both sides move —
    # the khop_reach regime).
    n_frontier = len(set(seeds))
    for i in range(1, max_hops + 1):
        f = joins.small_side(frontier.alias("f"), n_frontier, "bfs_distances.frontier")
        nxt = _fresh(
            _truncate_lineage(
                f.join(pairs.alias("e"), F.col("f.id") == F.col("e.src"))
                .select(F.col("e.dst").alias("id"))
                .distinct()
                # shuffle_hash: the anti-join's sides are node-sized and the
                # left side already arrives hash-partitioned by id from the
                # distinct — sort-merge would add two Sorts per round for
                # nothing (same khop rationale; measured small-but-consistent
                # on the scaled twin: 3.76 vs 3.88 s best, winner in the
                # quiet paired rounds)
                .join(visited.hint("shuffle_hash"), "id", "left_anti")
            )
        )
        n_frontier = nxt.count()
        if n_frontier == 0:
            break
        visited = _fresh(
            _truncate_lineage(
                visited.union(nxt.withColumn("dist", F.lit(i).cast("int")))
            )
        )
        frontier = nxt
    return visited


def label_propagation(
    edges: DataFrame,
    iters: int = 4,
    weight_col: str | None = None,
    checkpoint_every: int = 1,
) -> DataFrame:
    """Deterministic SYNCHRONOUS label propagation over the undirected
    simple graph — the community-detection pass the north-star pipeline
    names ("GraphFrames-style iterative label propagation"): (id, label)
    after `iters` rounds, label(v) initialized to v, then each round every
    node simultaneously adopts the label with the LARGEST total edge weight
    among its neighbors, ties broken by MINIMUM label. The node's own
    current label does not vote (classic LPA); every node of the simple
    graph has >= 1 neighbor by construction, so the argmax is always
    defined.

    Determinism contract (what makes it SQL-oracle-checkable, unlike
    textbook randomized-order LPA): synchronous rounds + integer weight
    sums + the total (score DESC, label ASC) order make the result a pure
    function of (edge set, weights, iters) — partitioning- and
    join-order-free. Synchronous LPA can oscillate on bipartite-ish
    structure instead of converging; `iters` is therefore part of the
    contract (fixed-round feature semantics), not a convergence knob.

    weight_col=None counts parallel input edges as corroboration: the
    undirected pair weight is the number of input rows collapsing onto it
    (both directions). With weight_col, weights are summed per undirected
    pair instead.

    Scale shape: the weighted adjacency is built once (one aggregation) and
    checkpointed; each round is one equi-join (adjacency ⋈ labels on the
    neighbor key) + one (id, label) aggregation + one per-id window argmax —
    three exchanges, all keyed by node id, no quadratic blowup anywhere
    (a hub's votes are |deg| rows, same as its adjacency). Lineage truncated
    per `checkpoint_every` rounds like pagerank_fixed.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    if checkpoint_every < 1:
        raise ValueError("checkpoint_every must be >= 1")
    a, b = F.least("src", "dst"), F.greatest("src", "dst")
    if weight_col is None:
        und = (
            edges.select(a.alias("a"), b.alias("b"))
            .filter(F.col("a") != F.col("b"))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).cast("long").alias("w"))
        )
    else:
        und = (
            edges.select(
                a.alias("a"), b.alias("b"), F.col(weight_col).cast("long").alias("w")
            )
            .filter(F.col("a") != F.col("b"))
            .groupBy("a", "b")
            .agg(F.sum("w").alias("w"))
        )
    # The weighted adjacency is loop-invariant. The label vector is O(n) and
    # n is known after the init checkpoint, so the vote join's strategy is
    # chosen explicitly (same rationale + A/B as pagerank_fixed): a
    # broadcastable label vector means the O(m) adjacency never shuffles —
    # it is only streamed; beyond the threshold the adjacency is pinned to
    # hashpartitioning(nb) (_pin_by_key) so only the label vector moves per
    # round, never the edges.
    adj_plan = und.select(F.col("a").alias("id"), F.col("b").alias("nb"), "w").unionAll(
        und.select(F.col("b").alias("id"), F.col("a").alias("nb"), "w")
    )
    pinned = None
    adj = _fresh(_truncate_lineage(adj_plan))
    labels = _fresh(
        _truncate_lineage(
            adj.select("id").distinct().withColumn("label", F.col("id"))
        )
    )
    n = labels.count()
    if n > joins.BROADCAST_ROWS:
        # re-read the checkpointed adjacency (no re-derivation), pinned
        pinned = _pin_by_key(adj, "nb")
        adj = _fresh(pinned)
    # try/finally (ADVICE r5): release the pinned adjacency cache even when
    # an iteration raises.
    try:
        for i in range(iters):
            # The (id, label) aggregation keeps its own shuffle on purpose:
            # map-side partials bound a hub's vote rows before they move, so
            # the per-id argmax sees at most (distinct labels per id) rows —
            # the hub-safe shape. Collapsing agg+argmax onto one id-shuffle
            # would move every raw vote of a hub into one partition.
            label_side = joins.small_side(
                labels.select(F.col("id").alias("nb"), "label"), n, "label_propagation.label"
            )
            scores = (
                adj.join(label_side, "nb")
                .groupBy("id", "label")
                .agg(F.sum("w").alias("s"))
            )
            # Argmax by the total (s DESC, label ASC) order as a HASH
            # AGGREGATION instead of row_number over a window: the row that
            # wins is exactly the lexicographic MIN of (-s, label), an
            # order-free reduction, so the result is bit-identical to the
            # old window pick. The win (guide §2.3 "aggregate before you
            # shuffle"): min() does map-side partial aggregation — the
            # exchange before the argmax carries ≤ one row per (id, map
            # task) instead of every (id, label) score row, and the
            # per-round Sort + Window operators disappear entirely
            # (measured at sf1.0: the old plan sorted ~11M score rows in
            # round 1). -s is safe: s is a positive int64 weight sum far
            # below overflow.
            labels = (
                scores.groupBy("id")
                .agg(F.min(F.struct((-F.col("s")).alias("ns"), "label")).alias("m"))
                .select("id", F.col("m.label").alias("label"))
            )
            if (i + 1) % checkpoint_every == 0 or i == iters - 1:
                labels = _fresh(_truncate_lineage(labels))
        return labels
    finally:
        if pinned is not None:
            pinned.unpersist()


def khop_reach_counts_approx(
    edges: DataFrame,
    k: int = 2,
    lg_config_k: int = 12,
) -> DataFrame:
    """(id, n_reach_approx): HLL-sketch estimate of the <=k-hop reach size —
    the SCALE path for khop_reach_counts (VERDICT r4 #2).

    Never materializes the reach-pair set: per-node state is ONE fixed-size
    DataSketches HLL sketch (~2^lg_config_k bytes, JVM-side via
    hll_sketch_agg/hll_union_agg — no Python boundary), merged along edges
    for k rounds:

        S_1(u) = HLL{ v : u→v }
        S_i(u) = ∪_{u→v} ( HLL{v} ∪ S_{i-1}(v) )

    Per round: one equi-join (edges ⋈ previous sketches on dst) + one hash
    aggregation (union by src) — the same two-shuffle shape as a PageRank
    iteration, with memory bounded at ANY k and ANY hubbiness, where the
    exact operator's distinct (src, dst) set grows toward O(n·avg_deg^k).

    Documented deviations from the exact twin (tested on planted graphs):
      * HLL relative error ≈ 1.04/sqrt(2^lg_config_k) (~1.6% at the
        default lgK=12; raise lg_config_k for tighter counts);
      * a node on a genuine cycle of length <= k counts ITSELF (a sketch
        cannot subtract elements; khop_reach_counts always excludes self).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    base = edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    pairs = _truncate_lineage(base)
    lgk = F.lit(lg_config_k)
    s = (
        pairs.groupBy("src")
        .agg(F.hll_sketch_agg("dst", lgk).alias("sk"))
        .withColumnRenamed("src", "id")
    )
    s = _truncate_lineage(s)
    for _ in range(1, k):
        s = _truncate_lineage(
            pairs.join(s.withColumnRenamed("id", "dst"), "dst", "left")
            .groupBy("src")
            .agg(
                F.hll_sketch_agg("dst", lgk).alias("a"),  # direct neighbors
                F.hll_union_agg("sk").alias("b"),  # their reach sets (nulls skipped)
            )
            .select(
                F.col("src").alias("id"),
                F.when(F.col("b").isNull(), F.col("a"))
                .otherwise(F.hll_union("a", "b"))
                .alias("sk"),
            )
        )
    return s.select("id", F.hll_sketch_estimate("sk").cast("long").alias("n_reach_approx"))
