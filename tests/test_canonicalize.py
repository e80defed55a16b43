"""MinHash determinism, LSH recall on planted pairs, connected components on
hand-built graphs (FIXTURES.md F4), canonicalization P/R vs planted dups."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from docprocai_service_spark.functions.hashing import (
    jaccard,
    minhash_signature,
    simhash64,
)
from docprocai_service_spark.operators.canonicalize import (
    canonicalize_entities,
    connected_components,
    entity_names,
    similarity_edges,
)


def test_minhash_scalar_deterministic():
    a = minhash_signature("Acme Corporation")
    b = minhash_signature("Acme Corporation")
    assert a == b and len(a) == 64


def test_minhash_udf_matches_scalar(spark):
    from docprocai_service_spark.functions.hashing import make_minhash_udf

    names = ["Acme Corp", "Acme Corps", "Globex Inc", "", "x"]
    df = spark.createDataFrame([(n,) for n in names], "name string")
    got = {r["name"]: r["sig"] for r in df.select("name", make_minhash_udf()(F.col("name")).alias("sig")).collect()}
    for n in names:
        assert got[n] == minhash_signature(n), n


def test_minhash_estimates_jaccard():
    s1 = minhash_signature("the quick brown fox jumps over the lazy dog")
    s2 = minhash_signature("the quick brown fox jumped over the lazy dog")
    est = sum(x == y for x, y in zip(s1, s2)) / 64
    true = jaccard("the quick brown fox jumps over the lazy dog", "the quick brown fox jumped over the lazy dog")
    assert abs(est - true) < 0.2


def test_simhash_close_for_near_duplicates():
    a = simhash64("the quick brown fox jumps over the lazy dog " * 5)
    b = simhash64("the quick brown fox jumped over the lazy dog " * 5)
    c = simhash64("completely different content about spark engines")
    ham = lambda x, y: bin((x ^ y) & ((1 << 64) - 1)).count("1")
    assert ham(a, b) < ham(a, c)


# ---------------------------------------------------- F4 graph micro-fixtures
GRAPHS = {
    "chain": ([("a", "b"), ("b", "c"), ("c", "d")], {"a": "a", "b": "a", "c": "a", "d": "a"}),
    "star": ([("hub", f"x{i}") for i in range(1, 21)], {f"x{i}": "hub" for i in range(1, 21)} | {"hub": "hub"}),
    "two_cliques_bridged": (
        [(f"a{i}", f"a{j}") for i in range(5) for j in range(i + 1, 5)]
        + [(f"b{i}", f"b{j}") for i in range(5) for j in range(i + 1, 5)]
        + [("a4", "b0")],
        {f"a{i}": "a0" for i in range(5)} | {f"b{i}": "a0" for i in range(5)},
    ),
}


# The two connected_components routes: the default probe sends these small
# graphs to the driver union-find; driver_threshold=0 forces large-star/
# small-star.
ROUTES = {"driver": {}, "twophase": {"driver_threshold": 0}}


@pytest.mark.parametrize("mode", sorted(ROUTES))
@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_connected_components_micro(spark, name, mode):
    edges, expected = GRAPHS[name]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["id"]: r["comp"] for r in connected_components(df, **ROUTES[mode]).collect()}
    assert got == expected


@pytest.mark.parametrize("mode", sorted(ROUTES))
def test_connected_components_singletons(spark, mode):
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    verts = spark.createDataFrame([("a",), ("b",), ("lonely",)], "id string")
    got = {
        r["id"]: r["comp"]
        for r in connected_components(edges, vertices=verts, **ROUTES[mode]).collect()
    }
    assert got == {"a": "a", "b": "a", "lonely": "lonely"}


def test_components_unconverged_raises(spark):
    """ADVICE: exceeding max_iter must not return silently-wrong labels."""
    edges, expected = GRAPHS["chain"]
    df = spark.createDataFrame(edges, "src string, dst string")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, driver_threshold=0, max_iter=1)


def test_components_two_phase_long_chain(spark):
    """The O(log n)-round formulation finishes a chain whose DIAMETER far
    exceeds max_iter — the graph shape that breaks min-label propagation
    (VERDICT r2 #3: a long transitive near-dup chain raised at max_iter=25)."""
    n = 3000  # diameter 2999 ≫ 25 rounds
    edges = [(f"n{i:05d}", f"n{i + 1:05d}") for i in range(n - 1)]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["id"]: r["comp"]
        for r in connected_components(df, driver_threshold=0, max_iter=25).collect()
    }
    assert len(got) == n
    assert set(got.values()) == {"n00000"}  # one component rooted at the min


def test_components_two_phase_matches_driver_random(spark):
    """Property: twophase == exact union-find on a messy random multigraph
    (self-loops, duplicates, both orientations)."""
    import random

    rnd = random.Random(13)
    edges = [(f"v{rnd.randrange(80)}", f"v{rnd.randrange(80)}") for _ in range(150)]
    df = spark.createDataFrame(edges, "src string, dst string")
    want = sorted(map(tuple, connected_components(df).collect()))
    got = sorted(map(tuple, connected_components(df, driver_threshold=0).collect()))
    assert got == want


def test_components_reliable_checkpoint(spark, tmp_path):
    """Cluster-safe path: checkpoint() to a reliable dir instead of
    localCheckpoint (which dies with a lost executor)."""
    edges, expected = GRAPHS["two_cliques_bridged"]
    df = spark.createDataFrame(edges, "src string, dst string")
    with pytest.raises(ValueError, match="checkpoint dir"):
        connected_components(df, driver_threshold=0, reliable_checkpoint=True)
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        got = {
            r["id"]: r["comp"]
            for r in connected_components(
                df, driver_threshold=0, reliable_checkpoint=True
            ).collect()
        }
    finally:
        spark.sparkContext.setCheckpointDir(None)
    assert got == expected


def test_lsh_recall_on_planted_pairs(spark, spark_corpus, corpus):
    _, alias = spark_corpus
    names = entity_names(alias)
    edges = similarity_edges(names, id_col="entity_id", name_col="name", threshold=0.7)
    got_pairs = {tuple(sorted((r["src"], r["dst"]))) for r in edges.collect()}
    for g in corpus.dup_groups:
        assert tuple(sorted(g)) in got_pairs, g


def test_canonicalization_pr_vs_planted(spark, spark_corpus, corpus):
    _, alias = spark_corpus
    names = entity_names(alias)
    mp = {r["entity_id"]: r["canon_id"] for r in canonicalize_entities(names).collect()}
    merged = sum(1 for g in corpus.dup_groups if mp[g[0]] == mp[g[1]])
    assert merged == len(corpus.dup_groups)  # full recall on planted dups
    from collections import Counter

    sizes = Counter(mp.values())
    planted = {e for g in corpus.dup_groups for e in g}
    spurious = [e for e, cid in mp.items() if sizes[cid] > 1 and e not in planted]
    assert not spurious  # full precision at this scale


def test_canonicalize_distributed_route_matches_driver(spark, spark_corpus):
    """driver_threshold=0 sends the corpus names through the distributed
    banded join + components; the mapping must equal the default driver
    route's."""
    _, alias = spark_corpus
    names = entity_names(alias)
    want = sorted(map(tuple, canonicalize_entities(names).collect()))
    got = sorted(map(tuple, canonicalize_entities(names, driver_threshold=0).collect()))
    assert got == want
    assert len({c for _, c in got}) < len(got)  # some entities did merge


def test_entity_names_tie_break_is_order_free(spark):
    """Longest alias wins; equal-length aliases tie to the lexicographically
    smallest, whatever order the rows arrive in."""
    rows = [("acme", "E1"), ("acmx", "E1"), ("ab", "E1"), ("globex", "E2")]
    got = []
    for order in (rows, rows[::-1]):
        df = spark.createDataFrame(order, "alias string, entity_id string").coalesce(1)
        got.append(sorted(map(tuple, entity_names(df).collect())))
    assert got[0] == got[1] == [("E1", "acme"), ("E2", "globex")]


def test_components_partitioning_invariance(spark):
    import random

    rnd = random.Random(7)
    edges = [(f"n{rnd.randrange(50)}", f"n{rnd.randrange(50)}") for _ in range(60)]
    df = spark.createDataFrame(edges, "src string, dst string")
    a = sorted(map(tuple, connected_components(df.repartition(2)).collect()))
    b = sorted(map(tuple, connected_components(df.repartition(13)).collect()))
    assert a == b


def test_skew_aware_join_probe_picks_regime(spark):
    """VERDICT r3 #6: the published ablation (salting wins 2.32x on a hub,
    costs 0.69x at mild skew) encoded as a probe — plain join under mild
    skew, salted under a 50%-hub key; identical rows either way."""
    from pyspark.sql import functions as F

    from docprocai_service_spark.operators.joins import salted_join, skew_aware_join

    dim = spark.createDataFrame(
        [(f"k{i}", i) for i in range(50)] + [("hub", 999)], "key string, val int"
    )
    mild = spark.range(4000).select(
        F.col("id").alias("rid"), F.concat(F.lit("k"), (F.col("id") % 50).cast("string")).alias("key")
    )
    hub = spark.range(4000).select(
        F.col("id").alias("rid"),
        F.when(F.col("id") % 2 == 0, F.lit("hub"))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 50).cast("string"))).alias("key"),
    )

    def plan_of(df):
        return df._jdf.queryExecution().analyzed().toString()

    j_mild = skew_aware_join(mild, dim, key="key", salt_on="rid")
    j_hub = skew_aware_join(hub, dim, key="key", salt_on="rid")
    assert "__salt" not in plan_of(j_mild)  # mild skew: salting would be a net cost
    assert "__salt" in plan_of(j_hub)  # hub regime: salting pays

    # row-identical to the explicit variants in BOTH regimes
    def key_rows(df):
        return sorted(map(tuple, df.select("rid", "key", "val").collect()))

    assert key_rows(j_mild) == key_rows(mild.join(dim, "key", "left"))
    assert key_rows(j_hub) == key_rows(salted_join(hub, dim, key="key", salt_on="rid"))


def test_khop_reach_counts_exact_small_graph(spark):
    """BFS reach on a hand-built DAG with a diamond + chain: exact integer
    neighborhood sizes per k."""
    from docprocai_service_spark.operators.graph import khop_reach_counts

    # a->b->d->e, a->c->d; isolated pair x->y
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e"), ("x", "y")],
        "src string, dst string",
    )
    k1 = {r["id"]: r["n_reach"] for r in khop_reach_counts(edges, k=1).collect()}
    assert k1 == {"a": 2, "b": 1, "c": 1, "d": 1, "x": 1}
    k2 = {r["id"]: r["n_reach"] for r in khop_reach_counts(edges, k=2).collect()}
    assert k2 == {"a": 3, "b": 2, "c": 2, "d": 1, "x": 1}  # a reaches b,c,d
    k3 = {r["id"]: r["n_reach"] for r in khop_reach_counts(edges, k=3).collect()}
    assert k3 == {"a": 4, "b": 2, "c": 2, "d": 1, "x": 1}  # + e for a


def test_pagerank_fixed_deterministic_and_sane(spark):
    """Fixed-point PageRank: exact integer mass — identical output under
    different partitionings, hub node ranks highest, total mass bounded."""
    from docprocai_service_spark.operators.graph import PR_SCALE, pagerank_fixed

    edges = spark.createDataFrame(
        [("a", "hub"), ("b", "hub"), ("c", "hub"), ("c", "a")],
        "src string, dst string",
    )
    r1 = {r["id"]: r["rank"] for r in pagerank_fixed(edges, iters=8).collect()}
    r2 = {
        r["id"]: r["rank"]
        for r in pagerank_fixed(edges.repartition(7), iters=8).collect()
    }
    assert r1 == r2  # partitioning-independent, bit-exact
    assert max(r1, key=r1.get) == "hub"
    assert 0 < sum(r1.values()) <= PR_SCALE  # mass conserved up to floor leaks


def test_khop_reach_counts_approx_close_to_exact(spark):
    """Planted hub graph: the HLL counts path (bounded memory at any k /
    hubbiness — VERDICT r4 #2) must track the exact operator within the
    sketch's documented relative error (~1.6% at lgK=12; assert <= 5%)."""
    from docprocai_service_spark.operators.graph import (
        khop_reach_counts,
        khop_reach_counts_approx,
    )

    rows = [("hub", f"l{i}") for i in range(3000)]
    rows += [(f"l{i}", f"l{i+1}") for i in range(0, 200, 2)]
    rows += [("spoke", "hub")]
    edges = spark.createDataFrame(rows, "src string, dst string")
    exact = {r["id"]: r["n_reach"] for r in khop_reach_counts(edges, k=2).collect()}
    approx = {
        r["id"]: r["n_reach_approx"]
        for r in khop_reach_counts_approx(edges, k=2).collect()
    }
    assert set(approx) == set(exact)
    for node, want in exact.items():
        assert abs(approx[node] - want) / want <= 0.05, (node, want, approx[node])


def test_khop_approx_cycle_counts_self_as_documented(spark):
    """The one semantic deviation: on a genuine cycle of length <= k the
    sketch counts the node itself (sketches cannot subtract); the exact
    operator never does. Both behaviors are pinned here."""
    from docprocai_service_spark.operators.graph import (
        khop_reach_counts,
        khop_reach_counts_approx,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    exact = {r["id"]: r["n_reach"] for r in khop_reach_counts(edges, k=3).collect()}
    approx = {
        r["id"]: r["n_reach_approx"]
        for r in khop_reach_counts_approx(edges, k=3).collect()
    }
    assert exact == {"a": 2, "b": 2, "c": 2}  # self always excluded
    assert approx == {"a": 3, "b": 3, "c": 3}  # self included on the cycle


def test_pagerank_empty_edge_set_returns_empty(spark):
    """ADVICE r4: empty edge set -> empty (id, rank) result, not a
    ZeroDivisionError."""
    from docprocai_service_spark.operators.graph import pagerank_fixed

    out = pagerank_fixed(spark.createDataFrame([], "src string, dst string"))
    assert out.columns == ["id", "rank"]
    assert out.count() == 0


def test_skew_probe_unbiased_under_key_clustering(spark):
    """VERDICT r4 #3: an input range-partitioned/sorted by the join key
    clusters the hub into partitions a prefix probe (limit) never read. The
    stratified per-partition probe reads a bounded prefix of EVERY
    partition, so it still detects the hub — and still stays plain when
    sorted mild skew puts a single key-run at every partition head."""
    from pyspark.sql import functions as F

    from docprocai_service_spark.operators.joins import skew_aware_join

    dim = spark.createDataFrame(
        [(f"k{i}", i) for i in range(50)] + [("zhub", 999)], "key string, val int"
    )
    # 50% hub key "zhub" sorts AFTER every cold key -> tail partitions only
    hub = spark.range(4000).select(
        F.col("id").alias("rid"),
        F.when(F.col("id") % 2 == 0, F.lit("zhub"))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 50).cast("string")))
        .alias("key"),
    ).repartitionByRange(8, "key").sortWithinPartitions("key")
    mild = spark.range(4000).select(
        F.col("id").alias("rid"),
        F.concat(F.lit("k"), (F.col("id") % 50).cast("string")).alias("key"),
    ).repartitionByRange(8, "key").sortWithinPartitions("key")

    def plan_of(df):
        return df._jdf.queryExecution().analyzed().toString()

    j_hub = skew_aware_join(hub, dim, key="key", salt_on="rid", probe_rows=400)
    assert "__salt" in plan_of(j_hub)  # hub seen despite tail clustering
    j_mild = skew_aware_join(mild, dim, key="key", salt_on="rid", probe_rows=400)
    assert "__salt" not in plan_of(j_mild)  # key-runs at partition heads: no false salt

    def key_rows(df):
        return sorted(map(tuple, df.select("rid", "key", "val").collect()))

    assert key_rows(j_hub) == key_rows(hub.join(dim, "key", "left"))
    assert key_rows(j_mild) == key_rows(mild.join(dim, "key", "left"))


def test_skew_probe_no_false_salt_on_sorted_uniform_few_partitions(spark):
    """Review r5 repro: 10 uniform keys range-sorted into TWO partitions —
    each partition's prefix is one key run that scales to ~50% of the
    table. Without corroboration the probe salted a mild-skew input (the
    regime where the ablation measured salting as a 0.69x LOSS)."""
    from pyspark.sql import functions as F

    from docprocai_service_spark.operators.joins import skew_aware_join

    dim = spark.createDataFrame([(f"k{i}", i) for i in range(10)], "key string, val int")
    uniform = spark.range(4000).select(
        F.col("id").alias("rid"),
        F.concat(F.lit("k"), (F.col("id") % 10).cast("string")).alias("key"),
    ).repartitionByRange(2, "key").sortWithinPartitions("key")
    j = skew_aware_join(uniform, dim, key="key", salt_on="rid", probe_rows=400)
    assert "__salt" not in j._jdf.queryExecution().analyzed().toString()
    got = sorted(map(tuple, j.select("rid", "key", "val").collect()))
    want = sorted(map(tuple, uniform.join(dim, "key", "left").select("rid", "key", "val").collect()))
    assert got == want


def test_graph_param_guards(spark):
    import pytest as _pt

    from docprocai_service_spark.operators.graph import pagerank_fixed
    from docprocai_service_spark.operators.similarity import cosine_pairs

    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    with _pt.raises(ValueError, match="checkpoint_every"):
        pagerank_fixed(edges, iters=2, checkpoint_every=0)
    with _pt.raises(ValueError, match="n_bands"):
        cosine_pairs(edges.selectExpr("src as vec_id"), 0.5, dim=4, n_bands=0)


def test_triangle_counts_planted(spark):
    """K4 (every node in C(3,2)=3 triangles) + a 3-path (0 triangles) +
    one bridge edge that closes no triangle."""
    from docprocai_service_spark.operators.graph import triangle_counts

    k4 = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    path = [("p", "q"), ("q", "r")]
    bridge = [("d", "p")]
    edges = spark.createDataFrame(k4 + path + bridge, "src string, dst string")
    got = {r.id: r.n_triangles for r in triangle_counts(edges).collect()}
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3, "p": 0, "q": 0, "r": 0}


def test_triangle_counts_matches_brute_force_random(spark):
    """Degree-oriented enumeration equals the O(n^3) driver count on a
    random graph, and is invariant to edge direction, duplication, and
    self-loops."""
    import itertools
    import random

    from docprocai_service_spark.operators.graph import triangle_counts

    rng = random.Random(7)
    nodes = [f"n{i:02d}" for i in range(30)]
    und = {tuple(sorted(p)) for p in itertools.combinations(nodes, 2) if rng.random() < 0.15}
    adj = {n: set() for n in nodes}
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    expected = {}
    for n in nodes:
        if not adj[n]:
            continue
        expected[n] = sum(
            1 for v, w in itertools.combinations(sorted(adj[n]), 2) if w in adj[v]
        )

    # messy input: random direction, duplicates, self-loops
    rows = []
    for a, b in und:
        rows.append((a, b) if rng.random() < 0.5 else (b, a))
        if rng.random() < 0.3:
            rows.append((a, b))
    rows += [(n, n) for n in nodes[:5]]
    edges = spark.createDataFrame(rows, "src string, dst string")
    got = {r.id: r.n_triangles for r in triangle_counts(edges).collect()}
    assert got == expected


def test_personalized_pagerank_matches_integer_reference(spark):
    """Seeded teleport: Spark's integer iteration must equal a driver-side
    reimplementation of the exact same floor arithmetic, and seed mass must
    dominate near the seeds."""
    from docprocai_service_spark.operators.graph import PR_SCALE, pagerank_fixed

    edges = [
        ("a", "b"), ("b", "c"), ("c", "a"),   # cycle
        ("a", "d"), ("d", "e"),               # tail
        ("f", "a"),                           # inflow
    ]
    seeds, iters, d = ["a"], 5, 85
    got = {
        r.id: r.rank
        for r in pagerank_fixed(
            spark.createDataFrame(edges, "src string, dst string"),
            iters=iters,
            seeds=seeds,
        ).collect()
    }

    nodes = sorted({x for e in edges for x in e})
    out = {}
    for s_, t_ in edges:
        out.setdefault(s_, set()).add(t_)
    s = len(seeds)
    rank = {n: (PR_SCALE // s if n in seeds else 0) for n in nodes}
    for _ in range(iters):
        contrib = {n: 0 for n in nodes}
        for u in nodes:
            for v in out.get(u, ()):
                contrib[v] += (rank[u] * d) // (len(out[u]) * 100)
        base = ((100 - d) * PR_SCALE // 100) // s
        rank = {n: (base if n in seeds else 0) + contrib[n] for n in nodes}
    assert got == rank
    assert max(got, key=got.get) == "a"
    assert got["f"] == 0  # nothing flows into f and it is not a seed


def test_personalized_pagerank_guards(spark):
    from docprocai_service_spark.operators.graph import pagerank_fixed

    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError, match="non-empty"):
        pagerank_fixed(edges, seeds=[])
    with pytest.raises(ValueError, match="not nodes"):
        pagerank_fixed(edges, seeds=["a", "zz"])
    empty = spark.createDataFrame([], "src string, dst string")
    with pytest.raises(ValueError, match="empty"):
        pagerank_fixed(empty, seeds=["a"])


def test_common_neighbor_scores_brute_force(spark):
    """No cap: (cn, jaccard_ppm) for every non-adjacent pair must equal the
    driver-side set arithmetic, including the floor-ppm rounding."""
    import itertools
    import random

    from docprocai_service_spark.operators.graph import common_neighbor_scores

    rng = random.Random(11)
    nodes = [f"n{i:02d}" for i in range(25)]
    und = {tuple(sorted(p)) for p in itertools.combinations(nodes, 2) if rng.random() < 0.2}
    adj = {n: set() for n in nodes}
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    expected = {}
    for u, v in itertools.combinations(nodes, 2):
        if (u, v) in und:
            continue
        cn = len(adj[u] & adj[v])
        if cn >= 1:
            expected[(u, v)] = (cn, (1_000_000 * cn) // len(adj[u] | adj[v]))

    edges = spark.createDataFrame(sorted(und), "src string, dst string")
    got = {
        (r.u, r.v): (r.cn, r.jaccard_ppm)
        for r in common_neighbor_scores(edges).collect()
    }
    assert got == expected


def test_common_neighbor_scores_hub_cap_drops_hub_evidence(spark):
    """A star hub above the cap contributes no wedge evidence: its leaves
    stop being candidate pairs unless another (small) apex connects them."""
    from docprocai_service_spark.operators.graph import common_neighbor_scores

    star = [("hub", f"leaf{i}") for i in range(10)]
    side = [("leaf0", "x"), ("leaf1", "x")]  # small apex x connects leaf0/leaf1
    edges = spark.createDataFrame(star + side, "src string, dst string")

    uncapped = {
        (r.u, r.v): r.cn for r in common_neighbor_scores(edges).collect()
    }
    capped = {
        (r.u, r.v): r.cn
        for r in common_neighbor_scores(edges, max_apex_degree=5).collect()
    }
    # uncapped: all leaf pairs share the hub
    assert uncapped[("leaf0", "leaf1")] == 2  # hub + x
    assert uncapped[("leaf2", "leaf3")] == 1
    # capped (hub degree 10 > 5): hub-apex wedges gone — what remains is
    # x-mediated leaf evidence plus the (hub, x) pair whose evidence runs
    # through the two SMALL apexes leaf0/leaf1 (cap is per-apex, not per-node)
    assert capped == {("leaf0", "leaf1"): 1, ("hub", "x"): 2}


def test_weighted_pagerank_matches_integer_reference(spark):
    """weight_col: parallel edges sum into W(u,v); contribution is
    ((rank*85)//100)*w//outw — verify against driver-side floor arithmetic
    and that weighting actually shifts rank toward the heavy edge."""
    from docprocai_service_spark.operators.graph import PR_SCALE, pagerank_fixed

    # a splits 3:1 between b and c (parallel edges), d->a closes some flow
    rows = [("a", "b", 3), ("a", "c", 1), ("b", "d", 1), ("c", "d", 1), ("d", "a", 2)]
    iters, d = 4, 85
    got = {
        r.id: r.rank
        for r in pagerank_fixed(
            spark.createDataFrame(rows, "src string, dst string, weight long"),
            iters=iters,
            weight_col="weight",
        ).collect()
    }

    w = {}
    for s_, t_, wt in rows:
        w[(s_, t_)] = w.get((s_, t_), 0) + wt
    nodes = sorted({x for s_, t_, _ in rows for x in (s_, t_)})
    outw = {}
    for (s_, _), wt in w.items():
        outw[s_] = outw.get(s_, 0) + wt
    n = len(nodes)
    rank = {x: PR_SCALE // n for x in nodes}
    for _ in range(iters):
        contrib = {x: 0 for x in nodes}
        for (u, v), wt in w.items():
            contrib[v] += ((rank[u] * d) // 100) * wt // outw[u]
        base = ((100 - d) * PR_SCALE // 100) // n
        rank = {x: base + contrib[x] for x in nodes}
    assert got == rank
    assert got["b"] > got["c"]  # 3:1 split visible in the ranks


def test_weighted_pagerank_partitioning_invariant(spark):
    """The weighted iteration must stay a pure integer function of
    (edges, weights) — bit-identical under different partitionings."""
    from docprocai_service_spark.operators.graph import pagerank_fixed

    rows = [("a", "b", 3), ("a", "c", 1), ("b", "d", 2), ("c", "d", 5), ("d", "a", 1)]
    edges = spark.createDataFrame(rows, "src string, dst string, weight long")
    r1 = {
        r.id: r.rank
        for r in pagerank_fixed(edges, iters=7, weight_col="weight").collect()
    }
    r2 = {
        r.id: r.rank
        for r in pagerank_fixed(
            edges.repartition(11), iters=7, weight_col="weight", checkpoint_every=3
        ).collect()
    }
    assert r1 == r2


def _py_bfs(edges, seeds, max_hops):
    """Reference multi-source BFS (dict-based), same contract as
    graph.bfs_distances: min hop distance, seeds at 0, <= max_hops."""
    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    dist = {s: 0 for s in set(seeds)}
    frontier = set(seeds)
    for i in range(1, max_hops + 1):
        nxt = set()
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in dist:
                    nxt.add(v)
        for v in nxt:
            dist[v] = i
        if not nxt:
            break
        frontier = nxt
    return dist


def test_bfs_distances_planted(spark):
    from docprocai_service_spark.operators.graph import bfs_distances

    rows = [
        ("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "a"),  # cycle back
        ("e", "a"),  # e unreachable FROM a (only reaches a)
        ("d", "d"),  # self-loop must not extend distance
    ]
    edges = spark.createDataFrame(rows, "src string, dst string")
    for seeds, hops in [(["a"], 3), (["e"], 3), (["a", "d"], 2), (["zz"], 4)]:
        got = {r.id: r.dist for r in bfs_distances(edges, seeds, hops).collect()}
        assert got == _py_bfs(rows, seeds, hops), (seeds, hops)
    # early exit: max_hops far beyond the diameter gives the same answer
    got = {r.id: r.dist for r in bfs_distances(edges, ["e"], 50).collect()}
    assert got == _py_bfs(rows, ["e"], 50)


def test_bfs_distances_validation(spark):
    import pytest as _pytest

    from docprocai_service_spark.operators.graph import bfs_distances

    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    with _pytest.raises(ValueError):
        bfs_distances(edges, [], 2)
    with _pytest.raises(ValueError):
        bfs_distances(edges, ["a"], -1)


def _py_lpa(weighted_edges, iters):
    """Reference synchronous LPA, same contract as graph.label_propagation:
    undirected pair weights summed, argmax neighbor-label weight, ties ->
    min label, node's own label does not vote."""
    und = {}
    for s, d, w in weighted_edges:
        if s == d:
            continue
        k = (min(s, d), max(s, d))
        und[k] = und.get(k, 0) + w
    adj = {}
    for (x, y), w in und.items():
        adj.setdefault(x, {})[y] = w
        adj.setdefault(y, {})[x] = w
    label = {v: v for v in adj}
    for _ in range(iters):
        nxt = {}
        for v, nbrs in adj.items():
            score = {}
            for u, w in nbrs.items():
                score[label[u]] = score.get(label[u], 0) + w
            nxt[v] = min(l for l in score if score[l] == max(score.values()))
        label = nxt
    return label


def test_label_propagation_matches_reference(spark):
    from docprocai_service_spark.operators.graph import label_propagation

    # two triangles bridged by one edge: communities must separate
    tri = [("a", "b", 1), ("a", "c", 1), ("b", "c", 1),
           ("x", "y", 1), ("x", "z", 1), ("y", "z", 1), ("c", "x", 1)]
    edges = spark.createDataFrame(
        [(s, d) for s, d, _ in tri], "src string, dst string"
    )
    for iters in (1, 2, 4):
        got = {r.id: r.label for r in label_propagation(edges, iters=iters).collect()}
        assert got == _py_lpa(tri, iters), iters
    final = {r.id: r.label for r in label_propagation(edges, iters=4).collect()}
    assert len({final["a"], final["x"]}) == 2  # two communities
    assert final["a"] == final["b"] == final["c"]
    assert final["x"] == final["y"] == final["z"]


def test_label_propagation_weighted_and_multiplicity(spark):
    from docprocai_service_spark.operators.graph import label_propagation

    # heavy bridge drags the bridge node into the other community;
    # also checks weight_col=None counting parallel edges as weight
    wtri = [("a", "b", 2), ("a", "c", 2), ("b", "c", 2),
            ("x", "y", 1), ("c", "x", 9)]
    edges_w = spark.createDataFrame(wtri, "src string, dst string, weight long")
    got_w = {
        r.id: r.label
        for r in label_propagation(edges_w, iters=3, weight_col="weight").collect()
    }
    assert got_w == _py_lpa(wtri, 3)
    # multiplicity path: replicate each row `weight` times, weight_col=None
    flat = [(s, d) for s, d, w in wtri for _ in range(w)]
    edges_m = spark.createDataFrame(flat, "src string, dst string")
    got_m = {r.id: r.label for r in label_propagation(edges_m, iters=3).collect()}
    assert got_m == got_w


def test_label_propagation_partitioning_invariant(spark):
    from docprocai_service_spark.operators.graph import label_propagation

    rows = [("a", "b", 3), ("a", "c", 1), ("b", "d", 2), ("c", "d", 5),
            ("d", "e", 1), ("e", "a", 4)]
    edges = spark.createDataFrame(rows, "src string, dst string, weight long")
    r1 = {
        r.id: r.label
        for r in label_propagation(edges, iters=5, weight_col="weight").collect()
    }
    r2 = {
        r.id: r.label
        for r in label_propagation(
            edges.repartition(13), iters=5, weight_col="weight", checkpoint_every=2
        ).collect()
    }
    assert r1 == r2 == _py_lpa(rows, 5)


def test_graph_scale_paths_match_default(spark, monkeypatch):
    """The above-BROADCAST_ROWS join strategy (shuffle-hash small sides,
    pinned edge partitioning) must not change any result — integer/set
    semantics are partitioning-free by contract. Exercises the large-n
    branch of every size-aware iterative operator."""
    from docprocai_service_spark.operators import graph
    from docprocai_service_spark.operators.graph import (
        bfs_distances,
        label_propagation,
        pagerank_fixed,
    )

    rows = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"),
            ("e", "b"), ("a", "d"), ("b", "d")]
    edges = spark.createDataFrame(rows, "src string, dst string")
    wedges = spark.createDataFrame(
        [(s, d, i + 1) for i, (s, d) in enumerate(rows)],
        "src string, dst string, w long",
    )

    def run():
        return (
            {r.id: r.rank for r in pagerank_fixed(edges, iters=5).collect()},
            {r.id: r.label for r in label_propagation(edges, iters=3).collect()},
            {r.id: r.dist for r in bfs_distances(edges, ["a"], 3).collect()},
            # weighted variants through the pinned branch too
            {r.id: r.rank for r in pagerank_fixed(wedges, iters=4, weight_col="w").collect()},
            {
                r.id: r.label
                for r in label_propagation(wedges, iters=3, weight_col="w").collect()
            },
        )

    small = run()
    monkeypatch.setattr(graph, "BROADCAST_ROWS", 0)
    assert run() == small


def test_graph_join_choice_is_logged(spark, caplog, monkeypatch):
    """Every size-driven plan choice is logged with its site and count."""
    import logging

    from docprocai_service_spark.operators import graph

    edges = spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string")
    with caplog.at_level(logging.INFO, logger=graph.__name__):
        graph.bfs_distances(edges, ["a"], 1)
        monkeypatch.setattr(graph, "BROADCAST_ROWS", 0)
        graph.label_propagation(edges, iters=1)
    msgs = [r.getMessage() for r in caplog.records]
    assert "bfs_distances.frontier: n=1 -> broadcast" in msgs
    assert "label_propagation.label: n=3 -> shuffle_hash" in msgs


def test_skew_probe_size_gate_skips_probe(spark):
    """ADVICE r5: the stratified probe is a full key-column scan; above
    max_probe_bytes skew_aware_join must skip it entirely (plain join, AQE
    backstop) while staying row-identical — forced here with a zero
    threshold so even a hub input goes unprobed and unsalted."""
    from pyspark.sql import functions as F

    from docprocai_service_spark.operators.joins import skew_aware_join

    dim = spark.createDataFrame(
        [(f"k{i}", i) for i in range(50)] + [("hub", 999)], "key string, val int"
    )
    hub = spark.range(4000).select(
        F.col("id").alias("rid"),
        F.when(F.col("id") % 2 == 0, F.lit("hub"))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 50).cast("string"))).alias("key"),
    )
    j = skew_aware_join(hub, dim, key="key", salt_on="rid", max_probe_bytes=0)
    assert "__salt" not in j._jdf.queryExecution().analyzed().toString()
    assert sorted(map(tuple, j.select("rid", "key", "val").collect())) == sorted(
        map(tuple, hub.join(dim, "key", "left").select("rid", "key", "val").collect())
    )
