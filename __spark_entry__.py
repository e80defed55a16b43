"""Driver contract for the spark-graft builder (PySpark target).

`queries()` exposes one entry per implemented operator family from
SURVEY.md §2 (plus the training-data-pipeline operators); `oracle_sql()`
gives the DuckDB-equivalent ANSI SQL for every SQL-expressible one. Column
names/aliases match exactly on both sides; floating aggregates go through
exact DECIMAL summation or round(…, 4) so value hashes are stable across
engines; every top-k has a total tie-break order.

Non-SQL-expressible entries (MinHash/SimHash LSH, ANN, the KG pipeline's
iterative canonicalization) intentionally have no oracle — the driver records
the weaker rows-only check for those, per the contract.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from docprocai_service_spark.functions.vector import cosine_similarity


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _dec(c, scale: int = 2):
    return F.col(c).cast(f"decimal(18,{scale})")


# =====================================================================
# Relational operators over the TPC-H-ish tables (SURVEY §2.2-2.7)
# =====================================================================

def q1_pricing_summary(spark, sf_dir):
    """Grouped aggregation w/ map-side partial agg (§2.4). Exact DECIMAL sums."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount")))
            .cast("double")
            .alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


def q3_shipping_priority(spark, sf_dir):
    """3-way join + agg + deterministic top-k (§2.3/§2.6)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1995-03-15")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1995-03-15")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"))
        .agg(
            F.sum(_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def q5_region_revenue(spark, sf_dir):
    """Star join with broadcast dims; Catalyst/AQE pick the join order (§2.3)."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, (o.o_custkey == c.c_custkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.sum(_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
    )


def min_order_per_customer(spark, sf_dir):
    """MIN-per-group collapse — the reference's per-assessment MIN
    (persistence/SegmentDbConnector.py:246-254) shape (§2.4)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.min("o_totalprice").cast("double").alias("min_price"),
        F.count("*").alias("n_orders"),
    )


def customers_without_orders(spark, sf_dir):
    """Anti-join (NOT EXISTS) — resume/existence-check building block (§2.3).
    Its semi-join twin (EXISTS) is pinned by cosine_near_dup_bucketed's
    left_semi hit-count join and the outer-union shape (the reference's
    3-way NATURAL FULL JOIN) by semantic_search_full's union — the retired
    customers_with_orders / segment_union demo entries (round 6, VERDICT r5
    budget consolidation)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


def top3_orders_per_customer(spark, sf_dir):
    """Ranked window w/ total tie-break — the disambiguation argmax shape (§2.5)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", F.col("o_totalprice").cast("double").alias("totalprice"), F.col("rn").cast("long").alias("rn"))
    )


def event_sequences(spark, sf_dir):
    """Ordered string-aggs per group — transcript concat analog
    (fileextractlib/VideoProcessor.py:131) (§2.4). One entry, two ordered
    collapse shapes (round-6 merge of event_type_sequence +
    event_transcript_timeordered, VERDICT r5 budget consolidation):
    `type_seq` sorts by VALUE, `transcript` by EVENT TIME (struct-sorted
    collect_list — playback order, the reference's concatenation order)."""
    e = _t(spark, sf_dir, "events")
    time_ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
        lambda x: x["event_type"],
    )
    return e.groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_list("event_type")), " ").alias("type_seq"),
        F.array_join(time_ordered, " ").alias("transcript"),
    )


def sessionize_events_dynamic(spark, sf_dir):
    """Dynamic-gap sessionization — the reference's content-dependent segment
    boundary (similarity < θ AND elapsed ≥ min, VideoProcessor.py:92-174)
    as lag + cumsum with a data-dependent predicate (§2.5). The fixed-gap
    special case (retired sessionize_events entry, round 6) is this same
    lag+cumsum plan with a constant predicate; streaming/sessions.py tests
    pin it batch + streaming."""
    from docprocai_service_spark.streaming.sessions import dynamic_sessionize

    e = _t(spark, sf_dir, "events")
    return dynamic_sessionize(e, sim_threshold=0.9, min_session_s=15).select(
        "user_id",
        "session_id",
        "n_events",
        F.date_format("start_ts", "yyyy-MM-dd HH:mm:ss").alias("start_ts"),
        F.date_format("end_ts", "yyyy-MM-dd HH:mm:ss").alias("end_ts"),
    )


def events_daily_cube(spark, sf_dir):
    """CUBE grouping sets (§2.4 'absent in reference, free in Spark')."""
    e = _t(spark, sf_dir, "events").withColumn("d", F.date_format("ts", "yyyy-MM-dd"))
    return e.cube("d", "event_type").agg(F.count("*").alias("n"))


def hourly_event_stats(spark, sf_dir):
    """Event-time tumbling window (§2.9 — absent in the reference, free in
    Spark; the batch shape of a Structured Streaming windowed agg)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:00").alias("hour"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def brand_revenue_broadcast(spark, sf_dir):
    """Fact ⋈ broadcast(dim) + agg — alias-dictionary join shape (C6)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount")))
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


# =====================================================================
# Vector / similarity / search (C11 + ANN)
# =====================================================================

def _query_vec(spark, sf_dir) -> list[float]:
    row = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") == 0).collect()[0]
    return [float(x) for x in row["embedding"]]


def cosine_topk(spark, sf_dir):
    """Exact KNN: score-all + TakeOrdered — pgvector <=> with no index
    (persistence/SegmentDbConnector.py:223-267) (C11)."""
    q = _query_vec(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    score = cosine_similarity(
        F.col("embedding").cast("array<double>"), F.lit(q).cast("array<double>")
    )
    return (
        emb.select("vec_id", score.alias("raw"))
        .orderBy(F.desc("raw"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", F.round("raw", 4).alias("score"))
    )


def semantic_search_docs(spark, sf_dir):
    """Reference semantic_search semantics end-to-end: whitelist pushdown →
    cosine distance → self-exclusion (score>0) → deterministic top-k
    (service/DocProcAiService.py:559-637)."""
    q = _query_vec(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    whitelist = ["src1", "src2", "src3", "src4", "src5"]
    seg = docs.join(emb, docs.doc_id == emb.vec_id).filter(F.col("source").isin(whitelist))
    dist = F.lit(1.0) - cosine_similarity(
        F.col("embedding").cast("array<double>"), F.lit(q).cast("array<double>")
    )
    return (
        seg.select("doc_id", "source", dist.alias("raw"))
        .filter(F.col("raw") > 0)
        .orderBy(F.asc("raw"), F.asc("doc_id"))
        .limit(15)
        .select("doc_id", "source", F.round("raw", 4).alias("score"))
    )


_SS_WHITELIST = ["src1", "src2", "src3", "src8", "src9", "src10", "src15", "src16", "src17"]


def semantic_search_full(spark, sf_dir):
    """The reference's FULL semantic_search shape (persistence/
    SegmentDbConnector.py:228-258): 3-source outer-union (document|video|
    assessment) → whitelist pushdown → cosine distance → self-match removal
    (score>0) → same-parent exclusion → per-assessment MIN collapse → global
    deterministic top-k."""
    from docprocai_service_spark.operators.segments import semantic_search, union_segments

    q = _query_vec(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    seg = docs.join(emb, docs.doc_id == emb.vec_id).select(
        F.col("doc_id").cast("string").alias("id"),
        F.col("source").alias("parent_id"),
        "embedding",
    )
    srcnum = F.regexp_extract("parent_id", r"(\d+)", 1).cast("int")
    d = seg.filter(srcnum < 7)
    v = seg.filter((srcnum >= 7) & (srcnum < 14))
    a = seg.filter(srcnum >= 14)
    united = union_segments(d, v, a)
    out = semantic_search(
        united, q, k=15, whitelist=_SS_WHITELIST, exclude_parent="src1"
    )
    return out.select("id", "parent_id", "source", F.round("score", 4).alias("score"))


def tags_tfidf_docs(spark, sf_dir):
    """c-TF-IDF tag generation (§2.4 term counting — reference
    fileextractlib/TopicModel.py:54-71): 1-2-gram counts per source class,
    class-TF-IDF weighting, top-5 terms per class."""
    from docprocai_service_spark.operators.tags import tags_tfidf

    d = _t(spark, sf_dir, "documents")
    return tags_tfidf(d, text_col="text", group_col="source", max_ngram=2, top_k=5)


def cosine_near_dup_pairs(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs — exact all-pairs path (the
    explicitly-labeled small-scale oracle twin of the LSH-bucketed scale path
    in operators/similarity.py:cosine_pairs)."""
    from docprocai_service_spark.operators.similarity import cosine_pairs

    q = _query_vec(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    pairs = cosine_pairs(emb, threshold=0.4, dim=len(q), exact=True)
    return pairs.select("id1", "id2", F.round("cos_sim", 4).alias("cos_sim"))


def cosine_near_dup_bucketed(spark, sf_dir):
    """Embedding-cosine near-dup pairs, LSH-bucketed candidates (the 100 TB
    scale path). SELF-VERIFYING (VERDICT r4 #4): no SQL oracle exists for
    the bucketing, so each emitted row carries `in_exact` (this pair is in
    the exact all-pairs result) and the constant `recall_vs_exact` — the
    artifact itself proves the scale path against its oracle twin
    (exact-vs-bucketed agreement additionally pinned by
    test_cosine_pairs_exact_vs_bucketed)."""
    from docprocai_service_spark.operators.similarity import cosine_pairs

    q = _query_vec(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    # OR-amplified banding (round 5): 16 bands × 4 bits ⇒ theoretical recall
    # ≈0.94 at cos 0.4 (the old single 6-bit bucket recalled <10% at this
    # moderate-similarity threshold — see cosine_pairs docstring)
    # localCheckpoint: the banded and O(n²) exact plans each feed 2-3
    # consumers below — materialize once instead of re-executing per count
    pairs = cosine_pairs(
        emb, threshold=0.4, dim=len(q), n_bits=4, n_bands=16, exact=False
    ).localCheckpoint()
    exact = (
        cosine_pairs(emb, threshold=0.4, dim=len(q), exact=True)
        .select("id1", "id2")
        .localCheckpoint()
    )
    n_exact = exact.count()
    n_hit = pairs.join(exact, ["id1", "id2"], "left_semi").count()
    recall = round(n_hit / n_exact, 4) if n_exact else 1.0
    return (
        pairs.join(exact.withColumn("in_exact", F.lit(True)), ["id1", "id2"], "left")
        .select(
            "id1",
            "id2",
            F.round("cos_sim", 4).alias("cos_sim"),
            F.coalesce("in_exact", F.lit(False)).alias("in_exact"),
            F.lit(recall).alias("recall_vs_exact"),
        )
    )


def ann_topk_embeddings(spark, sf_dir):
    """Sign-LSH bucketed ANN (scale path). SELF-VERIFYING (VERDICT r4 #4):
    each of the k rows carries `in_exact_topk` — membership in the exact
    brute-force top-k — so the recorded rows ARE the recall evidence
    (pytest pins recall >= 0.8 on planted neighbors)."""
    from docprocai_service_spark.operators.similarity import ann_topk, bucketize, topk_cosine

    q = _query_vec(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    # 4 bits + multiprobe 2: this table's true top-10 are WEAK neighbors
    # (cos ~0.4-0.6), where fine buckets prune them away — theory puts
    # P(hamming<=2 of 4 bits) ≈ 0.85 at cos 0.4, vs 0.38 for the old
    # 8-bit config (measured 0.4). High-cosine corpora should raise n_bits
    # back up for pruning; the evidence column makes the tradeoff visible.
    b = bucketize(emb, dim=len(q), n_bits=4)
    approx = ann_topk(b, q, dim=len(q), k=10, n_bits=4, multiprobe=2)
    exact_ids = topk_cosine(emb, q, k=10).select("vec_id")
    return approx.join(
        exact_ids.withColumn("in_exact_topk", F.lit(True)), "vec_id", "left"
    ).select(
        "vec_id",
        F.round("score", 4).alias("score"),
        F.coalesce("in_exact_topk", F.lit(False)).alias("in_exact_topk"),
    )


# =====================================================================
# Training-data pipeline operators over `documents`
# =====================================================================

def exact_dedup_docs(spark, sf_dir):
    from docprocai_service_spark.operators.dedup import dedup_exact

    return dedup_exact(_t(spark, sf_dir, "documents"))


def token_stats_docs(spark, sf_dir):
    """Per-doc token statistics + exact fingerprint in ONE pass (round-6
    merge of token_counts_docs + bpe_token_counts_docs + fingerprint_docs,
    VERDICT r5 budget consolidation): whitespace tokens, BPE-ish regex
    tokens, and the normalized-md5 dedup fingerprint are all independent
    JVM-codegen scalar columns — one scan covers all three operators, which
    is also how a 100 TB quality pass would compute them."""
    from docprocai_service_spark.operators.textstats import (
        bpe_ish_token_count,
        fingerprint_md5,
        token_count,
    )

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        bpe_ish_token_count(F.col("text")).cast("long").alias("n_bpe_tokens"),
        fingerprint_md5(F.col("text")).alias("fp"),
    )


def lang_quality_docs(spark, sf_dir):
    """Language-ID + quality score in ONE pass (round-6 merge of
    lang_id_docs + quality_docs): both operators are pure-JVM scalar chains
    over the same text column, so the composed entry pins each exactly while
    costing one scan."""
    from docprocai_service_spark.operators.textstats import lang_id, quality_score

    d = _t(spark, sf_dir, "documents")
    return quality_score(lang_id(d)).select(
        "doc_id", "predicted_lang", F.round("quality", 4).alias("quality")
    )


def minhash_near_dup_docs(spark, sf_dir):
    """MinHash-LSH candidates + exact word-3-gram Jaccard verify ≥ 0.5.

    Oracle-checked (round 3): the FINAL verified pair set equals the exact
    SQL pair set — LSH pruning can only lose pairs, and at bands=32 (r=2)
    the miss probability at s=0.5 is (1-0.25)^32 ≈ 1e-4, so on the test
    corpus recall is 1 and the DuckDB crossJoin oracle pins the whole
    operator end-to-end (candidate recall stays covered by planted-pair
    pytest oracles at the default r=4 config)."""
    from docprocai_service_spark.operators.dedup import minhash_near_dup_pairs

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(d, threshold=0.5, k=64, bands=32)
    return pairs.select("id1", "id2", F.round("jaccard", 4).alias("jaccard"))


def simhash_near_dup_docs(spark, sf_dir):
    """SimHash near-dup pairs. SELF-VERIFYING (VERDICT r4 #4): no SQL oracle
    for the sketch, so the result carries the planted-truth evidence — every
    identical-text pair MUST appear with hamming 0 (`is_exact_dup` marks
    them; the constant `exact_dup_pairs_missed` counts the ones the sketch
    failed to emit, provably 0 by the pigeonhole construction)."""
    from docprocai_service_spark.operators.dedup import simhash_near_dup_pairs

    d = _t(spark, sf_dir, "documents")
    # materialized once: both feed the missed-count AND the final join
    pairs = simhash_near_dup_pairs(d, max_hamming=6).localCheckpoint()
    by_text = d.select("doc_id", F.md5("text").alias("h"))
    dup_pairs = (
        by_text.alias("l")
        .join(by_text.alias("r"), "h")
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(F.col("l.doc_id").alias("id1"), F.col("r.doc_id").alias("id2"))
        .localCheckpoint()
    )
    missed = dup_pairs.join(pairs, ["id1", "id2"], "left_anti").count()
    return (
        pairs.join(dup_pairs.withColumn("is_exact_dup", F.lit(True)), ["id1", "id2"], "left")
        .select(
            "id1",
            "id2",
            "hamming",
            F.coalesce("is_exact_dup", F.lit(False)).alias("is_exact_dup"),
            F.lit(missed).alias("exact_dup_pairs_missed"),
        )
    )


def ngram_jaccard_docs(spark, sf_dir):
    """Exact word-n-gram Jaccard pairs, LSH-pruned. Oracle-checked (round 3)
    with the recall-hardened bands=32 config — see minhash_near_dup_docs."""
    from docprocai_service_spark.operators.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.5, n=3, k=64, bands=32
    )
    return pairs.select("id1", "id2", F.round("jaccard", 4).alias("jaccard"))


def near_dup_groups_docs(spark, sf_dir):
    """Connected components over the verified near-dup graph: every document
    gets a group_id = MIN(doc_id) of its transitive near-duplicate cluster
    (singletons map to themselves) — the actual dedup deliverable (keep one
    doc per group).

    Oracle-checked (round 3): the edge set equals the exact SQL pair set
    (see minhash_near_dup_docs), and DuckDB computes the same components via
    a recursive-CTE transitive closure — the first END-TO-END oracle over the
    components operator (previously pytest-only). At this scale the probe
    routes to the driver union-find; at web scale the same call routes to the
    O(log n) large-star/small-star formulation (operators/canonicalize.py)."""
    from docprocai_service_spark.operators.canonicalize import connected_components
    from docprocai_service_spark.operators.dedup import minhash_near_dup_pairs

    d = _t(spark, sf_dir, "documents")
    edges = minhash_near_dup_pairs(d, threshold=0.5, k=64, bands=32).select(
        F.col("id1").alias("src"), F.col("id2").alias("dst")
    )
    comps = connected_components(edges, vertices=d.select(F.col("doc_id").alias("id")))
    return comps.select(F.col("id").alias("doc_id"), F.col("comp").alias("group_id"))


def shard_assign_docs(spark, sf_dir):
    """Deterministic export-shard placement column (round-6, VERDICT r5 #4 —
    operators/materialize.shard_assignment): first 32 bits of
    md5(doc_id-as-string) mod 16, the engine-portable assignment
    export_shards writes the corpus with. The DuckDB oracle computes the
    identical hex-prefix arithmetic, pinning the placement function itself;
    the write/rename/manifest/resume protocol around it is pinned by
    tests/test_shard_export.py (kill-and-resume byte-identity)."""
    from docprocai_service_spark.operators.materialize import shard_assignment

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", shard_assignment(F.col("doc_id"), 16).alias("shard"))


def contamination_docs(spark, sf_dir):
    """Benchmark-contamination pairs (operators/contamination.py — round-6,
    VERDICT r5 #3): the benchmark table is the deterministic doc_id % 7 = 0
    slice of `documents` (the driver registers only the ten standard views,
    so the oracle derives the identical slice), and a corpus doc is flagged
    per benchmark item it shares >= 3 distinct word-3-grams with —
    self-pairs excluded. Tokenization is the shared _GSETS_SQL grammar, so
    the exact SQL intersection IS the oracle. Scale path: the benchmark
    gram table broadcasts; the corpus side is one scan, no shuffle before
    the match-count agg (which carries only matching grams)."""
    from docprocai_service_spark.operators.contamination import contamination_pairs

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return contamination_pairs(d, bench, n=3, min_common=3).filter(
        F.col("doc_id") != F.col("bench_id")
    )


def winnow_fingerprint_docs(spark, sf_dir):
    """Winnowing document fingerprints (rolling k-gram hash windows — the
    MOSS scheme; numpy sliding-window UDF). SELF-VERIFYING (VERDICT r4 #4):
    the scheme is a pure function of the text, so identical texts must get
    identical fingerprint SETS — `dup_set_groups_inconsistent` counts
    identical-text groups whose members' sets differ (provably 0), turning
    the rows-only check into planted-truth evidence."""
    from docprocai_service_spark.operators.textstats import make_winnow_udf

    d = _t(spark, sf_dir, "documents")
    winnow = make_winnow_udf(k=8, w=16)
    fps = d.select(
        "doc_id",
        F.md5("text").alias("h"),
        winnow(F.col("text")).alias("fps"),
    ).withColumn(
        "set_key",
        F.sha2(F.concat_ws(",", F.transform(F.array_sort("fps"), lambda x: x.cast("string"))), 256),
    ).localCheckpoint()  # winnow UDF runs once, not once per consumer
    inconsistent = (
        fps.groupBy("h")
        .agg(F.count_distinct("set_key").alias("n_sets"), F.count(F.lit(1)).alias("n"))
        .filter((F.col("n") > 1) & (F.col("n_sets") > 1))
        .count()
    )
    return fps.select(
        "doc_id",
        F.size("fps").alias("n_fingerprints"),
        F.lit(inconsistent).alias("dup_set_groups_inconsistent"),
    )


def ivf_topk_embeddings(spark, sf_dir):
    """IVF approximate top-k (bounded-sample k-means quantizer + nprobe
    search) — the FAISS-style counterpart of the sign-LSH ANN.
    SELF-VERIFYING (VERDICT r4 #4): each row carries `in_exact_topk`
    (membership in the brute-force top-k), making the recorded rows the
    recall evidence (pytest pins recall >= 0.7 at nprobe=4/8)."""
    from docprocai_service_spark.operators.similarity import (
        ivf_assign,
        ivf_topk,
        ivf_train_centroids,
        topk_cosine,
    )

    q = _query_vec(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    cent = ivf_train_centroids(emb, dim=len(q), n_lists=8, iters=5)
    assigned = ivf_assign(emb, cent)
    out = ivf_topk(assigned, cent, q, k=10, nprobe=4)
    exact_ids = topk_cosine(emb, q, k=10).select("vec_id")
    return out.join(
        exact_ids.withColumn("in_exact_topk", F.lit(True)), "vec_id", "left"
    ).select(
        "vec_id",
        F.round("score", 4).alias("score"),
        F.coalesce("in_exact_topk", F.lit(False)).alias("in_exact_topk"),
    )


def title_segments_docs(spark, sf_dir):
    """Batch titling with token-budget packing + rewind (§2.5 LLM-batching
    shape, deterministic stub titler). Oracle-checked: the packing cursor is
    order-defined per group, expressed in DuckDB as a recursive CTE over the
    group's token prefix sums (see oracle_sql)."""
    from docprocai_service_spark.operators.titling import title_segments

    d = _t(spark, sf_dir, "documents").select(
        F.col("source").alias("parent_id"),
        F.col("doc_id").alias("position"),
        "text",
    )
    return title_segments(d, budget_tokens=256)


# =====================================================================
# KG pipeline over the SQL-constructed corpus (DuckDB-oracled end-to-end)
# =====================================================================

def _kg_pages_from_documents(spark, sf_dir):
    """Deterministic web-page table CONSTRUCTED from the `documents` view with
    pure SQL-expressible string ops, so the REAL extraction/triple/mention/
    linking operators get a full DuckDB oracle (the kg_* entries over the
    driver-built corpus are rows-only because the oracle cannot see that
    corpus). The construction plants every extractor hazard: script/style/
    comment content containing fake tags, nav/header/footer boilerplate,
    entity escapes inside sentences, two sentences in one block, a
    predicate-free sentence, unclosed-<main> pages (doc_id%19), empty-main
    pages (doc_id%23), and non-English pages (doc_id%13) for the lang
    dispatch."""
    d = _t(spark, sf_dir, "documents")
    n = F.col("doc_id").cast("long")

    def s(col):
        return col.cast("string")

    paras = F.concat(
        F.lit("<p>Acme "), s(n % 17), F.lit(" supplies Zeta &amp; Sons.</p>"),
        F.lit("<p>Beta Group acquired Gamma "), s(n % 5),
        F.lit(". Also Delta Labs is headquartered in City "), s(n % 11), F.lit(".</p>"),
        F.lit("<p>No predicate sentence here</p>"),
        F.lit("<div>Epsilon &lt;X&gt; invested in Omega "), F.col("source"), F.lit("</div>"),
    )
    html = F.concat(
        F.lit("<!DOCTYPE html><html><head><title>d"), s(n),
        F.lit("</title><script>var x=1;</script>"),
        F.lit("<style>p{color:red}</style><!-- note <p>hidden</p> --></head><body>"),
        F.lit("<nav><ul><li>Home</li></ul></nav><header><h1>Doc "), s(n),
        F.lit("</h1></header><main>"),
        F.when(n % 23 == 0, F.lit("")).otherwise(paras),
        F.when(n % 19 == 0, F.lit("")).otherwise(F.lit("</main>")),
        F.lit("<footer>&copy; 2025 example &amp; co</footer>"),
        F.when(n % 19 == 0, F.lit("")).otherwise(F.lit("</body></html>")),
    )
    return d.select(
        F.concat(F.lit("doc://"), s(n)).alias("url"),
        F.timestamp_seconds(F.lit(1735689600).cast("long") + n).alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        F.when(n % 13 == 0, F.lit("de")).otherwise(F.lit("en")).alias("lang"),
    )


def _kg_alias_df(spark):
    """Inline alias dictionary over the constructed corpus's surfaces:
    a tie (same prior -> min entity_id), an ambiguous alias (max prior
    wins), and deliberate gaps (NIL links). Mirrored verbatim as a VALUES
    CTE in the DuckDB oracle."""
    return spark.createDataFrame(_KG_ALIAS_ROWS, "alias string, entity_id string, prior double")


# Exactly ONE alias per entity_id: kg_edges_docs' oracle mirrors the
# max_by(alias, length) name derivation as plain max(alias), which is only
# equivalent under this invariant. Keep it if adding rows.
_KG_ALIAS_ROWS = [
    ("beta group", "E001", 0.9),
    ("beta group", "E000", 0.9),   # tie on prior -> min entity_id (E000)
    ("zeta & sons", "E010", 0.5),
    ("zeta & sons", "E011", 0.7),  # ambiguous -> higher prior (E011)
    ("delta labs", "E020", 0.8),
    ("acme 3", "E103", 0.3),       # only one Acme variant is linkable
    ("epsilon <x>", "E030", 0.6),
]


def kg_extract_docs(spark, sf_dir):
    """REAL extract_stage (Arrow UDF chain) over the SQL-constructed corpus —
    byte-identity of the extraction contract, DuckDB-oracle-checked
    (the north rule's 'byte-identical text per url' invariant)."""
    from docprocai_service_spark.operators.extract import extract_stage

    return extract_stage(_kg_pages_from_documents(spark, sf_dir)).select("url", "lang", "text")


def kg_triples_docs(spark, sf_dir):
    """REAL fused triples path (extract + sentence split + triple parse in one
    Arrow pass) over the SQL-constructed corpus, oracle-checked."""
    from docprocai_service_spark.operators.triples import fused_triples_stage

    t = fused_triples_stage(_kg_pages_from_documents(spark, sf_dir))
    return t.select("url", "sent_no", "subj", "pred", "obj")


def kg_mentions_docs(spark, sf_dir):
    """REAL mentions_stage (sha256 mention ids) downstream of the fused
    triples path, oracle-checked — pins the deterministic-id derivation."""
    from docprocai_service_spark.operators.triples import fused_triples_stage, mentions_stage

    m = mentions_stage(fused_triples_stage(_kg_pages_from_documents(spark, sf_dir)))
    return m.select("mention_id", "url", "sent_no", "surface", "role")


def kg_linked_docs(spark, sf_dir):
    """REAL link_mentions (pre-reduced dictionary lookup + NIL keep) over the
    constructed corpus with an inline dictionary, oracle-checked — pins
    the disambiguation total order (max prior, ties -> min entity_id)."""
    from docprocai_service_spark.operators.linking import link_mentions
    from docprocai_service_spark.operators.triples import fused_triples_stage, mentions_stage

    m = mentions_stage(fused_triples_stage(_kg_pages_from_documents(spark, sf_dir)))
    linked = link_mentions(m, _kg_alias_df(spark))
    return linked.select(
        "mention_id", "surface", "entity_id", F.round("link_score", 6).alias("link_score")
    )


def _tpch_entity_edges(spark, sf_dir):
    """Typed entity graph derived from TPC-H with pure SQL string ops
    (mirrored verbatim in the oracle): supplier→customer (traded-with, via
    lineitem⋈orders), customer→nation, supplier→nation, nation→region."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    od = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cu = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    su = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    na = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")

    def tag(prefix, col):
        return F.concat(F.lit(prefix), F.col(col).cast("string"))

    # lineitem⋈orders is left to the planner: the (o_orderkey, o_custkey)
    # projection (~0.8 MB estimated at sf0.1) sits far under the session's
    # 64 MiB autoBroadcastJoinThreshold (session.py), so it plans a
    # BroadcastHashJoin with orders as the build side.
    sc = li.join(od, li.l_orderkey == od.o_orderkey).select(
        tag("S", "l_suppkey").alias("src"), tag("C", "o_custkey").alias("dst")
    )
    cn = cu.select(tag("C", "c_custkey").alias("src"), tag("N", "c_nationkey").alias("dst"))
    sn = su.select(tag("S", "s_suppkey").alias("src"), tag("N", "s_nationkey").alias("dst"))
    nr = na.select(tag("N", "n_nationkey").alias("src"), tag("R", "n_regionkey").alias("dst"))
    return sc.unionByName(cn).unionByName(sn).unionByName(nr)


def khop_reach_tpch(spark, sf_dir):
    """k-hop neighborhood sizes (k=3) over the TPC-H entity graph — the
    BFS-style reach operator (operators/graph.py) with an EXACT integer
    oracle (chained-join reach CTEs in DuckDB). The beyond-reference graph
    feature a training pipeline derives from materialized KG edges."""
    from docprocai_service_spark.operators.graph import khop_reach_counts

    return khop_reach_counts(_tpch_entity_edges(spark, sf_dir), k=3)


def pagerank_tpch(spark, sf_dir):
    """Deterministic fixed-point PageRank (integer micro-unit mass — exact,
    order-free sums, hence fully DuckDB-oracle-checkable; see
    operators/graph.pagerank_fixed) over the TPC-H entity graph."""
    from docprocai_service_spark.operators.graph import pagerank_fixed

    # cadence 3: fewer lineage-truncation barrier jobs (measured ~11% at
    # sf0.1, BENCH/BASELINE.md r4 plan audit); the integer result — and
    # hence the oracle hash — is cadence-independent.
    return pagerank_fixed(_tpch_entity_edges(spark, sf_dir), iters=6, checkpoint_every=3)


def _pagerank_oracle_sql(
    iters: int = 6,
    damping_pct: int = 85,
    seeds: list[str] | None = None,
    weighted: bool = False,
) -> str:
    """Unrolled-iteration DuckDB mirror of pagerank_fixed (recursive CTEs
    cannot aggregate over the recursive reference, so each iteration is its
    own CTE block — exact 64-bit floor arithmetic, identical to the Spark
    loop by construction). With `seeds`, mirrors the personalized variant:
    initial mass and teleport term go only to the seed IN-list, split by
    floor over the (Python-computed) seed count. With `weighted`, edge
    multiplicity becomes the weight (UNION ALL + count per pair — the
    lineitem count for S→C edges, 1 elsewhere) and the contribution term
    becomes ((rank·d)//100)·w // outw, matching pagerank_fixed's
    overflow-safe ordering."""
    if weighted:
        head = """
        WITH e0 AS (
          SELECT 'S' || l_suppkey AS src, 'C' || o_custkey AS dst
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          UNION ALL
          SELECT 'C' || c_custkey, 'N' || c_nationkey FROM customer
          UNION ALL
          SELECT 'S' || s_suppkey, 'N' || s_nationkey FROM supplier
          UNION ALL
          SELECT 'N' || n_nationkey, 'R' || n_regionkey FROM nation
        ),
        e AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w
              FROM e0 GROUP BY src, dst),
    """
    else:
        head = """
        WITH e0 AS (
          SELECT 'S' || l_suppkey AS src, 'C' || o_custkey AS dst
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          UNION
          SELECT 'C' || c_custkey, 'N' || c_nationkey FROM customer
          UNION
          SELECT 'S' || s_suppkey, 'N' || s_nationkey FROM supplier
          UNION
          SELECT 'N' || n_nationkey, 'R' || n_regionkey FROM nation
        ),
        e AS (SELECT DISTINCT src, dst FROM e0),
    """
    return head + _pagerank_blocks_sql(iters, damping_pct, seeds, weighted)


def _pagerank_blocks_sql(
    iters: int,
    damping_pct: int,
    seeds: list[str] | None = None,
    weighted: bool = False,
    final_select: bool = True,
) -> str:
    """The engine-independent tail of the PageRank oracle: nodes/cnt/outdeg +
    pr0 + the unrolled iteration CTEs + final SELECT, assuming a CTE `e`
    with columns (src, dst) — plus `w` when weighted — is already defined
    upstream. Lets any edge-producing oracle chain (the TPC-H graph, the
    full KG-DAG corpus) terminate in a rank computation by concatenation."""
    if weighted:
        head = """
        nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
        outdeg AS (SELECT src AS id, CAST(sum(w) AS BIGINT) AS outw FROM e GROUP BY src),
    """
    else:
        head = """
        nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
        outdeg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY src),
    """
    if seeds is None:
        head += """
        pr0 AS (SELECT id, CAST(1000000000000 // cnt.n AS BIGINT) AS rank FROM nodes, cnt)
    """
        base_term = f"((100 - {damping_pct}) * 1000000000000 // 100) // cnt.n"
    else:
        seed_list = sorted(set(seeds))
        in_list = ", ".join(f"'{s}'" for s in seed_list)
        ns = len(seed_list)
        head += f"""
        pr0 AS (SELECT id,
                       CAST(CASE WHEN id IN ({in_list})
                                 THEN {1_000_000_000_000 // ns} ELSE 0 END AS BIGINT) AS rank
                FROM nodes)
    """
        base_term = (
            f"CASE WHEN nd.id IN ({in_list}) "
            f"THEN {((100 - damping_pct) * 1_000_000_000_000 // 100) // ns} ELSE 0 END"
        )
    if weighted:
        contrib_term = f"((p.rank * {damping_pct}) // 100) * e.w // o.outw"
    else:
        contrib_term = f"(p.rank * {damping_pct}) // (o.outdeg * 100)"
    blocks = []
    for i in range(1, iters + 1):
        blocks.append(f"""
        , pr{i} AS (
          SELECT nd.id,
                 CAST({base_term}
                      + coalesce(s.c, 0) AS BIGINT) AS rank
          FROM nodes nd CROSS JOIN cnt
          LEFT JOIN (
            SELECT e.dst AS id,
                   CAST(sum({contrib_term}) AS BIGINT) AS c
            FROM e JOIN pr{i - 1} p ON e.src = p.id JOIN outdeg o ON o.id = e.src
            GROUP BY e.dst
          ) s ON s.id = nd.id
        )""")
    tail = f"\n        SELECT id, rank FROM pr{iters}" if final_select else ""
    return head + "".join(blocks) + tail


_TPCH_EDGE_SET_SQL = """
          SELECT DISTINCT src, dst FROM (
            SELECT 'S' || l_suppkey AS src, 'C' || o_custkey AS dst
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            UNION
            SELECT 'C' || c_custkey, 'N' || c_nationkey FROM customer
            UNION
            SELECT 'S' || s_suppkey, 'N' || s_nationkey FROM supplier
            UNION
            SELECT 'N' || n_nationkey, 'R' || n_regionkey FROM nation
          )
"""


def _bfs_oracle_sql(seeds: list[str], max_hops: int) -> str:
    """DuckDB mirror of graph.bfs_distances over the TPC-H entity graph: a
    recursive CTE enumerates every (node, pathlen) pair with pathlen <=
    max_hops (UNION dedupes, the dist bound terminates it), and min(dist)
    per node IS the BFS round of first discovery — hop weights are 1, so no
    re-relaxation is needed. Seeds appear at dist 0 even if absent from the
    edge set, matching the operator contract."""
    seed_rows = ", ".join(f"('{s}', 0)" for s in sorted(set(seeds)))
    return f"""
        WITH RECURSIVE e AS ({_TPCH_EDGE_SET_SQL}),
        walk(id, dist) AS (
          SELECT * FROM (VALUES {seed_rows}) v(id, dist)
          UNION
          SELECT e.dst, walk.dist + 1
          FROM walk JOIN e ON walk.id = e.src
          WHERE walk.dist < {max_hops}
        )
        SELECT id, CAST(min(dist) AS INTEGER) AS dist FROM walk GROUP BY id
    """


def _lpa_blocks_sql(iters: int, final_select: bool = True) -> str:
    """Engine-independent tail of the label-propagation oracle: assumes a
    CTE `und(a, b, w)` (undirected pair weights, a < b, no self-pairs) is
    already defined upstream, then emits adj/l0 + one unrolled CTE per
    synchronous round — a (id, label) weight-sum with a QUALIFY argmax in
    the same total (score DESC, label ASC) order the Spark window uses.
    Integer sums make the two engines agree bit-for-bit. Composable after
    any edge-producing chain (TPC-H graph, the full KG-DAG corpus)."""
    head = """
        adj AS (
          SELECT a AS id, b AS nb, w FROM und
          UNION ALL
          SELECT b, a, w FROM und
        ),
        l0 AS (SELECT DISTINCT id, id AS label FROM adj)
    """
    blocks = []
    for i in range(1, iters + 1):
        blocks.append(f"""
        , l{i} AS (
          SELECT adj.id, l.label
          FROM adj JOIN l{i - 1} l ON adj.nb = l.id
          GROUP BY adj.id, l.label
          QUALIFY row_number() OVER (PARTITION BY adj.id
                                     ORDER BY sum(adj.w) DESC, l.label ASC) = 1
        )""")
    tail = f"\n        SELECT id, label FROM l{iters}" if final_select else ""
    return head + "".join(blocks) + tail


def _lpa_oracle_sql(iters: int) -> str:
    """DuckDB mirror of label_propagation_tpch (multiplicity weights):
    undirected pair weight = raw-row count over both directions of the
    TPC-H entity graph, then the unrolled rounds of _lpa_blocks_sql."""
    return """
        WITH e0 AS (
          SELECT 'S' || l_suppkey AS src, 'C' || o_custkey AS dst
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          UNION ALL
          SELECT 'C' || c_custkey, 'N' || c_nationkey FROM customer
          UNION ALL
          SELECT 'S' || s_suppkey, 'N' || s_nationkey FROM supplier
          UNION ALL
          SELECT 'N' || n_nationkey, 'R' || n_regionkey FROM nation
        ),
        und AS (
          SELECT least(src, dst) AS a, greatest(src, dst) AS b,
                 CAST(count(*) AS BIGINT) AS w
          FROM e0 WHERE src <> dst GROUP BY 1, 2
        ),
    """ + _lpa_blocks_sql(iters)


def _kg_edges(spark, sf_dir):
    """The weighted KG edges over the SQL-constructed corpus: the chain every
    kg_*_docs graph entry starts from (see kg_edges_docs)."""
    from docprocai_service_spark.operators.canonicalize import canonicalize_entities, entity_names
    from docprocai_service_spark.operators.materialize import edges_table, resolve_entities
    from docprocai_service_spark.operators.triples import fused_triples_stage

    alias = _kg_alias_df(spark)
    canon = canonicalize_entities(entity_names(alias))
    t = fused_triples_stage(_kg_pages_from_documents(spark, sf_dir))
    return edges_table(resolve_entities(t, alias, canon))


def kg_edges_docs(spark, sf_dir):
    """The COMPLETE KG DAG — extract → triples → link → canonicalize →
    resolve → weighted edges — over the SQL-constructed corpus, end-to-end
    DuckDB-oracle-checked. The REAL canonicalize_entities runs (LSH +
    components); on this dictionary's names the grouping provably reduces to
    exact-name equality (no distinct-name pair reaches Jaccard 0.7), which
    is what lets the oracle mirror it as min(entity_id) per name — the LSH
    mechanics themselves are oracle-checked separately
    (minhash_near_dup_docs / near_dup_groups_docs)."""
    return _kg_edges(spark, sf_dir)


def kg_pagerank_docs(spark, sf_dir):
    """END-TO-END: raw HTML pages → extract → triples → link → canonicalize
    → weighted edges → corroboration-weighted PageRank over the constructed
    KG — the full kg_construct DAG terminating in a graph-analytics product,
    every stage inside ONE DuckDB oracle (the kg_edges_docs chain composed
    with the unrolled weighted-PR CTEs via _pagerank_blocks_sql). Edge
    weight = number of triples asserting the edge, so rank follows
    corroboration."""
    from docprocai_service_spark.operators.graph import pagerank_fixed

    edges = _kg_edges(spark, sf_dir)
    e = edges.select(
        F.col("src_entity").alias("src"), F.col("dst_entity").alias("dst"), "weight"
    )
    return pagerank_fixed(e, iters=4, checkpoint_every=2, weight_col="weight")


def kg_communities_docs(spark, sf_dir):
    """END-TO-END: raw HTML pages → extract → triples → link → canonicalize
    → weighted edges → synchronous label-propagation COMMUNITIES over the
    constructed KG — the kg_construct DAG terminating in the community
    assignment the north-star pipeline names, every stage inside ONE
    composed DuckDB oracle (the kg_edges_docs chain + _lpa_blocks_sql).
    Corroboration-weighted: a pair's vote weight is the number of triples
    asserting it in either direction."""
    from docprocai_service_spark.operators.graph import label_propagation

    edges = _kg_edges(spark, sf_dir)
    e = edges.select(
        F.col("src_entity").alias("src"), F.col("dst_entity").alias("dst"), "weight"
    )
    return label_propagation(e, iters=4, weight_col="weight")


def kg_features_docs(spark, sf_dir):
    """END-TO-END: the joint per-entity graph-feature table — (entity_id,
    rank, community) — from raw HTML through the full kg_construct DAG,
    in ONE composed DuckDB oracle (corpus chain + unrolled weighted-PR CTEs
    + unrolled LPA CTEs + the same left-join/coalesce the incremental
    `refresh_graph_features` stage materializes; this entry is that
    deliverable's oracle-checked twin, streaming/incremental.py). Entities
    whose only edges are self-loops carry their own id as community (LPA's
    simple graph drops self-loops)."""
    from docprocai_service_spark.operators.graph import label_propagation, pagerank_fixed

    edges = _kg_edges(spark, sf_dir).localCheckpoint()
    e = edges.select(
        F.col("src_entity").alias("src"), F.col("dst_entity").alias("dst"), "weight"
    )
    ranks = pagerank_fixed(e, iters=4, checkpoint_every=2, weight_col="weight")
    comms = label_propagation(e, iters=4, weight_col="weight")
    return ranks.join(comms, "id", "left").select(
        F.col("id").alias("entity_id"),
        "rank",
        F.coalesce("label", F.col("id")).alias("community"),
    )


def kg_bfs_docs(spark, sf_dir):
    """END-TO-END: multi-source BFS hop distances from two canonical seed
    entities (E000, E103) over the constructed KG — the seeded proximity
    tier (graph.bfs_distances) as the terminal stage of the full DAG,
    oracle-checked via a recursive CTE over the resolved edges (min(dist)
    per node within 3 hops, seeds at 0). Complements kg_neighborhood_docs:
    that entry pins the partition-pruned point-query READ over the
    materialized table; this one pins the in-memory BFS operator's
    distances on the same graph."""
    from docprocai_service_spark.operators.graph import bfs_distances

    edges = _kg_edges(spark, sf_dir)
    e = edges.select(
        F.col("src_entity").alias("src"), F.col("dst_entity").alias("dst")
    )
    return bfs_distances(e, seeds=["E000", "E103"], max_hops=3)


def kg_components_docs(spark, sf_dir):
    """END-TO-END: raw HTML pages → extract → triples → link → canonicalize
    → weighted edges → WEAKLY-CONNECTED COMPONENTS of the constructed KG —
    the north-star's canonicalization engine (connected_components,
    operators/canonicalize.py) run as the terminal stage of the full DAG
    and oracle-checked against a recursive-CTE transitive closure.
    driver_threshold=0 routes it to the DISTRIBUTED large-star/small-star
    formulation (O(log n) rounds at any diameter) rather than the driver
    union-find the small corpus would get by default — the scale engine is
    the one under oracle here; the two routes are equality-tested in
    pytest."""
    from docprocai_service_spark.operators.canonicalize import connected_components

    edges = _kg_edges(spark, sf_dir)
    e = edges.select(
        F.col("src_entity").alias("src"), F.col("dst_entity").alias("dst")
    )
    return connected_components(e, driver_threshold=0)


def kg_neighborhood_docs(spark, sf_dir):
    """The partition-pruned POINT-QUERY surface, oracle-checked end-to-end:
    construct the KG edges, materialize them in the store's bucket(src_entity)
    layout (sources/manifest.write_bucketed), then out_neighborhood from two
    canonical seeds (E000 'beta group', E103 'acme 3') at hops=2 — per hop
    the scan's PartitionFilters carry the frontier's bucket set, and on this
    corpus hop 2 exercises the empty-frontier early exit (objects never re-appear
    as subjects). Oracle = chained-join BFS with the same expand-once
    semantics."""
    import os
    import tempfile

    from docprocai_service_spark.operators.materialize import out_neighborhood
    from docprocai_service_spark.sources.manifest import write_bucketed

    edges = _kg_edges(spark, sf_dir)
    # per-invocation dir (ADVICE r5: a fixed shared path races concurrent
    # drivers and leaks between runs); the result must be collected before
    # the cleanup, so materialize it eagerly and return the local copy.
    tmpdir = tempfile.mkdtemp(prefix="spark_graft_kg_nbhd_")
    try:
        path = os.path.join(tmpdir, "edges")
        write_bucketed(edges, path, "src_entity")
        return out_neighborhood(spark, path, ["E000", "E103"], hops=2).localCheckpoint()
    finally:
        import shutil

        shutil.rmtree(tmpdir, ignore_errors=True)


def kg_entities_docs(spark, sf_dir):
    """Canonical entity registry (materialize's second output): id = MIN
    member id, canonical_name = that member's name, member_count — order-free
    reductions, oracle-checked (arg_min in DuckDB)."""
    from docprocai_service_spark.operators.canonicalize import canonicalize_entities, entity_names
    from docprocai_service_spark.operators.materialize import entities_table

    alias = _kg_alias_df(spark)
    names = entity_names(alias)
    canon = canonicalize_entities(names, threshold=0.7)
    return entities_table(alias, canon)


# Retired in round 5 (VERDICT r4 #5): the rows-only driver-corpus trio
# kg_triples / kg_linked_mentions / kg_edges duplicated operators that the
# fully-DuckDB-oracled kg_*_docs chain now pins end-to-end; their one
# distinct surface — run_pipeline + the lineage path — is pytest-covered
# (tests/test_pipeline.py, incl. batch-vs-incremental edge equality and
# lineage coverage) and golden-pinned by tests/test_entry_oracles.py::
# test_run_pipeline_edges_match_oracled_chain_operators.


#: Personalized-PageRank seed entities for pagerank_variants_tpch /
#: bfs_distances_tpch — suppliers exist (and
#: have out-edges) at every test scale factor, so the seeded mass actually
#: propagates.
_PPR_SEEDS = ["S1", "S2"]


def pagerank_variants_tpch(spark, sf_dir):
    """PERSONALIZED + WEIGHTED deterministic PageRank in one joint table
    (round-6 merge of ppr_tpch + wpagerank_tpch, VERDICT r5 budget
    consolidation — both variants of operators/graph.pagerank_fixed keep
    full-oracle rows in the driver's 50-entry artifact).

    `ppr_rank`: personalized from two supplier seeds — initial mass and
    teleport restricted to the seed IN-list ("how close is every entity to
    this seed set?"). `w_rank`: edge multiplicity (lineitem count per
    supplier→customer pair; 1 elsewhere) as corroboration weight with the
    overflow-safe ((rank·d)//100)·w//outw ordering — the semantics the KG
    edges table (weight = triple count) wants. Both are exact-integer
    iterations, hence the joint unrolled-CTE DuckDB oracle (two
    _pagerank_oracle_sql subqueries joined on id; both rank every node, so
    the inner join is total)."""
    from docprocai_service_spark.operators.graph import pagerank_fixed

    # one materialization feeds both variants (the 4-way scan+join edge
    # derivation would otherwise execute twice)
    edges = _tpch_entity_edges(spark, sf_dir).localCheckpoint()
    ppr = pagerank_fixed(edges, iters=6, checkpoint_every=3, seeds=_PPR_SEEDS)
    wpr = pagerank_fixed(
        edges.withColumn("w", F.lit(1)), iters=6, checkpoint_every=3, weight_col="w"
    )
    return ppr.select("id", F.col("rank").alias("ppr_rank")).join(
        wpr.select("id", F.col("rank").alias("w_rank")), "id"
    )


def link_predict_tpch(spark, sf_dir):
    """Common-neighbor link prediction over the TPC-H entity graph
    (operators/graph.common_neighbor_scores): non-adjacent pairs sharing
    >= 2 neighbors, with the apex-degree cap at 64 so high-degree hubs
    (suppliers/nations at bench scale) are excluded from evidence — the
    bounded-candidate-generation trade the operator documents. cn and
    floor-ppm Jaccard are pure integers, hence a full DuckDB oracle."""
    from docprocai_service_spark.operators.graph import common_neighbor_scores

    return common_neighbor_scores(
        _tpch_entity_edges(spark, sf_dir), min_common=2, max_apex_degree=64
    )


def triangle_counts_tpch(spark, sf_dir):
    """Per-node triangle counts over the TPC-H entity graph — local edge
    closure as a KG-quality feature (operators/graph.triangle_counts:
    degree-ordered orientation keeps the wedge join hub-safe; deterministic
    integer counting, hence a full DuckDB oracle via the canonical
    x<y<z triple-join)."""
    from docprocai_service_spark.operators.graph import triangle_counts

    return triangle_counts(_tpch_entity_edges(spark, sf_dir))


def bfs_distances_tpch(spark, sf_dir):
    """Multi-source BFS hop distances from the PPR seed cohort (S1, S2) over
    the TPC-H entity graph (operators/graph.bfs_distances) — the "how far
    from the curated seeds" proximity tier a KG pipeline attaches per
    entity. Exact set-algebra BFS, so a full DuckDB oracle: recursive CTE
    enumerating (node, pathlen <= 3) pairs with min(dist) = the BFS round of
    first discovery."""
    from docprocai_service_spark.operators.graph import bfs_distances

    return bfs_distances(_tpch_entity_edges(spark, sf_dir), seeds=_PPR_SEEDS, max_hops=3)


def label_propagation_tpch(spark, sf_dir):
    """Deterministic synchronous label propagation (4 rounds) over the
    TPC-H entity graph with edge multiplicity as corroboration weight
    (operators/graph.label_propagation) — the community pass the north-star
    pipeline names. Synchronous rounds + integer weight sums + total
    (score DESC, label ASC) tie order make the result a pure function of
    the edge set, hence the unrolled-CTE DuckDB oracle mirrors it
    round-for-round."""
    from docprocai_service_spark.operators.graph import label_propagation

    # cadence 2: half the lineage-truncation barrier jobs (same knob and
    # rationale as pagerank_tpch's cadence 3; r7 interleaved A/B at a scaled
    # sf1.0 twin: cad=2 won every paired round, 13.6 vs 17.6 s best-paired).
    # The labels — and hence the oracle hash — are cadence-independent.
    return label_propagation(
        _tpch_entity_edges(spark, sf_dir), iters=4, checkpoint_every=2
    )


def khop_reach_approx_tpch(spark, sf_dir):
    """Scale-safe k-hop neighborhood sizes via HLL sketches
    (operators/graph.khop_reach_counts_approx — VERDICT r4 #2: bounded
    memory at any k and hubbiness, where the exact operator materializes the
    reach-pair set). SELF-VERIFYING (VERDICT r4 #4): the sketch is not
    SQL-expressible, so each row is joined against the exact twin —
    `within_5pct` per node plus the constant `frac_within_5pct` — making the
    recorded rows the accuracy evidence."""
    from docprocai_service_spark.operators.graph import (
        khop_reach_counts,
        khop_reach_counts_approx,
    )

    edges = _tpch_entity_edges(spark, sf_dir)
    approx = khop_reach_counts_approx(edges, k=3)
    exact = khop_reach_counts(edges, k=3)
    j = approx.join(exact, "id").withColumn(
        "within_5pct",
        (F.abs(F.col("n_reach_approx") - F.col("n_reach")) / F.col("n_reach")) <= 0.05,
    ).localCheckpoint()  # exact BFS + sketch chain run once, not per consumer
    stats = j.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.col("within_5pct").cast("long")).alias("ok")
    ).first()
    frac = round(stats["ok"] / stats["n"], 4) if stats["n"] else 1.0
    return j.select(
        "id",
        "n_reach_approx",
        "n_reach",
        "within_5pct",
        F.lit(frac).alias("frac_within_5pct"),
    )


# =====================================================================
# Driver contract
# =====================================================================

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: reference-shaped semantic search over sf0.001 (C11)."""
    return semantic_search_docs(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q1_pricing_summary": q1_pricing_summary,
        "q3_shipping_priority": q3_shipping_priority,
        "q5_region_revenue": q5_region_revenue,
        "min_order_per_customer": min_order_per_customer,
        "customers_without_orders": customers_without_orders,
        "top3_orders_per_customer": top3_orders_per_customer,
        "event_sequences": event_sequences,
        "sessionize_events_dynamic": sessionize_events_dynamic,
        "events_daily_cube": events_daily_cube,
        "hourly_event_stats": hourly_event_stats,
        "brand_revenue_broadcast": brand_revenue_broadcast,
        "cosine_topk": cosine_topk,
        "semantic_search_docs": semantic_search_docs,
        "semantic_search_full": semantic_search_full,
        "tags_tfidf_docs": tags_tfidf_docs,
        "cosine_near_dup_pairs": cosine_near_dup_pairs,
        "cosine_near_dup_bucketed": cosine_near_dup_bucketed,
        "ann_topk_embeddings": ann_topk_embeddings,
        "exact_dedup_docs": exact_dedup_docs,
        "token_stats_docs": token_stats_docs,
        "lang_quality_docs": lang_quality_docs,
        "minhash_near_dup_docs": minhash_near_dup_docs,
        "simhash_near_dup_docs": simhash_near_dup_docs,
        "ngram_jaccard_docs": ngram_jaccard_docs,
        "winnow_fingerprint_docs": winnow_fingerprint_docs,
        "near_dup_groups_docs": near_dup_groups_docs,
        "contamination_docs": contamination_docs,
        "shard_assign_docs": shard_assign_docs,
        "ivf_topk_embeddings": ivf_topk_embeddings,
        "title_segments_docs": title_segments_docs,
        "kg_extract_docs": kg_extract_docs,
        "kg_triples_docs": kg_triples_docs,
        "kg_mentions_docs": kg_mentions_docs,
        "kg_linked_docs": kg_linked_docs,
        "kg_edges_docs": kg_edges_docs,
        "kg_pagerank_docs": kg_pagerank_docs,
        "kg_communities_docs": kg_communities_docs,
        "kg_components_docs": kg_components_docs,
        "kg_features_docs": kg_features_docs,
        "kg_bfs_docs": kg_bfs_docs,
        "kg_neighborhood_docs": kg_neighborhood_docs,
        "kg_entities_docs": kg_entities_docs,
        "khop_reach_tpch": khop_reach_tpch,
        "khop_reach_approx_tpch": khop_reach_approx_tpch,
        "pagerank_tpch": pagerank_tpch,
        "pagerank_variants_tpch": pagerank_variants_tpch,
        "triangle_counts_tpch": triangle_counts_tpch,
        "link_predict_tpch": link_predict_tpch,
        "bfs_distances_tpch": bfs_distances_tpch,
        "label_propagation_tpch": label_propagation_tpch,
    }


_REV = "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)"

_EN = r"\b(the|and|of|to|is|in|that|with)\b"
_DE = r"\b(der|die|das|und|ist|ein|mit|von)\b"
_FR = r"\b(le|la|les|et|est|un|une|dans)\b"
_TOKENS = r"CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\s+')) END"


# Distinct word-3-gram sets per document — the shared tokenization grammar of
# the dedup/Jaccard/contamination oracles (mirrors functions/hashing.py
# _shingle_list word mode: lower, whitespace-run split, n-grams space-joined,
# whole-text gram when ≤ 3 tokens, DISTINCT gram sets).
_GSETS_SQL = """
    toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0) AS tk
        FROM documents
    ),
    gsets AS (
        SELECT doc_id,
               CASE WHEN len(tk) = 0 THEN CAST([] AS VARCHAR[])
                    WHEN len(tk) <= 3 THEN [array_to_string(tk, ' ')]
                    ELSE list_distinct(list_transform(range(1, len(tk) - 1),
                         i -> concat_ws(' ', tk[i], tk[i + 1], tk[i + 2])))
               END AS gs
        FROM toks
    )
"""

# Exact word-3-gram Jaccard ≥ 0.5 over all doc pairs — the DuckDB twin of the
# LSH entries' verify step.
_NGRAM_JACCARD_PAIRS_SQL = f"""
    WITH {_GSETS_SQL},
    pairs AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2,
               CASE WHEN len(a.gs) = 0 AND len(b.gs) = 0 THEN 1.0
                    ELSE len(list_intersect(a.gs, b.gs)) * 1.0
                         / len(list_distinct(a.gs || b.gs))
               END AS j
        FROM gsets a JOIN gsets b ON a.doc_id < b.doc_id
    )
    SELECT id1, id2, ROUND(j, 4) AS jaccard FROM pairs WHERE j >= 0.5
"""


# DuckDB mirror of the FULL extraction -> sentence -> triple chain over the
# corpus constructed by _kg_pages_from_documents. Every Python regex is
# rewritten RE2-compatibly with identical semantics on this domain:
#   * the boilerplate backreference </\1> is expanded into four literal
#     alternatives;
#   * the sentence-split lookbehind (?<=[.!?])\s+ becomes a capture-and-
#     re-emit marker substitution (chr(1) cannot occur in the text);
#   * the <main>/<body> fallback chain uses regexp_matches guards so an
#     EMPTY successful match is taken, exactly like Python's re.search.
# Entity unescape: sequential replaces with &amp; LAST are equivalent to the
# one-pass table (replacements are never rescanned).
def duckdb_extract_sql(col: str) -> str:
    """DuckDB scalar expression mirroring functions/text.extract_text_str on
    `col` (string) — the same RE2-compatible rewrites the kg_*_docs oracles
    use, factored out so a hypothesis fuzz test can drive it against the
    Python extractor on arbitrary inputs (tests/test_fuzz_parity.py).
    Returns SQL yielding the extracted text or NULL."""
    dropped = (
        f"regexp_replace({col}, "
        r"'(?is)<script\b[^>]*>.*?</script>|<style\b[^>]*>.*?</style>|<!--.*?-->'"
        ", '', 'g')"
    )
    scoped = rf"""(
      SELECT CASE
        WHEN regexp_matches(s, '(?is)<main\b[^>]*>.*?</main>')
          THEN regexp_extract(s, '(?is)<main\b[^>]*>(.*?)</main>', 1)
        WHEN regexp_matches(s, '(?is)<main\b[^>]*>')
          THEN regexp_extract(s, '(?is)<main\b[^>]*>(.*)$', 1)
        WHEN regexp_matches(s, '(?is)<body\b[^>]*>.*?</body>')
          THEN regexp_extract(s, '(?is)<body\b[^>]*>(.*?)</body>', 1)
        WHEN regexp_matches(s, '(?is)<body\b[^>]*>')
          THEN regexp_extract(s, '(?is)<body\b[^>]*>(.*)$', 1)
        ELSE s END
      FROM (SELECT {dropped} AS s)
    )"""
    return rf"""nullif(
    trim(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            replace(replace(replace(replace(replace(replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(
                    regexp_replace({scoped},
                      '(?is)<nav\b[^>]*>.*?</nav>|<header\b[^>]*>.*?</header>|<footer\b[^>]*>.*?</footer>|<aside\b[^>]*>.*?</aside>',
                      '', 'g'),
                    '(?i)<br\s*/?>|</(p|div|li|ul|ol|h[1-6]|tr|table|section|article|blockquote)>',
                    chr(10), 'g'),
                  '(?s)<[^>]*>', '', 'g'),
                '<[^>]*$', '', 'g'),
              '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)), '&amp;', '&'),
            '[ \t\r\f\v]+', ' ', 'g'),
          '(?m)^[ ]+|[ ]+$', '', 'g'),
        '\n{{2,}}', chr(10), 'g'),
      chr(10)), '')"""


_KG_DOCS_ORACLE_BASE = r"""
WITH pages AS (
  SELECT doc_id, 'doc://' || doc_id AS url,
         CAST(1735689600 + doc_id AS BIGINT) * 1000000 AS ts_us,
         CASE WHEN doc_id % 13 = 0 THEN 'de' ELSE 'en' END AS lang,
         '<!DOCTYPE html><html><head><title>d' || doc_id || '</title><script>var x=1;</script>'
         || '<style>p{color:red}</style><!-- note <p>hidden</p> --></head><body>'
         || '<nav><ul><li>Home</li></ul></nav><header><h1>Doc ' || doc_id || '</h1></header>'
         || '<main>'
         || CASE WHEN doc_id % 23 = 0 THEN '' ELSE
              '<p>Acme ' || (doc_id % 17) || ' supplies Zeta &amp; Sons.</p>'
              || '<p>Beta Group acquired Gamma ' || (doc_id % 5)
              || '. Also Delta Labs is headquartered in City ' || (doc_id % 11) || '.</p>'
              || '<p>No predicate sentence here</p>'
              || '<div>Epsilon &lt;X&gt; invested in Omega ' || source || '</div>'
            END
         || CASE WHEN doc_id % 19 = 0 THEN '' ELSE '</main>' END
         || '<footer>&copy; 2025 example &amp; co</footer>'
         || CASE WHEN doc_id % 19 = 0 THEN '' ELSE '</body></html>' END AS html
  FROM documents
),
extracted AS (
  SELECT doc_id, url, ts_us, lang,
         """ + duckdb_extract_sql("html") + r""" AS text
  FROM pages
),
sents AS (
  SELECT doc_id, url, ts_us, u.s AS sentence, CAST(u.i - 1 AS INT) AS sent_no
  FROM (
    SELECT doc_id, url, ts_us,
           list_filter(
             string_split(
               regexp_replace(
                 regexp_replace(text, '([.!?])[ \t\r\n\f\v]+', '\1' || chr(1), 'g'),
                 '\n+', chr(1), 'g'),
               chr(1)),
             x -> x <> '') AS sl
    FROM extracted WHERE lang = 'en' AND text IS NOT NULL
  ) t, LATERAL (
    SELECT unnest(list_transform(sl, (x, i) -> struct_pack(s := x, i := i)), recursive := true)
  ) u(s, i)
),
triples AS (
  SELECT url, ts_us, sent_no,
         regexp_extract(sentence, '^(.+?) (__PRED__) (.+?)\.?$', 1) AS subj,
         regexp_extract(sentence, '^(.+?) (__PRED__) (.+?)\.?$', 2) AS pred,
         regexp_extract(sentence, '^(.+?) (__PRED__) (.+?)\.?$', 3) AS obj
  FROM sents
  WHERE regexp_matches(sentence, '^(.+?) (__PRED__) (.+?)\.?$')
),
mentions AS (
  SELECT sha256(url || '|' || ts_us || '|' || sent_no || '|' || rs.role || '|' || rs.surface) AS mention_id,
         url, sent_no, rs.surface AS surface, rs.role AS role
  FROM triples, LATERAL (
    SELECT unnest([struct_pack(role := 'subj', surface := subj),
                   struct_pack(role := 'obj',  surface := obj)], recursive := true)
  ) rs(role, surface)
)
""".replace(
    "__PRED__",
    "|".join(sorted(
        ["is headquartered in", "is located in", "partnered with", "invested in",
         "merged with", "acquired", "founded", "employs", "produces", "supplies",
         "owns", "sued"], key=len, reverse=True)),
)


def _kg_alias_values_sql() -> str:
    """The inline dictionary as a VALUES list, generated from the SAME rows
    the Spark side uses so the two can never drift."""
    return ", ".join(f"('{a}', '{e}', {p})" for a, e, p in _KG_ALIAS_ROWS)



def _kg_resolved_sql() -> str:
    """Shared oracle fragment for every graph-terminal kg_*_docs oracle:
    alias dict -> best link (max prior, ties -> min entity_id) -> canonical
    map (min entity_id per name) -> resolved (src_entity, dst_entity, pred)
    triples with NIL fallback. Appended directly after _KG_DOCS_ORACLE_BASE;
    keeping it in ONE place stops the resolution semantics from drifting
    between oracles (round-5 review finding)."""
    return f"""
            , alias_dict(alias, entity_id, prior) AS (VALUES {_kg_alias_values_sql()}),
            best AS (
              SELECT alias, entity_id FROM alias_dict
              QUALIFY row_number() OVER (PARTITION BY alias
                                         ORDER BY prior DESC, entity_id ASC) = 1
            ),
            names AS (SELECT entity_id, max(alias) AS name FROM alias_dict GROUP BY entity_id),
            canon AS (
              SELECT entity_id, min(entity_id) OVER (PARTITION BY name) AS canon_id
              FROM names
            ),
            resolved AS (
              SELECT coalesce(cs.canon_id, bs.entity_id,
                              'NIL:' || sha256(lower(t.subj))) AS src_entity,
                     coalesce(co.canon_id, bo.entity_id,
                              'NIL:' || sha256(lower(t.obj))) AS dst_entity,
                     t.pred
              FROM triples t
              LEFT JOIN best bs ON lower(t.subj) = bs.alias
              LEFT JOIN canon cs ON bs.entity_id = cs.entity_id
              LEFT JOIN best bo ON lower(t.obj) = bo.alias
              LEFT JOIN canon co ON bo.entity_id = co.entity_id
            ),
    """

def oracle_sql() -> dict[str, str]:
    return {
        "q1_pricing_summary": f"""
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                   {_REV} AS sum_disc_price,
                   COUNT(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q3_shipping_priority": f"""
            SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate, {_REV} AS revenue
            FROM customer, orders, lineitem
            WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
              AND o_orderdate < TIMESTAMP '1995-03-15' AND l_shipdate > TIMESTAMP '1995-03-15'
            GROUP BY l_orderkey, o_orderdate
            ORDER BY revenue DESC, l_orderkey LIMIT 10
        """,
        "q5_region_revenue": f"""
            SELECT n_name, {_REV} AS revenue
            FROM customer, orders, lineitem, supplier, nation, region
            WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
              AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey
              AND n_regionkey = r_regionkey AND r_name = 'ASIA'
            GROUP BY n_name
        """,
        "min_order_per_customer": """
            SELECT o_custkey, CAST(MIN(o_totalprice) AS DOUBLE) AS min_price, COUNT(*) AS n_orders
            FROM orders GROUP BY o_custkey
        """,
        "customers_without_orders": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "top3_orders_per_customer": """
            SELECT o_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS totalprice, rn
            FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                         CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                                            ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
                  FROM orders)
            WHERE rn <= 3
        """,
        "event_sequences": """
            SELECT user_id,
                   string_agg(event_type, ' ' ORDER BY event_type) AS type_seq,
                   string_agg(event_type, ' ' ORDER BY ts, event_id) AS transcript
            FROM events GROUP BY user_id
        """,
        "sessionize_events_dynamic": """
            WITH marked AS (
              SELECT user_id, ts, event_id,
                     CASE WHEN LAG(ts) OVER w IS NULL THEN 1
                          WHEN (1.0/(1.0 + abs(value - LAG(value) OVER w)) < 0.9)
                               AND (epoch(ts) - epoch(LAG(ts) OVER w) >= 15) THEN 1
                          ELSE 0 END AS new_sess
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            numbered AS (
              SELECT user_id, ts,
                     CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
              FROM marked
            )
            SELECT user_id, session_id, COUNT(*) AS n_events,
                   strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS start_ts,
                   strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS end_ts
            FROM numbered GROUP BY user_id, session_id
        """,
        "events_daily_cube": """
            SELECT strftime(ts, '%Y-%m-%d') AS d, event_type, COUNT(*) AS n
            FROM events GROUP BY CUBE (strftime(ts, '%Y-%m-%d'), event_type)
        """,
        "hourly_event_stats": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour, event_type,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "brand_revenue_broadcast": f"""
            SELECT p_brand, {_REV} AS revenue, COUNT(*) AS n_items
            FROM lineitem, part WHERE l_partkey = p_partkey GROUP BY p_brand
        """,
        "cosine_topk": """
            WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), (SELECT qv FROM q)), 4) AS score
            FROM embeddings
            ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), (SELECT qv FROM q)) DESC, vec_id
            LIMIT 10
        """,
        "semantic_search_docs": """
            WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
                 seg AS (
                   SELECT doc_id, source,
                          1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), (SELECT qv FROM q)) AS raw
                   FROM documents JOIN embeddings ON doc_id = vec_id
                   WHERE source IN ('src1','src2','src3','src4','src5'))
            SELECT doc_id, source, ROUND(raw, 4) AS score FROM seg
            WHERE raw > 0 ORDER BY raw ASC, doc_id LIMIT 15
        """,
        "semantic_search_full": """
            WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
                 seg AS (
                   SELECT CAST(doc_id AS VARCHAR) AS id, source AS parent_id,
                          CASE WHEN CAST(regexp_extract(source, '(\\d+)', 1) AS INT) < 7 THEN 'document'
                               WHEN CAST(regexp_extract(source, '(\\d+)', 1) AS INT) < 14 THEN 'video'
                               ELSE 'assessment' END AS source,
                          1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), (SELECT qv FROM q)) AS score
                   FROM documents JOIN embeddings ON doc_id = vec_id
                   WHERE source IN ('src1','src2','src3','src8','src9','src10','src15','src16','src17')
                     AND source <> 'src1'),
                 filtered AS (SELECT * FROM seg WHERE score > 0),
                 assess AS (
                   SELECT parent_id AS id, parent_id, 'assessment' AS source, MIN(score) AS score
                   FROM filtered WHERE source = 'assessment' GROUP BY parent_id),
                 rest AS (
                   SELECT id, parent_id, source, score FROM filtered WHERE source <> 'assessment')
            SELECT id, parent_id, source, ROUND(score, 4) AS score
            FROM (SELECT * FROM rest UNION ALL SELECT * FROM assess)
            ORDER BY score ASC, id ASC LIMIT 15
        """,
        "tags_tfidf_docs": """
            WITH toks AS (
              SELECT source, list_filter(string_split_regex(lower(trim(text)), '\\W+'),
                                         x -> x <> '') AS ws
              FROM documents WHERE text IS NOT NULL
            ),
            uni AS (SELECT source, unnest(ws) AS term FROM toks),
            bi AS (
              SELECT source, ws[i] || ' ' || ws[i+1] AS term
              FROM toks, LATERAL unnest(range(1, len(ws))) AS t(i)
              WHERE len(ws) >= 2
            ),
            tf AS (SELECT source AS "group", term, COUNT(*) AS tf
                   FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi) GROUP BY 1, 2),
            ft AS (SELECT term, SUM(tf) AS f_t FROM tf GROUP BY 1),
            a AS (SELECT AVG(n_terms) AS a FROM (SELECT "group", SUM(tf) AS n_terms FROM tf GROUP BY 1)),
            scored AS (
              SELECT tf."group", tf.term,
                     tf.tf * ln(1.0 + (SELECT a FROM a) / ft.f_t) AS score
              FROM tf JOIN ft USING (term))
            SELECT "group", term, rank, ROUND(score, 4) AS score
            FROM (SELECT "group", term, score,
                         CAST(ROW_NUMBER() OVER (PARTITION BY "group"
                                            ORDER BY score DESC, term) AS BIGINT) AS rank
                  FROM scored)
            WHERE rank <= 5
        """,
        "cosine_near_dup_pairs": """
            SELECT a.vec_id AS id1, b.vec_id AS id2,
                   ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                CAST(b.embedding AS DOUBLE[])), 4) AS cos_sim
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])) >= 0.4
        """,
        "exact_dedup_docs": """
            SELECT MIN(doc_id) AS doc_id, COUNT(*) AS group_size
            FROM documents GROUP BY text
        """,
        "token_stats_docs": f"""
            SELECT doc_id, CAST({_TOKENS} AS BIGINT) AS n_tokens,
                   CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
                       AS n_bpe_tokens,
                   md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
            FROM documents
        """,
        "lang_quality_docs": f"""
            SELECT doc_id,
                   CASE WHEN greatest(en, de, fr) <= 0 THEN 'und'
                        WHEN en = greatest(en, de, fr) THEN 'en'
                        WHEN de = greatest(en, de, fr) THEN 'de'
                        ELSE 'fr' END AS predicted_lang,
                   ROUND((len_ok + punct_ok + stop_ok + wlen_ok) / 4.0, 4) AS quality
            FROM (SELECT doc_id, de, fr, n_stop AS en,
                         CASE WHEN n_chars >= 200 AND n_chars <= 20000 THEN 1.0 ELSE 0.0 END AS len_ok,
                         CASE WHEN (CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 1.0 END) <= 0.2
                              THEN 1.0 ELSE 0.0 END AS punct_ok,
                         CASE WHEN (CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0.0 END) >= 0.01
                              THEN 1.0 ELSE 0.0 END AS stop_ok,
                         CASE WHEN (CASE WHEN n_tokens > 0 THEN n_chars / n_tokens ELSE 0.0 END) >= 3.0
                               AND (CASE WHEN n_tokens > 0 THEN n_chars / n_tokens ELSE 0.0 END) <= 12.0
                              THEN 1.0 ELSE 0.0 END AS wlen_ok
                  FROM (SELECT doc_id,
                               CAST(length(text) AS DOUBLE) AS n_chars,
                               CAST({_TOKENS} AS DOUBLE) AS n_tokens,
                               CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE) AS n_punct,
                               CAST(len(regexp_extract_all(lower(text), '{_EN}')) AS DOUBLE) AS n_stop,
                               CAST(len(regexp_extract_all(lower(text), '{_DE}')) AS DOUBLE) AS de,
                               CAST(len(regexp_extract_all(lower(text), '{_FR}')) AS DOUBLE) AS fr
                        FROM documents))
        """,
        # minhash_near_dup_docs / ngram_jaccard_docs: the VERIFIED pair set is
        # SQL-expressible (exact word-3-gram Jaccard ≥ 0.5 over a bounded
        # crossJoin); LSH pruning can only LOSE pairs, and the bands=32
        # entries make the miss probability ~1e-4 at the threshold, so set
        # equality holds on the test corpus and pins the verify UDF exactly.
        "minhash_near_dup_docs": _NGRAM_JACCARD_PAIRS_SQL,
        "ngram_jaccard_docs": _NGRAM_JACCARD_PAIRS_SQL,
        # near_dup_groups_docs: connected components of that pair set via a
        # recursive-CTE transitive closure — min reachable id per node,
        # singletons map to themselves. First full SQL oracle over the
        # components operator.
        "near_dup_groups_docs": f"""
            WITH RECURSIVE jac AS ({_NGRAM_JACCARD_PAIRS_SQL}),
            sym AS (
                SELECT id1 AS u, id2 AS v FROM jac
                UNION
                SELECT id2, id1 FROM jac
            ),
            reach(u, v) AS (
                SELECT u, v FROM sym
                UNION
                SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
            ),
            mins AS (SELECT u AS id, MIN(v) AS mv FROM reach GROUP BY u)
            SELECT d.doc_id,
                   CASE WHEN m.mv IS NULL OR d.doc_id < m.mv THEN d.doc_id
                        ELSE m.mv END AS group_id
            FROM documents d LEFT JOIN mins m ON m.id = d.doc_id
        """,
        # contamination_docs: exact distinct-gram intersection between every
        # corpus doc and the deterministic doc_id % 7 = 0 benchmark slice —
        # the same _GSETS_SQL grammar, so the oracle pins both the gram
        # construction and the match-count semantics.
        "contamination_docs": f"""
            WITH {_GSETS_SQL},
            bench AS (SELECT doc_id AS bench_id, gs FROM gsets WHERE doc_id % 7 = 0)
            SELECT c.doc_id, b.bench_id,
                   CAST(len(list_intersect(c.gs, b.gs)) AS BIGINT) AS n_common_grams
            FROM gsets c JOIN bench b ON c.doc_id <> b.bench_id
            WHERE len(list_intersect(c.gs, b.gs)) >= 3
        """,
        # shard_assign_docs: the md5-prefix arithmetic of
        # materialize.shard_assignment, mirrored digit-for-digit (DuckDB
        # parses '0x…' casts; both engines emit lowercase md5 hex).
        "shard_assign_docs": """
            SELECT doc_id,
                   CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                        % 16 AS INTEGER) AS shard
            FROM documents
        """,
        # The titling operator's packing/rewind cursor is deterministic and
        # order-defined per group, so it IS SQL-expressible as a recursive
        # CTE (same technique as the near_dup_groups transitive closure):
        # the recursion carries (start_rn, batch_no, tokens-consumed-before-
        # start); each step finds the budget-limited batch end j via the
        # group's token-prefix-sums, then advances by min(3, j-s+1) — the
        # stub titler's max_answers=3 rewind. Title = first 4 words, each
        # capitalize()d (upper first char + lower rest).
        "title_segments_docs": """
            WITH RECURSIVE
            rows_t AS (
              SELECT source AS grp, CAST(doc_id AS BIGINT) AS position,
                     coalesce(text, '') AS text,
                     row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
              FROM documents
            ),
            cost_t AS (
              SELECT *, array_length(regexp_split_to_array(trim(text), '\\s+')) AS cost
              FROM rows_t
            ),
            cum AS (
              SELECT *, sum(cost) OVER (PARTITION BY grp ORDER BY rn) AS cumc,
                     count(*) OVER (PARTITION BY grp) AS n
              FROM cost_t
            ),
            batches AS (
              SELECT grp, 1 AS s, 0 AS b, CAST(0 AS HUGEINT) AS base, n
              FROM cum WHERE rn = 1
              UNION ALL
              SELECT x.grp,
                     x.s + least(3, x.j - x.s + 1) AS s,
                     x.b + 1 AS b,
                     (SELECT cumc FROM cum c WHERE c.grp = x.grp
                       AND c.rn = x.s + least(3, x.j - x.s + 1) - 1) AS base,
                     x.n
              FROM (
                SELECT bt.grp, bt.s, bt.b, bt.n, bt.base,
                       (SELECT max(c.rn) FROM cum c
                         WHERE c.grp = bt.grp AND c.rn >= bt.s
                           AND (c.rn = bt.s OR c.cumc <= 256 + bt.base)) AS j
                FROM batches bt
              ) x
              WHERE x.s + least(3, x.j - x.s + 1) <= x.n
            ),
            assign AS (
              SELECT bt.grp, bt.s, bt.b,
                     (SELECT max(c.rn) FROM cum c
                       WHERE c.grp = bt.grp AND c.rn >= bt.s
                         AND (c.rn = bt.s OR c.cumc <= 256 + bt.base)) AS j
              FROM batches bt
            )
            SELECT r.grp AS "group", r.position,
                   CASE WHEN trim(r.text) = '' THEN '(untitled)'
                        ELSE array_to_string(
                          list_transform(regexp_split_to_array(trim(r.text), '\\s+')[1:4],
                                         w -> upper(w[1]) || lower(w[2:])), ' ')
                   END AS title,
                   CAST(a.b AS INT) AS batch_no
            FROM cum r
            JOIN assign a
              ON a.grp = r.grp AND r.rn >= a.s AND r.rn < a.s + least(3, a.j - a.s + 1)
        """,
        "kg_extract_docs": _KG_DOCS_ORACLE_BASE + """
            SELECT url, lang, text FROM extracted
        """,
        "kg_triples_docs": _KG_DOCS_ORACLE_BASE + """
            SELECT url, sent_no, subj, pred, obj FROM triples
        """,
        "kg_mentions_docs": _KG_DOCS_ORACLE_BASE + """
            SELECT mention_id, url, sent_no, surface, role FROM mentions
        """,
        "kg_linked_docs": _KG_DOCS_ORACLE_BASE + f"""
            , alias_dict(alias, entity_id, prior) AS (VALUES {_kg_alias_values_sql()}),
            best AS (
              SELECT alias, entity_id, prior FROM alias_dict
              QUALIFY row_number() OVER (PARTITION BY alias
                                         ORDER BY prior DESC, entity_id ASC) = 1
            )
            SELECT m.mention_id, m.surface, b.entity_id,
                   round(CAST(b.prior AS DOUBLE), 6) AS link_score
            FROM mentions m LEFT JOIN best b ON lower(m.surface) = b.alias
        """,
        "khop_reach_tpch": """
            WITH e AS (
              SELECT 'S' || l_suppkey AS src, 'C' || o_custkey AS dst
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              UNION
              SELECT 'C' || c_custkey, 'N' || c_nationkey FROM customer
              UNION
              SELECT 'S' || s_suppkey, 'N' || s_nationkey FROM supplier
              UNION
              SELECT 'N' || n_nationkey, 'R' || n_regionkey FROM nation
            ),
            r1 AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
            r2 AS (
              SELECT src, dst FROM r1
              UNION
              SELECT r1.src, e2.dst FROM r1 JOIN r1 e2 ON r1.dst = e2.src
              WHERE r1.src <> e2.dst
            ),
            r3 AS (
              SELECT src, dst FROM r2
              UNION
              SELECT r2.src, e2.dst FROM r2 JOIN r1 e2 ON r2.dst = e2.src
              WHERE r2.src <> e2.dst
            )
            SELECT src AS id, CAST(count(*) AS BIGINT) AS n_reach
            FROM r3 GROUP BY src
        """,
        "link_predict_tpch": """
            WITH e AS (
              SELECT 'S' || l_suppkey AS src, 'C' || o_custkey AS dst
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              UNION
              SELECT 'C' || c_custkey, 'N' || c_nationkey FROM customer
              UNION
              SELECT 'S' || s_suppkey, 'N' || s_nationkey FROM supplier
              UNION
              SELECT 'N' || n_nationkey, 'R' || n_regionkey FROM nation
            ),
            und AS (
              SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
              FROM e WHERE src <> dst
            ),
            deg AS (
              SELECT n, CAST(count(*) AS BIGINT) AS d
              FROM (SELECT a AS n FROM und UNION ALL SELECT b FROM und)
              GROUP BY n
            ),
            nbr AS (
              SELECT a AS w, b AS n FROM und UNION ALL SELECT b, a FROM und
            ),
            small AS (
              SELECT nbr.w, nbr.n FROM nbr JOIN deg ON deg.n = nbr.w
              WHERE deg.d <= 64
            ),
            pairs AS (
              SELECT x.n AS u, y.n AS v, CAST(count(*) AS BIGINT) AS cn
              FROM small x JOIN small y ON x.w = y.w AND x.n < y.n
              GROUP BY x.n, y.n
              HAVING count(*) >= 2
            ),
            cand AS (
              SELECT p.* FROM pairs p
              ANTI JOIN und ON p.u = und.a AND p.v = und.b
            )
            SELECT c.u, c.v, c.cn,
                   CAST((1000000 * c.cn) // (du.d + dv.d - c.cn) AS BIGINT)
                     AS jaccard_ppm
            FROM cand c JOIN deg du ON du.n = c.u JOIN deg dv ON dv.n = c.v
        """,
        "triangle_counts_tpch": """
            WITH e AS (
              SELECT 'S' || l_suppkey AS src, 'C' || o_custkey AS dst
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              UNION
              SELECT 'C' || c_custkey, 'N' || c_nationkey FROM customer
              UNION
              SELECT 'S' || s_suppkey, 'N' || s_nationkey FROM supplier
              UNION
              SELECT 'N' || n_nationkey, 'R' || n_regionkey FROM nation
            ),
            und AS (
              SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
              FROM e WHERE src <> dst
            ),
            tri AS (
              SELECT e1.a AS x, e1.b AS y, e2.b AS z
              FROM und e1
              JOIN und e2 ON e1.b = e2.a
              JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
            ),
            member AS (
              SELECT x AS id FROM tri
              UNION ALL SELECT y FROM tri
              UNION ALL SELECT z FROM tri
            ),
            nodes AS (SELECT a AS id FROM und UNION SELECT b FROM und)
            SELECT n.id, CAST(coalesce(m.c, 0) AS BIGINT) AS n_triangles
            FROM nodes n LEFT JOIN (SELECT id, count(*) AS c FROM member GROUP BY id) m
              USING (id)
        """,
        "kg_edges_docs": _KG_DOCS_ORACLE_BASE + _kg_resolved_sql() + """
            edges_agg AS (
              SELECT src_entity, dst_entity, pred,
                     CAST(count(*) AS BIGINT) AS weight
              FROM resolved GROUP BY src_entity, dst_entity, pred
            )
            SELECT * FROM edges_agg
        """,
        "kg_pagerank_docs": _KG_DOCS_ORACLE_BASE + _kg_resolved_sql() + f"""

            e AS (
              SELECT src_entity AS src, dst_entity AS dst,
                     CAST(count(*) AS BIGINT) AS w
              FROM resolved GROUP BY src_entity, dst_entity
            ),
        """ + _pagerank_blocks_sql(4, 85, None, True),
        "kg_features_docs": _KG_DOCS_ORACLE_BASE + _kg_resolved_sql() + f"""

            e AS (
              SELECT src_entity AS src, dst_entity AS dst,
                     CAST(count(*) AS BIGINT) AS w
              FROM resolved GROUP BY src_entity, dst_entity
            ),
            und AS (
              SELECT least(src_entity, dst_entity) AS a,
                     greatest(src_entity, dst_entity) AS b,
                     CAST(count(*) AS BIGINT) AS w
              FROM resolved WHERE src_entity <> dst_entity GROUP BY 1, 2
            ),
        """ + _pagerank_blocks_sql(4, 85, None, True, final_select=False) + ","
        + _lpa_blocks_sql(4, final_select=False) + """
            SELECT pr.id AS entity_id, pr.rank,
                   coalesce(l.label, pr.id) AS community
            FROM pr4 pr LEFT JOIN l4 l ON pr.id = l.id
        """,
        "kg_communities_docs": _KG_DOCS_ORACLE_BASE + _kg_resolved_sql() + f"""

            und AS (
              SELECT least(src_entity, dst_entity) AS a,
                     greatest(src_entity, dst_entity) AS b,
                     CAST(count(*) AS BIGINT) AS w
              FROM resolved WHERE src_entity <> dst_entity GROUP BY 1, 2
            ),
        """ + _lpa_blocks_sql(4),
        "kg_bfs_docs": _KG_DOCS_ORACLE_BASE.replace(
            "WITH ", "WITH RECURSIVE ", 1
        ) + _kg_resolved_sql() + """
            es AS (
              SELECT DISTINCT src_entity AS src, dst_entity AS dst
              FROM resolved
            ),
            walk(id, dist) AS (
              SELECT * FROM (VALUES ('E000', 0), ('E103', 0)) v(id, dist)
              UNION
              SELECT es.dst, walk.dist + 1
              FROM walk JOIN es ON walk.id = es.src
              WHERE walk.dist < 3
            )
            SELECT id, CAST(min(dist) AS INTEGER) AS dist
            FROM walk GROUP BY id
        """,
        "kg_components_docs": _KG_DOCS_ORACLE_BASE.replace(
            "WITH ", "WITH RECURSIVE ", 1
        ) + _kg_resolved_sql() + f"""
            -- explicit DISTINCT subqueries: under WITH RECURSIVE, DuckDB
            -- 1.0 evaluates a non-recursive CTE's UNION as UNION ALL
            sym AS (
              SELECT DISTINCT u, v FROM (
                SELECT src_entity AS u, dst_entity AS v FROM resolved
                WHERE src_entity <> dst_entity
                UNION ALL
                SELECT dst_entity, src_entity FROM resolved
                WHERE src_entity <> dst_entity
              )
            ),
            reach(u, v) AS (
              SELECT u, v FROM sym
              UNION
              SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
            ),
            mins AS (SELECT u AS id, MIN(v) AS mv FROM reach GROUP BY u),
            vx AS (
              SELECT DISTINCT id FROM (
                SELECT src_entity AS id FROM resolved
                UNION ALL
                SELECT dst_entity FROM resolved
              )
            )
            SELECT vx.id,
                   CASE WHEN m.mv IS NULL OR vx.id < m.mv THEN vx.id
                        ELSE m.mv END AS comp
            FROM vx LEFT JOIN mins m USING (id)
        """,
        "kg_neighborhood_docs": _KG_DOCS_ORACLE_BASE + _kg_resolved_sql() + f"""

            edges_agg AS (
              SELECT src_entity, dst_entity, pred, CAST(count(*) AS BIGINT) AS weight
              FROM resolved GROUP BY src_entity, dst_entity, pred
            ),
            seeds(id) AS (VALUES ('E000'), ('E103')),
            h1 AS (
              SELECT e.src_entity, e.dst_entity, e.pred, e.weight,
                     CAST(1 AS INTEGER) AS hop
              FROM edges_agg e JOIN seeds s ON e.src_entity = s.id
            ),
            f1 AS (
              SELECT DISTINCT dst_entity AS id FROM h1
              WHERE dst_entity NOT IN (SELECT id FROM seeds)
            ),
            h2 AS (
              SELECT e.src_entity, e.dst_entity, e.pred, e.weight,
                     CAST(2 AS INTEGER) AS hop
              FROM edges_agg e JOIN f1 ON e.src_entity = f1.id
            )
            SELECT * FROM h1 UNION ALL SELECT * FROM h2
        """,
        "kg_entities_docs": f"""
            WITH alias_dict(alias, entity_id, prior) AS (VALUES {_kg_alias_values_sql()}),
            names AS (SELECT entity_id, max(alias) AS name FROM alias_dict GROUP BY entity_id),
            canon AS (
              SELECT entity_id, name,
                     min(entity_id) OVER (PARTITION BY name) AS canon_id
              FROM names
            )
            SELECT canon_id AS entity_id,
                   arg_min(name, entity_id) AS canonical_name,
                   CAST(count(*) AS BIGINT) AS member_count
            FROM canon GROUP BY canon_id
        """,
        "pagerank_tpch": _pagerank_oracle_sql(iters=6),
        # Joint ppr+weighted oracle: each variant's full unrolled-CTE query
        # becomes a derived table (DuckDB allows WITH inside a subquery);
        # both rank every node, so the inner join on id is total.
        "pagerank_variants_tpch": f"""
            SELECT p.id, p.rank AS ppr_rank, w.rank AS w_rank
            FROM ({_pagerank_oracle_sql(iters=6, seeds=_PPR_SEEDS)}) p
            JOIN ({_pagerank_oracle_sql(iters=6, weighted=True)}) w ON p.id = w.id
        """,
        "bfs_distances_tpch": _bfs_oracle_sql(seeds=_PPR_SEEDS, max_hops=3),
        "label_propagation_tpch": _lpa_oracle_sql(iters=4),
        # simhash_near_dup_docs, ann_topk_embeddings, ivf_topk_embeddings,
        # winnow_fingerprint_docs, cosine_near_dup_bucketed,
        # khop_reach_approx_tpch: genuinely non-SQL-expressible (LSH banding,
        # pandas-UDF / HLL sketches) — each is SELF-VERIFYING since round 5:
        # its result rows carry a recall/planted-truth column computed
        # against the exact twin, so the driver's rows check records the
        # evidence. Their SEMANTICS are additionally oracle-checked via the
        # exact twins above (same operators, exact configuration).
    }
