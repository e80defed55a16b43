"""Physical-plan assertions: the optimizations we claim must be visible in
EXPLAIN output — filter/column pushdown into the parquet scan, broadcast
joins where intended, no shuffle in narrow stages, TakeOrdered for top-k."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def plan_str(df) -> str:
    try:
        return _plan(df)
    except Exception:
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()


def test_parquet_filter_and_column_pushdown(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") <= "1998-09-02").select("l_orderkey", "l_quantity")
    p = plan_str(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # column pruning: scan reads only the 3 referenced columns
    assert "l_extendedprice" not in p.split("ReadSchema")[1].splitlines()[0]


def test_linking_is_broadcast_join_no_bigside_shuffle(spark, spark_corpus):
    from docprocai_service_spark.operators.extract import extract_stage
    from docprocai_service_spark.operators.linking import link_mentions
    from docprocai_service_spark.operators.triples import mentions_stage, triples_stage

    pages, alias = spark_corpus
    m = mentions_stage(triples_stage(extract_stage(pages)))
    linked = link_mentions(m, alias)
    p = plan_str(linked)
    assert "BroadcastHashJoin" in p
    # the mention stream must NOT shuffle: the only Exchange is the broadcast
    assert "Exchange hashpartitioning" not in p


def test_extract_stage_is_narrow(spark, spark_corpus):
    from docprocai_service_spark.operators.extract import extract_stage

    pages, _ = spark_corpus
    p = plan_str(extract_stage(pages))
    assert "Exchange" not in p  # pure map stage: scan -> ArrowEvalPython -> project


def test_topk_plans_take_ordered(spark):
    e = spark.read.parquet(f"{SF_DIR}/events.parquet")
    q = e.orderBy(F.desc("value")).limit(5)
    assert "TakeOrderedAndProject" in plan_str(q)


def test_ivf_probe_prunes_partitions(spark, tmp_path):
    """VERDICT r2 #8: ivf_topk over a list_id-partitioned index must turn the
    nprobe IN-list into a PARTITION filter — the scan reads only the probed
    lists' files, not the whole index."""
    import numpy as np

    from docprocai_service_spark.operators.similarity import (
        ivf_assign,
        ivf_read_index,
        ivf_topk,
        ivf_train_centroids,
        ivf_write_index,
    )

    rng = np.random.default_rng(3)
    rows = [(f"v{i:03d}", [float(x) for x in rng.normal(size=8)]) for i in range(200)]
    vecs = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    cent = ivf_train_centroids(vecs, dim=8, n_lists=8, sample_rows=200, iters=5)
    idx_path = str(tmp_path / "ivf_idx")
    ivf_write_index(ivf_assign(vecs, cent), idx_path)
    assigned = ivf_read_index(spark, idx_path)
    q = ivf_topk(assigned, cent, query=[1.0] * 8, k=5, nprobe=2)
    p = plan_str(q)
    scan = p.split("PartitionFilters")[1].splitlines()[0]
    assert "list_id" in scan and ("IN" in scan or "in(" in scan.lower())
    # and the pruned scan really reads fewer partitions than exist
    executed = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: []" not in executed
    # correctness unchanged by the partitioned layout
    got = [r["vec_id"] for r in q.collect()]
    assert len(got) == 5


def test_triple_stage_evaluates_extract_udf_once(spark, spark_corpus):
    """The store-mode parse chain crosses into Python exactly twice: the
    extract UDF and the triple kernel's mapInPandas. Guards against Catalyst
    pushing a predicate through the extract projection and silently
    evaluating the (expensive) UDF twice per page."""
    from docprocai_service_spark.operators.extract import extract_stage
    from docprocai_service_spark.operators.triples import triples_stage

    pages, _ = spark_corpus
    executed = triples_stage(extract_stage(pages))._jdf.queryExecution().executedPlan().toString()
    assert executed.count("ArrowEvalPython") == 1
    assert executed.count("MapInPandas") == 1
    assert "BatchEvalPython" not in executed  # no row-at-a-time Python UDFs anywhere


def test_kg_docs_chain_single_python_boundary(spark):
    """The SQL-constructed kg_*_docs oracle twins must keep the production
    plan shape: exactly ONE Python boundary (the fused mapInPandas parse),
    zero row-at-a-time UDFs, and broadcast linking (no shuffle of the
    mention stream)."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry

    linked = entry.kg_linked_docs(spark, "/root/testdata/sf0.001")
    p = linked._jdf.queryExecution().executedPlan().toString()
    assert p.count("MapInPandas") == 1  # fused extract+split+parse, once
    assert "BatchEvalPython" not in p
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p


def test_khop_approx_is_pure_jvm(spark):
    """The HLL counts path must stay entirely JVM-side — no Python boundary
    anywhere in its plan (the sketch agg/union/estimate are Catalyst
    expressions), so its per-round cost is one join + one hash agg in
    codegen just like a PageRank iteration."""
    from docprocai_service_spark.operators.graph import khop_reach_counts_approx

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")], "src string, dst string"
    )
    out = khop_reach_counts_approx(edges, k=2)
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in p and "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # sanity: it actually computes
    assert out.count() == 3


def test_out_neighborhood_scan_prunes_buckets(spark, tmp_path):
    """out_neighborhood's per-hop scan over the bucket-partitioned edges
    table must push the frontier's bucket set as a PARTITION filter — the
    read-side payoff the bucket(src_entity) layout exists for. One seed
    touches exactly one of the 16 bucket dirs; the scan must not list the
    other 15."""
    from docprocai_service_spark.operators.materialize import pruned_edge_scan
    from docprocai_service_spark.sources.manifest import write_bucketed

    rows = [(f"e{i}", f"e{(i * 7) % 50}", "rel", 1) for i in range(200)]
    df = spark.createDataFrame(
        rows, "src_entity string, dst_entity string, pred string, weight long"
    )
    path = str(tmp_path / "edges_bucketed")
    write_bucketed(df, path, "src_entity")

    scan = pruned_edge_scan(spark, path, ["e1"])
    p = plan_str(scan)
    pf = p.split("PartitionFilters")[1].splitlines()[0]
    # single-element frontier folds the IN-list to an equality — either form
    # is a real partition filter on the bucket column
    assert "__bucket" in pf and ("IN" in pf or "in(" in pf.lower() or "= 0" in pf or "=" in pf)
    executed = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: []" not in executed
    # correctness of the pruned read: exactly e1's out-edges
    assert [(r.src_entity, r.dst_entity) for r in scan.collect()] == [("e1", "e7")]


def test_contamination_corpus_never_shuffles_before_match_agg(spark):
    """Round-7 plan contract (tightened from round 6): the benchmark gram
    table broadcasts, and the ONLY hashpartitioning Exchange is the
    small-input spread of the raw corpus by doc id — which the explode and
    broadcast probe PRESERVE, so the (doc, bench) match-count aggregation
    itself runs with NO exchange at all (the round-6 plan still shuffled
    every matched pair into the agg; the exploded/matched gram stream now
    never shuffles)."""
    import __spark_entry__ as E

    plan = plan_str(E.queries()["contamination_docs"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    hash_exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln or ("Arguments: hashpartitioning" in ln)
    ]
    assert len(hash_exchanges) <= 1, hash_exchanges
    # and that one exchange is the doc-id spread of the corpus, NOT the agg:
    # it carries the doc id, never the exploded gram or the bench id
    for ln in hash_exchanges:
        assert "bench_id" not in ln and "gram" not in ln, ln


def test_export_shards_single_shuffle_plan(spark):
    """The export's write plan is one hash-partition Exchange on the shard
    column plus an in-partition sort — nothing else moves."""
    from docprocai_service_spark.operators.materialize import shard_assignment

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = (
        d.withColumn("shard", shard_assignment(F.col("doc_id"), 8))
        .repartition(8, F.col("shard"))
        .sortWithinPartitions("shard", "doc_id")
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "hashpartitioning(shard" in plan
    # local (per-partition) sort, no global ordering shuffle
    assert "Sort [shard" in plan and "], false," in plan


def test_similarity_exact_verify_single_udf_evaluation(spark):
    """The exact-Jaccard verify UDF must appear ONCE in the plan (r7, guide
    §4.4): the ≥-threshold filter references the UDF column, and without the
    asNondeterministic marker filter pushdown duplicated the evaluation into
    two ArrowEvalPython nodes — every candidate pair paid the Python
    boundary and the set algebra twice."""
    from docprocai_service_spark.operators.dedup import minhash_near_dup_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = minhash_near_dup_pairs(docs, threshold=0.8, shingle="word", n=3)
    executed = df._jdf.queryExecution().executedPlan().toString()
    # one node per line in the executed-plan tree: count the ArrowEvalPython
    # node lines whose UDF list carries jaccard_udf
    jac_nodes = re.findall(r"^.*\bArrowEvalPython \[.*\bjaccard_udf\(.*$", executed, re.M)
    assert len(jac_nodes) == 1, f"expected 1 jaccard ArrowEvalPython, got {len(jac_nodes)}"


@pytest.mark.parametrize("splits", [1, 8])
def test_small_input_spread_guard_repartitions_only_single_split_input(spark, splits):
    """The `min(par, 8)` spread guard in contamination_pairs and term_counts
    adds its repartition Exchange only to an input with fewer scan splits than
    that; a multi-split input plans no repartition. (Plan-required shuffles,
    e.g. the tf aggregation's, are ENSURE_REQUIREMENTS exchanges and are not
    counted.)"""
    from docprocai_service_spark.operators.contamination import contamination_pairs
    from docprocai_service_spark.operators.tags import term_counts

    assert spark.sparkContext.defaultParallelism >= 8
    docs = spark.range(0, 64, numPartitions=splits).select(
        F.col("id").alias("doc_id"), F.lit("x").alias("source"),
        F.concat(F.lit("the quick brown fox "), F.col("id").cast("string")).alias("text"),
    )
    bench = spark.range(0, 4, numPartitions=splits).select(
        F.col("id").alias("bench_id"), F.lit("the quick brown fox").alias("text"),
    )
    spreads = {
        "contamination": plan_str(contamination_pairs(docs, bench)).count("REPARTITION_BY_NUM"),
        "tags": plan_str(term_counts(docs)).count("REPARTITION_BY_NUM"),
    }
    # single split: the corpus and the benchmark side are each spread once
    want = {"contamination": 2, "tags": 1} if splits == 1 else {"contamination": 0, "tags": 0}
    assert spreads == want
