"""End-to-end pipeline: goldens, resume correctness, kill-and-resume, lineage."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from docprocai_service_spark.plans.pipeline import run_pipeline
from docprocai_service_spark.sources.manifest import StageStore
from docprocai_service_spark.streaming.incremental import incremental_ingest


_STORE_STAGES = ["extracted", "triples", "mentions", "linked", "canon_map", "edges", "entities"]


def _edges_key(df):
    return sorted(map(tuple, df.select("src_entity", "dst_entity", "pred", "weight").collect()))


def _assert_one_store_layout(spark, store):
    """The layout every path must leave behind: `edges` in ≤16 `__bucket=`
    dirs and nothing else, `entities` unpartitioned, and a point scan of the
    edges stage pruned by a real `__bucket` partition filter that returns
    the same rows as an unpruned filter."""
    import os
    import re

    from docprocai_service_spark.operators.materialize import pruned_edge_scan

    def subdirs(stage):
        return [e.name for e in os.scandir(store.path(stage)) if e.is_dir()]

    edge_dirs = subdirs("edges")
    assert edge_dirs and all(d.startswith("__bucket=") for d in edge_dirs), edge_dirs
    assert len(edge_dirs) <= 16
    assert subdirs("entities") == []
    src = store.read("edges").first()["src_entity"]
    scan = pruned_edge_scan(spark, store.path("edges"), [src])
    plan = scan._jdf.queryExecution().executedPlan().toString()
    filters = re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)
    assert "__bucket" in filters, plan
    cols = ["src_entity", "dst_entity", "pred", "weight"]
    unpruned = spark.read.parquet(store.path("edges")).where(F.col("src_entity") == src)
    assert sorted(map(tuple, scan.collect())) == sorted(
        map(tuple, unpruned.select(*cols).collect())
    )


def _files(path):
    """{relative file path: mtime_ns} of every file under `path`."""
    import os

    return {
        os.path.relpath(os.path.join(d, f), path): os.stat(os.path.join(d, f)).st_mtime_ns
        for d, _, names in os.walk(path) for f in names
    }


@pytest.fixture(scope="module")
def pipe_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("pipe")
    yield str(d)
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def first_run(spark, spark_corpus, pipe_dir):
    """Eagerly collected snapshot — later runs overwrite the stage parquet, so
    lazily-held DataFrames from this run would see stale file listings."""
    pages, alias = spark_corpus
    r = run_pipeline(spark, pages, alias, out_dir=pipe_dir)
    return {
        "metrics": r.metrics,
        "edges_key": _edges_key(r.edges),
        "n_edges": r.edges.count(),
        "n_entities": r.entities.count(),
        "lineage_stages": {x["stage"] for x in r.lineage.select("stage").distinct().collect()},
        "lineage_bad": r.lineage.filter(F.col("rows_out") < 0).count(),
    }


def test_pipeline_produces_output(first_run):
    assert first_run["metrics"]["n_triples"] > 1000
    assert first_run["n_edges"] > 0
    assert first_run["n_entities"] > 0


def test_resume_is_byte_identical_and_skips_stages(spark, spark_corpus, pipe_dir, first_run):
    pages, alias = spark_corpus
    r2 = run_pipeline(spark, pages, alias, out_dir=pipe_dir)
    assert all(r2.metrics.get(f"{s}_resumed") for s in ["extracted", "triples", "mentions", "linked", "canon_map", "edges", "entities"])
    assert first_run["edges_key"] == _edges_key(r2.edges)


def test_kill_and_resume_reruns_only_missing_stage(spark, spark_corpus, pipe_dir, first_run):
    """FIXTURES.md F6: delete one stage manifest → only that stage and its
    dependents are recommitted; outputs converge to identical rows. A stage
    counts as resumed when the call left its committed manifest alone."""
    pages, alias = spark_corpus
    store = StageStore(spark, pipe_dir)
    store.invalidate("canon_map")  # simulates torn write (no _SUCCESS)
    assert not store.is_done("canon_map")
    r3 = run_pipeline(spark, pages, alias, out_dir=pipe_dir)
    # upstream of the map untouched
    assert all(r3.metrics[f"{s}_resumed"] for s in ["extracted", "triples", "mentions"])
    # the map, and everything keyed by it, recommitted
    assert not any(
        r3.metrics[f"{s}_resumed"] for s in ["canon_map", "linked", "edges", "entities"]
    )
    assert first_run["edges_key"] == _edges_key(r3.edges)


def test_lineage_rows_cover_all_stages(first_run):
    assert {"extracted", "triples", "mentions", "linked", "canon_map", "edges", "entities"} <= first_run["lineage_stages"]
    assert first_run["lineage_bad"] == 0


def test_failed_observation_probe_is_logged_and_counted(spark, caplog):
    """A failing observe() probe falls back to count(), and says so once."""
    import logging

    from docprocai_service_spark.plans import pipeline

    class BrokenObservation:
        @property
        def _jo(self):
            raise RuntimeError("observation internals unavailable")

    triples = spark.range(7)
    r = pipeline.PipelineResult(
        *([triples] * 7), lineage=None, triples_obs=BrokenObservation()
    )
    with caplog.at_level(logging.WARNING, logger=pipeline.__name__):
        assert r.n_triples() == triples.count()
    warnings = [x for x in caplog.records if x.levelno == logging.WARNING]
    assert len(warnings) == 1
    assert "observation probe failed" in warnings[0].getMessage()


def test_out_neighborhood_matches_driver_bfs(spark, pipe_dir, first_run):
    """Point query over the materialized bucket-partitioned edges table must
    equal a driver-side BFS over the full edge list: same edge set, same
    first-reached hop attribution, each src expanded exactly once."""
    import os

    from docprocai_service_spark.operators.materialize import out_neighborhood

    edges_path = os.path.join(pipe_dir, "edges")
    rows = spark.read.parquet(edges_path).select(
        "src_entity", "dst_entity", "pred", "weight"
    ).collect()
    adj: dict[str, list] = {}
    for r in rows:
        adj.setdefault(r.src_entity, []).append(r)
    # seeds with real out-degree so two hops exercise the frontier loop
    seeds = sorted(adj)[:3]

    expected: dict[tuple, tuple] = {}
    frontier, visited = set(seeds), set()
    for hop in (1, 2):
        nxt: set[str] = set()
        for s in frontier:
            for e in adj.get(s, []):
                expected[(e.src_entity, e.dst_entity, e.pred)] = (e.weight, hop)
                nxt.add(e.dst_entity)
        visited |= frontier
        frontier = nxt - visited

    got = out_neighborhood(spark, edges_path, seeds, hops=2)
    got_rows = {
        (r.src_entity, r.dst_entity, r.pred): (r.weight, r.hop) for r in got.collect()
    }
    assert got_rows == expected
    assert got.count() == len(got_rows)  # no duplicate edges across hops


def test_in_neighborhood_reverse_bfs_over_dst_twin(spark, pipe_dir, first_run, tmp_path):
    """Reverse point query: materialize the dst-bucketed twin once, then an
    in-neighborhood walk must equal a driver BFS over reversed edges."""
    import os

    from docprocai_service_spark.operators.materialize import (
        in_neighborhood,
        write_edges_by_dst,
    )

    edges_path = os.path.join(pipe_dir, "edges")
    twin_path = str(tmp_path / "edges_by_dst")
    write_edges_by_dst(spark.read.parquet(edges_path), twin_path)

    rows = spark.read.parquet(edges_path).select(
        "src_entity", "dst_entity", "pred", "weight"
    ).collect()
    radj: dict[str, list] = {}
    for r in rows:
        radj.setdefault(r.dst_entity, []).append(r)
    seeds = sorted(radj)[:3]

    expected: dict[tuple, tuple] = {}
    frontier, visited = set(seeds), set()
    for hop in (1, 2):
        nxt: set[str] = set()
        for s in frontier:
            for e in radj.get(s, []):
                expected[(e.src_entity, e.dst_entity, e.pred)] = (e.weight, hop)
                nxt.add(e.src_entity)
        visited |= frontier
        frontier = nxt - visited

    got = in_neighborhood(spark, twin_path, seeds, hops=2)
    got_rows = {
        (r.src_entity, r.dst_entity, r.pred): (r.weight, r.hop) for r in got.collect()
    }
    assert got_rows == expected
    # the twin holds the same edge multiset as the source table
    assert spark.read.parquet(twin_path).count() == len(rows)


def test_out_neighborhood_guards_and_empty(spark, pipe_dir, first_run):
    import os

    import pytest as _pytest

    from docprocai_service_spark.operators.materialize import out_neighborhood

    edges_path = os.path.join(pipe_dir, "edges")
    empty = out_neighborhood(spark, edges_path, [], hops=3)
    assert empty.count() == 0
    assert empty.columns == ["src_entity", "dst_entity", "pred", "weight", "hop"]
    with _pytest.raises(ValueError, match="max_frontier"):
        out_neighborhood(spark, edges_path, ["a", "b", "c"], hops=1, max_frontier=2)


def test_incremental_ingest_appends_only_new_keys(spark, spark_corpus, tmp_path):
    pages, alias = spark_corpus
    store = StageStore(spark, str(tmp_path / "inc"))
    first = pages.limit(120).localCheckpoint()
    m1 = incremental_ingest(spark, first, store, alias)
    assert m1["new_pages"] == 120
    # redelivery: at-least-once duplicates are no-ops
    m2 = incremental_ingest(spark, first, store, alias)
    assert m2["new_pages"] == 0
    m3 = incremental_ingest(spark, pages, store, alias)
    assert m3["new_pages"] == pages.count() - 120
    # final state equals a fresh batch run over everything
    from docprocai_service_spark.operators.extract import extract_stage
    from docprocai_service_spark.operators.triples import triples_stage

    cols = ["subj", "pred", "obj", "url", "warc_ts", "sent_no"]
    want = sorted(map(tuple, triples_stage(extract_stage(pages)).select(*cols).collect()))
    got = sorted(map(tuple, store.read("triples").select(*cols).collect()))
    assert got == want


def test_incremental_full_dag_matches_batch(spark, spark_corpus, tmp_path):
    """VERDICT r2 #2: two successive micro-batches through the FULL DAG
    (extract → … → linked → canon → additive edge merge → entities) must
    equal one full-batch run — identical edge rows, linked rows, entities."""
    pages, alias = spark_corpus
    store = StageStore(spark, str(tmp_path / "incfull"))
    b1 = pages.limit(120).localCheckpoint()
    b2 = pages.join(b1.select("url", "warc_ts"), ["url", "warc_ts"], "left_anti").localCheckpoint()
    m1 = incremental_ingest(spark, b1, store, alias_dict=alias)
    ents_before = _files(store.path("entities"))
    m2 = incremental_ingest(spark, b2, store, alias_dict=alias)
    # same dictionary: entities is a pure function of (dictionary, canon_map),
    # so the second batch leaves its files alone (still equal to a fresh run,
    # asserted below)
    assert _files(store.path("entities")) == ents_before
    # every page of the batch is merged, the ones without triples included:
    # the batch log, not a page ledger, records what was merged
    assert m1["merged_edge_pages"] == 120
    assert m1["new_pages"] + m2["new_pages"] == pages.count()
    # redelivery of the whole corpus after completion: full no-op
    m3 = incremental_ingest(spark, pages, store, alias_dict=alias)
    assert m3 == {"new_pages": 0}
    _assert_one_store_layout(spark, store)

    full = run_pipeline(spark, pages, alias, out_dir=None, collect_lineage=False)
    assert _edges_key(store.read("edges")) == _edges_key(full.edges)
    want_linked = sorted(map(tuple, full.linked.collect()))
    got_linked = sorted(map(tuple, store.read("linked").select(*full.linked.columns).collect()))
    assert got_linked == want_linked
    want_ent = sorted(map(tuple, full.entities.collect()))
    got_ent = sorted(map(tuple, store.read("entities").select(*full.entities.columns).collect()))
    assert got_ent == want_ent
    full.triples.unpersist()
    full.canon_map.unpersist()


def test_incremental_edge_merge_is_additive_and_ledgered(spark, spark_corpus, tmp_path):
    """A page whose triples were already merged must not contribute twice:
    a merge outside a batch has no delta, and a redelivered page never
    reaches a batch (the batch log holds it)."""
    from docprocai_service_spark.streaming.incremental import merge_edge_deltas

    pages, alias = spark_corpus
    store = StageStore(spark, str(tmp_path / "ledger"))
    b1 = pages.limit(80).localCheckpoint()
    incremental_ingest(spark, b1, store, alias_dict=alias)
    key1 = _edges_key(store.read("edges"))
    # calling the merge again with nothing new: zero pages, identical edges
    assert merge_edge_deltas(store, alias, store.read("canon_map")) == 0
    assert _edges_key(store.read("edges")) == key1
    assert incremental_ingest(spark, b1, store, alias_dict=alias) == {"new_pages": 0}
    assert _edges_key(store.read("edges")) == key1


def test_incremental_crash_between_stages_recovers(spark, spark_corpus, tmp_path):
    """At-least-once across a crash AFTER the triples append but BEFORE the
    mentions/extracted appends: the retry must still see the pages as todo
    (the 'extracted' ledger commits last) and converge with no duplicates."""
    pages, alias = spark_corpus
    store = StageStore(spark, str(tmp_path / "crash"))
    batch = pages.limit(60).localCheckpoint()

    real_append = StageStore.append_new

    def crashing_append(self, stage, *a, **k):
        if stage == "mentions":
            raise RuntimeError("simulated crash between stage commits")
        return real_append(self, stage, *a, **k)

    StageStore.append_new = crashing_append
    try:
        with pytest.raises(RuntimeError):
            incremental_ingest(spark, batch, store, alias)
    finally:
        StageStore.append_new = real_append

    # triples committed, but the ledger did not — retry must re-process
    assert store.is_done("triples")
    assert not store.is_done("extracted")
    m = incremental_ingest(spark, batch, store, alias)
    assert m["new_pages"] == 60  # NOT silently skipped
    # no duplicate triples, and every downstream stage completed
    from docprocai_service_spark.operators.extract import extract_stage
    from docprocai_service_spark.operators.triples import triples_stage

    cols = ["subj", "pred", "obj", "url", "warc_ts", "sent_no"]
    want = sorted(map(tuple, triples_stage(extract_stage(batch)).select(*cols).collect()))
    got = sorted(map(tuple, store.read("triples").select(*cols).collect()))
    assert got == want
    assert store.is_done("mentions") and store.is_done("extracted")
    # re-delivery after full recovery is a no-op
    assert incremental_ingest(spark, batch, store, alias)["new_pages"] == 0


@pytest.fixture(scope="module")
def lost_manifest_base(spark, spark_corpus, tmp_path_factory):
    """A store after one 200-page batch, and the lazy pipeline's stages over
    every page."""
    pages, alias = spark_corpus
    base = str(tmp_path_factory.mktemp("lost_manifest") / "base")
    incremental_ingest(spark, pages.limit(200).localCheckpoint(), StageStore(spark, base), alias)
    full = run_pipeline(spark, pages, alias, out_dir=None, collect_lineage=False)
    want = {
        "edges": _edges_key(full.edges),
        "linked": sorted(map(tuple, full.linked.collect())),
        "linked_cols": full.linked.columns,
        **{s: getattr(full, s).count() for s in ["extracted", "triples", "mentions"]},
    }
    full.triples.unpersist()
    full.canon_map.unpersist()
    yield base, want
    shutil.rmtree(base, ignore_errors=True)


@pytest.mark.parametrize("stage", _STORE_STAGES)
def test_lost_manifest_repairs_or_refuses(spark, spark_corpus, tmp_path, lost_manifest_base, stage):
    """A stage whose manifest is lost (a torn write): the next batch either
    converges to the lazy pipeline — every stage committed, page stages
    holding every page's rows — or refuses with ValueError and leaves the
    store untouched. Appending the batch onto a not-done triples/mentions
    stage would overwrite it with the batch alone, and upserting onto a
    not-done edges stage would write the batch's delta as the whole stage.
    The `extracted` manifest is the batch log, so losing it leaves committed
    edges over unknown pages: refused."""
    pages, alias = spark_corpus
    base, want = lost_manifest_base
    d = str(tmp_path / "store")
    shutil.copytree(base, d)
    store = StageStore(spark, d)
    store.invalidate(stage)
    if stage == "extracted":
        # committed edges without a batch log: not this protocol's state
        before = _files(d)
        with pytest.raises(ValueError, match="no batch log"):
            incremental_ingest(spark, pages, store, alias)
        assert _files(d) == before
        return
    incremental_ingest(spark, pages, store, alias)
    assert all(store.is_done(s) for s in _STORE_STAGES)
    for s in ["extracted", "triples", "mentions"]:
        assert store.read(s).count() == store.manifest(s)["rows"] == want[s], s
    assert _edges_key(store.read("edges")) == want["edges"]
    got_linked = sorted(map(tuple, store.read("linked").select(*want["linked_cols"]).collect()))
    assert got_linked == want["linked"]


def test_streaming_ingest_available_now(spark, spark_corpus, tmp_path):
    from docprocai_service_spark.streaming.incremental import streaming_ingest

    pages, alias = spark_corpus
    in_dir = str(tmp_path / "in")
    pages.limit(50).write.mode("overwrite").parquet(in_dir)
    store = StageStore(spark, str(tmp_path / "stream_out"))
    streaming_ingest(spark, in_dir, store, str(tmp_path / "ckpt"), alias)
    assert store.read("extracted").count() == 50
    # drop more files; a second availableNow run picks up only the new ones
    pages.limit(80).write.mode("append").parquet(in_dir)
    streaming_ingest(spark, in_dir, store, str(tmp_path / "ckpt"), alias)
    assert store.read("extracted").select("url", "warc_ts").distinct().count() == 80


def test_streaming_features_arm_matches_batch_twin(spark, spark_corpus, tmp_path):
    """VERDICT r5 #5: streaming_ingest(features=True) must converge the
    per-entity graph-feature table after every micro-batch — post-stream it
    equals the same pagerank+LPA chain computed over a one-shot batch run
    of ALL pages (kg_features_docs' operator composition)."""
    from docprocai_service_spark.operators.graph import label_propagation, pagerank_fixed
    from docprocai_service_spark.streaming.incremental import streaming_ingest

    pages, alias = spark_corpus
    in_dir = str(tmp_path / "in")
    pages.limit(120).write.mode("overwrite").parquet(in_dir)
    store = StageStore(spark, str(tmp_path / "stream_feat"))
    ckpt = str(tmp_path / "ckpt")
    streaming_ingest(spark, in_dir, store, ckpt, alias_dict=alias, features=True)
    assert store.is_done("graph_features")
    # second micro-batch: remaining pages (overlap dedupes by key)
    pages.write.mode("append").parquet(in_dir)
    streaming_ingest(spark, in_dir, store, ckpt, alias_dict=alias, features=True)

    full = run_pipeline(spark, pages, alias, out_dir=None, collect_lineage=False)
    e = full.edges.select(
        F.col("src_entity").alias("src"), F.col("dst_entity").alias("dst"), "weight"
    ).localCheckpoint()
    ranks = pagerank_fixed(e, iters=6, checkpoint_every=3, weight_col="weight")
    comms = label_propagation(e, iters=4, weight_col="weight")
    want = {
        r["id"]: (r["rank"], r["community"])
        for r in ranks.join(comms, "id", "left")
        .select("id", "rank", F.coalesce("label", F.col("id")).alias("community"))
        .collect()
    }
    got = {
        r["entity_id"]: (r["rank"], r["community"])
        for r in store.read("graph_features").collect()
    }
    assert got == want
    full.triples.unpersist()
    full.canon_map.unpersist()


def test_store_with_edges_but_no_ledger_is_refused(spark, spark_corpus, tmp_path):
    """A store whose `edges` stage is committed without a batch log — no
    `extracted` stage, or an `extracted` manifest that records no batch
    (the layout before batch ids) — was not written by incremental_ingest:
    which pages its weights cover is unknown, so a batch refuses it before
    touching anything. A store run_pipeline built carries the log and leaves
    the one bucketed layout behind."""
    import json
    import os

    pages, alias = spark_corpus
    d = str(tmp_path / "foreign")
    b1 = pages.limit(200).localCheckpoint()
    run_pipeline(spark, b1, alias, out_dir=d, collect_lineage=False)
    store = StageStore(spark, d)
    assert [e["id"] for e in store.batch_log()] == [1]
    _assert_one_store_layout(spark, store)

    def assert_refused():
        before = _files(d)
        with pytest.raises(ValueError, match="no batch log"):
            incremental_ingest(spark, pages, store, alias)
        assert _files(d) == before

    manifest = os.path.join(d, "extracted.manifest.json")
    with open(manifest) as f:
        doc = json.load(f)
    with open(manifest, "w") as f:
        json.dump({k: v for k, v in doc.items() if k not in ("batch", "log")}, f)
    assert_refused()
    shutil.rmtree(store.path("extracted"))
    os.remove(manifest)
    assert_refused()


def test_caught_up_replay_runs_no_merge_unless_an_intent_is_left(
    spark, spark_corpus, tmp_path, monkeypatch
):
    """Every batch links and merges its own pages before the page ledger
    commits, so a replay with no new pages onto a committed store touches
    nothing: no edge merge, no commit, no file written. A leftover merge
    intent record is the exception: the replay runs the merge, which
    settles the intent and leaves the edges equal to the lazy pipeline's."""
    import json
    import os

    from docprocai_service_spark.streaming import incremental

    pages, alias = spark_corpus
    d = str(tmp_path / "caught_up")
    store = StageStore(spark, d)
    incremental_ingest(spark, pages, store, alias)
    merges = []
    real_merge = incremental.merge_edge_deltas

    def counting_merge(*a, **k):
        merges.append(1)
        return real_merge(*a, **k)

    monkeypatch.setattr(incremental, "merge_edge_deltas", counting_merge)
    stages = _STORE_STAGES
    versions, files = {s: store.version(s) for s in stages}, _files(d)
    assert incremental_ingest(spark, pages, store, alias) == {"new_pages": 0}
    assert merges == []
    assert {s: store.version(s) for s in stages} == versions
    assert _files(d) == files

    intent = os.path.join(d, "edges.merge.json")
    with open(intent, "w") as f:
        json.dump({"fp": "planted", "state": "done"}, f)
    incremental_ingest(spark, pages, store, alias)
    assert merges == [1]
    assert not os.path.exists(intent)
    full = run_pipeline(spark, pages, alias, out_dir=None, collect_lineage=False)
    assert _edges_key(store.read("edges")) == _edges_key(full.edges)
    full.triples.unpersist()
    full.canon_map.unpersist()


def test_store_build_over_no_pages_is_refused(spark, spark_corpus, tmp_path):
    """No pages onto an empty store commit nothing, so there is no stage to
    return: run_pipeline raises a ValueError naming the store."""
    pages, alias = spark_corpus
    d = str(tmp_path / "empty")
    with pytest.raises(ValueError, match="no committed pages") as e:
        run_pipeline(spark, pages.limit(0), alias, out_dir=d)
    assert d in str(e.value)
    assert not any(StageStore(spark, d).is_done(s) for s in _STORE_STAGES)


def test_first_batch_without_triples_then_merge(spark, spark_corpus, tmp_path):
    """A first batch whose pages emit no triples commits an empty `edges`
    stage (no bucket dirs); the next batch's merge writes into it and
    converges to the lazy pipeline."""
    pages, alias = spark_corpus
    empty = (
        pages.limit(5)
        .withColumn("url", F.concat(F.lit("empty:"), "url"))
        .withColumn("html", F.encode(F.lit("<html><body><main></main></body></html>"), "UTF-8"))
    )
    store = StageStore(spark, str(tmp_path / "no_triples"))
    assert incremental_ingest(spark, empty, store, alias)["merged_edge_pages"] == 5
    assert store.is_done("edges") and store.manifest("edges")["rows"] == 0
    incremental_ingest(spark, pages, store, alias)
    _assert_one_store_layout(spark, store)
    full = run_pipeline(spark, pages, alias, out_dir=None, collect_lineage=False)
    assert _edges_key(store.read("edges")) == _edges_key(full.edges)
    full.triples.unpersist()
    full.canon_map.unpersist()


def test_execution_paths_equal_oracle_on_adversarial_pages(spark, spark_corpus, tmp_path):
    """Store-mode run_pipeline, two incremental_ingest micro-batches and the
    lazy run_pipeline all yield the scalar oracle's triples on adversarial
    pages — including Unicode whitespace after a period, where the oracle
    splits sentences and an ASCII-only \\s would not."""
    from tests.test_fuzz_parity import adversarial_pages, adversarial_sentences, oracle_triples

    _, alias = spark_corpus
    sentences = adversarial_sentences()
    pages = adversarial_pages(spark, sentences)
    want = oracle_triples(sentences)

    def key(df):
        return sorted(map(tuple, df.select("subj", "pred", "obj", "url", "sent_no").collect()))

    stored = run_pipeline(spark, pages, alias, out_dir=str(tmp_path / "store"), collect_lineage=False)
    assert key(stored.triples) == want, "store-mode run_pipeline"

    store = StageStore(spark, str(tmp_path / "inc"))
    even = F.expr("int(substring(url, 2)) % 2 = 0")
    incremental_ingest(spark, pages.filter(even), store, alias)
    incremental_ingest(spark, pages.filter(~even), store, alias)
    assert key(store.read("triples")) == want, "incremental_ingest"

    lazy = run_pipeline(spark, pages, alias, out_dir=None, collect_lineage=False)
    assert key(lazy.triples) == want, "lazy run_pipeline"
    lazy.triples.unpersist()
    lazy.canon_map.unpersist()


def test_store_resume_and_micro_batch_job_counts(spark, spark_corpus, tmp_path):
    """The store path is bound by fixed per-job cost, so its Spark job
    counts are pinned: a build onto an empty store, a resume on the
    complete store (both through run_pipeline, lineage write included), and
    a steady-state micro-batch (the second after the build). The bounds are
    the counts measured on this corpus with the additive bucket upsert,
    barrier-free appends, schema-carrying reads, the one-shuffle lineage,
    a first merge that is the edge rebuild, a caught-up replay that runs
    no merge, batch-numbered appends with no anti-join or page ledger,
    a shuffle-free todo_keys and fingerprints observed on jobs that run
    anyway (without the first three: 24 and 78 for resume and batch;
    without the next two: 34 and 10 for build and resume; without the last
    three: 29, 7 and 46), so a change that adds jobs to any of them fails
    here. Every stage's schema-carrying read must equal what parquet
    inference returns, the hidden partition columns aside."""
    pages, alias = spark_corpus
    sc = spark.sparkContext
    d = str(tmp_path / "jobs")
    b0 = pages.limit(200).localCheckpoint()
    rest = pages.join(b0.select("url", "warc_ts"), ["url", "warc_ts"], "left_anti").localCheckpoint()
    b1 = rest.limit(50).localCheckpoint()
    b2 = rest.join(b1.select("url", "warc_ts"), ["url", "warc_ts"], "left_anti").localCheckpoint()

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setJobDescription(None)
        return len(sc.statusTracker().getJobIdsForGroup(group)), out

    n_build, _ = jobs("pin.build", lambda: run_pipeline(spark, b0, alias, out_dir=d))
    n_resume, r = jobs("pin.resume", lambda: run_pipeline(spark, b0, alias, out_dir=d))
    assert all(r.metrics.get(f"{s}_resumed") for s in _STORE_STAGES)
    incremental_ingest(spark, b1, StageStore(spark, d), alias_dict=alias)
    n_batch, m = jobs(
        "pin.batch", lambda: incremental_ingest(spark, b2, StageStore(spark, d), alias_dict=alias)
    )
    assert m["new_pages"] == b2.count() and m["merged_edge_pages"] > 0
    assert n_build <= 24 and n_resume <= 7 and n_batch <= 23, (n_build, n_resume, n_batch)

    store = StageStore(spark, d)
    for stage in _STORE_STAGES:
        inferred = spark.read.parquet(store.path(stage)).drop("__bucket", "__batch").schema
        assert "schema" in store.manifest(stage), stage
        assert store.read(stage).schema == inferred, stage

    full = run_pipeline(spark, pages, alias, out_dir=None, collect_lineage=False)
    assert _edges_key(store.read("edges")) == _edges_key(full.edges)
    full.triples.unpersist()
    full.canon_map.unpersist()


def test_edge_merge_crash_before_ledger_commit_converges(spark, spark_corpus, tmp_path):
    """VERDICT r3 #3: a crash BETWEEN the edge upsert and the batch log's
    commit (the `extracted` append) must not double-count the in-flight
    pages' weights on replay. The merge-intent record (edges.merge.json)
    closes the window: it stays `done` with the batch's page-set
    fingerprint until the log commits, and the retry — the same pages,
    hence the same fingerprint — skips the upsert."""
    pages, alias = spark_corpus
    store = StageStore(spark, str(tmp_path / "intent1"))
    b1 = pages.limit(120).localCheckpoint()
    b2 = pages.join(b1.select("url", "warc_ts"), ["url", "warc_ts"], "left_anti").localCheckpoint()
    incremental_ingest(spark, b1, store, alias_dict=alias)

    real_append = StageStore.append_new
    real_upsert = StageStore.upsert
    crashed = {"n": 0}
    upserts = []

    def crashing_append(self, stage, *a, **k):
        if stage == "extracted" and crashed["n"] == 0:
            crashed["n"] += 1
            raise RuntimeError("simulated crash after edge upsert, before ledger commit")
        return real_append(self, stage, *a, **k)

    def counting_upsert(self, stage, *a, **k):
        upserts.append(stage)
        return real_upsert(self, stage, *a, **k)

    StageStore.append_new = crashing_append
    StageStore.upsert = counting_upsert
    try:
        with pytest.raises(RuntimeError):
            incremental_ingest(spark, b2, store, alias_dict=alias)
        assert upserts == ["edges"]
        # retry converges — previously this re-added b2's weights
        # (double-count); now it skips the committed upsert
        incremental_ingest(spark, b2, store, alias_dict=alias)
        assert upserts == ["edges"]
    finally:
        StageStore.append_new = real_append
        StageStore.upsert = real_upsert
    full = run_pipeline(spark, pages, alias, out_dir=None, collect_lineage=False)
    assert _edges_key(store.read("edges")) == _edges_key(full.edges)
    full.triples.unpersist()
    full.canon_map.unpersist()


def test_edge_merge_crash_during_upsert_repairs_exactly(spark, spark_corpus, tmp_path):
    """A crash while the edge upsert itself is in flight (intent still
    'begin') is ambiguous — the retry must route to the exact rebuild, not
    an additive merge over possibly-partially-merged buckets."""
    pages, alias = spark_corpus
    store = StageStore(spark, str(tmp_path / "intent2"))
    b1 = pages.limit(120).localCheckpoint()
    b2 = pages.join(b1.select("url", "warc_ts"), ["url", "warc_ts"], "left_anti").localCheckpoint()
    incremental_ingest(spark, b1, store, alias_dict=alias)

    real_upsert = StageStore.upsert
    crashed = {"n": 0}

    def crashing_upsert(self, stage, df, keys, add=None):
        if stage == "edges" and crashed["n"] == 0:
            crashed["n"] += 1
            raise RuntimeError("simulated crash mid-upsert")
        return real_upsert(self, stage, df, keys=keys, add=add)

    StageStore.upsert = crashing_upsert
    try:
        with pytest.raises(RuntimeError):
            incremental_ingest(spark, b2, store, alias_dict=alias)
    finally:
        StageStore.upsert = real_upsert

    import json
    import os

    with open(os.path.join(store.root, "edges.merge.json")) as f:
        assert json.load(f)["state"] == "begin"  # ambiguous state recorded
    incremental_ingest(spark, b2, store, alias_dict=alias)
    assert not os.path.exists(os.path.join(store.root, "edges.merge.json"))
    full = run_pipeline(spark, pages, alias, out_dir=None, collect_lineage=False)
    assert _edges_key(store.read("edges")) == _edges_key(full.edges)
    full.triples.unpersist()
    full.canon_map.unpersist()


def test_alias_dict_change_triggers_exact_refresh(spark, spark_corpus, tmp_path):
    """VERDICT r3 #4: the canon_map manifest carries a fingerprint of the
    alias dictionary it derives from; a changed dictionary on a later
    micro-batch must auto-invalidate and produce edges/linked/entities
    identical to a fresh batch run with the NEW dictionary."""
    pages, alias = spark_corpus
    store = StageStore(spark, str(tmp_path / "dictchange"))
    b1 = pages.limit(150).localCheckpoint()
    b2 = pages.join(b1.select("url", "warc_ts"), ["url", "warc_ts"], "left_anti").localCheckpoint()
    incremental_ingest(spark, b1, store, alias_dict=alias)

    # drop the ambiguous short aliases -> linking and canon groupings change
    alias2 = alias.filter(F.length("alias") > 6).localCheckpoint()
    m = incremental_ingest(spark, b2, store, alias_dict=alias2)
    assert m.get("rebuilt_for_dict_change")

    full = run_pipeline(spark, pages, alias2, out_dir=None, collect_lineage=False)
    assert _edges_key(store.read("edges")) == _edges_key(full.edges)
    want_linked = sorted(map(tuple, full.linked.collect()))
    got_linked = sorted(map(tuple, store.read("linked").select(*full.linked.columns).collect()))
    assert got_linked == want_linked
    # unchanged dictionary on the next batch: no rebuild
    m2 = incremental_ingest(spark, pages, store, alias_dict=alias2)
    assert m2 == {"new_pages": 0}
    full.triples.unpersist()
    full.canon_map.unpersist()


def test_edge_merge_double_crash_converges_via_rebuild(spark, spark_corpus, tmp_path):
    """Crash during the merge upsert AND again during the repair rebuild's
    upsert: the intent record survives both, so the second retry rebuilds
    exactly — no state is ever half-trusted."""
    pages, alias = spark_corpus
    store = StageStore(spark, str(tmp_path / "intent3"))
    b1 = pages.limit(120).localCheckpoint()
    b2 = pages.join(b1.select("url", "warc_ts"), ["url", "warc_ts"], "left_anti").localCheckpoint()
    incremental_ingest(spark, b1, store, alias_dict=alias)

    real_upsert = StageStore.upsert
    crashes = {"n": 0}

    def crashing_upsert(self, stage, df, keys, add=None):
        if stage == "edges" and crashes["n"] < 2:
            crashes["n"] += 1
            raise RuntimeError(f"simulated crash #{crashes['n']}")
        return real_upsert(self, stage, df, keys=keys, add=add)

    StageStore.upsert = crashing_upsert
    try:
        with pytest.raises(RuntimeError):
            incremental_ingest(spark, b2, store, alias_dict=alias)  # merge crash
        with pytest.raises(RuntimeError):
            incremental_ingest(spark, b2, store, alias_dict=alias)  # rebuild crash
    finally:
        StageStore.upsert = real_upsert
    assert crashes["n"] == 2
    incremental_ingest(spark, b2, store, alias_dict=alias)
    full = run_pipeline(spark, pages, alias, out_dir=None, collect_lineage=False)
    assert _edges_key(store.read("edges")) == _edges_key(full.edges)
    full.triples.unpersist()
    full.canon_map.unpersist()


def test_dict_change_crash_mid_refresh_repairs_exactly(spark, spark_corpus, tmp_path):
    """ADVICE r4 (high): a crash AFTER the new canon_map commits but BEFORE
    the linked/edges refresh completes must NOT replay as a normal delta
    merge — the refresh-complete stamp (alias_fp, annotated last) is still
    missing, so the retry routes back into the exact relink + rebuild."""
    pages, alias = spark_corpus
    store = StageStore(spark, str(tmp_path / "refreshcrash"))
    b1 = pages.limit(150).localCheckpoint()
    b2 = pages.join(b1.select("url", "warc_ts"), ["url", "warc_ts"], "left_anti").localCheckpoint()
    incremental_ingest(spark, b1, store, alias_dict=alias)

    alias2 = alias.filter(F.length("alias") > 6).localCheckpoint()
    real_write = StageStore.write
    crashed = {"n": 0}

    def crashing_write(self, stage, *a, **k):
        if stage == "linked" and crashed["n"] == 0:
            crashed["n"] += 1
            raise RuntimeError("simulated crash between canon_map commit and refresh")
        return real_write(self, stage, *a, **k)

    StageStore.write = crashing_write
    try:
        with pytest.raises(RuntimeError):
            incremental_ingest(spark, b2, store, alias_dict=alias2)
    finally:
        StageStore.write = real_write

    # canon_map committed with only the PENDING stamp — downstream is suspect
    man = store.manifest("canon_map")
    assert man.get("alias_fp") != man.get("alias_fp_pending")

    m = incremental_ingest(spark, b2, store, alias_dict=alias2)
    assert m.get("rebuilt_for_dict_change")  # repaired, not silently merged
    full = run_pipeline(spark, pages, alias2, out_dir=None, collect_lineage=False)
    assert _edges_key(store.read("edges")) == _edges_key(full.edges)
    want_linked = sorted(map(tuple, full.linked.collect()))
    got_linked = sorted(map(tuple, store.read("linked").select(*full.linked.columns).collect()))
    assert got_linked == want_linked
    full.triples.unpersist()
    full.canon_map.unpersist()


def test_torn_linked_write_rebuilds_all_prior_links(spark, spark_corpus, tmp_path):
    """ADVICE r4 (high, second arm): if the linked stage's write was torn
    (stage not done), the next batch must rebuild it from the FULL mentions
    stage — append_new on a not-done stage would overwrite it with only the
    current batch's links, permanently dropping all prior rows."""
    pages, alias = spark_corpus
    store = StageStore(spark, str(tmp_path / "tornlinked"))
    b1 = pages.limit(150).localCheckpoint()
    b2 = pages.join(b1.select("url", "warc_ts"), ["url", "warc_ts"], "left_anti").localCheckpoint()
    incremental_ingest(spark, b1, store, alias_dict=alias)
    store.invalidate("linked")  # torn write: data present, no _SUCCESS/manifest
    incremental_ingest(spark, b2, store, alias_dict=alias)
    full = run_pipeline(spark, pages, alias, out_dir=None, collect_lineage=False)
    want_linked = sorted(map(tuple, full.linked.collect()))
    got_linked = sorted(map(tuple, store.read("linked").select(*full.linked.columns).collect()))
    assert got_linked == want_linked
    full.triples.unpersist()
    full.canon_map.unpersist()


def test_dict_change_detected_on_empty_batch(spark, spark_corpus, tmp_path):
    """A dictionary-only update (no new pages in the micro-batch) must still
    be detected and refreshed — the fingerprint check runs even when the
    batch itself is empty."""
    pages, alias = spark_corpus
    store = StageStore(spark, str(tmp_path / "emptydict"))
    incremental_ingest(spark, pages, store, alias_dict=alias)
    alias2 = alias.filter(F.length("alias") > 6).localCheckpoint()
    m = incremental_ingest(spark, pages.limit(0), store, alias_dict=alias2)
    assert m["new_pages"] == 0 and m.get("rebuilt_for_dict_change")
    full = run_pipeline(spark, pages, alias2, out_dir=None, collect_lineage=False)
    assert _edges_key(store.read("edges")) == _edges_key(full.edges)
    # consistent store + unchanged dict + empty batch: exact no-op
    assert incremental_ingest(spark, pages.limit(0), store, alias_dict=alias2) == {"new_pages": 0}
    full.triples.unpersist()
    full.canon_map.unpersist()


def test_legacy_store_adoption_verifies_dictionary(spark, spark_corpus, tmp_path):
    """A legacy canon_map (neither alias_fp nor alias_fp_pending —
    pre-fingerprint batch runs) matches no dictionary: touched with the SAME
    dictionary or a DIFFERENT one, it routes into the exact refresh, is
    stamped, and converges to the lazy pipeline under that dictionary —
    never a silent merge onto stale links/edges."""
    import json
    import os

    pages, alias = spark_corpus

    def strip_stamps(store):
        p = store._manifest_path("canon_map")
        man = json.load(open(p))
        man.pop("alias_fp", None)
        man.pop("alias_fp_pending", None)
        tmp = p + ".tmp"
        json.dump(man, open(tmp, "w"))
        os.replace(tmp, p)

    # same dictionary: no stamp counts as stale -> exact refresh, stamped
    s1 = StageStore(spark, str(tmp_path / "legacy_same"))
    incremental_ingest(spark, pages, s1, alias_dict=alias)
    strip_stamps(s1)
    m = incremental_ingest(spark, pages.limit(0), s1, alias_dict=alias)
    assert m.get("rebuilt_for_dict_change")
    assert "alias_fp" in s1.manifest("canon_map")
    full1 = run_pipeline(spark, pages, alias, out_dir=None, collect_lineage=False)
    assert _edges_key(s1.read("edges")) == _edges_key(full1.edges)
    full1.triples.unpersist()
    full1.canon_map.unpersist()

    # different dictionary: content mismatch -> exact refresh, converging to
    # the full pipeline under the NEW dictionary
    s2 = StageStore(spark, str(tmp_path / "legacy_diff"))
    incremental_ingest(spark, pages, s2, alias_dict=alias)
    strip_stamps(s2)
    alias2 = alias.filter(F.length("alias") > 6).localCheckpoint()
    m2 = incremental_ingest(spark, pages.limit(0), s2, alias_dict=alias2)
    assert m2.get("rebuilt_for_dict_change")
    full = run_pipeline(spark, pages, alias2, out_dir=None, collect_lineage=False)
    assert _edges_key(s2.read("edges")) == _edges_key(full.edges)
    full.triples.unpersist()
    full.canon_map.unpersist()


def _install_crash(plan):
    """Wrap every StageStore mutation so the plan.n-th call raises BEFORE
    executing — sweeping n over all calls visits every between-mutation
    crash point of a batch. Returns the originals for restore."""
    mutators = ["write", "append_new", "upsert", "annotate"]
    originals = {name: getattr(StageStore, name) for name in mutators}

    def make(real):
        def wrapper(self, *a, **k):
            plan["count"] += 1
            if plan["count"] == plan["n"]:
                raise RuntimeError(f"injected crash at mutation {plan['n']}")
            return real(self, *a, **k)
        return wrapper

    for name, real in originals.items():
        setattr(StageStore, name, make(real))
    return originals


def _restore(originals):
    for name, real in originals.items():
        setattr(StageStore, name, real)


def _assert_batches_committed(store):
    """Every stage's manifest counts exactly the rows a read returns, and no
    page stage holds a `__batch=` dir above the batch log's committed id."""
    import os

    for stage in _STORE_STAGES:
        assert store.manifest(stage)["rows"] == store.read(stage).count(), stage
    committed = store.committed_batch()
    for stage in ["extracted", "triples", "mentions", "linked"]:
        ids = [int(e.name.split("=")[1]) for e in os.scandir(store.path(stage))
               if e.name.startswith("__batch=")]
        assert max(ids, default=0) <= committed, (stage, ids, committed)


# ids False/True: the second micro-batch without/with a dictionary change
@pytest.mark.parametrize(
    "case",
    [pytest.param("batch", id="False"), pytest.param("dict_change", id="True"), "build",
     "other_pages"],
)
def test_every_crash_point_converges(spark, spark_corpus, tmp_path, case):
    """Mechanical proof of the 'exact under every crash schedule' claim:
    for EVERY store-mutation index n of a full-DAG second micro-batch
    (including the dictionary-change refresh schedule), or of a
    run_pipeline(out_dir=…) build onto an empty directory, crash at n,
    retry to completion, and require edges + linked to equal a fresh batch
    run, every manifest's row count to equal its stage's rows, and no
    uncommitted batch dir to remain. In `other_pages` the retry carries a
    different page set: batch A (50 pages after the 150-page base) crashes,
    an overlapping batch B (A's last 25 pages and 25 more) commits, then A
    is redelivered. Targeted tests pin the interesting windows; this sweep
    guarantees no window was missed."""
    import shutil as _sh

    pages, alias = spark_corpus
    alias2 = alias.filter(F.length("alias") > 6).localCheckpoint() if case == "dict_change" else alias
    base = str(tmp_path / "base")
    final_pages = pages
    if case == "build":
        StageStore(spark, base)  # an empty directory

        def call(store):
            run_pipeline(spark, pages, alias, out_dir=store.root, collect_lineage=False)
    else:
        b1 = pages.limit(150).localCheckpoint()
        b2 = pages.join(b1.select("url", "warc_ts"), ["url", "warc_ts"], "left_anti").localCheckpoint()
        incremental_ingest(spark, b1, StageStore(spark, base), alias_dict=alias)
        if case == "other_pages":
            rest = sorted(r.url for r in b2.select("url").collect())
            batch_a = pages.where(F.col("url").isin(rest[:50])).localCheckpoint()
            batch_b = pages.where(F.col("url").isin(rest[25:75])).localCheckpoint()
            final_pages = b1.unionByName(pages.where(F.col("url").isin(rest[:75])))
            b2 = batch_a

        def call(store):
            incremental_ingest(spark, b2, store, alias_dict=alias2)

    def retry(store):
        if case == "other_pages":
            incremental_ingest(spark, batch_b, store, alias_dict=alias2)
        call(store)

    # expected end state: one fresh batch over everything with the final dict
    full = run_pipeline(spark, final_pages, alias2, out_dir=None, collect_lineage=False)
    want_edges = _edges_key(full.edges)
    want_linked = sorted(map(tuple, full.linked.collect()))
    linked_cols = full.linked.columns
    full.triples.unpersist()
    full.canon_map.unpersist()

    # count the mutations of an un-crashed call (n=0 never fires)
    probe_dir = str(tmp_path / "probe")
    _sh.copytree(base, probe_dir)
    plan = {"n": 0, "count": 0}
    originals = _install_crash(plan)
    try:
        call(StageStore(spark, probe_dir))
    finally:
        _restore(originals)
    total = plan["count"]
    assert total >= 6, total

    for n in range(1, total + 1):
        d = str(tmp_path / f"crash{n}")
        _sh.copytree(base, d)
        store = StageStore(spark, d)
        plan = {"n": n, "count": 0}
        originals = _install_crash(plan)
        try:
            with pytest.raises(RuntimeError):
                call(store)
        finally:
            _restore(originals)
        # retry (at-least-once redelivery) — must fully converge
        retry(store)
        assert _edges_key(store.read("edges")) == want_edges, f"edges diverged, crash point {n}"
        got_linked = sorted(map(tuple, store.read("linked").select(*linked_cols).collect()))
        assert got_linked == want_linked, f"linked diverged, crash point {n}"
        _assert_batches_committed(store)
        _sh.rmtree(d, ignore_errors=True)


@pytest.mark.parametrize("stage", ["triples", "mentions", "linked", "extracted"])
def test_uncommitted_batch_files_are_never_read(
    spark, spark_corpus, tmp_path, lost_manifest_base, monkeypatch, stage
):
    """The window the crash sweep cannot reach, since it crashes only
    between mutator calls: an append's Spark write has landed its
    `__batch=<id>` files but its manifest never commits. Reads never return
    those rows, and the retry drops them and converges to the lazy
    pipeline."""
    import os

    pages, alias = spark_corpus
    base, want = lost_manifest_base
    d = str(tmp_path / "store")
    shutil.copytree(base, d)
    store = StageStore(spark, d)
    before = store.read(stage).count()
    batch = store.committed_batch() + 1
    real_commit = StageStore._commit_manifest
    crashed = []

    def crashing_commit(self, s, *a, **k):
        if s == stage and not crashed:
            crashed.append(s)
            raise RuntimeError(f"simulated crash before the {s} manifest commit")
        return real_commit(self, s, *a, **k)

    monkeypatch.setattr(StageStore, "_commit_manifest", crashing_commit)
    with pytest.raises(RuntimeError):
        incremental_ingest(spark, pages, store, alias)
    monkeypatch.setattr(StageStore, "_commit_manifest", real_commit)
    assert os.path.isdir(os.path.join(store.path(stage), f"__batch={batch}"))
    assert store.read(stage).count() == before == store.manifest(stage)["rows"]

    incremental_ingest(spark, pages, store, alias)
    assert _edges_key(store.read("edges")) == want["edges"]
    got_linked = sorted(map(tuple, store.read("linked").select(*want["linked_cols"]).collect()))
    assert got_linked == want["linked"]
    for s in ["extracted", "triples", "mentions"]:
        assert store.read(s).count() == want[s], s
    _assert_batches_committed(store)


def test_steady_micro_batch_reads_no_page_stage(
    spark, spark_corpus, tmp_path, lost_manifest_base, monkeypatch
):
    """A steady micro-batch costs O(batch) in the page stages: it appends its
    own rows and merges its own triples, and calls StageStore.read on none
    of extracted, triples, mentions and linked (todo_keys' key scan of
    `extracted` is a broadcast semi-join, pinned by the plan test below)."""
    pages, alias = spark_corpus
    base, want = lost_manifest_base
    d = str(tmp_path / "store")
    shutil.copytree(base, d)
    reads = []
    real_read = StageStore.read

    def counting_read(self, stage):
        reads.append(stage)
        return real_read(self, stage)

    monkeypatch.setattr(StageStore, "read", counting_read)
    m = incremental_ingest(spark, pages, StageStore(spark, d), alias)
    monkeypatch.setattr(StageStore, "read", real_read)
    assert m["new_pages"] == 100 and m["merged_edge_pages"] == 100
    assert not {"extracted", "triples", "mentions", "linked"} & set(reads), reads
    assert _edges_key(StageStore(spark, d).read("edges")) == want["edges"]


def test_todo_keys_never_shuffles_the_stage(spark, spark_corpus, lost_manifest_base):
    """todo_keys semi-joins the stage's key scan against the broadcast batch
    keys and anti-joins the batch against that broadcast result: the plan
    holds broadcasts and the `extracted` scan, and no shuffle Exchange."""
    import re

    pages, _ = spark_corpus
    base, _ = lost_manifest_base
    store = StageStore(spark, base)
    todo = store.todo_keys("extracted", pages)
    plan = todo._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan and "extracted" in plan, plan
    assert not re.search(r"(?<!Broadcast)Exchange ", plan), plan
    assert todo.count() == 100


def test_batch_commit_and_rollback_are_logged(
    spark, spark_corpus, tmp_path, lost_manifest_base, caplog
):
    """Each batch commit is logged with its id, page count and rows per
    stage, and each recovery that drops an uncommitted batch dir with its
    stage and id."""
    import logging

    pages, alias = spark_corpus
    base, _ = lost_manifest_base
    d = str(tmp_path / "store")
    shutil.copytree(base, d)
    store = StageStore(spark, d)
    batch = store.committed_batch() + 1
    real_append = StageStore.append_new

    def crashing_append(self, stage, *a, **k):
        if stage == "mentions":
            raise RuntimeError("simulated crash after the triples append")
        return real_append(self, stage, *a, **k)

    StageStore.append_new = crashing_append
    try:
        with pytest.raises(RuntimeError):
            incremental_ingest(spark, pages, store, alias)
    finally:
        StageStore.append_new = real_append
    with caplog.at_level(logging.INFO, logger="docprocai_service_spark.sources.manifest"):
        incremental_ingest(spark, pages, store, alias)
    messages = [r.getMessage() for r in caplog.records]
    assert f"triples: dropped uncommitted batch {batch}" in messages, messages
    rows = store.batch_log()[-1]["rows"]
    assert set(rows) == {"extracted", "triples", "mentions", "linked"}
    assert f"batch {batch} committed: 100 pages, rows {rows}" in messages, messages


def _direct_features(spark, store, pr_iters, lpa_iters):
    from docprocai_service_spark.operators.graph import (
        label_propagation,
        pagerank_fixed,
    )

    e = store.read("edges").select(
        F.col("src_entity").alias("src"), F.col("dst_entity").alias("dst"), "weight"
    )
    ranks = {
        r.id: r.rank
        for r in pagerank_fixed(e, iters=pr_iters, weight_col="weight").collect()
    }
    comms = {
        r.id: r.label
        for r in label_propagation(e, iters=lpa_iters, weight_col="weight").collect()
    }
    return {k: (v, comms.get(k, k)) for k, v in ranks.items()}


def test_refresh_graph_features_incremental(spark, spark_corpus, tmp_path):
    """The analytics arm of the incremental loop: graph_features is a pure
    function of the edges stage — equal to a direct recompute after every
    merge, a fingerprint no-op between merges, and convergent when the
    stamp is lost (the crash window between upsert and annotate)."""
    from docprocai_service_spark.streaming.incremental import refresh_graph_features

    pages, alias = spark_corpus
    store = StageStore(spark, str(tmp_path / "gfeat"))
    b1 = pages.limit(100).localCheckpoint()
    incremental_ingest(spark, b1, store, alias_dict=alias)
    r1 = refresh_graph_features(store, pr_iters=3, lpa_iters=2)
    assert r1["refreshed"] is True
    got1 = {
        r.entity_id: (r.rank, r.community)
        for r in store.read("graph_features").collect()
    }
    assert got1 == _direct_features(spark, store, 3, 2)

    # unchanged edges: fingerprint short-circuit, no recompute
    r2 = refresh_graph_features(store, pr_iters=3, lpa_iters=2)
    assert r2 == {"refreshed": False, "edges_fp": r1["edges_fp"]}

    # second batch changes the edge content: refresh converges to the new set
    b2 = pages.join(
        b1.select("url", "warc_ts"), ["url", "warc_ts"], "left_anti"
    ).localCheckpoint()
    incremental_ingest(spark, b2, store, alias_dict=alias)
    r3 = refresh_graph_features(store, pr_iters=3, lpa_iters=2)
    assert r3["refreshed"] is True and r3["edges_fp"] != r1["edges_fp"]
    got3 = {
        r.entity_id: (r.rank, r.community)
        for r in store.read("graph_features").collect()
    }
    assert got3 == _direct_features(spark, store, 3, 2)

    # crash between upsert and stamp: a foreign/missing stamp re-runs the
    # refresh and converges to the identical table (upsert replaces by key)
    store.annotate("graph_features", {"edges_fp": "torn"})
    r4 = refresh_graph_features(store, pr_iters=3, lpa_iters=2)
    assert r4["refreshed"] is True and r4["edges_fp"] == r3["edges_fp"]
    got4 = {
        r.entity_id: (r.rank, r.community)
        for r in store.read("graph_features").collect()
    }
    assert got4 == got3

    # entity-set SHRINK (the rebuild_edges-with-new-canon path): a stale
    # feature row for an entity no longer in the edges stage must NOT
    # survive the refresh — the stage is invalidated, not merged into
    ghost = spark.createDataFrame(
        [("GHOST:merged-away", 0, "GHOST:merged-away")],
        "entity_id string, rank long, community string",
    )
    store.upsert("graph_features", ghost, keys=["entity_id"])
    store.annotate("graph_features", {"edges_fp": "torn-again"})
    refresh_graph_features(store, pr_iters=3, lpa_iters=2)
    got5 = {
        r.entity_id: (r.rank, r.community)
        for r in store.read("graph_features").collect()
    }
    assert got5 == got3  # ghost purged, everything else identical

    # edges stage required
    empty = StageStore(spark, str(tmp_path / "gfeat_empty"))
    with pytest.raises(ValueError):
        refresh_graph_features(empty)
