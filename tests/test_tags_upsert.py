"""c-TF-IDF tags, upsert-with-update MERGE semantics, data-URI scalar,
dynamic-gap sessionization."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from docprocai_service_spark.operators.tags import tags_array, tags_tfidf, term_counts


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        ("spark", "spark runs fast spark scales out"),
        ("spark", "spark shuffles partitions"),
        ("cooking", "slow roast onion soup"),
        ("cooking", "onion soup with roast garlic"),
        (None, None),
        ("empty", ""),
    ]
    return spark.createDataFrame(rows, "source string, text string").localCheckpoint()


def test_term_counts_ngram_expansion(spark, docs):
    tc = {(r["group"], r["term"]): r["tf"] for r in term_counts(docs, max_ngram=2).collect()}
    assert tc[("spark", "spark")] == 3  # unigram counted with duplicates
    assert tc[("spark", "spark runs")] == 1  # bigram present
    assert tc[("cooking", "onion soup")] == 2
    assert ("empty", "") not in tc  # empty text contributes nothing


def test_tags_tfidf_separates_classes(spark, docs):
    tags = tags_array(docs, max_ngram=2, top_k=3).collect()
    by_group = {r["group"]: r["tags"] for r in tags}
    # class-specific terms outrank shared ones; the top tag is on-topic
    assert "spark" in by_group["spark"][0]
    assert any("onion" in t or "soup" in t or "roast" in t for t in by_group["cooking"][:2])
    flat = tags_tfidf(docs, max_ngram=2, top_k=3)
    ranks = [r["rank"] for r in flat.filter(F.col("group") == "spark").collect()]
    assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_data_uri_roundtrip(spark):
    from docprocai_service_spark.functions.encoding import data_uri, from_data_uri

    df = spark.createDataFrame([("hello world",), ("x" * 500,)], "s string")
    out = df.select(
        data_uri(F.col("s"), mime="text/plain").alias("uri"),
        from_data_uri(data_uri(F.col("s"), mime="text/plain")).cast("string").alias("back"),
        "s",
    ).collect()
    import base64

    for r in out:
        assert r["uri"] == "data:text/plain;base64," + base64.b64encode(r["s"].encode()).decode()
        assert "\r" not in r["uri"] and "\n" not in r["uri"]  # unchunked per RFC 2397
        assert r["back"] == r["s"]


def test_upsert_replaces_matching_keys(spark, tmp_path):
    """Reference ON CONFLICT DO UPDATE (SegmentDbConnector.py:101-124):
    re-ingesting a MODIFIED page must replace its rows, not keep stale ones."""
    from docprocai_service_spark.sources.manifest import StageStore

    store = StageStore(spark, str(tmp_path / "up"))
    v1 = spark.createDataFrame(
        [("u1", 1, "old-a"), ("u2", 1, "old-b")], "url string, warc_ts int, payload string"
    )
    store.upsert("seg", v1, keys=["url", "warc_ts"])
    v2 = spark.createDataFrame(
        [("u1", 1, "NEW-a"), ("u3", 1, "new-c")], "url string, warc_ts int, payload string"
    )
    store.upsert("seg", v2, keys=["url", "warc_ts"])
    got = {r["url"]: r["payload"] for r in store.read("seg").collect()}
    assert got == {"u1": "NEW-a", "u2": "old-b", "u3": "new-c"}
    # idempotence: re-upserting the same batch changes nothing
    store.upsert("seg", v2, keys=["url", "warc_ts"])
    got2 = {r["url"]: r["payload"] for r in store.read("seg").collect()}
    assert got2 == got
    assert store.is_done("seg")


def test_upsert_add_sums_matching_keys(spark, tmp_path):
    """upsert(add=col): rows with equal keys are summed into `col`, new keys
    are appended, the manifest row count stays exact, and a frame with any
    column beyond keys + `col` is refused before anything is written."""
    from docprocai_service_spark.sources.manifest import StageStore

    store = StageStore(spark, str(tmp_path / "add"))
    schema = "src string, dst string, weight long"
    store.upsert("e", spark.createDataFrame([("a", "b", 2), ("c", "d", 1)], schema),
                 ["src", "dst"], add="weight")
    store.upsert("e", spark.createDataFrame([("a", "b", 3), ("x", "y", 7)], schema),
                 ["src", "dst"], add="weight")
    got = {(r["src"], r["dst"]): r["weight"] for r in store.read("e").collect()}
    assert got == {("a", "b"): 5, ("c", "d"): 1, ("x", "y"): 7}
    assert store.manifest("e")["rows"] == 3
    assert store.read("e").schema == spark.read.parquet(store.path("e")).drop("__bucket").schema
    wide = spark.createDataFrame([("a", "b", 1, "p")], "src string, dst string, weight long, p string")
    with pytest.raises(ValueError, match="weight"):
        store.upsert("e", wide, ["src", "dst"], add="weight")


def test_upsert_manifest_crash_adopts_committed_write(spark, tmp_path):
    """Crash AFTER the write job committed (_SUCCESS present) but BEFORE the
    manifest commit: the next upsert adopts the committed data instead of
    treating the stage as absent."""
    import os

    from docprocai_service_spark.sources.manifest import StageStore

    store = StageStore(spark, str(tmp_path / "mf"))
    v1 = spark.createDataFrame([("u1", 1, "a")], "url string, warc_ts int, payload string")
    store.upsert("seg", v1, keys=["url", "warc_ts"])
    os.remove(store._manifest_path("seg"))  # manifest commit "crashed"
    assert not store.is_done("seg")
    v2 = spark.createDataFrame([("u2", 1, "b")], "url string, warc_ts int, payload string")
    store.upsert("seg", v2, keys=["url", "warc_ts"])
    got = {r["url"]: r["payload"] for r in store.read("seg").collect()}
    assert got == {"u1": "a", "u2": "b"}
    assert store.manifest("seg")["rows"] == 2


def test_foreign_layout_is_refused_untouched(spark, tmp_path):
    """A committed stage in any layout but the store's own is input from
    disk, never migrated: for a plain unbucketed write and for a bucketed
    stage whose manifest records another bucket count, upsert raises
    naming the stage and leaves every file as it was."""
    import os

    from docprocai_service_spark.sources.manifest import StageStore

    store = StageStore(spark, str(tmp_path / "foreign"))
    df = spark.createDataFrame(
        [(f"u{i}", 1, i) for i in range(20)], "url string, warc_ts int, w int"
    )
    store.write("plain", df)
    store.upsert("wide", df, keys=["url", "warc_ts"])
    store.annotate("wide", {"n_buckets": 64})

    def files():
        return sorted(
            (os.path.join(d, f), os.stat(os.path.join(d, f)).st_mtime_ns)
            for d, _, names in os.walk(store.root) for f in names
        )

    for stage in ("plain", "wide"):
        before = files()
        with pytest.raises(ValueError, match=stage):
            store.upsert(stage, df.limit(3), keys=["url", "warc_ts"])
        assert files() == before
        assert store.read(stage).count() == 20


def test_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """Bucket-scoped merge: files in buckets the batch does not touch must
    not be rewritten (same inodes/mtimes), and the manifest count comes from
    the write job (no rescan) yet stays exact across merges."""
    import glob
    import os

    from docprocai_service_spark.sources.manifest import BUCKET_COL, StageStore

    store = StageStore(spark, str(tmp_path / "bk"))
    base = spark.createDataFrame(
        [(f"u{i}", 1, f"p{i}") for i in range(200)], "url string, warc_ts int, payload string"
    )
    store.upsert("seg", base, keys=["url", "warc_ts"])
    target = store.path("seg")

    def snapshot():
        """bucket dir -> frozenset of (file, mtime) — a bucket is 'rewritten'
        iff its file set changes."""
        out = {}
        for d in glob.glob(os.path.join(target, f"{BUCKET_COL}=*")):
            out[os.path.basename(d)] = frozenset(
                (f, os.stat(os.path.join(d, f)).st_mtime_ns)
                for f in os.listdir(d) if f.endswith(".parquet")
            )
        return out

    before = snapshot()
    assert len(before) > 4  # really bucketed
    # a 2-key batch touches at most 2 of 16 buckets
    delta = spark.createDataFrame(
        [("u0", 1, "NEW"), ("u999", 1, "fresh")], "url string, warc_ts int, payload string"
    )
    store.upsert("seg", delta, keys=["url", "warc_ts"])
    after = snapshot()
    untouched = [b for b in before if after.get(b) == before[b]]
    assert len(untouched) >= len(before) - 2  # ≥14/16 buckets not rewritten
    got = {r["url"]: r["payload"] for r in store.read("seg").collect()}
    assert got["u0"] == "NEW" and got["u999"] == "fresh" and len(got) == 201
    assert store.manifest("seg")["rows"] == 201  # metadata-only math, exact


def test_dynamic_sessionize_rule(spark):
    """New session iff similarity < θ AND elapsed ≥ min — both conditions."""
    from docprocai_service_spark.streaming.sessions import dynamic_sessionize

    rows = [
        # user 1: similar values close together -> one session
        (1, "2024-01-01 10:00:00", 1, "a", 0.50),
        (2, "2024-01-01 10:00:10", 1, "a", 0.52),
        # big value jump but only 5s elapsed -> min-duration guard holds it
        (3, "2024-01-01 10:00:15", 1, "a", 9.99),
        # big jump AND 20s elapsed -> new session
        (4, "2024-01-01 10:00:35", 1, "a", 0.01),
        # small change after 100s -> similarity guard keeps the session
        (5, "2024-01-01 10:02:15", 1, "a", 0.02),
    ]
    e = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = dynamic_sessionize(e, sim_threshold=0.9, min_session_s=15)
    sessions = {r["session_id"]: r["n_events"] for r in out.collect()}
    assert sessions == {1: 3, 2: 2}


def test_scan_buckets_pushes_bucket_partition_filter(spark, tmp_path):
    """ADVICE r3 #5: a bucket-scoped readback must prune the __bucket
    partition column BEFORE any join — a plain read + semi-join scans every
    bucket. Asserts the partition filter reaches the scan node."""
    from docprocai_service_spark.sources.manifest import StageStore, scan_buckets

    store = StageStore(spark, str(tmp_path / "rp"))
    rows = [(f"u{i}", 1, f"p{i}") for i in range(60)]
    df = spark.createDataFrame(rows, "url string, warc_ts int, payload string")
    store.upsert("seg", df, keys=["url", "warc_ts"])
    probe = spark.createDataFrame([("u1", 1), ("u2", 1)], "url string, warc_ts int")
    pruned = scan_buckets(spark, store.path("seg"), probe, "url")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__bucket" in plan.split("PartitionFilters", 1)[1][:200]
    # and the rows it returns are exactly the touched buckets' contents
    got_urls = {r["url"] for r in pruned.collect()}
    assert {"u1", "u2"} <= got_urls and len(got_urls) < 60


def test_fat_binary_scan_scopes_and_restores_conf(spark):
    """The 256-row parquet batch is scoped to fat-binary workloads; the
    narrow-table default must be restored on exit (VERDICT r3 #2: the global
    256 taxed every relational scan 15-30%)."""
    from docprocai_service_spark.session import fat_binary_scan

    key = "spark.sql.parquet.columnarReaderBatchSize"
    before = spark.conf.get(key, None)
    with fat_binary_scan(spark):
        assert spark.conf.get(key) == "256"
        with fat_binary_scan(spark, batch_rows=128):  # nesting restores outer
            assert spark.conf.get(key) == "128"
        assert spark.conf.get(key) == "256"
    after = spark.conf.get(key, None)
    assert after == before and after != "256"


def test_json_scalar_matches_duckdb(spark):
    """JSON-parse scalar coverage (§2.8 — the retired json_props_sum entry's
    operator, pinned here instead): get_json_object agrees with DuckDB's
    json_extract_string on the events table's props column at sf0.001."""
    import duckdb

    sf = "/root/testdata/sf0.001"
    e = spark.read.parquet(f"{sf}/events.parquet")
    got = sorted(
        map(
            tuple,
            e.groupBy("event_type")
            .agg(
                F.sum(F.get_json_object("props", "$.k").cast("int"))
                .cast("long")
                .alias("sum_k"),
                F.count("*").alias("n"),
            )
            .collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            duckdb.sql(
                f"""SELECT event_type,
                           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT),
                           COUNT(*)
                    FROM '{sf}/events.parquet' GROUP BY event_type"""
            ).fetchall(),
        )
    )
    assert got == want
