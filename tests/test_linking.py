"""Entity linking: the pre-reduced lookup against a pandas argmax reference,
disambiguation determinism, NIL handling, and the broadcast plan shape of
both alias lookups."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from docprocai_service_spark.operators.canonicalize import canonicalize_entities, entity_names
from docprocai_service_spark.operators.extract import extract_stage
from docprocai_service_spark.operators.joins import salted_join
from docprocai_service_spark.operators.linking import link_mentions, reduce_alias_dict
from docprocai_service_spark.operators.materialize import edges_table, resolve_entities
from docprocai_service_spark.operators.triples import mentions_stage, triples_stage


@pytest.fixture(scope="module")
def triples(spark, spark_corpus):
    pages, _ = spark_corpus
    return triples_stage(extract_stage(pages)).localCheckpoint()


@pytest.fixture(scope="module")
def mentions(triples):
    return mentions_stage(triples).localCheckpoint()


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_links_match_pandas_argmax_reference(spark, mentions, spark_corpus, corpus):
    """Every mention's (entity_id, link_score) is the argmax of the pandas
    dictionary for lower(surface): prior descending, then entity_id
    ascending; None for both when the alias is absent."""
    import datetime

    _, alias = spark_corpus
    # the corpus links every surface; one unknown mention covers the NIL case
    unknown = spark.createDataFrame(
        [{"mention_id": "zzz-unknown", "url": "https://x", "sent_no": 0, "role": "subj",
          "warc_ts": datetime.datetime(2025, 1, 1), "surface": "Qwertyzx Blorp"}],
        mentions.schema,
    )
    mentions = mentions.unionByName(unknown)
    ref = (
        corpus.alias_dict.sort_values(["prior", "entity_id"], ascending=[False, True])
        .drop_duplicates("alias")
        .set_index("alias")
    )
    best = {a: (r.entity_id, r.prior) for a, r in ref.iterrows()}
    rows = link_mentions(mentions, alias).select(
        "mention_id", "surface", "entity_id", "link_score"
    ).collect()
    assert len(rows) == mentions.count()  # exactly one row per mention
    assert len({r["mention_id"] for r in rows}) == len(rows)
    got = {r["mention_id"]: (r["entity_id"], r["link_score"]) for r in rows}
    want = {r["mention_id"]: best.get(r["surface"].lower(), (None, None)) for r in rows}
    assert got == want
    assert any(e is None for e, _ in got.values())  # NIL mentions are exercised
    assert any(e is not None for e, _ in got.values())


def test_ambiguous_alias_resolves_to_max_prior(mentions, spark_corpus, corpus):
    _, alias = spark_corpus
    linked = link_mentions(mentions, alias)
    # pick an ambiguous short alias (e.g. "acme" maps to many entities)
    amb = (
        corpus.alias_dict.groupby("alias")
        .filter(lambda g: len(g) > 1)
        .sort_values("alias")
    )
    assert len(amb) > 0
    one = amb.iloc[0]["alias"]
    expected = (
        corpus.alias_dict[corpus.alias_dict.alias == one]
        .sort_values(["prior", "entity_id"], ascending=[False, True])
        .iloc[0]["entity_id"]
    )
    got = (
        linked.filter(F.lower(F.col("surface")) == one)
        .select("entity_id")
        .distinct()
        .collect()
    )
    assert [r["entity_id"] for r in got] == [expected]


def test_salted_join_equals_plain_join(spark, spark_corpus):
    _, alias = spark_corpus
    best = reduce_alias_dict(alias)
    probe = alias.select(F.col("alias"), F.sha2(F.col("alias"), 256).alias("uid")).distinct()
    plain = probe.join(best, "alias", "left")
    salted = salted_join(probe, best, key="alias", salt_on="uid", n_salts=5)
    key = lambda df: sorted(map(tuple, df.select("alias", "uid", "entity_id").collect()))
    assert key(plain) == key(salted)


def test_unknown_surface_is_nil(spark, spark_corpus):
    pages, alias = spark_corpus
    from docprocai_service_spark import schemas
    import datetime

    rows = [("zzz-unknown-entity", "https://x", datetime.datetime(2025, 1, 1), 0, "Qwertyzx Blorp", "subj")]
    m = spark.createDataFrame(rows, schema="mention_id string, url string, warc_ts timestamp, sent_no int, surface string, role string")
    linked = link_mentions(m, alias)
    row = linked.collect()[0]
    assert row["entity_id"] is None and row["link_score"] is None


def test_edges_broadcast_alias_map_triple_stream_shuffles_once(triples, spark_corpus):
    """Both endpoint lookups of resolve_entities broadcast the pinned
    alias→resolved-id map, so the only hash shuffle in the edges plan is the
    final groupBy(src, dst, pred)."""
    _, alias = spark_corpus
    canon = canonicalize_entities(entity_names(alias), threshold=0.7).localCheckpoint()
    plan = _plan(edges_table(resolve_entities(triples, alias, canon)))
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin\nLeft keys \[1\]: \[__alias#", plan)) == 2
    assert "ShuffledHashJoin" not in plan and "SortMergeJoin" not in plan
    shuffles = re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", plan)
    assert len(shuffles) == 1
    assert re.fullmatch(r"src_entity#\d+, dst_entity#\d+, pred#\d+, \d+", shuffles[0])


def test_empty_dictionary_links_everything_nil(mentions, triples, spark_corpus):
    """An empty dictionary pins and broadcasts without blocking: every
    mention is NIL and every edge endpoint is a NIL entity."""
    _, alias = spark_corpus
    empty = alias.limit(0)
    canon = canonicalize_entities(entity_names(empty), threshold=0.7)
    linked = link_mentions(mentions, empty)
    resolved = resolve_entities(triples, empty, canon)
    assert linked.count() == mentions.count()
    assert linked.filter(F.col("entity_id").isNotNull()).count() == 0
    assert resolved.count() == triples.count()
    assert (
        resolved.filter(
            ~F.col("src_entity").startswith("NIL:") | ~F.col("dst_entity").startswith("NIL:")
        ).count()
        == 0
    )
