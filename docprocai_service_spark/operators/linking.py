"""Stage 3 — entity linking + disambiguation (capability C6).

The reference's analog is a whitelist lookup followed by a Python argmax loop
over similarity scores (reference: persistence/SegmentDbConnector.py:228-258,
service/DocProcAiService.py:739-753). Here disambiguation is context-free
(score = prior), so the argmax commutes with the join:

  disambiguation argmax = reduce_alias_dict: row_number() over
                          Window.partitionBy(alias) with a total order
                          (prior desc, entity_id asc) so ties break
                          deterministically — never `first()` (SURVEY.md §7
                          hard-parts list). It runs on the dictionary side
                          only (a shuffle of ~10⁴ rows).
  candidate lookup      = one left equi-join of the mention stream on
                          lower(surface) = alias against that one-row-per-
                          alias map; unmatched mentions stay (NIL linking).

The reduced dictionary is pinned and broadcast (joins.pinned_broadcast), so
the mention stream is never shuffled — the whole stage is narrow, and the
Zipf skew of the alias key ("acme" appears in a huge fraction of mentions)
never meets a shuffle. The broadcast is unconditional: the dictionary is the
one build side that grows with the KG, and a size guard for it is open work
(ROADMAP Direction 4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .joins import pinned_broadcast


def reduce_alias_dict(alias_dict: DataFrame) -> DataFrame:
    """Pre-reduce the dictionary to the single best entity per alias: max
    prior, ties → min entity_id."""
    w = Window.partitionBy("alias").orderBy(F.desc("prior"), F.asc("entity_id"))
    return alias_dict.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def link_mentions(mentions: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """mentions → linked_mentions(…, entity_id, link_score); entity_id null = NIL."""
    best = pinned_broadcast(reduce_alias_dict(alias_dict))
    m = mentions.withColumn("alias", F.lower(F.col("surface")))
    return (
        m.join(best, "alias", "left")
        .drop("alias")
        .withColumnRenamed("prior", "link_score")
    )
