"""Relation extraction: mentions → (subj, pred, obj) triples.

No reference counterpart (the reference stops at spans); mandated by the
north rule (BASELINE.json:north_star — "dependency-pattern relation
extraction to emit (subj, pred, obj) triples"). Implemented Spark-first
as a proximity self-join over the long-format mentions table:

  subj ⋈ obj on doc_id where subj.label/obj.label match a rule and
  0 < obj.m_start − subj.m_start ≤ window_bytes

This is a plain Catalyst equi-join on ``doc_id`` with a range residual —
fully declarative, so AQE handles skew (one hot page with thousands of
mentions) and the rule table is broadcast. Wall-clock at scale is
dominated by the single shuffle of mentions by doc_id.

It is the pairing for mentions that already are a table:
``incremental.merge_kg_batch`` (the checkpointed mentions of every
batch), the ``ner_triples``/``kg_edges`` queries and bench.py. Where the
spans come straight out of NER — ``plans/kg.build_kg``,
``ner_fused.extract_triples_fused`` — the NER stage pairs each Arrow
batch's spans itself (``ner_fused.pair_spans``), with no shuffle and
the same triples.
"""

from __future__ import annotations

from typing import List, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import local_table

# (subj_label, obj_label, pred) — deterministic predicate lexicon; the
# pattern-based stand-in for dependency-path relation classification.
DEFAULT_RULES: List[Tuple[str, str, str]] = [
    ("system", "operator", "executes"),
    ("system", "artifact", "stores"),
    ("operator", "artifact", "operates_on"),
    ("person", "city", "located_in"),
    ("city", "country", "capital_of"),
    ("person", "car", "owns"),
]

DEFAULT_WINDOW_BYTES = 64


def extract_relations(
    mentions: DataFrame,
    rules: Sequence[Tuple[str, str, str]] = DEFAULT_RULES,
    window_bytes: int = DEFAULT_WINDOW_BYTES,
) -> DataFrame:
    """mentions → triples via windowed co-occurrence.

    Directed: subject mention must precede the object mention within
    ``window_bytes`` of byte offset (a sentence-scale proximity window).
    prob = subj.prob × obj.prob, rounded to 4 (both factors are rounded
    sigmoids already; see operators/ner.py).
    """
    spark = mentions.sparkSession
    rules_df = F.broadcast(
        local_table(
            spark, list(rules),
            "subj_label string, obj_label string, pred string",
        )
    )
    # band the proximity window into the JOIN KEY (guide §3.3: the
    # doc_id-only self-join streams |mentions_per_doc|² pairs through
    # the residual filter — ~960/doc on the soup corpus — before the
    # window predicate drops ~95% of them). With buckets of width
    # ``window_bytes``, a qualifying pair (0 < Δ ≤ window) always has
    # obj_bucket ∈ {subj_bucket, subj_bucket + 1}, so exploding the
    # SUBJECT side to those two bucket values and equi-joining on
    # (doc_id, bucket) considers only same-and-adjacent-bucket pairs
    # (~2.5× fewer streamed rows) and matches each qualifying pair
    # EXACTLY once (the object's own bucket equals exactly one of the
    # two subject probes). The residual predicate is unchanged, so the
    # output multiset is identical (shared ner_triples oracle + the
    # fused-equality pytest pin).
    bkt = F.floor(F.col("m_start") / F.lit(int(window_bytes)))
    s = mentions.withColumn(
        "_bkt", F.explode(F.array(bkt, bkt + 1))
    ).alias("s")
    o = mentions.withColumn("_bkt", bkt).alias("o")
    return (
        s.join(
            o,
            (F.col("s.doc_id") == F.col("o.doc_id"))
            & (F.col("s._bkt") == F.col("o._bkt")),
        )
        .where(
            (F.col("o.m_start") > F.col("s.m_start"))
            & (F.col("o.m_start") - F.col("s.m_start") <= window_bytes)
        )
        .join(
            rules_df,
            (F.col("s.label") == F.col("subj_label"))
            & (F.col("o.label") == F.col("obj_label")),
        )
        .select(
            F.col("s.doc_id").alias("doc_id"),
            F.col("s.m_text").alias("subj"),
            F.col("s.label").alias("subj_label"),
            F.col("s.m_start").alias("subj_start"),
            F.col("pred"),
            F.col("o.m_text").alias("obj"),
            F.col("o.label").alias("obj_label"),
            F.col("o.m_start").alias("obj_start"),
            F.round(F.col("s.prob") * F.col("o.prob"), 4).alias("prob"),
        )
    )


def aggregate_edges(triples: DataFrame) -> DataFrame:
    """Distinct (subj, pred, obj) with support counts — the KG edge view
    before canonicalization."""
    return triples.groupBy("subj", "subj_label", "pred", "obj", "obj_label").agg(
        F.count(F.lit(1)).alias("support"),
        F.round(F.max("prob"), 4).alias("max_prob"),
    )
