"""The full KG-construction pipeline: pages → nodes/edges tables.

Composition of every stage (BASELINE.json:north_star), structured for
the 100 TB plan shape:

  pages ──mapInArrow(NER + in-batch pairing)───► mention rows + rels
                                                [no shuffle; pinned once]
        ├─ drop(rels) ──► mentions
        ├─ explode(rels) ──► triples            [no shuffle, no join]
        └─ mentions groupBy surface ──► surfaces [small output]
               │
               ├─ ≤ DRIVER_ROWS surfaces: ONE bounded Arrow collect
               │  of (sid, label, surface, n_mentions, shingles, hashes)
               │    driver: MinHash kernel → bands (≤ DRIVER_ROWS
               │            candidate pairs) → exact Jaccard
               │            → union-find → nodes + entity map
               │            (two LocalTableScans split by size:
               │            one partition up to 128 MiB, so the
               │            nodes write one file per label)
               │
               └─ more: surfaces pinned, distributed tail
                    MinHash stage → band join ──► links
                    CC iterations ──► entities ──► nodes + entity map
  triples × entity map (broadcast) ──► edges    [broadcast join: the
                                                 entity map is ≪ triples]

The relation window is intra-document and a document's spans come out
of one NER Arrow batch together, so the NER stage's emitter
(``ner_fused.mention_relations``) pairs them right there: each mention
row carries the relations it is the subject of. No shuffle touches data
proportional to the input; the surface aggregation and everything after
it operate on the distinct-surface universe, which is bounded by
vocabulary, not corpus size. Up to ``util.DRIVER_ROWS`` distinct
surfaces and as many LSH candidate pairs that tail is one driver pass
(``lsh_links_local`` + ``union_find``) on the same JVM-computed shingles
and hashes, with the same output as the distributed tail; past either
bound the distributed plan runs (measurements: docs/SCALE.md). The
surface count aggregation is not salted: map-side partial aggregation
already ships one row per hot surface per map task
(``tools/salt_probe.py``), and the band join's skew is bounded by
``band_pairs``' ``max_bucket`` guard. The tail
— surfaces → nodes + edges — is ``_nodes_and_edges``, shared with
``incremental.merge_kg_batch`` (which pairs its checkpointed mentions
with the ``relations.extract_relations`` self-join). Checkpointing
writes the mentions and the triples from the one NER pin, then nodes
and edges, each with per-partition manifests for resume.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..operators.canonicalize import (
    NODES_DDL,
    canonical_entities,
    nodes_table,
    union_find,
)
from ..operators.checkpoint import checkpoint_write, with_part_key
from ..operators.linking import (
    entity_surfaces,
    lsh_links,
    lsh_links_local,
    surface_shingles,
)
from ..operators.ner import _ner_stage
from ..operators.ner_fused import mention_relations
from ..operators.util import DRIVER_ROWS, local_table
from ..schemas import MENTION_RELATIONS

ENTITY_MAP_DDL = "e_label string, e_surface string, entity_id string"


@dataclass
class KgResult:
    mentions: DataFrame
    triples: DataFrame
    nodes: DataFrame
    edges: DataFrame


def _linking_tail_local(surfaces: DataFrame, k: int, n_perms: int,
                        bands: int):
    """(nodes, entity map) of the ``surfaces`` computed on the driver,
    or None when there are more than ``DRIVER_ROWS`` of them or of their
    LSH candidate pairs.

    One bounded Arrow collect of ``surface_shingles``
    (``limit(DRIVER_ROWS + 1)``), then the distributed tail's steps on
    its values: ``lsh_links_local`` with ``lsh_links``' parameters,
    ``union_find`` (entity_id = min sid of the component, whose surface
    is the canonical one) and the ``nodes_table`` aggregation. Both
    tables come back as ``local_table``s."""
    import pyarrow as pa
    import pyarrow.compute as pc

    tbl = surface_shingles(surfaces, k).limit(DRIVER_ROWS + 1).toArrow()
    links = (lsh_links_local(tbl, n_perms, bands, DRIVER_ROWS)
             if tbl.num_rows <= DRIVER_ROWS else None)
    if links is None:
        return None
    comp = union_find(links)
    sid = tbl.column("sid").combine_chunks()
    eid = pa.array([comp.get(s, s) for s in sid.to_pylist()], pa.string())
    ents = tbl.select(["sid", "label", "surface", "n_mentions"]).append_column(
        "entity_id", eid).append_column(
        "canonical", tbl.column("surface").take(pc.index_in(eid, sid)))
    nodes = ents.group_by(["entity_id", "canonical", "label"]).aggregate(
        [("n_mentions", "sum"), ("sid", "count")])
    nodes = nodes.append_column("n_mentions", nodes["n_mentions_sum"]) \
        .append_column("n_surfaces", nodes["sid_count"])
    ent_map = pa.table({"e_label": ents["label"],
                        "e_surface": ents["surface"], "entity_id": eid})
    spark = surfaces.sparkSession
    return (local_table(spark, nodes, NODES_DDL),
            local_table(spark, ent_map, ENTITY_MAP_DDL))


def _nodes_and_edges(surfaces: DataFrame, triples: DataFrame,
                     cfg: PipelineConfig) -> tuple[DataFrame, DataFrame]:
    """(nodes, edges) of the distinct ``surfaces`` and the ``triples``:
    the linking tail ``build_kg`` and ``incremental.merge_kg_batch``
    share. Up to ``DRIVER_ROWS`` surfaces and candidate pairs it is the
    driver pass (``_linking_tail_local``), past either bound the
    distributed ``lsh_links`` → ``canonical_entities`` plan; the edges
    join the triples to the entity map either way."""
    lsh = dict(k=cfg.shingle_k, n_perms=cfg.minhash_perms,
               bands=cfg.lsh_bands * 2)
    # the driver tail reads the surfaces once (its bounded collect), so
    # they are not pinned for it
    tail = _linking_tail_local(surfaces, **lsh)
    if tail is None:
        # pinned: the distributed tail's signature pass and entity join
        # both read them
        surfaces = surfaces.persist()
        try:
            links = lsh_links(surfaces, **lsh)
            entities = canonical_entities(surfaces, links, cfg.cc_max_iters)
            tail = nodes_table(entities), entities.select(
                F.col("label").alias("e_label"),
                F.col("surface").alias("e_surface"),
                "entity_id",
            )
        finally:
            # the tail's localCheckpoints hold all it read of them
            surfaces.unpersist()
    nodes, ent_map = tail

    # entity map is distinct surfaces → broadcast against triples
    ent_map = F.broadcast(ent_map)
    t = triples
    edges = (
        t.join(
            ent_map,
            (F.lower(t.subj) == F.col("e_surface"))
            & (t.subj_label == F.col("e_label")),
        )
        .withColumnRenamed("entity_id", "src_entity")
        .drop("e_label", "e_surface")
        .join(
            ent_map,
            (F.lower(t.obj) == F.col("e_surface"))
            & (t.obj_label == F.col("e_label")),
        )
        .withColumnRenamed("entity_id", "dst_entity")
        .groupBy("src_entity", "dst_entity", "pred")
        .agg(
            F.count(F.lit(1)).alias("support"),
            F.round(F.sum("prob"), 4).alias("weight"),
        )
    )
    return nodes, edges


def _explode_rels(ner: DataFrame) -> DataFrame:
    """``TRIPLES`` rows of ``MENTION_RELATIONS`` rows: each mention as
    the subject of every relation in its ``rels``."""
    r = F.explode("rels").alias("r")
    return ner.select(
        "doc_id",
        F.col("m_text").alias("subj"),
        F.col("label").alias("subj_label"),
        F.col("m_start").alias("subj_start"),
        r,
    ).select("doc_id", "subj", "subj_label", "subj_start", "r.pred",
             "r.obj", "r.obj_label", "r.obj_start", "r.prob")


def build_kg(
    pages: DataFrame,
    labels: Sequence[str],
    cfg: PipelineConfig = PipelineConfig(),
    checkpoint_root: str | None = None,
    id_col: str = "url",
    text_col: str = "text",
) -> KgResult:
    # one NER pass whose mention rows carry the relations they are the
    # subject of, paired inside each Arrow batch: no mentions shuffle,
    # no self-join. Pinned once: the mentions, the triples and (with
    # checkpoints) both writes read it, so the scorer runs once per
    # input task
    ner = _ner_stage(
        pages, labels, id_col, text_col, cfg.gliner, None,
        mention_relations(window_bytes=cfg.relation_window * 4),
        MENTION_RELATIONS,
    ).persist()
    mentions, triples = ner.drop("rels"), _explode_rels(ner)
    if checkpoint_root:
        try:
            mentions = checkpoint_write(
                with_part_key(mentions, "doc_id"),
                checkpoint_root,
                "mentions",
                lineage={"labels": list(labels)},
            )
            triples = checkpoint_write(
                with_part_key(triples, "doc_id"), checkpoint_root, "triples"
            )
        finally:
            # both stages now read back from their checkpoints
            ner.unpersist()

    # the surface aggregation runs unsalted whatever the skew: a hot
    # surface's partial count leaves each map task as one row
    nodes, edges = _nodes_and_edges(entity_surfaces(mentions), triples, cfg)

    if checkpoint_root:
        nodes = checkpoint_write(
            with_part_key(nodes, "entity_id"), checkpoint_root, "nodes"
        )
        edges = checkpoint_write(
            with_part_key(edges, "src_entity"), checkpoint_root, "edges"
        )
    return KgResult(mentions, triples, nodes, edges)
