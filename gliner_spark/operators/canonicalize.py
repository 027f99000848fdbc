"""Canonicalization: connected components over link edges → entity ids.

No reference counterpart; mandated by the north rule (GraphFrames is the
suggestion there but is not installed in this sandbox, so the
implementation is native DataFrame code — SURVEY.md §2.3).

One operator, ``connected_components``, with one bound,
``util.DRIVER_ROWS``. The graphs this pipeline canonicalizes are
vocabulary-bounded (distinct-surface link pairs, near-dup doc pairs),
orders of magnitude smaller than the corpus: up to the bound the edges
come to the driver in ONE ``limit(DRIVER_ROWS + 1)`` Arrow collect and a
path-compressed union-find labels them. Past it runs the
large-star/small-star iteration of Kiveris et al., "Connected
Components in MapReduce and Beyond" (SoCC 2014), as DataFrame joins —
the 10^12-node path: its round count grows with the log of the
component size, not with the diameter. ``localCheckpoint`` truncates
lineage per round (without it the plan doubles each round and Catalyst
analysis time explodes).

At 100 TB the edge set after linking is ≪ input size (distinct surface
pairs over threshold), so per-round shuffles are cheap relative to the
NER scan; AQE coalesces the small shuffles.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import DRIVER_ROWS, local_table, unpin


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 20,
) -> DataFrame:
    """edges(src, dst) undirected → (node, component) with component =
    min node id (lexicographic for strings) in the component.

    Self-loops are dropped first on both sides of the bound, so a node
    whose only edge is (n, n) is in no component; callers left-join
    their node universe and keep unlabelled nodes as singletons.

    Up to ``util.DRIVER_ROWS`` edges: ``union_find`` over one bounded
    Arrow collect, returned as a ``local_table`` — none of the iteration's
    ~10 tiny shuffle stages plus a ``localCheckpoint`` per round. Past
    it: the star iteration, at most ``max_iters`` rounds; a loop that
    ends without a confirmed fixpoint warns, because unconverged labels
    would split one entity into several.

    The (possibly expensive) upstream edge plan executes ONCE either
    way: the probe reads a persisted ``edges``, and the iteration's
    entry checkpoint reads that cache before it is released."""
    pinned = edges.persist()
    try:
        probe = pinned.where(F.col(src) != F.col(dst)).select(
            F.col(src).alias("a"), F.col(dst).alias("b")
        ).limit(DRIVER_ROWS + 1).toArrow()
        if probe.num_rows <= DRIVER_ROWS:
            pairs = list(zip(probe.column("a").to_pylist(),
                             probe.column("b").to_pylist()))
            t = pinned.schema[src].dataType.simpleString()
            return local_table(pinned.sparkSession,
                               sorted(union_find(pairs).items()),
                               f"node {t}, component {t}")
        entry = _symmetric(pinned, src, dst).localCheckpoint()  # eager
    finally:
        pinned.unpersist()  # the entry checkpoint holds the data now
    return _star_components(entry, max_iters)


def union_find(pairs) -> dict:
    """Driver path-compressed union-find over a collected edge list of
    (a, b) pairs → {node: min member of its component}. Callers are
    responsible for bounding ``pairs`` (limit(threshold+1) probes)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for pair in pairs for n in pair}


def canonical_entities(
    surfaces: DataFrame, links: DataFrame, max_iters: int = 20,
) -> DataFrame:
    """surfaces(sid, label, surface, n_mentions) × links(src, dst, sim)
    → (sid, entity_id, canonical, label, n_mentions).

    entity_id = min sid in the component; singleton surfaces (no link)
    are their own entity. canonical = the entity_id's surface string.
    """
    comp = connected_components(links, "src", "dst", max_iters)
    mapped = (
        surfaces.join(comp, surfaces.sid == comp.node, "left")
        .select(
            "sid",
            "label",
            "surface",
            "n_mentions",
            F.coalesce("component", "sid").alias("entity_id"),
        )
        # materialized ONCE (guide §2.4): ``mapped`` feeds both the
        # canonical-surface derivation and the final join — without
        # pinning, each branch re-runs the surfaces aggregation (a full
        # pass over mentions) and the component join. Surface-universe-
        # sized (vocabulary-bounded), so the pin is tiny at any corpus
        # scale.
        .localCheckpoint()
    )
    canon = mapped.where(F.col("sid") == F.col("entity_id")).select(
        F.col("entity_id").alias("ce_id"),
        F.col("surface").alias("canonical"),
    )
    return mapped.join(canon, mapped.entity_id == canon.ce_id).drop("ce_id")


# FIXTURES.md §4 nodes schema: ``nodes_table``'s output, and the
# schema of the nodes ``build_kg``'s driver linking tail builds
NODES_DDL = ("entity_id string, canonical string, label string, "
             "n_mentions bigint, n_surfaces bigint")


def nodes_table(entities: DataFrame) -> DataFrame:
    """Aggregate per-entity node rows (``NODES_DDL``)."""
    return entities.groupBy("entity_id", "canonical", "label").agg(
        F.sum("n_mentions").alias("n_mentions"),
        F.count(F.lit(1)).alias("n_surfaces"),
    )


def _symmetric(edges: DataFrame, src: str, dst: str) -> DataFrame:
    return (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    # neighborhoods are over the UNDIRECTED graph: symmetrize first (the
    # previous small-star emits directed edges), then connect every
    # strictly-larger neighbor to the neighborhood minimum
    sym = _symmetric(edges, "u", "v")
    m = sym.groupBy("u").agg(F.min("v").alias("mn"))
    m = m.select("u", F.least("mn", F.col("u")).alias("m"))
    return (
        sym.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    # orient small→large, then connect each ≤-neighbor to the minimum
    e = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).distinct()
    m = e.groupBy("u").agg(F.min("v").alias("mn"))
    m = m.select("u", F.least("mn", F.col("u")).alias("m"))
    j = e.join(m, "u")
    out = j.select(F.col("v").alias("u"), F.col("m").alias("v")).union(
        j.select(F.col("u"), F.col("m").alias("v"))
    )
    return out.where(F.col("u") != F.col("v")).distinct()


def _star_components(entry: DataFrame, max_iters: int) -> DataFrame:
    """The large-star/small-star iteration over the symmetrized,
    checkpointed edges (u, v) → (node, component = min node id). The
    result is a lazy plan over ``entry`` and the last round's
    checkpoint, so those two stay pinned; earlier rounds are released."""
    def _sig(df: DataFrame) -> tuple:
        # one cheap aggregation job over the just-checkpointed
        # partitions: (count, order-insensitive xxhash64 content sum)
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal accumulator: ANSI mode errors on long overflow
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        return r.n, r.h

    e = entry
    sig = _sig(e)
    for _ in range(max_iters):
        e2 = _small_star(_large_star(e)).localCheckpoint()
        sig2 = _sig(e2)
        # fixpoint check, cheapest-first: the per-round probe is ONE
        # no-shuffle aggregation — equal multisets have equal (count,
        # hash-sum), so a signature change proves progress without any
        # join. Only a signature MATCH runs the exact exceptAll
        # confirmation (for equal sizes e2 ⊆ e implies e ⊆ e2, one
        # direction suffices), i.e. the heavy join executes once per
        # call, at the true fixpoint. A hash-sum collision merely costs
        # that one extra exceptAll; it cannot end the loop early.
        done = sig2 == sig and e2.exceptAll(e).limit(1).count() == 0
        if e is not entry:
            unpin(e)  # an earlier round: nothing lazy reads it any more
        e, sig = e2, sig2
        if done:
            break
    else:
        warnings.warn(
            f"connected_components: not converged after {max_iters} "
            "star rounds (no confirmed fixpoint); labels may split one "
            "component into several. Raise max_iters.",
            RuntimeWarning,
            stacklevel=3,
        )
    # e is now (almost-)star-shaped: node → its component min, plus the
    # roots themselves; resolve one more min per node for safety
    comp = e.groupBy("u").agg(F.min("v").alias("component"))
    # node universe from the ENTRY checkpoint — re-symmetrizing the
    # edges here would re-run the whole upstream pair join
    nodes = entry.select(F.col("u")).distinct()
    return (
        nodes.join(comp, "u", "left")
        .select(
            F.col("u").alias("node"),
            F.least(F.coalesce("component", "u"), F.col("u")).alias(
                "component"
            ),
        )
    )
