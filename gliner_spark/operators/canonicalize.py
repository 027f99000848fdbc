"""Canonicalization: connected components over link edges → entity ids.

No reference counterpart; mandated by the north rule (GraphFrames is the
suggestion there but is not installed in this sandbox, so the primary
implementation is a native DataFrame iteration — SURVEY.md §2.3).

Algorithm: iterated label propagation to the component minimum ("hash-
min"), the DataFrame formulation of the classic small-star/large-star
map-reduce CC. Each iteration is one shuffle (groupBy node); labels
monotonically decrease, so convergence is ≤ diameter iterations —
surface-similarity graphs have tiny diameters (chains of near-duplicate
strings), so the ``max_iters=20`` bound is generous. ``localCheckpoint``
truncates lineage per iteration (without it the plan doubles each round
and Catalyst analysis time explodes by iteration ~15).

At 100 TB the edge set after linking is ≪ input size (distinct surface
pairs over threshold), so per-iteration shuffles are cheap relative to
the NER scan; AQE coalesces the small shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import DRIVER_ROWS, local_table


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 20,
) -> DataFrame:
    """edges(src, dst) undirected → (node, component) with component =
    min node id (lexicographic for strings) in the component.

    Convergence is checked every round; if ``max_iters`` is exhausted
    while labels are still changing (component diameter > max_iters) a
    warning is emitted — silently-unconverged labels would split one
    entity into several. Diameter-heavy graphs should use
    ``connected_components_star`` (O(log n) rounds) instead."""
    import warnings
    # materialize the symmetrized edge set ONCE: every iteration joins
    # against it, and without truncation each round re-executes the
    # whole upstream linking DAG (shingle inverted-index join etc.) —
    # measured as the dominant cost of kg_nodes (the star variant
    # already does this)
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    ).localCheckpoint()
    # seed with the neighborhood minimum (≡ running iteration 1 inside
    # the init aggregation — saves one full join round)
    labels = (
        sym.groupBy(F.col("a").alias("node"))
        .agg(F.min("b").alias("nbr_min"))
        .select(
            "node", F.least("node", F.col("nbr_min")).alias("component")
        )
    ).localCheckpoint()

    for _ in range(max_iters):
        # candidate label for each node: min over neighbors' labels
        nbr = (
            sym.join(labels, sym.b == labels.node)
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("component").alias("nbr_min"))
        )
        new_labels = (
            labels.join(nbr, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("nbr_min", "component")
                ).alias("component"),
            )
        ).localCheckpoint()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        warnings.warn(
            f"connected_components: not converged after {max_iters} "
            "iterations (component diameter exceeds the bound); labels "
            "may split one component into several. Raise max_iters or "
            "use connected_components_star (O(log n) rounds).",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def connected_components_auto(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 20,
    driver_threshold: int = DRIVER_ROWS,
    size_hint: int | None = None,
) -> DataFrame:
    """Size-adaptive connected components.

    The graphs this pipeline canonicalizes are vocabulary-bounded
    (distinct-surface link pairs / near-dup doc pairs), usually orders
    of magnitude smaller than the corpus. Up to ``driver_threshold``
    edges the labeling runs as a driver-side union-find over ONE
    collected pass of the edge list — identical output to the
    distributed iteration with none of its per-iteration shuffle +
    localCheckpoint + convergence-action fixed costs (measured ~2 s of
    overhead on a 4-edge graph). Bounded driver state with an explicit
    threshold — the same legitimacy argument as the IVF centroid
    collect (operators/similarity.py). Above the threshold it falls
    back to the distributed hash-min iteration; the collect is a
    ``limit(threshold+1)`` so the probe itself never materializes an
    oversized graph on the driver.

    The (possibly expensive) upstream edge plan executes ONCE either
    way (r4 ADVICE): the probe runs against a persisted ``edges``, so
    the distributed fallback's own materialization (its entry
    ``localCheckpoint`` of the symmetrized edges) reads the cache
    instead of recomputing the pair join. Callers that already know
    the edge count can pass ``size_hint`` to skip the probe's
    persist+count round trip — but NOT the safety bound: the collect
    keeps its ``limit(threshold+1)`` even when hinted, so a stale or
    miscomputed hint degrades to the distributed path instead of
    materializing an unbounded graph on the driver (r5 ADVICE)."""
    if size_hint is not None:
        if size_hint > driver_threshold:
            return connected_components(edges, src, dst, max_iters)
        rows = edges.select(
            F.col(src).alias("a"), F.col(dst).alias("b")
        ).limit(driver_threshold + 1).collect()
        if len(rows) > driver_threshold:  # hint was wrong — stay safe
            return connected_components(edges, src, dst, max_iters)
    else:
        pinned = edges.persist()
        try:
            rows = pinned.select(
                F.col(src).alias("a"), F.col(dst).alias("b")
            ).limit(driver_threshold + 1).collect()
            if len(rows) > driver_threshold:
                # entry localCheckpoint of the fallback materializes
                # from the cache; safe to release afterwards
                return connected_components(pinned, src, dst, max_iters)
        finally:
            pinned.unpersist()
    return _union_find_df(edges.sparkSession, rows,
                          edges.schema[src].dataType.simpleString())


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


def _union_find_df(spark, pairs, node_type: str) -> DataFrame:
    """``union_find`` as a (node, component) ``local_table``
    (LocalTableScan, never a Python RDD), sorted by node. Shared by
    the size-adaptive CC entry points."""
    return local_table(
        spark, sorted(union_find(pairs).items()),
        f"node {node_type}, component {node_type}",
    )


def canonical_entities(
    surfaces: DataFrame, links: DataFrame, max_iters: int = 20,
    cc_fn=None,
) -> DataFrame:
    """surfaces(sid, label, surface, n_mentions) × links(src, dst, sim)
    → (sid, entity_id, canonical, label, n_mentions).

    entity_id = min sid in the component; singleton surfaces (no link)
    are their own entity. canonical = the entity_id's surface string.
    ``cc_fn`` selects the components algorithm (size-adaptive default:
    driver union-find below 1M edges, distributed hash-min above;
    ``connected_components_star`` for the O(log n)-round path).
    """
    comp = (cc_fn or connected_components_auto)(
        links, "src", "dst", max_iters
    )
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
    sym = (
        edges.select("u", "v")
        .union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
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


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 25,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """Large-star/small-star connected components (the O(log n)-round
    map-reduce CC of Kiveris et al., re-expressed as DataFrame joins) —
    the 10^12-node path: round count grows with log of component size,
    not diameter, unlike the hash-min propagation in
    ``connected_components`` (kept as the low-overhead default for the
    small surface/dup graphs this pipeline produces).

    Like every CC entry point here, size-adaptive (r5 verdict #8): a
    graph under ``driver_threshold`` edges short-circuits to the shared
    driver union-find — each star round costs ~10 tiny shuffle stages
    plus a localCheckpoint, a fixed ~1.5 s/round that a toy graph pays
    3× over for 17 nodes. The iteration itself (unchanged above the
    threshold) is the one that runs at 10^12 nodes; tests pin it
    directly with ``driver_threshold=0``.

    Returns (node, component) with component = min node id.
    """
    pinned = None
    if driver_threshold > 0:
        pinned = edges.persist()
        # self-loops dropped BEFORE the union-find, matching the
        # iteration's _symmetric(u != v) filter — otherwise the output
        # node universe would depend on which side of the threshold
        # the graph lands (a node whose only edge is (n, n) appears as
        # a singleton from the union-find but not from the iteration)
        probe = pinned.where(F.col(src) != F.col(dst)).select(
            F.col(src).alias("a"), F.col(dst).alias("b")
        ).limit(driver_threshold + 1).collect()
        if len(probe) <= driver_threshold:
            try:
                return _union_find_df(
                    pinned.sparkSession, probe,
                    pinned.schema[src].dataType.simpleString())
            finally:
                pinned.unpersist()
        edges = pinned  # entry localCheckpoint below reads the cache
    def _sig(df: DataFrame) -> tuple:
        # one cheap aggregation job over the just-checkpointed
        # partitions: (count, order-insensitive xxhash64 content sum)
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal accumulator: ANSI mode errors on long overflow
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        return r.n, r.h

    entry = _symmetric(edges, src, dst).localCheckpoint()  # eager
    if pinned is not None:
        pinned.unpersist()  # the entry checkpoint holds the data now
    e = entry
    sig = _sig(e)
    for _ in range(max_iters):
        e2 = _small_star(_large_star(e)).localCheckpoint()
        sig2 = _sig(e2)
        # fixpoint check, cheapest-first (r5 verdict #8): the per-round
        # probe is ONE no-shuffle aggregation — equal multisets have
        # equal (count, hash-sum), so a signature change proves
        # progress without any join. Only a signature MATCH runs the
        # exact exceptAll confirmation (for equal sizes e2 ⊆ e implies
        # e ⊆ e2, one direction suffices), i.e. the heavy join executes
        # once per call, at the true fixpoint — not once per
        # near-converged round. A hash-sum collision merely costs that
        # one extra exceptAll; it cannot terminate the loop early.
        if sig2 == sig and e2.exceptAll(e).limit(1).count() == 0:
            e = e2
            break
        e, sig = e2, sig2
    # e is now (almost-)star-shaped: node → its component min, plus the
    # roots themselves; resolve one more min per node for safety
    comp = e.groupBy("u").agg(F.min("v").alias("component"))
    # node universe from the ENTRY checkpoint — re-symmetrizing
    # ``edges`` here would re-run the whole upstream pair join
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
