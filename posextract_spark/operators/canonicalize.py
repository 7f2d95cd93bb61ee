"""Canonicalization: surface-form aggregation + connected components.

Connected components over co-reference/alias edges is the one operator
Spark lacks natively (SURVEY.md §4.2). ``connected_components_star`` —
alternating large-star/small-star (Kiveris et al., "Connected Components
in MapReduce and Beyond"), O(log n) rounds on any graph shape — is the one
implementation. It checkpoints each round to cut lineage growth, and the
checkpoint's own job fills the convergence probe, so it exits early on
convergence without a separate probe job. ``resolve_canonical_cc`` is the one
canonicalizer: scored links and co-reference edges through that CC, one
canonical per surface cluster; pipeline.kg_from_pages links through its
(surface_norm, canonical) map exactly as through the alias dictionary.

Skew note (north_rule): head entities produce hot keys in the surface-form
groupBy; ``salted_counts`` demonstrates the two-phase salted aggregation
used by the materialize stage when a direct groupBy skews.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from posextract_spark.functions.boundary import checkpoint, materialize


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    return_rounds: bool = False,
):
    """(node BIGINT, component BIGINT) via alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — O(log n) rounds on ANY graph shape, vs min-label
    propagation's O(diameter). component = min reachable node id; nodes
    with only self-loops are absent. ``edges``: undirected pairs of BIGINT
    node ids (any orientation).

    Per round: two groupBy-min passes + re-emit (each a single shuffle on
    node id, map-side combinable), then a checkpoint that cuts lineage and,
    in the same job, observes the edge set's checksum (count + bit_xor of
    edge hashes). An unchanged checksum is the convergence test: no
    except/subtract anti-join over the full edge set, and no probe job.
    This is the scale path for adversarially deep graphs (co-reference
    chains across crawl snapshots); the near-star alias graphs the KG stage
    produces converge in 2-3 rounds either way.
    """
    probes = dict(
        n=F.count(F.lit(1)),
        # bit_xor: order-independent and overflow-free under ANSI mode
        # (sum(xxhash64) throws ARITHMETIC_OVERFLOW on ~dozens of rows)
        h=F.coalesce(F.expr("bit_xor(xxhash64(a, b))"), F.lit(0)),
    )
    e, prev = checkpoint(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b"))
        .distinct(),
        **probes,
    )

    def large_star(df):
        # center u: every STRICTLY LARGER neighbor v links to
        # m = min(neighbors(u) + {u})
        und = df.unionAll(df.select(F.col("b").alias("a"), F.col("a").alias("b")))
        m = und.groupBy("a").agg(F.least(F.min("b"), F.first("a")).alias("m"))
        return (
            und.join(m, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    def small_star(df):
        # edges already oriented a > b; center a: all small neighbors + a
        # link to m = min(small neighbors)
        m = df.groupBy("a").agg(F.min("b").alias("m"))
        linked = df.join(m, "a")
        out = linked.select(F.col("b").alias("a"), F.col("m").alias("b")).unionAll(
            linked.select(F.col("a"), F.col("m").alias("b"))
        )
        return (
            out.filter(F.col("a") != F.col("b"))
            .select(F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b"))
            .distinct()
        )

    rounds = 0
    for _ in range(max_iter):
        e, cur = checkpoint(small_star(large_star(e)), **probes)
        rounds += 1
        if cur == prev:
            break
        prev = cur

    # converged edge set is a star forest (child > root = component min)
    labels = e.select(F.col("a").alias("node"), F.col("b").alias("component")).unionAll(
        e.select(F.col("b").alias("node"), F.col("b").alias("component"))
    ).distinct()
    if return_rounds:
        return labels, rounds
    return labels


def salted_counts(
    df: DataFrame,
    key_col: str,
    n_salts: int = 16,
    count_alias: str = "n",
    *,
    id_col: str,
) -> DataFrame:
    """Two-phase salted count for skewed keys: partial count on
    (key, salt), then final merge. Bounded partition width on hot keys.

    ``id_col`` is a stable, unique column: the salt is
    ``pmod(xxhash64(id_col), n_salts)`` — deterministic in the DATA, so a
    fetch-failure-driven recompute of the partial-count map stage
    re-derives identical (key, salt) assignments and the result is exactly
    equal to a direct groupBy-count even across task attempts. A salt from
    ``monotonically_increasing_id()`` would not be: the
    row->partition->offset mapping can change between attempts, and a
    map-stage retry could mix partials from different salt assignments
    (SPARK-23207-class hazard: double- or drop-counted rows)."""
    salt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts))
    salted = df.withColumn("_salt", salt)
    partial = salted.groupBy(key_col, "_salt").agg(F.count(F.lit(1)).alias("_partial"))
    return partial.groupBy(key_col).agg(F.sum("_partial").cast("bigint").alias(count_alias))


def coref_edges(
    surfaces: DataFrame,
    surface_col: str = "surface_norm",
    min_sim_e6: int = 500000,
    prefix_len: int = 2,
    max_block_width: int | None = None,
) -> DataFrame:
    """Co-reference candidate edges between DISTINCT normalized surfaces:
    (src, dst) hashes for pairs with char-bigram Jaccard >= ``min_sim_e6``,
    prefix-blocked like the linking scorer (north_star: 'connected-components
    union over co-reference edges').

    Scale shape: the self-join runs over the distinct-surface VOCABULARY
    (small next to mention traffic — the same dictionary-resolution trick
    as resolve_surfaces_scored) and only within a normalized-prefix block.
    A hot prefix block ('ma...' at web scale) is quadratic in block width,
    so production runs pass ``max_block_width`` — the shared deterministic
    hash-threshold cap (functions/capping.py), honest-lower-bound semantics
    as everywhere else. The bigram intersection is materialized ONCE behind
    a Generate boundary (r5 linking-CSE lesson: pasting it three times put
    the O(|a|*|b|) scan in an interpreted projection 3x per pair)."""
    from posextract_spark.functions.hashing import portable_hash64
    from posextract_spark.operators.linking import (
        _bigram_intersection,
        _jaccard_e6_from_inter,
        char_bigrams,
    )

    s = surfaces.select(F.col(surface_col).alias("_s"))
    s = s.withColumn("_pfx", F.substring("_s", 1, prefix_len)).withColumn(
        "_bg", char_bigrams(F.col("_s"), pre_normalized=True)
    )
    if max_block_width is not None:
        from posextract_spark.functions.capping import cap_bucket_width

        s = cap_bucket_width(s, ["_pfx"], "_s", max_block_width)
    a = s.select(
        F.col("_pfx"), F.col("_s").alias("_sa"), F.col("_bg").alias("_bga")
    )
    b = s.select(
        F.col("_pfx").alias("_pfxb"), F.col("_s").alias("_sb"), F.col("_bg").alias("_bgb")
    )
    joined = materialize(
        a.join(b, (F.col("_pfx") == F.col("_pfxb")) & (F.col("_sa") < F.col("_sb"))),
        _inter=_bigram_intersection(F.col("_bga"), F.col("_bgb")),
    )
    return (
        joined.filter(
            _jaccard_e6_from_inter(F.col("_bga"), F.col("_bgb"), F.col("_inter"))
            >= F.lit(min_sim_e6)
        )
        .select(
            portable_hash64(F.col("_sa")).alias("src"),
            portable_hash64(F.col("_sb")).alias("dst"),
        )
    )


def resolve_canonical_cc(
    surfaces: DataFrame,
    alias_df: DataFrame,
    surface_col: str = "surface",
    min_score_e6: int = 300000,
    coref_min_sim_e6: int = 500000,
    prefix_len: int = 2,
    max_block_width: int | None = None,
    structural_edges: DataFrame | None = None,
) -> DataFrame:
    """Full canonicalization (SURVEY §7.6, VERDICT r5 item 3): scored
    linking -> link + co-reference edges -> connected components -> one
    canonical name per surface CLUSTER.

    Graph nodes are surface hashes plus 'canon:'-namespaced dictionary
    anchors; edges are (a) surface -> best-candidate anchor for surfaces
    the scorer links (score >= min_score_e6) and (b) co-reference edges
    between near-identical surfaces (coref_edges). A cluster's canonical
    name is the smallest anchor canonical in its component, or the smallest
    member surface for anchor-less clusters (typo families that match no
    dictionary entry). Surfaces in no edge at all stay their own canonical.

    ``structural_edges`` (optional) is a third edge source for the SAME
    component graph: (surface_a, surface_b) pairs of *normalized* surfaces
    judged co-referent by graph context rather than by string shape —
    typically graph_analytics.neighbor_jaccard over the mention graph,
    thresholded ("IBM" / "Big Blue" share relational neighborhoods while
    sharing no characters, so string coref can never merge them). Pairs
    are hashed with the same portable_hash64 node namespace and unioned
    into the CC input; None (default) leaves behavior exactly as before.

    Returns (surface_norm, canonical, entity_id, linked) — one row per
    distinct normalized surface; ``linked`` keeps the SCORER's dictionary
    verdict (a coref-clustered typo family has linked=0 but a shared
    canonical). Callers broadcast this vocabulary-sized map back onto full
    mention traffic (pipeline.kg_from_pages canonicalize=True).

    Scale shape: every frame here is vocabulary-sized (distinct surfaces),
    never mention traffic — the scorer output is checkpointed once
    (eager; it has four consumers below and its lineage reaches back
    through the mention extraction), CC is the O(log n) star algorithm,
    and the rep/component joins are broadcast while vocabulary fits an
    executor (drop the hints for >10^8-surface vocabularies; the joins
    stay key-equijoins either way)."""
    from posextract_spark.functions.hashing import portable_hash64
    from posextract_spark.operators.linking import resolve_surfaces_scored

    scored, _ = checkpoint(
        resolve_surfaces_scored(
            surfaces,
            alias_df,
            surface_col=surface_col,
            min_score_e6=min_score_e6,
            prefix_len=prefix_len,
        )
    )

    anchor_node = portable_hash64(F.concat(F.lit("canon:"), F.col("canonical")))
    linked_rows = scored.filter(F.col("linked") == 1)
    link_edges = linked_rows.select(
        portable_hash64(F.col("surface_norm")).alias("src"),
        anchor_node.alias("dst"),
    )
    coref = coref_edges(
        scored.select("surface_norm"),
        min_sim_e6=coref_min_sim_e6,
        prefix_len=prefix_len,
        max_block_width=max_block_width,
    )
    cc_in = link_edges.unionAll(coref)
    if structural_edges is not None:
        sa, sb = structural_edges.columns[:2]
        cc_in = cc_in.unionAll(
            structural_edges.select(
                portable_hash64(F.col(sa)).alias("src"),
                portable_hash64(F.col(sb)).alias("dst"),
            )
        )
    comps = connected_components_star(cc_in)

    anchors = linked_rows.select(
        anchor_node.alias("node"), F.col("canonical")
    ).distinct()
    anchor_rep = (
        anchors.join(F.broadcast(comps), "node")
        .groupBy("component")
        .agg(F.min("canonical").alias("_arep"))
    )
    surf_nodes = scored.select(
        "surface_norm",
        "linked",
        portable_hash64(F.col("surface_norm")).alias("node"),
    )
    surf_comp = surf_nodes.join(F.broadcast(comps), "node", "left")
    surf_rep = (
        surf_comp.filter(F.col("component").isNotNull())
        .groupBy("component")
        .agg(F.min("surface_norm").alias("_srep"))
    )
    reps = surf_rep.join(F.broadcast(anchor_rep), "component", "left").select(
        "component", F.coalesce(F.col("_arep"), F.col("_srep")).alias("_rep")
    )
    return (
        surf_comp.join(F.broadcast(reps), "component", "left")
        .select(
            "surface_norm",
            F.coalesce(F.col("_rep"), F.col("surface_norm")).alias("canonical"),
            "linked",
        )
        .withColumn("entity_id", portable_hash64(F.col("canonical")))
        .select("surface_norm", "canonical", "entity_id", "linked")
    )
