"""Knowledge fusion / truth discovery over extracted triples.

Web-scale KG construction extracts the same (subject, predicate) fact from
many pages with *conflicting* objects — extraction noise, stale captures,
plain disagreement. The classic fusion stage (Dong et al., "Knowledge
Vault"-style voting) resolves each functional relation to its best-supported
object with a confidence score. Two operators:

- ``relation_stats``: per-predicate profile over the distinct edge set —
  how functional is this predicate? ``functionality_e6`` is the fixed-point
  ratio n_distinct_subjects / n_distinct_edges: 1e6 means every subject has
  exactly one object (a functional relation, e.g. *born_in*); small values
  mean a many-valued relation (e.g. *links_to*). This is the signal that
  decides which predicates fusion may legally collapse.
- ``fuse_functional_relations``: for predicates whose functionality clears
  a threshold, pick the majority-vote object per (subject, predicate)
  (support = observation count; ties broken by MINIMUM object so the result
  is a pure function of the input), and emit support/total/confidence.
- ``contested_facts``: conflict detection — (subject, predicate) groups
  with >=2 distinct objects, top-2 objects by support and the contention
  margin, all without a Window node.
- ``truth_discovery``: iterative source-reliability weighted voting
  (Accu/TruthFinder-lite) — majority vote is round 1; later rounds weight
  each source by how often it agreed with the consensus, so one
  authoritative page can overturn a mirror farm.

Scale shape (the fusion path of a 10^12-triple build):
- ``relation_stats``: one (src, predicate, dst) groupBy with map-side
  partial counts, then a predicate-keyed re-aggregation whose cardinality
  is the predicate vocabulary (tiny). The distinct counts ride the second
  shuffle; no Window anywhere.
- ``fuse_functional_relations``: the functional-predicate set is vocabulary
  -sized, so it joins back as a BROADCAST semi-filter (no shuffle of the
  triple traffic on that join); candidate counts are one (src, predicate,
  dst) shuffle; the winner is a struct-min aggregation per (src, predicate)
  — map-side combinable, skew-safe (a head subject's groups are still one
  key each; AQE splits the residual).

All arithmetic is integer fixed-point (``*_e6``), so the DuckDB mirrors
(`relation_stats_sql` / `fuse_functional_sql`) are engine-exact; the SQL
side may use windows (mirror only — the Spark side stays Window-free).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from posextract_spark.functions.boundary import checkpoint
from posextract_spark.functions.selection import argmax_min_tie


def _edge_counts(
    triples: DataFrame, src: str, predicate: str, dst: str
) -> DataFrame:
    """Distinct (src, predicate, dst) with observation counts — the shared
    first shuffle of both fusion operators."""
    return triples.groupBy(
        F.col(src).alias("src"),
        F.col(predicate).alias("predicate"),
        F.col(dst).alias("dst"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_obs"))


def relation_stats(
    triples: DataFrame,
    src: str = "src",
    predicate: str = "predicate",
    dst: str = "dst",
) -> DataFrame:
    """(predicate, n_obs, n_edges, n_src, n_dst, functionality_e6,
    inv_functionality_e6) — the per-relation schema profile.

    functionality_e6     = floor(1e6 * n_src / n_edges)
    inv_functionality_e6 = floor(1e6 * n_dst / n_edges)
    """
    edges = _edge_counts(triples, src, predicate, dst)
    return (
        edges.groupBy("predicate")
        .agg(
            F.sum("n_obs").cast("long").alias("n_obs"),
            F.count(F.lit(1)).cast("long").alias("n_edges"),
            F.countDistinct("src").cast("long").alias("n_src"),
            F.countDistinct("dst").cast("long").alias("n_dst"),
        )
        .withColumn(
            "functionality_e6",
            F.expr("n_src * 1000000 div n_edges").cast("long"),
        )
        .withColumn(
            "inv_functionality_e6",
            F.expr("n_dst * 1000000 div n_edges").cast("long"),
        )
    )


def entity_type_profile(
    triples: DataFrame,
    src: str = "src",
    predicate: str = "predicate",
) -> DataFrame:
    """(entity, n_facts, n_predicates, top_predicate, top_count,
    purity_e6) — the per-SUBJECT predicate signature, the node-level
    companion to relation_stats()'s relation-level profile.

    The entity-typing primitive: an entity whose out-edges concentrate on
    one predicate family ("directed", "starred_in") gets typed by that
    dominant predicate; purity_e6 = floor(1e6 * top_count / n_facts) is
    the confidence a downstream type-assignment join thresholds on.
    top_predicate ties break by MINIMUM predicate (argmax_min_tie — the
    repo-wide deterministic rule), so results are partition-independent.

    Scale shape: two map-side-combinable shuffles on narrowing keys
    ((src, predicate) counts, then src) — no window, no join; at 10^12
    edges the first groupBy is the only full-data shuffle and AQE handles
    hub subjects (a celebrity entity is one large group in a plain agg,
    not a serialized ranking partition).
    """
    per_pred = (
        triples.groupBy(F.col(src).alias("entity"), F.col(predicate).alias("p"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return (
        per_pred.groupBy("entity")
        .agg(
            F.sum("cnt").cast("long").alias("n_facts"),
            F.count(F.lit(1)).cast("long").alias("n_predicates"),
            argmax_min_tie(F.col("cnt"), F.col("p")).alias("m"),
        )
        .select(
            "entity",
            "n_facts",
            "n_predicates",
            F.col("m.v").alias("top_predicate"),
            (-F.col("m.neg")).cast("long").alias("top_count"),
        )
        .withColumn(
            "purity_e6", F.expr("top_count * 1000000 div n_facts").cast("long")
        )
    )


def entity_type_profile_sql(
    triples_rel: str,
    src: str = "src",
    predicate: str = "predicate",
) -> str:
    """SQL suffix mirroring entity_type_profile() (window tie-break —
    mirror only, the Spark side stays Window-free)."""
    return f"""
, _etp AS MATERIALIZED (
  SELECT {src} AS entity, {predicate} AS p, CAST(count(*) AS BIGINT) AS cnt
  FROM {triples_rel} GROUP BY 1, 2),
_etw AS (
  SELECT entity, p, cnt,
         CAST(sum(cnt) OVER (PARTITION BY entity) AS BIGINT) AS n_facts,
         CAST(count(*) OVER (PARTITION BY entity) AS BIGINT) AS n_predicates,
         row_number() OVER (PARTITION BY entity
                            ORDER BY cnt DESC, p ASC) AS rn
  FROM _etp)
SELECT entity, n_facts, n_predicates, p AS top_predicate,
       cnt AS top_count,
       CAST(cnt * 1000000 // n_facts AS BIGINT) AS purity_e6
FROM _etw WHERE rn = 1"""


def fuse_functional_relations(
    triples: DataFrame,
    min_functionality_e6: int = 800_000,
    min_confidence_e6: int = 0,
    src: str = "src",
    predicate: str = "predicate",
    dst: str = "dst",
) -> DataFrame:
    """Majority-vote object per (src, predicate) for sufficiently
    functional predicates.

    Returns (src, predicate, dst, support, total, confidence_e6) where
    ``dst`` is the object with the highest observation count (ties broken
    by minimum object — deterministic), ``support`` its count, ``total``
    the group's total observations and ``confidence_e6`` =
    floor(1e6 * support / total). Rows below ``min_confidence_e6`` are
    dropped (a fused fact a third of the evidence disagrees with is often
    worse than no fact).
    """
    cand = _edge_counts(triples, src, predicate, dst).withColumnRenamed(
        "n_obs", "support"
    )
    functional = (
        cand.groupBy("predicate")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_edges"),
            F.countDistinct("src").cast("long").alias("n_src"),
        )
        .filter(
            F.expr("n_src * 1000000 div n_edges").cast("long")
            >= F.lit(min_functionality_e6)
        )
        .select("predicate")
    )
    # predicate vocabulary is tiny at any corpus scale -> broadcast the
    # semi-filter so the candidate traffic never shuffles for it
    cand = cand.join(F.broadcast(functional), "predicate")
    fused = (
        cand.groupBy("src", "predicate")
        .agg(
            F.sum("support").cast("long").alias("total"),
            argmax_min_tie(F.col("support"), F.col("dst")).alias("m"),
        )
        .select(
            "src",
            "predicate",
            F.col("m.v").alias("dst"),
            (-F.col("m.neg")).cast("long").alias("support"),
            "total",
        )
        .withColumn(
            "confidence_e6",
            F.expr("support * 1000000 div total").cast("long"),
        )
    )
    if min_confidence_e6 > 0:
        fused = fused.filter(F.col("confidence_e6") >= F.lit(min_confidence_e6))
    return fused


def contested_facts(
    triples: DataFrame,
    src: str = "src",
    predicate: str = "predicate",
    dst: str = "dst",
) -> DataFrame:
    """Conflict detection: (src, predicate) groups asserting >=2 distinct
    objects, with the top-2 objects by support and the contention margin.

    Returns (src, predicate, n_objects, top_dst, top_support, runner_dst,
    runner_support, margin_e6) where margin_e6 = floor(1e6 * runner_support
    / top_support) — 1e6 means a dead heat, small values a clear winner.
    Ordering inside a tie is by minimum object (same rule as fusion), so
    top/runner are a pure function of the input.

    Scale shape: two (src, predicate) struct-min aggregations (map-side
    combinable) and one join back on the group key — no Window node, no
    per-group collect, so a subject with millions of conflicting objects
    costs two partial-agg passes, never a whole-partition sort.
    """
    cand = _edge_counts(triples, src, predicate, dst).withColumnRenamed(
        "n_obs", "support"
    )
    top = (
        cand.groupBy("src", "predicate")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_objects"),
            argmax_min_tie(F.col("support"), F.col("dst")).alias("m"),
        )
        .filter(F.col("n_objects") >= 2)
        .select(
            "src",
            "predicate",
            "n_objects",
            F.col("m.v").alias("top_dst"),
            (-F.col("m.neg")).cast("long").alias("top_support"),
        )
    )
    runner = (
        cand.join(top, ["src", "predicate"])
        .filter(F.col("dst") != F.col("top_dst"))
        .groupBy("src", "predicate")
        .agg(argmax_min_tie(F.col("support"), F.col("dst")).alias("m"))
        .select(
            "src",
            "predicate",
            F.col("m.v").alias("runner_dst"),
            (-F.col("m.neg")).cast("long").alias("runner_support"),
        )
    )
    return (
        top.join(runner, ["src", "predicate"])
        .withColumn(
            "margin_e6",
            F.expr("runner_support * 1000000 div top_support").cast("long"),
        )
    )


def truth_discovery(
    claims: DataFrame,
    rounds: int = 3,
    source: str = "source",
    src: str = "src",
    predicate: str = "predicate",
    dst: str = "dst",
    return_trust: bool = False,
):
    """Iterative source-reliability truth discovery (Accu/TruthFinder-lite,
    cf. Dong et al., VLDB'09; Li et al. "Truth Finding on the Deep Web").

    Majority vote treats every page as equally reliable; on the web a
    spammy mirror farm outvotes one authoritative page. This operator
    alternates, for a FIXED number of rounds (fixed-point iteration —
    run-to-quiescence can oscillate, same lesson as sync LPA):

    1. fact scores: vote_e6(fact) = sum of trust_e6 over sources asserting
       it; winner per (src, predicate) = max vote, ties by minimum dst.
    2. source trust: trust_e6(source) = floor(1e6 * n_winning_claims /
       n_claims) — sources that agree with the consensus gain weight.

    Trust starts at 500000 for every source, so round 1 IS majority vote;
    later rounds let reliable sources overturn it. All arithmetic is
    integer fixed-point — the unrolled DuckDB mirror
    (``truth_discovery_sql`` / ``source_trust_sql``) is engine-exact.

    Returns the final-round winners (src, predicate, dst, n_sources,
    vote_e6, total_e6, confidence_e6); with ``return_trust=True`` returns
    ``(winners, trust)`` where trust = (source, n_claims, n_wins,
    trust_e6) AFTER the final round (i.e. agreement with the returned
    winners).

    Scale shape (10^12 claims, 10^8 sources): the distinct claim set is
    checkpointed once and re-read K+1 times; per round there are two
    bounded shuffles over claim traffic (claims⋈trust on source — AQE
    broadcasts trust while the source vocabulary is small — and the
    (src, predicate, dst) vote groupBy, map-side combinable) plus one
    claims⋈winners equi-join for the trust update; trust and winners are
    checkpointed per round so lineage stays O(1), not O(rounds).
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    c, _ = checkpoint(
        claims.select(
            F.col(source).alias("source"),
            F.col(src).alias("src"),
            F.col(predicate).alias("predicate"),
            F.col(dst).alias("dst"),
        ).distinct()
    )
    n_claims = c.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_claims")
    )
    trust, _ = checkpoint(
        n_claims.select("source", F.lit(500000).cast("long").alias("trust_e6"))
    )

    winners = None
    for _ in range(rounds):
        scored = (
            c.join(trust, "source")
            .groupBy("src", "predicate", "dst")
            .agg(
                F.sum("trust_e6").cast("long").alias("vote_e6"),
                F.count(F.lit(1)).cast("long").alias("n_sources"),
            )
        )
        winners, _ = checkpoint(
            scored.groupBy("src", "predicate")
            .agg(
                F.sum("vote_e6").cast("long").alias("total_e6"),
                argmax_min_tie(
                    F.col("vote_e6"), F.col("dst"), F.col("n_sources")
                ).alias("m"),
            )
            .select(
                "src",
                "predicate",
                F.col("m.v").alias("dst"),
                F.col("m.c0").cast("long").alias("n_sources"),
                (-F.col("m.neg")).cast("long").alias("vote_e6"),
                "total_e6",
            )
        )
        wins = (
            c.join(
                winners.select("src", "predicate", "dst"),
                ["src", "predicate", "dst"],
            )
            .groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_wins"))
        )
        trust, _ = checkpoint(
            n_claims.join(wins, "source", "left")
            .select(
                "source",
                "n_claims",
                F.coalesce(F.col("n_wins"), F.lit(0)).cast("long").alias("n_wins"),
                F.expr(
                    "coalesce(n_wins, 0) * 1000000 div n_claims"
                ).cast("long").alias("trust_e6"),
            )
        )

    facts = winners.withColumn(
        "confidence_e6",
        F.when(F.col("total_e6") == 0, F.lit(0))
        .otherwise(F.expr("vote_e6 * 1000000 div total_e6"))
        .cast("long"),
    )
    if return_trust:
        return facts, trust
    return facts


# --- DuckDB mirrors (oracle side; never fed to Spark) -----------------------


def relation_stats_sql(
    triples_rel: str,
    src: str = "src",
    predicate: str = "predicate",
    dst: str = "dst",
) -> str:
    """SQL suffix mirroring relation_stats() over ``triples_rel``."""
    return f"""
, _rs_edges AS MATERIALIZED (
  SELECT {src} AS src, {predicate} AS predicate, {dst} AS dst,
         CAST(count(*) AS BIGINT) AS n_obs
  FROM {triples_rel} GROUP BY 1, 2, 3)
SELECT predicate,
  CAST(sum(n_obs) AS BIGINT) AS n_obs,
  CAST(count(*) AS BIGINT) AS n_edges,
  CAST(count(DISTINCT src) AS BIGINT) AS n_src,
  CAST(count(DISTINCT dst) AS BIGINT) AS n_dst,
  CAST(count(DISTINCT src) * 1000000 // count(*) AS BIGINT) AS functionality_e6,
  CAST(count(DISTINCT dst) * 1000000 // count(*) AS BIGINT) AS inv_functionality_e6
FROM _rs_edges GROUP BY predicate"""


def contested_facts_sql(
    triples_rel: str,
    src: str = "src",
    predicate: str = "predicate",
    dst: str = "dst",
) -> str:
    """SQL suffix mirroring contested_facts() (window top-2 pivot — mirror
    only, the Spark side stays Window-free)."""
    return f"""
, _cf_cand AS MATERIALIZED (
  SELECT {src} AS src, {predicate} AS predicate, {dst} AS dst,
         CAST(count(*) AS BIGINT) AS support
  FROM {triples_rel} GROUP BY 1, 2, 3),
_cf_ranked AS MATERIALIZED (
  SELECT src, predicate, dst, support,
         CAST(count(*) OVER (PARTITION BY src, predicate) AS BIGINT)
           AS n_objects,
         row_number() OVER (PARTITION BY src, predicate
                            ORDER BY support DESC, dst ASC) AS rn
  FROM _cf_cand)
SELECT t.src, t.predicate, t.n_objects,
       t.dst AS top_dst, t.support AS top_support,
       r.dst AS runner_dst, r.support AS runner_support,
       CAST(r.support * 1000000 // t.support AS BIGINT) AS margin_e6
FROM _cf_ranked t
JOIN _cf_ranked r ON r.src = t.src AND r.predicate = t.predicate
WHERE t.rn = 1 AND r.rn = 2"""


def _truth_discovery_chain(
    claims_rel: str,
    rounds: int,
    source: str,
    src: str,
    predicate: str,
    dst: str,
) -> str:
    """Shared unrolled CTE chain for the truth-discovery mirrors. Every
    round-CTE is AS MATERIALIZED — DuckDB's default inlining re-evaluates
    a CTE referenced k times per round ~k^rounds times (measured minutes
    vs milliseconds on the kcore mirror)."""
    parts = [
        f"""
, _td_claims AS MATERIALIZED (
  SELECT DISTINCT {source} AS source, {src} AS src,
         {predicate} AS predicate, {dst} AS dst
  FROM {claims_rel}),
_td_nclaims AS MATERIALIZED (
  SELECT source, CAST(count(*) AS BIGINT) AS n_claims
  FROM _td_claims GROUP BY source),
_td_trust_0 AS MATERIALIZED (
  SELECT source, CAST(500000 AS BIGINT) AS trust_e6 FROM _td_nclaims)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
_td_scored_{r} AS MATERIALIZED (
  SELECT c.src, c.predicate, c.dst,
         CAST(sum(t.trust_e6) AS BIGINT) AS vote_e6,
         CAST(count(*) AS BIGINT) AS n_sources
  FROM _td_claims c JOIN _td_trust_{r - 1} t USING (source)
  GROUP BY 1, 2, 3),
_td_win_{r} AS MATERIALIZED (
  SELECT src, predicate, dst, n_sources, vote_e6, total_e6 FROM (
    SELECT src, predicate, dst, n_sources, vote_e6,
           CAST(sum(vote_e6) OVER (PARTITION BY src, predicate) AS BIGINT)
             AS total_e6,
           row_number() OVER (PARTITION BY src, predicate
                              ORDER BY vote_e6 DESC, dst ASC) AS rn
    FROM _td_scored_{r}) WHERE rn = 1),
_td_trust_{r} AS MATERIALIZED (
  SELECT n.source, n.n_claims,
         CAST(coalesce(w.n_wins, 0) AS BIGINT) AS n_wins,
         CAST(coalesce(w.n_wins, 0) * 1000000 // n.n_claims AS BIGINT)
           AS trust_e6
  FROM _td_nclaims n LEFT JOIN (
    SELECT c.source, CAST(count(*) AS BIGINT) AS n_wins
    FROM _td_claims c
    JOIN _td_win_{r} v USING (src, predicate, dst)
    GROUP BY c.source) w USING (source))"""
        )
    return "".join(parts)


def truth_discovery_sql(
    claims_rel: str,
    rounds: int = 3,
    source: str = "source",
    src: str = "src",
    predicate: str = "predicate",
    dst: str = "dst",
) -> str:
    """SQL suffix mirroring truth_discovery()'s winners output."""
    chain = _truth_discovery_chain(claims_rel, rounds, source, src, predicate, dst)
    return f"""{chain}
SELECT src, predicate, dst, n_sources, vote_e6, total_e6,
       CAST(CASE WHEN total_e6 = 0 THEN 0
                 ELSE vote_e6 * 1000000 // total_e6 END AS BIGINT)
         AS confidence_e6
FROM _td_win_{rounds}"""


def source_trust_sql(
    claims_rel: str,
    rounds: int = 3,
    source: str = "source",
    src: str = "src",
    predicate: str = "predicate",
    dst: str = "dst",
) -> str:
    """SQL suffix mirroring truth_discovery(return_trust=True)'s trust
    output (post-final-round source reliability)."""
    chain = _truth_discovery_chain(claims_rel, rounds, source, src, predicate, dst)
    return f"""{chain}
SELECT source, n_claims, n_wins, trust_e6 FROM _td_trust_{rounds}"""


def fuse_functional_sql(
    triples_rel: str,
    min_functionality_e6: int = 800_000,
    min_confidence_e6: int = 0,
    src: str = "src",
    predicate: str = "predicate",
    dst: str = "dst",
) -> str:
    """SQL suffix mirroring fuse_functional_relations() (window tie-break
    — mirror only, the Spark side stays Window-free)."""
    having = (
        f"CAST(support * 1000000 // total AS BIGINT) >= {min_confidence_e6} AND "
        if min_confidence_e6 > 0
        else ""
    )
    return f"""
, _ff_cand AS MATERIALIZED (
  SELECT {src} AS src, {predicate} AS predicate, {dst} AS dst,
         CAST(count(*) AS BIGINT) AS support
  FROM {triples_rel} GROUP BY 1, 2, 3),
_ff_func AS MATERIALIZED (
  SELECT predicate FROM _ff_cand GROUP BY predicate
  HAVING CAST(count(DISTINCT src) * 1000000 // count(*) AS BIGINT)
         >= {min_functionality_e6}),
_ff_win AS (
  SELECT c.src, c.predicate, c.dst, c.support,
         CAST(sum(c.support) OVER (PARTITION BY c.src, c.predicate) AS BIGINT)
           AS total,
         row_number() OVER (PARTITION BY c.src, c.predicate
                            ORDER BY c.support DESC, c.dst ASC) AS rn
  FROM _ff_cand c JOIN _ff_func f ON f.predicate = c.predicate)
SELECT src, predicate, dst, support, total,
       CAST(support * 1000000 // total AS BIGINT) AS confidence_e6
FROM _ff_win WHERE rn = 1 AND {having}TRUE"""


def predicate_similarity(
    triples: DataFrame,
    min_common: int = 1,
    min_jaccard_e6: int = 0,
    max_pair_fanout: int | None = None,
    src: str = "src",
    predicate: str = "predicate",
    dst: str = "dst",
) -> DataFrame:
    """Relation-synonym mining: Jaccard overlap of the distinct
    (subject, object) pair sets of every two predicates — the signal that
    says *acquired* and *bought* are the same relation and should merge in
    the induced schema (ontology alignment, PARIS-style, Suchanek et al.
    VLDB'12).

    Returns (pred_a, pred_b, common, n_a, n_b, jaccard_e6) with
    pred_a < pred_b, common = |pairs(a) ∩ pairs(b)|, n_* the predicates'
    distinct-pair counts, jaccard_e6 = floor(1e6 * common /
    (n_a + n_b - common)). Rows below ``min_common`` / ``min_jaccard_e6``
    are dropped.

    ``max_pair_fanout`` drops (subject, object) pairs asserted under MORE
    than that many distinct predicates before the wedge join — a generic
    pair like (company, thing) appearing under hundreds of predicates
    contributes fanout^2 wedges. The filter is deterministic in the data;
    ``common`` becomes a lower bound for the affected predicate pairs
    while n_a/n_b stay exact (same honest-cap semantics as
    graph_analytics.neighbor_jaccard's degree filter).

    Scale shape: one distinct on (predicate, s, o); a per-pair fanout
    count (map-side combinable); the wedge self-join keyed on (s, o)
    whose per-key width is the pair's predicate fanout — bounded by the
    cap, so wedge work is O(pairs * cap^2); the predicate-size dim is
    vocabulary-sized and broadcasts.
    """
    ps = triples.select(
        F.col(predicate).alias("p"),
        F.col(src).alias("s"),
        F.col(dst).alias("o"),
    ).distinct()
    # sizes come from the PRE-cap pair set: the denominator stays exact
    # while common becomes a lower bound — same honest-cap convention as
    # neighbor_jaccard's full-degree denominator
    sizes = ps.groupBy("p").agg(F.count(F.lit(1)).cast("long").alias("n"))
    if max_pair_fanout is not None:
        fanout = ps.groupBy("s", "o").agg(
            F.count(F.lit(1)).cast("long").alias("_w")
        )
        ps = (
            ps.join(fanout, ["s", "o"])
            .filter(F.col("_w") <= F.lit(max_pair_fanout))
            .drop("_w")
        )
    left = ps.select(F.col("p").alias("pred_a"), "s", "o")
    right = ps.select(F.col("p").alias("pred_b"), "s", "o")
    common = (
        left.join(right, ["s", "o"])
        .filter(F.col("pred_a") < F.col("pred_b"))
        .groupBy("pred_a", "pred_b")
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
        .filter(F.col("common") >= F.lit(min_common))
    )
    sa = sizes.select(F.col("p").alias("pred_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("p").alias("pred_b"), F.col("n").alias("n_b"))
    return (
        common.join(F.broadcast(sa), "pred_a")
        .join(F.broadcast(sb), "pred_b")
        .withColumn(
            "jaccard_e6",
            F.expr("common * 1000000 div (n_a + n_b - common)").cast("long"),
        )
        .filter(F.col("jaccard_e6") >= F.lit(min_jaccard_e6))
        .select("pred_a", "pred_b", "common", "n_a", "n_b", "jaccard_e6")
    )


def predicate_similarity_sql(
    triples_rel: str,
    min_common: int = 1,
    min_jaccard_e6: int = 0,
    max_pair_fanout: int | None = None,
    src: str = "src",
    predicate: str = "predicate",
    dst: str = "dst",
) -> str:
    """SQL suffix mirroring predicate_similarity() (DuckDB dialect)."""
    if max_pair_fanout is not None:
        filt = f"""
, _psw AS MATERIALIZED (
  SELECT s, o, CAST(count(*) AS BIGINT) AS w FROM _ps0 GROUP BY s, o),
_ps AS MATERIALIZED (
  SELECT t.p, t.s, t.o FROM _ps0 t JOIN _psw w USING (s, o)
  WHERE w.w <= {max_pair_fanout})"""
    else:
        filt = """
, _ps AS MATERIALIZED (SELECT p, s, o FROM _ps0)"""
    return f"""
, _ps0 AS MATERIALIZED (
  SELECT DISTINCT {predicate} AS p, {src} AS s, {dst} AS o
  FROM {triples_rel}){filt},
_psn AS MATERIALIZED (
  SELECT p, CAST(count(*) AS BIGINT) AS n FROM _ps0 GROUP BY p),
_psc AS (
  SELECT l.p AS pred_a, r.p AS pred_b, CAST(count(*) AS BIGINT) AS common
  FROM _ps l JOIN _ps r ON l.s = r.s AND l.o = r.o AND l.p < r.p
  GROUP BY l.p, r.p
  HAVING count(*) >= {min_common})
SELECT c.pred_a, c.pred_b, c.common, a.n AS n_a, b.n AS n_b,
       CAST(c.common * 1000000 // (a.n + b.n - c.common) AS BIGINT) AS jaccard_e6
FROM _psc c
JOIN _psn a ON a.p = c.pred_a
JOIN _psn b ON b.p = c.pred_b
WHERE c.common * 1000000 // (a.n + b.n - c.common) >= {min_jaccard_e6}"""


def entity_cooccurrence(
    mentions: DataFrame,
    min_pairs: int = 1,
    max_doc_entities: int | None = None,
    doc: str = "doc_id",
    entity: str = "entity",
) -> DataFrame:
    """Document-level entity co-occurrence with integer lift — the
    statistical-relatedness signal between entities that never share a
    triple (PMI-style association mining; lift is the exp(PMI) ratio kept
    in exact integer arithmetic so the DuckDB mirror hashes identically).

    ``mentions``: (doc, entity) rows, deduplicated internally. For every
    entity pair a < b co-mentioned in at least ``min_pairs`` documents:

        lift_e6 = floor(1e6 * n_ab * n_docs / (n_a * n_b))

    where n_docs counts distinct documents with at least one mention —
    1e6 = independence, larger = associated. Returns
    (a, b, n_ab, n_a, n_b, lift_e6).

    ``max_doc_entities`` drops documents mentioning MORE than that many
    distinct entities before the pair join (a boilerplate page listing
    10^4 entities contributes 10^8 pairs); the filter is deterministic in
    the data, n_ab becomes a lower bound for affected pairs while
    n_a/n_b/n_docs stay exact over the full corpus.

    Scale shape: one distinct on (doc, entity); marginals are one
    entity-keyed groupBy (broadcast-sized dim per vocabulary); the pair
    join is keyed on doc with per-key width = the doc's entity count —
    bounded by the cap, so pair work is O(docs * cap^2); the final count
    is map-side combinable. Overflow: the lift intermediate is
    n_ab * 1e6 * n_docs, so the REAL bound is n_ab * n_docs < 2^63 / 1e6
    ~= 9.2e12 — a near-ubiquitous pair (n_ab ~= n_docs) overflows at
    ~3e6 docs, and Spark wraps silently while DuckDB raises. Past that,
    pre-scale: divide n_docs (and marginals) by a common factor before
    fusing, or compute lift on a sampled doc universe.
    """
    m = mentions.select(
        F.col(doc).alias("d"), F.col(entity).alias("e")
    ).distinct()
    # 1-row corpus-size frame, attached via broadcast cross-join — keeps
    # the operator lazy (no driver-side count action inside the plan)
    n_docs_df = (
        m.select("d").distinct().agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    marg = m.groupBy("e").agg(F.count(F.lit(1)).cast("long").alias("n_e"))
    if max_doc_entities is not None:
        width = m.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("_w"))
        m = (
            m.join(width, "d")
            .filter(F.col("_w") <= F.lit(max_doc_entities))
            .drop("_w")
        )
    pairs = (
        m.select(F.col("d"), F.col("e").alias("a"))
        .join(m.select(F.col("d"), F.col("e").alias("b")), "d")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= F.lit(min_pairs))
    )
    ma = marg.select(F.col("e").alias("a"), F.col("n_e").alias("n_a"))
    mb = marg.select(F.col("e").alias("b"), F.col("n_e").alias("n_b"))
    return (
        pairs.join(F.broadcast(ma), "a")
        .join(F.broadcast(mb), "b")
        .crossJoin(F.broadcast(n_docs_df))
        .withColumn(
            "lift_e6",
            F.expr("n_ab * 1000000 * n_docs div (n_a * n_b)").cast("long"),
        )
        .select("a", "b", "n_ab", "n_a", "n_b", "lift_e6")
    )


def entity_cooccurrence_sql(
    mentions_rel: str,
    min_pairs: int = 1,
    max_doc_entities: int | None = None,
    doc: str = "doc_id",
    entity: str = "entity",
) -> str:
    """SQL suffix mirroring entity_cooccurrence() (DuckDB dialect)."""
    if max_doc_entities is not None:
        filt = f"""
, _ecw AS MATERIALIZED (
  SELECT d, CAST(count(*) AS BIGINT) AS w FROM _ec0 GROUP BY d),
_ec AS MATERIALIZED (
  SELECT m.d, m.e FROM _ec0 m JOIN _ecw w USING (d)
  WHERE w.w <= {max_doc_entities})"""
    else:
        filt = """
, _ec AS MATERIALIZED (SELECT d, e FROM _ec0)"""
    return f"""
, _ec0 AS MATERIALIZED (
  SELECT DISTINCT {doc} AS d, {entity} AS e FROM {mentions_rel}){filt},
_ecn AS MATERIALIZED (
  SELECT CAST(count(DISTINCT d) AS BIGINT) AS n_docs FROM _ec0),
_ecm AS MATERIALIZED (
  SELECT e, CAST(count(*) AS BIGINT) AS n_e FROM _ec0 GROUP BY e),
_ecp AS (
  SELECT l.e AS a, r.e AS b, CAST(count(*) AS BIGINT) AS n_ab
  FROM _ec l JOIN _ec r ON l.d = r.d AND l.e < r.e
  GROUP BY l.e, r.e
  HAVING count(*) >= {min_pairs})
SELECT p.a, p.b, p.n_ab, ma.n_e AS n_a, mb.n_e AS n_b,
       CAST(p.n_ab * 1000000 * n.n_docs // (ma.n_e * mb.n_e) AS BIGINT)
         AS lift_e6
FROM _ecp p
JOIN _ecm ma ON ma.e = p.a
JOIN _ecm mb ON mb.e = p.b
CROSS JOIN _ecn n"""


def fuse_weighted(
    claims: DataFrame,
    weight: str = "weight",
    src: str = "src",
    predicate: str = "predicate",
    dst: str = "dst",
    min_confidence_e6: int = 0,
) -> DataFrame:
    """Externally-weighted single-round fusion: the winning object per
    (src, predicate) under an arbitrary non-negative integer vote weight —
    page quality, crawl recency, source authority — instead of
    observation counts (``fuse_functional_relations``) or learned trust
    (``truth_discovery``). One claim row contributes its weight once.

    Returns (src, predicate, dst, weight, total_weight, confidence_e6)
    with confidence_e6 = floor(1e6 * weight / total_weight) (0 when the
    group's total weight is 0); ties on weight break by minimum dst.

    Scale shape: one (src, predicate, dst) sum shuffle (map-side
    combinable) + one struct-min per (src, predicate) — same two-agg
    shape as fuse_functional_relations, no Window. Overflow: group sums
    must stay under 2^63 — at 1e12 claims that allows average weights to
    ~9e6 per claim; scale weights down before fusing past that.
    """
    cand = (
        claims.groupBy(
            F.col(src).alias("src"),
            F.col(predicate).alias("predicate"),
            F.col(dst).alias("dst"),
        )
        .agg(F.sum(F.col(weight)).cast("long").alias("w"))
    )
    fused = (
        cand.groupBy("src", "predicate")
        .agg(
            F.sum("w").cast("long").alias("total_weight"),
            argmax_min_tie(F.col("w"), F.col("dst")).alias("m"),
        )
        .select(
            "src",
            "predicate",
            F.col("m.v").alias("dst"),
            (-F.col("m.neg")).cast("long").alias("weight"),
            "total_weight",
        )
        .withColumn(
            "confidence_e6",
            F.when(F.col("total_weight") == 0, F.lit(0))
            .otherwise(F.expr("weight * 1000000 div total_weight"))
            .cast("long"),
        )
    )
    if min_confidence_e6 > 0:
        fused = fused.filter(F.col("confidence_e6") >= F.lit(min_confidence_e6))
    return fused


def fuse_weighted_sql(
    claims_rel: str,
    weight: str = "weight",
    src: str = "src",
    predicate: str = "predicate",
    dst: str = "dst",
    min_confidence_e6: int = 0,
) -> str:
    """SQL suffix mirroring fuse_weighted() (window formulation — mirror
    only)."""
    having = (
        f"AND CAST(CASE WHEN total_weight = 0 THEN 0 "
        f"ELSE w * 1000000 // total_weight END AS BIGINT) >= {min_confidence_e6} "
        if min_confidence_e6 > 0
        else ""
    )
    return f"""
, _fw_cand AS MATERIALIZED (
  SELECT {src} AS src, {predicate} AS predicate, {dst} AS dst,
         CAST(sum({weight}) AS BIGINT) AS w
  FROM {claims_rel} GROUP BY 1, 2, 3),
_fw_win AS (
  SELECT src, predicate, dst, w,
         CAST(sum(w) OVER (PARTITION BY src, predicate) AS BIGINT)
           AS total_weight,
         row_number() OVER (PARTITION BY src, predicate
                            ORDER BY w DESC, dst ASC) AS rn
  FROM _fw_cand)
SELECT src, predicate, dst, w AS weight, total_weight,
       CAST(CASE WHEN total_weight = 0 THEN 0
                 ELSE w * 1000000 // total_weight END AS BIGINT)
         AS confidence_e6
FROM _fw_win WHERE rn = 1 {having}"""
