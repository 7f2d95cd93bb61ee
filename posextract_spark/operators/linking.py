"""Entity linking: broadcast alias-dictionary lookup (BASELINE.json
north_star).

``attach_entities`` is the KG's one link path, for nodes
(``link_entities``) and edges (graph.link_triples, subject and object):
normalize the surface (``normalize_surface``), left-join a broadcast
(surface_norm -> canonical) table — the alias dictionary, or
operators.canonicalize.resolve_canonical_cc's map — and fall back to the
normalized surface, so downstream stages never see null ids.

Scale: the table is the small side — explicit F.broadcast keeps the join
shuffle-free regardless of autoBroadcastJoinThreshold; mention traffic
stays partitioned as produced by the extraction stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from posextract_spark.functions.hashing import portable_hash64


def normalize_surface(col):
    """Surface-form normalization key: trimmed lower-case."""
    return F.lower(F.trim(col))


def mentions_from_triples(triples: DataFrame, id_cols=("url", "sent_id")) -> DataFrame:
    """One row per subject/object mention with provenance and role."""
    ids = [F.col(c) for c in id_cols]
    subj = triples.select(*ids, F.lit("subject").alias("role"), F.col("subject").alias("surface"))
    obj = triples.select(*ids, F.lit("object").alias("role"), F.col("object").alias("surface"))
    return subj.unionAll(obj)


def char_bigrams(col, *, pre_normalized: bool = False):
    """Distinct character 2-grams of the normalized surface — the linking
    similarity's feature set. Native Columns (codegen), no Python.

    Guarded for length <= 1: Spark's sequence(1, 0) yields a DESCENDING
    [1, 0] (default step -1 when start > stop), which would fabricate a
    bigram where DuckDB's generate_series(1, 0) is empty.

    ``pre_normalized=True`` skips the lower(trim()) and requires ``col``
    to be an ATTRIBUTE holding an already-normalized surface (r5 paste
    audit): the transform's lambda references ``s`` per element, and a
    non-attribute subtree inside a HOF lambda is re-evaluated PER ELEMENT
    — lower(trim()) per bigram made this O(len^2) per surface. The hot
    (mention) path in resolve_surfaces_scored uses this flavor; the
    default flavor remains for call sites feeding raw columns, which pay
    the per-element cost and should only do so on small frames."""
    s = col if pre_normalized else normalize_surface(col)
    idx = F.sequence(F.lit(1), F.length(s) - 1)
    grams = F.array_distinct(F.transform(idx, lambda i: F.substr(s, i, F.lit(2))))
    return F.when(F.length(s) >= 2, grams).otherwise(
        F.array().cast("array<string>")
    )


def _bigram_intersection(a, b):
    """size of the bigram intersection — the O(|a|*|b|) scan. Compute it
    ONCE (behind a materialize boundary when used in several places)."""
    return F.size(F.filter(a, lambda x: F.array_contains(b, x)))


def _jaccard_e6_from_inter(a, b, inter):
    """floor(Jaccard * 1e6) given a PRE-COMPUTED intersection size
    (ideally a materialized attribute — ``inter`` is referenced twice
    and ``union`` components three times, all O(1) on attributes)."""
    union = F.size(a) + F.size(b) - inter
    return F.when(union > 0, F.floor(inter / union * F.lit(1000000.0)).cast("bigint")).otherwise(
        F.lit(0).cast("bigint")
    )


def bigram_jaccard_e6(a, b):
    """floor(Jaccard(a, b) * 1e6) over distinct bigram arrays — integer set
    sizes, so the fixed-point value is engine-exact.

    NOTE (r5 paste audit): this convenience composition pastes the
    intersection scan THREE times into the expression tree (inter, union,
    and the union>0 guard). Fine for one-off scoring of small frames; hot
    paths must materialize ``_bigram_intersection`` once and use
    ``_jaccard_e6_from_inter`` — as resolve_surfaces_scored does."""
    return _jaccard_e6_from_inter(a, b, _bigram_intersection(a, b))


def resolve_surfaces_scored(
    surfaces: DataFrame,
    alias_df: DataFrame,
    surface_col: str = "surface_norm",
    min_score_e6: int = 300000,
    prefix_len: int = 2,
) -> DataFrame:
    """Fuzzy mention-detect + link-score (north_star: 'batched
    mention-detect + link-score UDFs'), expressed as native Columns so
    Catalyst codegens the whole scorer — no Python crossing at all.

    Scale shape: score DISTINCT surfaces (the dictionary-resolution trick —
    mention traffic is huge but distinct surfaces are small), blocking on a
    normalized prefix against the BROADCAST alias dictionary, then pick the
    best candidate per surface with max(struct(score, canonical)) — a
    map-side-combinable agg, no window. Callers broadcast the resolved
    (surface -> entity) table back onto full mention traffic.

    Output: (surface_norm, canonical, score_e6, linked) — one row per input
    surface; below-threshold surfaces fall back to themselves (linked=false),
    exact alias hits score 1e6 by construction.

    Contract: ``alias_df.surface_norm`` must be pre-normalized
    (lower-cased, trimmed) — prefix blocking and the exact-hit equality
    compare it verbatim. Mention surfaces are normalized here.
    """
    from posextract_spark.functions.boundary import materialize

    # .distinct() is an Aggregate — a hard boundary, so surface_norm below
    # is a genuine attribute and char_bigrams(pre_normalized=True) never
    # re-evaluates lower(trim()) inside the transform lambda (r5 paste
    # audit: the previous formulation re-normalized PER BIGRAM ELEMENT,
    # O(len^2) per surface, 4 lower(trim) copies in the plan)
    s = surfaces.select(
        normalize_surface(F.col(surface_col)).alias("surface_norm")
    ).distinct()
    s = s.withColumn("_pfx", F.substring("surface_norm", 1, prefix_len)).withColumn(
        "_bg", char_bigrams(F.col("surface_norm"), pre_normalized=True)
    )
    # alias side: ``alias_df.surface_norm`` is PRE-NORMALIZED BY CONTRACT
    # (the column name is the contract; sources build it with .lower() —
    # sources/pages.py:alias_table). Prefix blocking and the exact-hit
    # shortcut already compared it raw, so re-normalizing it for the
    # bigram features only (the r4 shape) could never rescue an
    # unnormalized dictionary anyway — it would fail blocking/equality
    # first. Taking the contract at face value drops that dead work; the
    # plan guard pins lower(trim) == 1 (mention side only).
    a = alias_df.select(
        F.substring("surface_norm", 1, prefix_len).alias("_pfx"),
        F.col("surface_norm").alias("_asurf"),
        char_bigrams(F.col("surface_norm"), pre_normalized=True).alias("_abg"),
        F.col("canonical").alias("_cand"),
    )
    # the O(|a|*|b|) intersection scan is computed ONCE behind a Generate:
    # the naive bigram_jaccard_e6 composition pastes it three times (inter,
    # union, union>0 guard) into an interpreted projection on the joined
    # (surface x candidate) traffic — the hot loop of this operator
    joined = materialize(
        s.join(F.broadcast(a), "_pfx", "left"),
        _inter=_bigram_intersection(F.col("_bg"), F.col("_abg")),
    )
    # exact dictionary hits short-circuit to 1e6: for >=2-char surfaces the
    # bigram Jaccard already evaluates to 1e6, but a 1-char surface has NO
    # bigrams (empty sets -> score 0) and would miss its verbatim alias
    scored = joined.withColumn(
        "_score",
        F.when(F.col("surface_norm") == F.col("_asurf"), F.lit(1000000).cast("bigint"))
        .otherwise(
            _jaccard_e6_from_inter(F.col("_bg"), F.col("_abg"), F.col("_inter"))
        ),
    )
    best = scored.groupBy("surface_norm").agg(
        F.max(F.struct(F.col("_score").alias("s"), F.col("_cand").alias("c"))).alias("_b")
    )
    return best.select(
        "surface_norm",
        F.when(
            F.col("_b.s") >= min_score_e6, F.col("_b.c")
        ).otherwise(F.col("surface_norm")).alias("canonical"),
        F.when(F.col("_b.s") >= min_score_e6, F.col("_b.s"))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("score_e6"),
        (F.col("_b.s") >= min_score_e6).cast("int").alias("linked"),
    )


def attach_entities(
    df: DataFrame,
    table: DataFrame,
    surface_col: str,
    prefix: str = "",
) -> DataFrame:
    """Adds ({prefix}surface_norm, {prefix}canonical, {prefix}linked,
    {prefix}entity_id) to ``df``. ``table``: (surface_norm, canonical),
    surfaces pre-normalized. A miss keeps its normalized surface as
    canonical (linked = false); entity_id is the portable hash of the
    canonical. A null surface stays null throughout (the triples batch
    never emits one: every field it flattens is a string)."""
    norm, canon = f"{prefix}surface_norm", f"{prefix}canonical"
    t = table.select(F.col("surface_norm").alias(norm), F.col("canonical").alias(canon))
    joined = df.withColumn(norm, normalize_surface(F.col(surface_col))).join(
        F.broadcast(t), norm, "left"
    )
    return (
        joined.withColumn(f"{prefix}linked", F.col(canon).isNotNull())
        .withColumn(canon, F.coalesce(F.col(canon), F.col(norm)))
        .withColumn(f"{prefix}entity_id", portable_hash64(F.col(canon)))
    )


def link_entities(
    mentions: DataFrame,
    alias_df: DataFrame,
    surface_col: str = "surface",
) -> DataFrame:
    """Adds (surface_norm, canonical, linked, entity_id) to mentions
    (attach_entities). alias_df: (surface_norm, canonical)."""
    return attach_entities(mentions, alias_df, surface_col)
