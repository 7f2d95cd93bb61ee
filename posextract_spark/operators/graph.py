"""Graph materialization: nodes/edges tables (SURVEY.md §1.3 KG output).

nodes(entity_id, canonical, surface_forms, n_mentions)
edges(src, predicate, dst, weight, sources)

- weights: groupBy counts (shuffle on (src, predicate, dst) — AQE handles
  skew-split for head entities);
- provenance: collect_set of source urls, size-capped with slice so a hot
  edge cannot blow up a row;
- writes partition by bucket(entity hash) so a 1000-executor run reads and
  compacts each bucket independently (see plans.lineage for the
  checkpoint-resume orchestration around this).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from posextract_spark.operators.linking import attach_entities

MAX_SOURCES = 8


def build_edges(
    linked_triples: DataFrame,
    src_col: str = "subject_entity_id",
    dst_col: str = "object_entity_id",
    predicate_col: str = "verb",
    source_col: str = "url",
) -> DataFrame:
    return (
        linked_triples.groupBy(
            F.col(src_col).alias("src"),
            F.col(predicate_col).alias("predicate"),
            F.col(dst_col).alias("dst"),
        )
        .agg(
            F.count(F.lit(1)).alias("weight"),
            F.slice(F.sort_array(F.collect_set(source_col)), 1, MAX_SOURCES).alias("sources"),
        )
    )


def build_nodes(linked_mentions: DataFrame) -> DataFrame:
    """linked_mentions: output of linking.link_entities."""
    return linked_mentions.groupBy(F.col("entity_id"), F.col("canonical")).agg(
        F.slice(F.sort_array(F.collect_set("surface")), 1, MAX_SOURCES).alias("surface_forms"),
        F.count(F.lit(1)).alias("n_mentions"),
    )


def link_triples(triples: DataFrame, alias_df: DataFrame) -> DataFrame:
    """Attach subject_/object_-prefixed entity columns (linking.
    attach_entities) to triples: two broadcast joins, no shuffle."""
    out = attach_entities(triples, alias_df, "subject", prefix="subject_")
    return attach_entities(out, alias_df, "object", prefix="object_")


def merge_edge_deltas(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Incremental graph maintenance: fold a new crawl snapshot's edge
    aggregate into an existing edges table (daily-snapshot upsert — the
    batch-incremental path that avoids re-extracting the whole corpus).

    Exact invariant (oracle-checked by the kg_edges_incremental contract
    query): merge(build_edges(A), build_edges(B)) == build_edges(A ∪ B)
    on (src, predicate, dst, weight) for disjoint page sets A/B — weights
    are sums, so the merge is a map-side-combinable groupBy; running it
    per snapshot is associative and commutative. ``sources`` provenance is
    the sorted union of both sides' capped lists re-capped to MAX_SOURCES:
    exact whenever an edge's true source count stays within the cap,
    a deterministic 'first MAX_SOURCES after sort' approximation beyond it
    (the caps already made the column best-effort provenance, not an
    exhaustive index).

    Scale shape: ONE shuffle on (src, predicate, dst) with partial
    aggregation; both inputs are already edge AGGREGATES (tiny next to
    the corpus), and AQE skew-splits hot head-entity edges."""
    both = base.select("src", "predicate", "dst", "weight", "sources").unionAll(
        delta.select("src", "predicate", "dst", "weight", "sources")
    )
    return both.groupBy("src", "predicate", "dst").agg(
        F.sum("weight").alias("weight"),
        F.slice(
            F.sort_array(F.array_distinct(F.flatten(F.collect_list("sources")))),
            1,
            MAX_SOURCES,
        ).alias("sources"),
    )


def merge_node_deltas(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Node-side snapshot merge: mention counts sum; surface_forms is the
    sorted union of both sides' capped lists re-capped to MAX_SOURCES
    (exact while an entity's distinct-surface count stays within the cap
    — pinned by tests on the template corpus, whose entities have <= 4
    surfaces). Same single map-side-combinable shuffle as the edge
    merge."""
    both = base.select("entity_id", "canonical", "surface_forms", "n_mentions").unionAll(
        delta.select("entity_id", "canonical", "surface_forms", "n_mentions")
    )
    return both.groupBy("entity_id", "canonical").agg(
        F.slice(
            F.sort_array(F.array_distinct(F.flatten(F.collect_list("surface_forms")))),
            1,
            MAX_SOURCES,
        ).alias("surface_forms"),
        F.sum("n_mentions").alias("n_mentions"),
    )


#: characters unsafe inside an IRI path segment (RFC 3987's delimiters plus
#: whitespace/controls we could plausibly meet in entity surfaces). '%' MUST
#: be encoded first or already-encoded output would double-encode.
_IRI_UNSAFE = [
    ("%", "%25"),
    (" ", "%20"),
    ("<", "%3C"),
    (">", "%3E"),
    ('"', "%22"),
    ("{", "%7B"),
    ("}", "%7D"),
    ("|", "%7C"),
    ("^", "%5E"),
    ("`", "%60"),
    ("\\", "%5C"),
    ("\n", "%0A"),
    ("\t", "%09"),
]


def _iri_encode(col):
    out = col
    for ch, enc in _IRI_UNSAFE:
        out = F.replace(out, F.lit(ch), F.lit(enc))
    return out


def _iri_encode_sql(expr: str) -> str:
    out = expr
    for ch, enc in _IRI_UNSAFE:
        lit = ch.replace("'", "''")
        if ch == "\n":
            lit = "' || chr(10) || '"
        if ch == "\t":
            lit = "' || chr(9) || '"
        out = f"replace({out}, '{lit}', '{enc}')"
    return out


def to_ntriples(
    edges: DataFrame,
    base_iri: str = "http://kg.example/",
    src: str = "src",
    predicate: str = "predicate",
    dst: str = "dst",
) -> DataFrame:
    """(ntriple STRING) — the materialized KG serialized as RDF N-Triples,
    the line format every triple store / SPARQL engine bulk-loads:

        <base/entity/S> <base/rel/P> <base/entity/O> .

    Entity/relation surfaces are percent-encoded with an explicit
    replace chain (RFC 3987 delimiters + whitespace; '%' first so output
    never double-encodes) rather than engine url_encode builtins, whose
    space handling ('+' vs '%20') differs between engines. One distinct
    + one scan-side projection; the sink is then an ordinary text write,
    partitioned however the loader shards.
    """
    e = F.concat(
        F.lit(f"<{base_iri}entity/"),
        _iri_encode(F.col(src)),
        F.lit(f"> <{base_iri}rel/"),
        _iri_encode(F.col(predicate)),
        F.lit(f"> <{base_iri}entity/"),
        _iri_encode(F.col(dst)),
        F.lit("> ."),
    )
    return (
        edges.select(src, predicate, dst).distinct().select(e.alias("ntriple"))
    )


def to_ntriples_sql(
    edges_rel: str,
    base_iri: str = "http://kg.example/",
    src: str = "src",
    predicate: str = "predicate",
    dst: str = "dst",
) -> str:
    """DuckDB mirror of to_ntriples() (same replace chain)."""
    return f"""
SELECT '<{base_iri}entity/' || {_iri_encode_sql(src)}
       || '> <{base_iri}rel/' || {_iri_encode_sql(predicate)}
       || '> <{base_iri}entity/' || {_iri_encode_sql(dst)} || '> .' AS ntriple
FROM (SELECT DISTINCT {src}, {predicate}, {dst} FROM {edges_rel})"""
