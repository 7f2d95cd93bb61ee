"""The end-to-end KG construction pipeline (BASELINE.json north_star).

pages(url, warc_ts, html, text, lang)
  -> lang filter (partition-prunable predicate, first thing after the scan)
  -> ONE Python crossing (mapInPandas over (url, html), or (url, text) with
     use_stored_text): html -> text (byte-identical to the stored text
     contract) -> sentence split (operators.sentences.sentences_of, the
     Python mirror of split_sentences) -> quote split + parse + extract
     (operators.batches.run_batches, the batch function extract_triples
     and the pair operators also run)
  -> ONE link table, (surface_norm, canonical): the alias dictionary, or
     with canonicalize=True the resolved map of
     operators.canonicalize.resolve_canonical_cc
  -> link_triples (edges) and link_entities (nodes), both through
     operators.linking.attach_entities (broadcast joins of that table)
  -> build_edges / build_nodes (grouped aggregation)

Each stage is usable standalone (extract_text, split_sentences and
extract_triples compose to the same triples); ``kg_from_pages`` composes
the pipeline. The checkpoint-resumable form runs the same composition per
url bucket via plans.lineage.BucketedRun.
"""

from __future__ import annotations

from functools import partial
from typing import List, Optional, Sequence, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from posextract_spark.operators.graph import build_edges, build_nodes, link_triples
from posextract_spark.operators.html_text import html_to_text
from posextract_spark.operators.linking import link_entities, mentions_from_triples
from posextract_spark.operators.sentences import sentences_of
from posextract_spark.operators.batches import map_batches
from posextract_spark.operators.triples import triple_extract
from posextract_spark.options import TripleExtractorOptions


def page_docs(
    pdf: pd.DataFrame,
    id_cols: Sequence[str],
    text_col: str,
    from_html: bool,
    remove_quotes: bool,
) -> Tuple[List[tuple], List[str]]:
    """``docs`` for operators.batches.run_batches: one document per
    kept sentence of each page, ids (id_cols..., sent_pos)."""
    ids, texts = [], []
    page_ids = zip(*(pdf[c].tolist() for c in id_cols))
    for page_id, text in zip(page_ids, pdf[text_col].tolist()):
        if from_html:
            text = html_to_text(text)
        for pos, sentence in enumerate(sentences_of(text, remove_quotes=remove_quotes)):
            ids.append(page_id + (pos,))
            texts.append(sentence)
    return ids, texts


def pages_to_triples(
    pages: DataFrame,
    lang: Optional[str] = "en",
    use_stored_text: bool = False,
    provider: str = "template",
    options: Optional[TripleExtractorOptions] = None,
    remove_quotes: bool = False,
    id_cols: Sequence[str] = ("url",),
) -> DataFrame:
    """pages -> triples with (id_cols..., sent_pos, sent_id) provenance:
    the rows of extract_triples(split_sentences(extract_text(pages))),
    from one mapInPandas per page batch."""
    df = pages
    if lang is not None:
        df = df.filter(F.col("lang") == lang)
    text_col = "text" if use_stored_text else "html"
    df = df.select(*id_cols, text_col)
    return map_batches(
        df,
        partial(
            page_docs,
            id_cols=list(id_cols),
            text_col=text_col,
            from_html=not use_stored_text,
            remove_quotes=remove_quotes,
        ),
        [(c, df.schema[c].dataType.simpleString()) for c in id_cols]
        + [("sent_pos", "int")],
        triple_extract(options),
        provider=provider,
    )


def kg_from_pages(
    pages: DataFrame,
    alias_df: DataFrame,
    out_dir: Optional[str] = None,
    n_buckets: int = 16,
    persist: bool = True,
    canonicalize: bool = False,
    min_score_e6: int = 300000,
    coref_min_sim_e6: int = 500000,
    max_block_width: Optional[int] = None,
    **kwargs,
):
    """(nodes, edges) from raw pages.

    Edges and nodes link through ONE (surface_norm, canonical) table and
    one link path (operators.linking.attach_entities: broadcast left join
    on the normalized surface, entity_id = portable hash of the
    canonical), so every edge endpoint id is a nodes entity_id whichever
    table is used. The table is ``alias_df`` (exact link), or with
    ``canonicalize=True`` (SURVEY §7.6 full chain) the vocabulary-sized
    map of operators.canonicalize.resolve_canonical_cc: distinct mention
    surfaces scored against the dictionary, link and co-reference edges
    through the O(log n) star CC, one canonical per cluster. That map
    holds every normalized mention surface, so a fuzzy/coref merge moves
    the node AND its edges together (pinned by
    tests/test_canonicalize_cc.py).

    ``persist`` caches the triples at the fan-out point — CRITICAL for
    scale: edges and nodes both consume the triples, and
    mentions_from_triples is a UNION of two selects of them, so without a
    persist the whole generate->html->parse->extract lineage re-runs up to
    4x (measured 222s -> 57s at 20k pages). MEMORY_AND_DISK (the default
    StorageLevel) spills gracefully when the triple set outgrows executor
    memory at the 10^12 design point; the bucketed/lineage orchestration
    path avoids even this by materializing each stage to parquet.
    """
    triples = pages_to_triples(pages, **kwargs)
    if persist:
        triples = triples.persist()
    mentions = mentions_from_triples(triples, id_cols=("url", "sent_id"))
    table = alias_df
    if canonicalize:
        from posextract_spark.operators.canonicalize import resolve_canonical_cc

        table = resolve_canonical_cc(
            mentions,
            alias_df,
            surface_col="surface",
            min_score_e6=min_score_e6,
            coref_min_sim_e6=coref_min_sim_e6,
            max_block_width=max_block_width,
        ).select("surface_norm", "canonical")
    linked = link_triples(triples, table)
    linked_mentions = link_entities(mentions, table)
    edges = build_edges(linked, source_col="url").withColumn(
        "bucket", F.pmod(F.col("src"), F.lit(n_buckets))
    )
    nodes = build_nodes(linked_mentions).withColumn(
        "bucket", F.pmod(F.col("entity_id"), F.lit(n_buckets))
    )
    if out_dir:
        edges.write.mode("overwrite").partitionBy("bucket").parquet(f"{out_dir}/edges")
        nodes.write.mode("overwrite").partitionBy("bucket").parquet(f"{out_dir}/nodes")
        if persist:
            # both consumers are materialized — release the cache instead of
            # leaking one MEMORY_AND_DISK block set per call in long sessions
            triples.unpersist()
    return nodes, edges
