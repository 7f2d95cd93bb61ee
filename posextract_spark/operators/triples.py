"""Distributed triple extraction (the flagship operator).

Spark lifecycle (SURVEY.md §3.1): scan -> [mapInPandas: segment+parse+extract
+flatten, one Arrow crossing] -> Catalyst filters -> downstream.
Extraction is embarrassingly parallel per document: no shuffle is introduced
anywhere in this operator; partition count is inherited from the scan (use
``repartition_by_hash`` before calling it only when upstream partitions are
skewed, e.g. oversized pages).

The reference's equivalent path is one python process, one row at a time
(reference: src/posextract/grammatical_triples.py:362-371 CLI loop; per
sentence nlp() at :260). Here parsing is always batched per Arrow batch and
fused with extraction so token trees never cross a process boundary.
"""

from __future__ import annotations

import operator as _operator
from functools import partial
from typing import Iterator, List, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from posextract_spark.kernel.extract import extract_triples_one
from posextract_spark.kernel.quotes import split_quotes_list
from posextract_spark.kernel.triple import FLAT_FIELDS
from posextract_spark.operators.batches import Extract, map_column
from posextract_spark.options import TripleExtractorOptions

OUTPUT_STRING_FIELDS = tuple(FLAT_FIELDS) + (
    "subject_token_text",
    "verb_token_text",
    "object_token_text",
)

# C-level tuple extraction of the 17 output fields per triple (replaces a
# per-triple genexpr of dict lookups in the UDF hot loop)
_FIELDS_GETTER = _operator.itemgetter(*OUTPUT_STRING_FIELDS)


def repartition_by_hash(
    df: DataFrame, col: str = "url", n_partitions: Optional[int] = None
) -> DataFrame:
    """Explicit url-hash repartition (north_rule skew seam): call before
    extract_triples when upstream partitions are skewed — e.g. a scan whose
    input files cluster oversized pages. Hash partitioning spreads the KEYS
    uniformly; pair it with the sentence splitters' MAX_SENTENCE_CHARS
    cap, which bounds the per-ROW work an oversized page can demand."""
    n = n_partitions or int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, F.xxhash64(F.col(col)))


def _triple_fields(prov, segments: List[str], options: TripleExtractorOptions) -> Iterator[tuple]:
    """Per segment, the field tuples of its triples (Extract.fields)."""
    get_fields = _FIELDS_GETTER
    # Token objects materialize only where the traversal touches them
    for sent in prov.parse_lazy_batch(segments):
        fields = tuple(map(get_fields, extract_triples_one(sent, options=options)))
        # flattened fields hold only strings: break the sentence's Token
        # cycles so refcounting frees its forest
        sent.release()
        yield fields


def triple_extract(options: Optional[TripleExtractorOptions] = None) -> Extract:
    """The triples extractor for operators.batches.run_batches: a text's
    segments are its split_quotes parts (``sent_id`` numbers them)."""
    return Extract(
        OUTPUT_STRING_FIELDS,
        split_quotes_list,
        partial(
            _triple_fields,
            options=options if options is not None else TripleExtractorOptions(),
        ),
    )


def extract_triples(
    df: DataFrame,
    text_col: str = "text",
    id_cols: Optional[List[str]] = None,
    options: Optional[TripleExtractorOptions] = None,
    provider: str = "auto",
    provider_kwargs: Optional[dict] = None,
    posrule_filter: Optional[Column] = None,
) -> DataFrame:
    """documents(text [, ids...]) -> triples(ids..., sent_id, triple fields).

    Implementation: one ``mapInPandas`` through operators.batches, emitting
    flat frames. Parsing batches across each chunk of the Arrow batch
    (spaCy's nlp.pipe amortizes over it; the reference's triples path
    parses one sentence at a time, grammatical_triples.py:260).

    ``posrule_filter`` is a Catalyst Column compiled by
    posextract_spark.posrule — applied after the UDF so the optimizer sees
    it (vs the reference's post-hoc python filter at
    grammatical_triples.py:222-229).
    """
    out = map_column(
        df,
        text_col,
        list(id_cols or []),
        triple_extract(options),
        provider=provider,
        provider_kwargs=provider_kwargs,
    )
    if posrule_filter is not None:
        out = out.filter(posrule_filter)
    return out


# ---------------------------------------------------------------------------
# DuckDB oracle for the SVO-provider pipeline (documents corpus).
#
# The SVO chunk parser (posextract_spark.parse.svo) is constructed so that
# the kernel's output over its trees is exactly the window-function query
# below (always rule2; one triple per verb with both a subject and an
# object; per-document first-wins dedup == DISTINCT on an all-lowercase
# corpus). This lets the driver verify the full Spark pipeline
# (UDF -> kernel -> explode) against pure ANSI SQL.
# ---------------------------------------------------------------------------

SVO_TRIPLES_CTE = """
WITH toks AS (
  SELECT doc_id, unnest(ws) AS word,
         unnest(generate_series(1, len(ws))) AS idx
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
),
ctoks AS (
  SELECT doc_id, word, idx,
    CASE WHEN word IN ('the','a','an') THEN 'DET'
         WHEN word IN ('fast','slow','small','big') THEN 'ADJ'
         WHEN word IN ('scan','merge','join','sort','filter','group','order',
                       'hash','batch','stream','query') THEN 'VERB'
         ELSE 'NOUN' END AS pos
  FROM toks WHERE length(word) > 0
),
marked AS (
  SELECT doc_id, word, idx, pos,
    max(CASE WHEN pos='VERB' THEN idx END) OVER (
      PARTITION BY doc_id ORDER BY idx
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_verb_idx,
    min(CASE WHEN pos='VERB' THEN idx END) OVER (
      PARTITION BY doc_id ORDER BY idx
      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_verb_idx
  FROM ctoks
),
verbs AS (
  SELECT doc_id, idx AS v_idx, word AS verb, prev_verb_idx, next_verb_idx
  FROM marked WHERE pos='VERB'
),
subj AS (
  SELECT v.doc_id, v.v_idx, max(t.idx) AS subj_idx
  FROM verbs v JOIN ctoks t
    ON t.doc_id = v.doc_id AND t.pos = 'NOUN'
   AND t.idx < v.v_idx AND t.idx > COALESCE(v.prev_verb_idx, 0)
  GROUP BY v.doc_id, v.v_idx
),
obj AS (
  SELECT v.doc_id, v.v_idx, min(t.idx) AS obj_idx
  FROM verbs v JOIN ctoks t
    ON t.doc_id = v.doc_id AND t.pos = 'NOUN'
   AND t.idx > v.v_idx AND t.idx < COALESCE(v.next_verb_idx, 2147483647)
  GROUP BY v.doc_id, v.v_idx
),
cand AS (
  SELECT v.doc_id, v.v_idx, v.verb, s.subj_idx, o.obj_idx,
    lag(o.obj_idx) OVER (PARTITION BY v.doc_id ORDER BY v.v_idx) AS prev_obj_idx
  FROM verbs v
  LEFT JOIN subj s ON s.doc_id = v.doc_id AND s.v_idx = v.v_idx
  LEFT JOIN obj o ON o.doc_id = v.doc_id AND o.v_idx = v.v_idx
),
svo_triples AS (
  SELECT DISTINCT c.doc_id, ts.word AS subject, c.verb, tob.word AS object
  FROM cand c
  JOIN ctoks ts ON ts.doc_id = c.doc_id AND ts.idx = c.subj_idx
  JOIN ctoks tob ON tob.doc_id = c.doc_id AND tob.idx = c.obj_idx
  WHERE c.subj_idx IS NOT NULL AND c.obj_idx IS NOT NULL
    AND c.subj_idx IS DISTINCT FROM c.prev_obj_idx
)
"""
