"""Adjective-noun and subject-verb pair operators.

Spark shape mirrors the reference's extract_df wrappers
(reference: src/posextract/adj_noun_pairs.py:109-121, subj_verb_pairs.py:102-114),
with one ``mapInPandas`` through operators.batches: each document is one
segment, parsed to the provider's token arrays (``parse_arrays_batch``, no
Token/Sentence objects) and mapped by the array extractors of kernel.pairs
to flat rows. The id columns travel through the crossing with the text
(the reference broadcasts the original row manually at
adj_noun_pairs.py:114).

DuckDB oracle SQL mirrors for the SVO provider are defined alongside.
"""

from __future__ import annotations

import operator as _operator
from functools import partial
from typing import Callable, Iterator, List, Optional, Tuple

from pyspark.sql import DataFrame

from posextract_spark.kernel.pairs import adj_noun_pairs_arrays, subj_verb_pairs_arrays
from posextract_spark.operators.batches import Extract, map_column

ADJ_NOUN_FIELDS = ("verb_neg", "neg_det", "adjective", "noun")
SUBJ_VERB_FIELDS = ("subject", "verb_neg", "verb")


def _whole_text(text: str) -> List[str]:
    return [text]


def _pair_fields(
    prov,
    texts: List[str],
    kernel: Callable,
    names: Tuple[str, ...],
    lemmatize: bool,
    letter_case: str,
) -> Iterator[tuple]:
    """Per text, the field tuples of its pairs (Extract.fields)."""
    get_fields = _operator.itemgetter(*names)
    for arrays in prov.parse_arrays_batch(texts):
        yield tuple(map(get_fields, kernel(arrays, lemmatize=lemmatize, letter_case=letter_case)))


def pair_extract(
    kernel: Callable,
    names: Tuple[str, ...],
    lemmatize: bool = False,
    letter_case: str = "default",
) -> Extract:
    """A pair extractor for operators.batches.run_batches: each text is
    one segment (``sent_id`` 0), ``kernel`` maps its arrays to the pair
    dicts, and ``names`` orders their fields."""
    fields = partial(
        _pair_fields, kernel=kernel, names=names, lemmatize=lemmatize, letter_case=letter_case
    )
    return Extract(names, _whole_text, fields)


def _map_pairs(df, text_col, id_cols, keep, extract, provider, provider_kwargs) -> DataFrame:
    keep_cols = list(id_cols or []) if keep else []
    out = map_column(df, text_col, keep_cols, extract, provider, provider_kwargs)
    return out.select(*keep_cols, *extract.names)


def extract_adj_noun_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_cols: Optional[List[str]] = None,
    lemmatize: bool = False,
    letter_case: str = "default",
    provider: str = "auto",
    provider_kwargs: Optional[dict] = None,
    keep: bool = True,
) -> DataFrame:
    """reference: adj_noun_pairs.py:49-121. ``keep=False`` mirrors the
    column-drop variant (adj_noun_pairs.py:27-31)."""
    extract = pair_extract(adj_noun_pairs_arrays, ADJ_NOUN_FIELDS, lemmatize, letter_case)
    return _map_pairs(df, text_col, id_cols, keep, extract, provider, provider_kwargs)


def extract_subj_verb_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_cols: Optional[List[str]] = None,
    lemmatize: bool = False,
    letter_case: str = "default",
    provider: str = "auto",
    provider_kwargs: Optional[dict] = None,
    keep: bool = True,
) -> DataFrame:
    """reference: subj_verb_pairs.py:49-114 (incl. the stale-subject
    carry-over quirk — see kernel.pairs.subj_verb_pairs_arrays).
    ``keep=False`` mirrors the column-drop variant
    (reference: subj_verb_pairs.py:21-31)."""
    extract = pair_extract(subj_verb_pairs_arrays, SUBJ_VERB_FIELDS, lemmatize, letter_case)
    return _map_pairs(df, text_col, id_cols, keep, extract, provider, provider_kwargs)


# DuckDB mirrors for the SVO provider over the `documents` view. -------------

# adj-noun: every ADJ-classified word pairs with the next NOUN-classified
# word in the document (the SVO parser's amod attachment); negations are
# structurally impossible in these trees, so verb_neg/neg_det are ''.
SVO_ADJ_NOUN_SQL = """
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
nxt AS (
  SELECT doc_id, word, idx, pos,
    min(CASE WHEN pos='NOUN' THEN idx END) OVER (
      PARTITION BY doc_id ORDER BY idx
      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_noun_idx,
    -- verbless-doc edge: the parser makes the FIRST (non-empty) token the
    -- ROOT when a doc has no verbs, so an ADJ in that position never
    -- attaches to the next noun and emits NO pair (svo.py:20-25; caught
    -- by the adversarial-corpus replay — the synthetic corpus never
    -- starts a verbless doc with an ADJ)
    min(idx) OVER (PARTITION BY doc_id) AS first_idx,
    max(CASE WHEN pos='VERB' THEN 1 ELSE 0 END)
      OVER (PARTITION BY doc_id) AS has_verb
  FROM ctoks
)
SELECT a.doc_id,
       '' AS verb_neg, '' AS neg_det,
       a.word AS adjective, n.word AS noun
FROM nxt a
JOIN ctoks n ON n.doc_id = a.doc_id AND n.idx = a.next_noun_idx
WHERE a.pos = 'ADJ' AND (a.has_verb = 1 OR a.idx <> a.first_idx)
"""

# subj-verb: per VERB token in order; own subject = last NOUN in the gap
# after the previous verb unless it was that verb's object (that noun is
# not nsubj-attached by the SVO parser). Verbs without an own subject emit
# nothing: the reference's stale-subject variable is stringified at the end
# of each emitting iteration, so a carried-over subject always crashes
# (AttributeError / UnboundLocalError — see kernel.pairs.subj_verb_pairs_arrays
# and the pairs differential).
SVO_SUBJ_VERB_SQL = """
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
own AS (
  SELECT v.doc_id, v.v_idx, v.verb,
    CASE WHEN s.subj_idx IS DISTINCT FROM
              lag(o.obj_idx) OVER (PARTITION BY v.doc_id ORDER BY v.v_idx)
         THEN s.subj_idx END AS own_subj_idx
  FROM verbs v
  LEFT JOIN subj s ON s.doc_id = v.doc_id AND s.v_idx = v.v_idx
  LEFT JOIN obj o ON o.doc_id = v.doc_id AND o.v_idx = v.v_idx
)
SELECT e.doc_id, t.word AS subject, '' AS verb_neg, e.verb
FROM own e JOIN ctoks t ON t.doc_id = e.doc_id AND t.idx = e.own_subj_idx
WHERE e.own_subj_idx IS NOT NULL
"""
