"""Adjective-noun and subject-verb pair operators.

Spark shape mirrors the reference's extract_df wrappers
(reference: src/posextract/adj_noun_pairs.py:109-121, subj_verb_pairs.py:102-114):
df -> pandas UDF -> explode, with sibling columns preserved for free by the
explode (the reference broadcasts the original row manually at
adj_noun_pairs.py:114).

DuckDB oracle SQL mirrors for the SVO provider are defined alongside.
"""

from __future__ import annotations

from typing import List, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

ADJ_NOUN_STRUCT = StructType(
    [
        StructField("verb_neg", StringType(), False),
        StructField("neg_det", StringType(), False),
        StructField("adjective", StringType(), False),
        StructField("noun", StringType(), False),
    ]
)

SUBJ_VERB_STRUCT = StructType(
    [
        StructField("subject", StringType(), False),
        StructField("verb_neg", StringType(), False),
        StructField("verb", StringType(), False),
    ]
)


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
    id_cols = list(id_cols or [])
    pk = provider_kwargs or {}

    @F.pandas_udf(ArrayType(ADJ_NOUN_STRUCT))
    def pairs_udf(texts: pd.Series) -> pd.Series:
        # array-native path: the extractors never touch the object tree,
        # so providers that can skip Token/Sentence construction (svo) do;
        # parity with the object kernel (the reference transcription) is
        # pinned by tests/test_pairs_array_parity.py + the pairs differential
        import gc

        from posextract_spark.functions.worker import drop_zip_importers
        from posextract_spark.kernel.pairs import adj_noun_pairs_arrays
        from posextract_spark.parse.provider import get_provider

        drop_zip_importers()
        p = get_provider(provider, **pk)
        # Threshold GC costs ~50% of this batch's CPU at the parse's
        # allocation rate (measured 2.1s -> 1.1s per 20k docs); the parse
        # and kernel allocations of the array path are acyclic (lists and
        # dicts, no backrefs), so refcounting frees them and no explicit
        # collect is needed — just suspend threshold collections for the
        # batch. pandas may leave some cyclic garbage when it builds the
        # output Series; threshold GC frees it once re-enabled.
        gc_was_enabled = gc.isenabled()
        gc.disable()
        try:
            out = []
            for arrays in p.parse_arrays_batch([t if t else "" for t in texts]):
                out.append(
                    [
                        (d["verb_neg"], d["neg_det"], d["adjective"], d["noun"])
                        for d in adj_noun_pairs_arrays(arrays, lemmatize=lemmatize, letter_case=letter_case)
                    ]
                )
            return pd.Series(out)
        finally:
            if gc_was_enabled:
                gc.enable()

    keep_cols = id_cols if keep else []
    exploded = df.select(*keep_cols, F.explode(pairs_udf(F.col(text_col))).alias("pair"))
    return exploded.select(*keep_cols, "pair.*")


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
    carry-over quirk — see kernel.pairs.subj_verb_pairs_one).
    ``keep=False`` mirrors the column-drop variant
    (reference: subj_verb_pairs.py:21-31)."""
    id_cols = list(id_cols or [])
    pk = provider_kwargs or {}

    @F.pandas_udf(ArrayType(SUBJ_VERB_STRUCT))
    def pairs_udf(texts: pd.Series) -> pd.Series:
        import gc

        from posextract_spark.functions.worker import drop_zip_importers
        from posextract_spark.kernel.pairs import subj_verb_pairs_arrays
        from posextract_spark.parse.provider import get_provider

        drop_zip_importers()
        p = get_provider(provider, **pk)
        # same threshold-GC suspension as the adj-noun UDF: acyclic
        # garbage, refcount-freed, no collect needed
        gc_was_enabled = gc.isenabled()
        gc.disable()
        try:
            out = []
            for arrays in p.parse_arrays_batch([t if t else "" for t in texts]):
                out.append(
                    [
                        (d["subject"], d["verb_neg"], d["verb"])
                        for d in subj_verb_pairs_arrays(arrays, lemmatize=lemmatize, letter_case=letter_case)
                    ]
                )
            return pd.Series(out)
        finally:
            if gc_was_enabled:
                gc.enable()

    keep_cols = id_cols if keep else []
    exploded = df.select(*keep_cols, F.explode(pairs_udf(F.col(text_col))).alias("pair"))
    return exploded.select(*keep_cols, "pair.*")


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
# (AttributeError / UnboundLocalError — see kernel.pairs.subj_verb_pairs_one
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
