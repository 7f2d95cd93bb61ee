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

import gc
import operator as _operator
from contextlib import contextmanager
from functools import partial
from itertools import chain
from typing import Callable, Iterator, List, Optional, Tuple

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from posextract_spark.functions.worker import drop_zip_importers
from posextract_spark.kernel.extract import extract_triples_one
from posextract_spark.kernel.quotes import split_quotes_list
from posextract_spark.kernel.triple import FLAT_FIELDS
from posextract_spark.options import TripleExtractorOptions

OUTPUT_STRING_FIELDS = tuple(FLAT_FIELDS) + (
    "subject_token_text",
    "verb_token_text",
    "object_token_text",
)

# C-level tuple extraction of the 17 output fields per triple (replaces a
# per-triple genexpr of dict lookups in the UDF hot loop)
_FIELDS_GETTER = _operator.itemgetter(*OUTPUT_STRING_FIELDS)

# set once this process has frozen its start-up heap (triples_batches)
_HEAP_FROZEN = False


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


def _triple_rows(
    prov, ids: List[tuple], texts: List[Optional[str]], options, memo: Optional[dict] = None
) -> List[tuple]:
    """(ids..., sent_id, fields...) rows of every triple in ``texts``;
    ``sent_id`` numbers the split_quotes segments of each text.

    ``memo`` maps a segment's text to the field tuples of its triples; the
    segments it lacks are parsed (once each, in one batch) and added, and
    every row is then rebuilt from it in document order."""
    if memo is None:
        memo = {}
    segments_per_doc = [split_quotes_list(t) if t else [] for t in texts]
    new = [seg for seg in dict.fromkeys(chain.from_iterable(segments_per_doc)) if seg not in memo]
    get_fields = _FIELDS_GETTER
    # lazy parse: Token objects materialize only where the traversal
    # touches them (LazySentence; parity pinned by
    # tests/test_lazy_sentence_parity.py)
    for seg, sent in zip(new, prov.parse_lazy_batch(new)):
        memo[seg] = tuple(map(get_fields, extract_triples_one(sent, options=options)))
        # flattened fields hold only strings: break the sentence's Token
        # cycles so refcounting frees its forest
        sent.release()
    rows = []
    for doc_ids, segs in zip(ids, segments_per_doc):
        for sent_id, seg in enumerate(segs):
            for fields in memo[seg]:
                rows.append(doc_ids + (sent_id,) + fields)
    return rows


@contextmanager
def _threshold_gc_off(restore: bool):
    """Threshold GC off for the block; back on after it if ``restore``."""
    gc.disable()
    try:
        yield
    finally:
        if restore:
            gc.enable()


def triples_batches(
    batches: Iterator[pd.DataFrame],
    docs: Callable[[pd.DataFrame], Tuple[List[tuple], List[Optional[str]]]],
    columns: List[str],
    provider: str,
    provider_kwargs: dict,
    options: TripleExtractorOptions,
    max_docs: int,
) -> Iterator[pd.DataFrame]:
    """The Python batch function of the triples path: for each input
    batch, ``docs(batch)`` gives parallel lists of id tuples and texts,
    and one output frame with ``columns`` holds the triples of each chunk
    of at most ``max_docs`` of them (``max_docs`` <= 0: the whole batch).
    map_triples passes the Arrow batch size, so a batch of long pages
    holds no more parse forests at once than a batch of sentences does.

    Segment memo. Web text repeats (boilerplate, stock phrases): of the
    67,040 quote-split segments in 10k stock pages, 68% repeat a segment
    already seen in the same task. A dict local to this generator, so to
    one task, maps a segment's text to its triples' field tuples; each
    chunk parses, extracts and flattens only the distinct segments the
    memo lacks, in one ``parse_lazy_batch`` call, and ``_triple_rows``
    rebuilds every row from the memo in document order, the same rows as
    parsing every segment. Before a chunk the memo is cleared once it holds
    ``max_docs`` entries (``max_docs`` <= 0: before every batch), so it
    holds at most ``max_docs`` plus one chunk's distinct segments, all
    flattened strings, and no chunk parses more than its own segments. It
    is not per process: a worker cache would outlive the task, grow with
    every query the reused worker serves, need the provider and options
    in its key, and let repeated jobs over the same input skip their work.

    GC policy. ``_triple_rows`` releases each sentence once its triples
    are flattened (``Sentence.release``), so the parse forest holds no
    reference cycle and refcounting frees it: the per-chunk collect finds
    no garbage (it freed ~2.1M cyclic objects per 10k stock pages without
    the release). Threshold GC stays off while a chunk is built, so young
    collections do not walk the live forest, and one explicit collect per
    chunk bounds whatever cyclic garbage a provider may leave. GC is back
    in its prior state before every ``yield`` and off again on resume:
    Spark may abandon the generator at a yield (task cancellation, a
    limit), and the reused worker must not keep GC off. The worker's
    start-up heap (modules, the provider's tables) is frozen once per
    process, so each collect walks only the objects of one chunk. The
    task's zip importers are dropped first
    (``functions.worker.drop_zip_importers``), so the next task's start
    re-reads no archive."""
    global _HEAP_FROZEN
    from posextract_spark.parse.provider import get_provider

    drop_zip_importers()
    # lazy per-executor provider (the reference's module-level singleton,
    # util.py:18-22, becomes a process-local cache)
    prov = get_provider(provider, **provider_kwargs)
    if not _HEAP_FROZEN:
        gc.collect()
        gc.freeze()
        _HEAP_FROZEN = True
    gc_was_enabled = gc.isenabled()
    memo: dict = {}
    for pdf in batches:
        with _threshold_gc_off(gc_was_enabled):
            ids, texts = docs(pdf)
        step = max_docs if max_docs > 0 else max(len(texts), 1)
        for start in range(0, len(texts), step):
            end = start + step
            if max_docs <= 0 or len(memo) >= max_docs:
                memo.clear()
            with _threshold_gc_off(gc_was_enabled):
                out = pd.DataFrame(
                    _triple_rows(prov, ids[start:end], texts[start:end], options, memo),
                    columns=columns,
                )
                gc.collect()
            yield out
            del out


def column_docs(
    pdf: pd.DataFrame, id_cols: List[str], text_col: str
) -> Tuple[List[tuple], List[Optional[str]]]:
    """``docs`` for triples_batches: one document per row, ids from
    ``id_cols``."""
    # plain-list id columns: Series.iloc per document was ~40x the cost of
    # a list index at batch sizes
    if id_cols:
        ids = list(zip(*(pdf[c].tolist() for c in id_cols)))
    else:
        ids = [()] * len(pdf)
    return ids, pdf[text_col].tolist()


def map_triples(
    df: DataFrame,
    docs: Callable[[pd.DataFrame], Tuple[List[tuple], List[Optional[str]]]],
    id_fields: List[Tuple[str, str]],
    options: Optional[TripleExtractorOptions] = None,
    provider: str = "auto",
    provider_kwargs: Optional[dict] = None,
) -> DataFrame:
    """``df.mapInPandas`` of triples_batches — the one Python crossing of
    the triples path. ``id_fields`` names and types (DDL) the id tuples
    ``docs`` yields; the output is (ids..., sent_id, triple fields)."""
    if options is None:
        options = TripleExtractorOptions()
    provider_kwargs = provider_kwargs or {}
    out_schema = ", ".join(
        [f"`{name}` {ddl}" for name, ddl in id_fields]
        + ["sent_id int"]
        + [f"{name} string" for name in OUTPUT_STRING_FIELDS]
    )
    columns = [name for name, _ in id_fields] + ["sent_id"] + list(OUTPUT_STRING_FIELDS)
    max_docs = int(df.sparkSession.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))

    def gen(batches):
        return triples_batches(
            batches, docs, columns, provider, provider_kwargs, options, max_docs
        )

    return df.mapInPandas(gen, out_schema)


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

    Implementation: ``mapInPandas`` emitting already-exploded flat frames —
    measured ~30% faster than the array<struct> + JVM-explode formulation
    (one fewer nested-Arrow construction and no Generate). Parsing batches
    across the whole Arrow batch (spaCy's nlp.pipe amortizes over it; the
    reference's triples path parses one sentence at a time,
    grammatical_triples.py:260).

    ``posrule_filter`` is a Catalyst Column compiled by
    posextract_spark.posrule — applied after the UDF so the optimizer sees
    it (vs the reference's post-hoc python filter at
    grammatical_triples.py:222-229).
    """
    id_cols = list(id_cols or [])
    pruned = df.select(*id_cols, F.col(text_col))
    id_fields = [
        (f.name, f.dataType.simpleString()) for f in pruned.schema.fields[: len(id_cols)]
    ]
    out = map_triples(
        pruned,
        partial(column_docs, id_cols=id_cols, text_col=text_col),
        id_fields,
        options=options,
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
