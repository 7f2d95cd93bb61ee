"""The one Python batch shell of the extraction operators.

Triples (operators.triples, pipeline.pages_to_triples) and both pair
extractors (operators.pairs) cross into Python through ``map_batches``: one
``mapInPandas`` whose batch function, ``run_batches``, owns chunking,
the task-scoped segment memo, the GC policy, the provider and the worker
set-up. A caller supplies only an ``Extract``: how a text splits into
segments, and how a batch of segments parses and maps to field tuples.
The output is flat frames (ids..., sent_id, fields...), measured ~30%
faster than an array<struct> column exploded in the JVM (one fewer nested
Arrow construction and no Generate).
"""

from __future__ import annotations

import gc
from contextlib import contextmanager
from functools import partial
from itertools import chain
from typing import Any, Callable, Iterable, Iterator, List, NamedTuple, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from posextract_spark.functions.worker import drop_zip_importers

# set once this process has frozen its start-up heap (run_batches)
_HEAP_FROZEN = False

Docs = Callable[[pd.DataFrame], Tuple[List[tuple], List[Optional[str]]]]


class Extract(NamedTuple):
    """An extractor as run_batches runs it. ``names`` are its string
    output fields; ``split(text)`` gives a non-empty text's segments (the
    row's ``sent_id`` numbers them); ``fields(provider, segments)`` parses
    the segments in one batch and gives, per segment, a tuple of field
    tuples, one per output row."""

    names: Tuple[str, ...]
    split: Callable[[str], List[str]]
    fields: Callable[[Any, List[str]], Iterable[tuple]]


def _rows(
    prov,
    extract: Extract,
    ids: List[tuple],
    texts: List[Optional[str]],
    memo: Optional[dict] = None,
) -> List[tuple]:
    """(ids..., sent_id, fields...) rows of every segment of ``texts``.

    ``memo`` maps a segment to its field tuples; the segments it lacks are
    extracted (once each, in one batch) and added, and every row is then
    rebuilt from it in document order."""
    if memo is None:
        memo = {}
    segments_per_doc = [extract.split(t) if t else [] for t in texts]
    new = [seg for seg in dict.fromkeys(chain.from_iterable(segments_per_doc)) if seg not in memo]
    memo.update(zip(new, extract.fields(prov, new)))
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


def run_batches(
    batches: Iterator[pd.DataFrame],
    docs: Docs,
    columns: List[str],
    provider: str,
    provider_kwargs: dict,
    extract: Extract,
    max_docs: int,
) -> Iterator[pd.DataFrame]:
    """The Python batch function of every extraction crossing: for each
    input batch, ``docs(batch)`` gives parallel lists of id tuples and
    texts, and one output frame with ``columns`` holds the rows of each
    chunk of at most ``max_docs`` of them (``max_docs`` <= 0: the whole
    batch). map_batches passes the Arrow batch size, so a batch of long
    pages holds no more parse forests at once than a batch of sentences
    does.

    Segment memo. Web text repeats (boilerplate, stock phrases): of the
    67,040 quote-split segments in 10k stock pages, 68% repeat a segment
    already seen in the same task. A dict local to this generator, so to
    one task, maps a segment's text to its field tuples; each chunk
    extracts only the distinct segments the memo lacks, in one
    ``extract.fields`` call, and ``_rows`` rebuilds every row from the
    memo in document order, the same rows as extracting every segment.
    Before a chunk the memo is cleared once it holds ``max_docs`` entries
    (``max_docs`` <= 0: before every batch), so it holds at most
    ``max_docs`` plus one chunk's distinct segments, all flattened
    strings, and no chunk parses more than its own segments. It is not per
    process: a worker cache would outlive the task, grow with every query
    the reused worker serves, need the provider and options in its key,
    and let repeated jobs over the same input skip their work.

    GC policy. The extractors leave no reference cycles (the triples
    path releases each sentence once its triples are flattened,
    ``Sentence.release``; the pairs path parses to plain arrays), so
    refcounting frees the parse forests and the per-chunk collect finds
    no garbage (it freed ~2.1M cyclic objects per 10k stock pages before
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
                    _rows(prov, extract, ids[start:end], texts[start:end], memo),
                    columns=columns,
                )
                gc.collect()
            yield out
            del out


def column_docs(
    pdf: pd.DataFrame, id_cols: List[str], text_col: str
) -> Tuple[List[tuple], List[Optional[str]]]:
    """``docs`` for run_batches: one document per row, ids from
    ``id_cols``."""
    # plain-list id columns: Series.iloc per document was ~40x the cost of
    # a list index at batch sizes
    if id_cols:
        ids = list(zip(*(pdf[c].tolist() for c in id_cols)))
    else:
        ids = [()] * len(pdf)
    return ids, pdf[text_col].tolist()


def map_batches(
    df: DataFrame,
    docs: Docs,
    id_fields: List[Tuple[str, str]],
    extract: Extract,
    provider: str = "auto",
    provider_kwargs: Optional[dict] = None,
) -> DataFrame:
    """``df.mapInPandas`` of run_batches — the one Python crossing of an
    extraction operator. ``id_fields`` names and types (DDL) the id tuples
    ``docs`` yields; the output is (ids..., sent_id, extract.names...)."""
    provider_kwargs = provider_kwargs or {}
    out_schema = ", ".join(
        [f"`{name}` {ddl}" for name, ddl in id_fields]
        + ["sent_id int"]
        + [f"{name} string" for name in extract.names]
    )
    columns = [name for name, _ in id_fields] + ["sent_id"] + list(extract.names)
    max_docs = int(df.sparkSession.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))

    def gen(batches):
        return run_batches(batches, docs, columns, provider, provider_kwargs, extract, max_docs)

    return df.mapInPandas(gen, out_schema)


def map_column(
    df: DataFrame,
    text_col: str,
    id_cols: List[str],
    extract: Extract,
    provider: str = "auto",
    provider_kwargs: Optional[dict] = None,
) -> DataFrame:
    """map_batches with one document per row of ``df``: the text of
    ``text_col``, ids from ``id_cols``."""
    pruned = df.select(*id_cols, F.col(text_col))
    id_fields = [
        (f.name, f.dataType.simpleString()) for f in pruned.schema.fields[: len(id_cols)]
    ]
    return map_batches(
        pruned,
        partial(column_docs, id_cols=id_cols, text_col=text_col),
        id_fields,
        extract,
        provider=provider,
        provider_kwargs=provider_kwargs,
    )
