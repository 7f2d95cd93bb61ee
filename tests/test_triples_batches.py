"""The triples batch function (operators.triples.triples_batches) and the
fused pages -> triples crossing built on it."""

import gc
from functools import partial

import pandas as pd
import pytest

from posextract_spark.operators import triples as triples_mod
from posextract_spark.operators.html_text import extract_text
from posextract_spark.operators.sentences import split_sentences
from posextract_spark.operators.triples import (
    OUTPUT_STRING_FIELDS,
    column_docs,
    extract_triples,
    triples_batches,
)
from posextract_spark.options import TripleExtractorOptions
from posextract_spark.pipeline import pages_to_triples
from posextract_spark.sources.pages import generate_pages

COLUMNS = ["id", "sent_id", *OUTPUT_STRING_FIELDS]


def _batches(max_docs=0):
    pdf = pd.DataFrame(
        {"id": [1, 2], "text": ["Acme acquired Zorin.", "Bolt bought mines and sold bonds."]}
    )
    return triples_batches(
        iter([pdf, pdf]),
        partial(column_docs, id_cols=["id"], text_col="text"),
        COLUMNS,
        "template",
        {},
        TripleExtractorOptions(),
        max_docs,
    )


@pytest.fixture
def fresh_heap(monkeypatch):
    """Run as a fresh worker would (heap not yet frozen); unfreeze after."""
    monkeypatch.setattr(triples_mod, "_HEAP_FROZEN", False)
    yield
    gc.unfreeze()


def test_gc_enabled_at_yield_and_after_close(fresh_heap):
    assert gc.isenabled()
    g = _batches()
    out = next(g)
    assert list(out.columns) == COLUMNS
    assert set(out["id"]) == {1, 2}
    # suspended at the yield: a task abandoned here leaves GC on
    assert gc.isenabled()
    assert gc.get_freeze_count() > 0  # start-up heap frozen once
    g.close()
    assert gc.isenabled()


def test_gc_state_of_worker_kept(fresh_heap):
    gc.disable()
    try:
        g = _batches()
        assert len(list(g)) == 2
        assert not gc.isenabled()
    finally:
        gc.enable()


def test_batches_split_into_chunks_of_max_docs(fresh_heap):
    """One output frame per chunk of max_docs documents, same rows."""
    whole = list(_batches())
    chunked = list(_batches(max_docs=1))
    assert [sorted(set(f["id"])) for f in chunked] == [[1], [2], [1], [2]]
    assert pd.concat(chunked).values.tolist() == pd.concat(whole).values.tolist()
    assert gc.isenabled()


@pytest.fixture(scope="module")
def pages(spark):
    df = generate_pages(spark, 80, seed=5, n_partitions=2).persist()
    df.count()
    yield df
    df.unpersist()


@pytest.mark.parametrize("use_stored_text", [False, True])
@pytest.mark.parametrize("remove_quotes", [False, True])
def test_fused_equals_composed_operators(spark, pages, use_stored_text, remove_quotes):
    """pages_to_triples (one crossing) == extract_text -> split_sentences
    -> extract_triples, row for row."""
    en = pages.filter("lang = 'en'")
    if not use_stored_text:
        en = extract_text(en.drop("text"), html_col="html", out_col="text")
    composed = extract_triples(
        split_sentences(en.select("url", "text"), remove_quotes=remove_quotes),
        text_col="sentence",
        id_cols=["url", "sent_pos"],
        provider="template",
    )
    fused = pages_to_triples(
        pages, use_stored_text=use_stored_text, remove_quotes=remove_quotes
    )
    assert fused.schema == composed.schema
    rows = fused.collect()
    assert len(rows) > 100
    assert sorted(rows) == sorted(composed.collect())


def test_fused_chunks_long_batches(spark, pages):
    """Arrow batches of 16 pages hold ~5x that many sentences, so the
    fused path parses each batch in chunks; the rows do not change."""
    want = sorted(pages_to_triples(pages).collect())
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "16")
    try:
        got = sorted(pages_to_triples(pages).collect())
    finally:
        spark.conf.set(key, old)
    assert got == want
