"""The batch runner (operators.batches.run_batches) on the triples path,
and the fused pages -> triples crossing built on it."""

import gc
import random
from collections import Counter
from functools import partial

import pandas as pd
import pytest

from posextract_spark.kernel.extract import extract_triples_one
from posextract_spark.kernel.model import Sentence
from posextract_spark.kernel.quotes import split_quotes_list
from posextract_spark.operators import batches as batches_mod
from posextract_spark.operators.html_text import extract_text
from posextract_spark.operators.sentences import split_sentences
from posextract_spark.operators.batches import column_docs, run_batches
from posextract_spark.operators.triples import (
    OUTPUT_STRING_FIELDS,
    extract_triples,
    triple_extract,
)
from posextract_spark.options import TripleExtractorOptions
from posextract_spark.parse import provider as provider_mod
from posextract_spark.parse.provider import get_provider
from posextract_spark.pipeline import page_docs, pages_to_triples
from posextract_spark.sources.pages import _gen_sentences, gen_page, generate_pages
from tests.test_lazy_sentence_parity import _tree_rows

SVO_WORDS = "the a fast slow small big scan merge join sort filter data table row line query".split()

COLUMNS = ["id", "sent_id", *OUTPUT_STRING_FIELDS]


def _batches(max_docs=0):
    pdf = pd.DataFrame(
        {"id": [1, 2], "text": ["Acme acquired Zorin.", "Bolt bought mines and sold bonds."]}
    )
    return run_batches(
        iter([pdf, pdf]),
        partial(column_docs, id_cols=["id"], text_col="text"),
        COLUMNS,
        "template",
        {},
        triple_extract(),
        max_docs,
    )


@pytest.fixture
def fresh_heap(monkeypatch):
    """Run as a fresh worker would (heap not yet frozen); unfreeze after."""
    monkeypatch.setattr(batches_mod, "_HEAP_FROZEN", False)
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


class _TreeProvider:
    """Provider whose texts are fuzz-tree numbers: parse_lazy_batch
    returns a fresh Sentence of that tree each call."""

    def __init__(self, trees):
        self.trees = trees

    def parse_lazy_batch(self, texts):
        return [Sentence.from_rows(self.trees[int(t)]) for t in texts]


def _corpora():
    rng = random.Random(7)
    template = [" ".join(_gen_sentences(rng)) for _ in range(60)]
    template += ["Acme acquired Zorin.", "Bolt bought mines and sold bonds.", "", None]
    svo = [" ".join(rng.choices(SVO_WORDS, k=rng.randint(0, 30))) for _ in range(200)]
    trees = list(_tree_rows(seed=99, n=600))
    return [
        ("template", get_provider("template"), template),
        ("svo", get_provider("svo"), svo),
        ("fuzz", _TreeProvider(trees), [str(k) for k in range(len(trees))]),
    ]


def _unreleased_rows(prov, ids, texts, options):
    """The rows the runner must give, from extract_triples_one over a
    fresh parse of each segment that is never released."""
    rows = []
    for doc_ids, text in zip(ids, texts):
        for sent_id, seg in enumerate(split_quotes_list(text) if text else []):
            (sent,) = prov.parse_lazy_batch([seg])
            for flat in extract_triples_one(sent, options=options):
                rows.append(doc_ids + (sent_id,) + tuple(flat[f] for f in OUTPUT_STRING_FIELDS))
    return rows


@pytest.mark.parametrize("opts", [{}, {"combine_adj": True, "prep_phrase": True}])
def test_released_forest_is_acyclic(opts):
    """The triples extractor releases every sentence after flattening it:
    same rows as over unreleased parses, and the parse forest leaves no
    cyclic garbage (with threshold GC off, a collect right after finds
    none)."""
    options = TripleExtractorOptions(**opts)
    for name, prov, texts in _corpora():
        ids = [(k,) for k in range(len(texts))]
        want = _unreleased_rows(prov, ids, texts, options)
        assert want, name
        was_enabled = gc.isenabled()
        gc.disable()
        try:
            gc.collect()
            got = batches_mod._rows(prov, triple_extract(options), ids, texts)
            assert gc.collect() == 0, name
        finally:
            if was_enabled:
                gc.enable()
        assert got == want, name


def test_unreleased_forest_is_cyclic():
    """Control for the test above: without release() the same parses do
    leave cyclic garbage, so a zero count there is the release's doing."""
    prov = get_provider("template")
    texts = ["Acme acquired Zorin.", "Bolt bought mines and sold bonds."]
    gc.disable()
    try:
        gc.collect()
        _unreleased_rows(prov, [(0,), (1,)], texts, TripleExtractorOptions())
        assert gc.collect() > 0
    finally:
        gc.enable()


def _repetitive_corpora():
    """(name, provider, texts) whose segments repeat heavily, with None
    and '' texts among them."""
    rng = random.Random(3)
    pages = [gen_page(i, seed=11) for i in range(30)]
    pdf = pd.DataFrame({"url": [p["url"] for p in pages], "html": [p["html"] for p in pages]})
    _, sentences = page_docs(pdf, ["url"], "html", from_html=True, remove_quotes=False)
    quoted = [
        'Acme said "Bolt bought mines and sold bonds." Acme acquired Zorin.',
        'Acme acquired Zorin."Bolt sold the bonds." Acme acquired Zorin.',  # a segment twice
    ]
    template = rng.choices(sentences + quoted, k=400) + ["", None] + sentences[:50]
    trees = list(_tree_rows(seed=5, n=60))
    fuzz = [str(k) for k in rng.choices(range(len(trees)), k=400)] + [None, ""]
    return [
        ("template", get_provider("template"), template),
        ("fuzz", _TreeProvider(trees), fuzz),
    ]


class _SpyProvider:
    """Counts every segment handed to parse_lazy_batch."""

    def __init__(self, prov):
        self.prov = prov
        self.parsed = Counter()

    def parse_lazy_batch(self, texts):
        self.parsed.update(texts)
        return self.prov.parse_lazy_batch(texts)


def _task(monkeypatch, prov, texts, options, max_docs, batch=0):
    """One task's generator over ``texts`` (ids 0..n-1) in Arrow batches
    of ``batch`` rows (0: one batch), parsing with ``prov``."""
    monkeypatch.setattr(provider_mod, "get_provider", lambda name, **kwargs: prov)
    pdf = pd.DataFrame({"id": range(len(texts)), "text": texts})
    step = batch or len(texts)
    return run_batches(
        iter([pdf.iloc[i : i + step] for i in range(0, len(texts), step)]),
        partial(column_docs, id_cols=["id"], text_col="text"),
        COLUMNS,
        "spy",
        {},
        triple_extract(options),
        max_docs,
    )


def _rows(frames):
    return [tuple(r) for f in frames for r in f.values.tolist()]


def _segments(texts):
    return [seg for t in texts if t for seg in split_quotes_list(t)]


@pytest.mark.parametrize("opts", [{}, {"combine_adj": True, "prep_phrase": True}])
@pytest.mark.parametrize("max_docs,batch", [(0, 0), (0, 50), (7, 50), (64, 0)])
def test_memo_rows_equal_memo_free(fresh_heap, monkeypatch, opts, max_docs, batch):
    """The memo changes no row and no row order: run_batches gives
    the rows of a fresh parse of every segment."""
    options = TripleExtractorOptions(**opts)
    for name, prov, texts in _repetitive_corpora():
        want = _unreleased_rows(prov, [(k,) for k in range(len(texts))], texts, options)
        assert want, name
        got = _rows(_task(monkeypatch, prov, texts, options, max_docs, batch))
        assert got == want, name


def test_each_distinct_segment_parsed_once_per_task(fresh_heap, monkeypatch):
    """Within a task every distinct segment is parsed exactly once, across
    chunks and Arrow batches; a second generator (a new task) starts with
    an empty memo and parses each again."""
    options = TripleExtractorOptions()
    for name, prov, texts in _repetitive_corpora():
        segments = _segments(texts)
        distinct = Counter(set(segments))
        assert len(distinct) * 3 < len(segments), name  # heavy repetition
        spy = _SpyProvider(prov)
        list(_task(monkeypatch, spy, texts, options, max_docs=len(texts), batch=50))
        assert spy.parsed == distinct, name
        list(_task(monkeypatch, spy, texts, options, max_docs=len(texts), batch=50))
        assert spy.parsed == distinct + distinct, name


@pytest.mark.parametrize("max_docs,batch", [(5, 0), (16, 40), (0, 40)])
def test_memo_bounded_by_max_docs(fresh_heap, monkeypatch, max_docs, batch):
    """After each chunk the memo holds at most max_docs entries plus that
    chunk's distinct segments (max_docs <= 0: just the batch's), so it is
    cleared as it fills and never lasts past its task."""
    real = batches_mod._rows
    seen = []

    def spy_rows(prov, extract, ids, texts, memo=None):
        rows = real(prov, extract, ids, texts, memo)
        seen.append((id(memo), len(memo), len(set(_segments(texts)))))
        return rows

    monkeypatch.setattr(batches_mod, "_rows", spy_rows)
    name, prov, texts = _repetitive_corpora()[0]
    list(_task(monkeypatch, prov, texts, TripleExtractorOptions(), max_docs, batch))
    assert len(seen) > 2
    assert len({memo for memo, _, _ in seen}) == 1  # one memo per task
    for _, held, chunk_distinct in seen:
        assert held <= max(max_docs, 0) + chunk_distinct
        if max_docs <= 0:
            assert held == chunk_distinct  # cleared once per batch
    if max_docs > 0:
        sizes = [held for _, held, _ in seen]
        assert any(b < a for a, b in zip(sizes, sizes[1:]))  # it was cleared


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
