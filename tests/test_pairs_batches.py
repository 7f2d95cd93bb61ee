"""The batch runner (operators.batches.run_batches) on the pairs path: the
rows of the array extractors applied to each text, under the same GC
policy as the triples path."""

import gc
import random
from functools import partial

import pandas as pd
import pytest

from posextract_spark.kernel.pairs import adj_noun_pairs_arrays, subj_verb_pairs_arrays
from posextract_spark.operators import batches as batches_mod
from posextract_spark.operators.batches import column_docs, run_batches
from posextract_spark.operators.pairs import ADJ_NOUN_FIELDS, SUBJ_VERB_FIELDS, pair_extract
from posextract_spark.parse.provider import get_provider
from posextract_spark.sources.pages import _gen_sentences

SVO_WORDS = (
    "the a fast slow small big scan merge join sort filter data table row line query".split()
)

KINDS = [(adj_noun_pairs_arrays, ADJ_NOUN_FIELDS), (subj_verb_pairs_arrays, SUBJ_VERB_FIELDS)]


@pytest.fixture
def fresh_heap(monkeypatch):
    """Run as a fresh worker would (heap not yet frozen); unfreeze after."""
    monkeypatch.setattr(batches_mod, "_HEAP_FROZEN", False)
    yield
    gc.unfreeze()


def _corpora():
    """(provider, texts) with repeated texts and None and '' among them."""
    rng = random.Random(5)
    svo = [" ".join(rng.choices(SVO_WORDS, k=rng.randint(0, 30))) for _ in range(300)]
    template = [" ".join(_gen_sentences(rng)) for _ in range(40)]
    template += ["The fast server did not merge the small table.", "Acme acquired Zorin."]
    return [
        ("svo", svo + ["", None] + svo[:40]),
        ("template", template + [None, ""] + template[:10]),
    ]


def _run(provider, texts, extract, max_docs=0, batch=0):
    """One task's frames over ``texts`` (ids 0..n-1) in Arrow batches of
    ``batch`` rows (0: one batch)."""
    pdf = pd.DataFrame({"id": range(len(texts)), "text": texts})
    step = batch or len(texts)
    return run_batches(
        iter([pdf.iloc[i : i + step] for i in range(0, len(texts), step)]),
        partial(column_docs, id_cols=["id"], text_col="text"),
        ["id", "sent_id", *extract.names],
        provider,
        {},
        extract,
        max_docs,
    )


@pytest.mark.parametrize("kernel,names", KINDS)
@pytest.mark.parametrize("kw", [{}, {"lemmatize": True, "letter_case": "upper"}])
@pytest.mark.parametrize("max_docs,batch", [(0, 0), (7, 50)])
def test_rows_equal_array_extractor_per_text(fresh_heap, kernel, names, kw, max_docs, batch):
    """The runner's rows are the array extractor applied to each text's
    own parse, in document order, with sent_id 0; None and '' texts give
    no row."""
    for provider, texts in _corpora():
        prov = get_provider(provider)
        want = []
        for k, text in enumerate(texts):
            if text:
                (arrays,) = prov.parse_arrays_batch([text])
                want += [(k, 0) + tuple(d[f] for f in names) for d in kernel(arrays, **kw)]
        assert want, provider
        frames = _run(provider, texts, pair_extract(kernel, names, **kw), max_docs, batch)
        got = [tuple(r) for f in frames for r in f.values.tolist()]
        assert got == want, provider


@pytest.mark.parametrize("kernel,names", KINDS)
def test_gc_enabled_at_yield_and_after_close(fresh_heap, kernel, names):
    assert gc.isenabled()
    provider, texts = _corpora()[0]
    g = _run(provider, texts, pair_extract(kernel, names), max_docs=100)
    out = next(g)
    assert list(out.columns) == ["id", "sent_id", *names]
    assert len(out) > 0
    # suspended at the yield: a task abandoned here leaves GC on
    assert gc.isenabled()
    assert gc.get_freeze_count() > 0  # start-up heap frozen once
    next(g)
    assert gc.isenabled()
    g.close()
    assert gc.isenabled()
