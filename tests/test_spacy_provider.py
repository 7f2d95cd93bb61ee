"""The spaCy provider's Doc -> parse arrays wiring, without spaCy.

The module is imported under a stand-in ``spacy`` module and the provider
is built with ``__new__`` around a stub pipeline whose ``pipe()`` yields
tools.spacy_shim.ShimDoc fixture trees (spaCy's token surface: text,
lemma_, pos_, dep_, head.i). Neither the stand-in nor the module imported
under it is left in ``sys.modules``."""

import contextlib
import importlib
import sys
import types

import pytest

from posextract_spark.kernel.model import Sentence
from tools.spacy_shim import ShimDoc

MODULE = "posextract_spark.parse.spacy_provider"


def _rows(*toks):
    return [
        {"i": i, "text": t, "lemma": lemma, "pos": pos, "dep": dep, "head": head}
        for i, (t, lemma, pos, dep, head) in enumerate(toks)
    ]


TREES = [
    _rows(
        ("Acme", "Acme", "PROPN", "nsubj", 1),
        ("acquired", "acquire", "VERB", "ROOT", 1),
        ("big", "big", "ADJ", "amod", 3),
        ("mines", "mine", "NOUN", "dobj", 1),
        (".", ".", "PUNCT", "punct", 1),
    ),
    # an empty dep_ (spaCy leaves some tokens unlabelled) maps to "dep"
    _rows(
        ("Bolt", "Bolt", "PROPN", "nsubj", 1),
        ("sold", "sell", "VERB", "ROOT", 1),
        ("bonds", "bond", "NOUN", "dobj", 1),
        ("today", "today", "NOUN", "", 1),
    ),
    _rows(),
]


class _StubNLP:
    def __init__(self, docs):
        self.docs = docs
        self.calls = []

    def pipe(self, texts, batch_size):
        self.calls.append((list(texts), batch_size))
        return iter(self.docs)


@contextlib.contextmanager
def _imported_under_stand_in():
    """The provider module, imported with a stand-in ``spacy``; both are
    removed again on exit."""
    import posextract_spark.parse as parse_pkg

    with pytest.MonkeyPatch.context() as m:
        m.setitem(sys.modules, "spacy", types.ModuleType("spacy"))
        m.delitem(sys.modules, MODULE, raising=False)
        m.delattr(parse_pkg, "spacy_provider", raising=False)
        try:
            yield importlib.import_module(MODULE)
        finally:
            sys.modules.pop(MODULE, None)
            parse_pkg.__dict__.pop("spacy_provider", None)


def test_spacy_parse_arrays_from_docs():
    spacy_before = sys.modules.get("spacy")
    with _imported_under_stand_in() as mod:
        stand_in = sys.modules["spacy"]
        prov = mod.SpacyParseProvider.__new__(mod.SpacyParseProvider)
        prov._nlp = _StubNLP([ShimDoc(rows) for rows in TREES])
        prov._batch_size = 7
        texts = ["Acme acquired big mines.", "Bolt sold bonds today", ""]

        got = prov.parse_arrays_batch(texts)

        assert prov._nlp.calls == [(texts, 7)]
        want = [
            Sentence.from_rows([dict(r, dep=r["dep"] or "dep") for r in rows]).arrays()
            for rows in TREES
        ]
        assert got == want
        assert got[1][3] == ["nsubj", "ROOT", "dobj", "dep"]
        assert [list(k) for k in got[0][5]] == [[], [0, 3, 4], [], [2], []]
        # the triple kernel reads the same arrays through the base class
        prov._nlp = _StubNLP([ShimDoc(rows) for rows in TREES])
        assert [s.arrays() for s in prov.parse_lazy_batch(texts)] == want
    assert sys.modules.get("spacy") is spacy_before is not stand_in
    assert getattr(sys.modules.get(MODULE), "spacy", None) is not stand_in
