"""Provider registry with per-process lazy singletons."""

from __future__ import annotations

from typing import Dict, List, Optional

from posextract_spark.kernel.model import Sentence

_SINGLETONS: Dict[str, "ParseProvider"] = {}


class ParseProvider:
    """Interface: batch text -> parsed Sentence (token tree)."""

    name = "base"

    def parse_batch(self, texts: List[str]) -> List[Sentence]:
        raise NotImplementedError

    def parse_lazy_batch(self, texts: List[str]) -> List[Sentence]:
        """Sentences for the extraction path. Providers that parse to
        arrays override this to return LazySentence (Token objects
        materialized on demand — observably identical, pinned by
        tests/test_lazy_sentence_parity.py); the default is the eager
        object parse."""
        return self.parse_batch(texts)

    def parse_arrays_batch(self, texts: List[str]) -> List[tuple]:
        """Struct-of-arrays encoding (words, lemmas, pos, dep, head,
        kid_idx) per sentence — all the pair extractors need
        (kernel/pairs.py array fast paths). Default derives the view from
        the object parse so every provider supports the array path;
        providers that can skip Token/Sentence construction entirely
        override it (parse.svo: ~70% of its parse time was Token
        allocation the pair extractors never used)."""
        return [sentence_arrays(sent) for sent in self.parse_batch(texts)]


def sentence_arrays(sent: Sentence) -> tuple:
    """The (words, lemmas, pos, dep, head, kid_idx) view of a parsed
    Sentence."""
    toks = sent.tokens
    return (
        [t.text for t in toks],
        [t.lemma_ for t in toks],
        [t.pos for t in toks],
        [t.dep for t in toks],
        [t.head_i for t in toks],
        sent._kid_idx,
    )


def get_provider(name: str = "auto", **kwargs) -> ParseProvider:
    """Resolve a provider by name; per-process cached (executor-side lazy
    singleton — the Spark analog of the reference's get_nlp())."""
    key = name + repr(sorted(kwargs.items()))
    if key in _SINGLETONS:
        return _SINGLETONS[key]

    provider: Optional[ParseProvider] = None
    if name in ("auto", "spacy"):
        try:
            import sys as _sys

            if getattr(_sys.modules.get("spacy"), "__shim__", False):
                # a test double occupies sys.modules['spacy'] (it satisfies
                # import but cannot parse) — treat spaCy as absent. Checked
                # via sys.modules only: no eager import is added.
                raise ImportError("spacy module is a non-parsing shim")
            from posextract_spark.parse.spacy_provider import SpacyParseProvider

            provider = SpacyParseProvider(**kwargs)
        except ImportError:
            if name == "spacy":
                raise
    if provider is None and name in ("auto", "svo"):
        from posextract_spark.parse.svo import SVOChunkParser

        provider = SVOChunkParser()
    if provider is None and name == "template":
        from posextract_spark.parse.template import TemplateParser

        provider = TemplateParser()
    if provider is None:
        raise ValueError(f"unknown parse provider: {name}")

    _SINGLETONS[key] = provider
    return provider
