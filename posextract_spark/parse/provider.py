"""Provider registry with per-process lazy singletons."""

from __future__ import annotations

from typing import Dict, List, Optional

from posextract_spark.kernel.model import Sentence

_SINGLETONS: Dict[str, "ParseProvider"] = {}


class ParseProvider:
    """Interface: batch text -> parse arrays, one tuple per text.

    A provider implements only ``parse_arrays_batch``; the triple kernel's
    ``Sentence`` view is derived here."""

    name = "base"

    def parse_arrays_batch(self, texts: List[str]) -> List[tuple]:
        """(words, lemmas, pos, dep, head, kid_idx) per text, ``kid_idx``
        as ``kernel.model.kid_index(head)`` gives it — all the pair
        extractors read (kernel/pairs.py)."""
        raise NotImplementedError

    def parse_lazy_batch(self, texts: List[str]) -> List[Sentence]:
        """A ``Sentence`` over each text's parse arrays, for the triple
        kernel: Token objects materialize only where it touches them."""
        return [Sentence(*arrays) for arrays in self.parse_arrays_batch(texts)]


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
