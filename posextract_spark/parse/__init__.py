"""Dependency-parse providers.

Every provider emits one parse format, the parallel arrays
(words, lemmas, pos, dep, head, kid_idx) per text (``parse_arrays_batch``);
the pair extractors read them as they are and the triple kernel through a
``kernel.model.Sentence`` over them (``parse_lazy_batch``):

- ``spacy``   — production path: batched en_core_web_sm via nlp.pipe inside
                the mapInPandas batch function (mirrors reference:
                src/posextract/adj_noun_pairs.py:98's batching, applied to
                *all* surfaces). Guarded import: without spaCy installed,
                ``auto`` falls back to ``svo``.
- ``svo``     — deterministic lexicon-driven SVO chunker for synthetic
                corpora. Its parse trees are simple enough that the triple
                extraction over them is *also* expressible in ANSI SQL,
                which is what the DuckDB oracle checks verify end-to-end.
- ``template``— exact hand-authored parses for the golden fixture sentences
                (en_core_web_sm conventions), with slot substitution for
                the synthetic pages corpus.

Providers are resolved lazily per executor process (the Spark equivalent of
the reference's module-level model singleton, reference: src/posextract/util.py:18-22).
"""

from posextract_spark.parse.provider import get_provider, ParseProvider  # noqa: F401
