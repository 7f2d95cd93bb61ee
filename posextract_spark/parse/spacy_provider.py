"""spaCy-backed provider (production path; spaCy is absent in this sandbox).

Mirrors the reference's model usage:
- single per-process model (reference: src/posextract/util.py:18-22), here a
  per-executor lazy singleton created on first UDF batch;
- always uses nlp.pipe batching (the reference batches only in the pairs
  surfaces, adj_noun_pairs.py:98 / subj_verb_pairs.py:91; the triples path
  parses one sentence at a time at grammatical_triples.py:260 — batching it
  is our core vectorization win, SURVEY.md §2.3 N3);
- optional ``merge_noun_chunks`` pipe (reference: util.py:25-30,
  grammatical_triples.py:248-249) configured per provider instance instead
  of by global pipeline mutation;
- optional ``disable=['ner']`` pruning as used by the pairs surfaces
  (adj_noun_pairs.py:14, subj_verb_pairs.py:15). The triples surface keeps
  ner enabled for parity (util.py:21).
"""

from __future__ import annotations

from typing import List

import spacy  # guarded by provider.get_provider

from posextract_spark.kernel.model import kid_index
from posextract_spark.parse.provider import ParseProvider


class SpacyParseProvider(ParseProvider):
    name = "spacy"

    def __init__(
        self,
        model: str = "en_core_web_sm",
        disable_ner: bool = False,
        use_noun_chunks: bool = False,
        batch_size: int = 256,
    ):
        disable = ["ner"] if disable_ner else []
        self._nlp = spacy.load(model, disable=disable)
        if use_noun_chunks:
            self._nlp.add_pipe("merge_noun_chunks")
        self._batch_size = batch_size

    def parse_arrays_batch(self, texts: List[str]) -> List[tuple]:
        out = []
        for doc in self._nlp.pipe(texts, batch_size=self._batch_size):
            head = [t.head.i for t in doc]
            out.append(
                (
                    [t.text for t in doc],
                    [t.lemma_ for t in doc],
                    [t.pos_ for t in doc],
                    [t.dep_ or "dep" for t in doc],
                    head,
                    kid_index(head),
                )
            )
        return out
