"""Per-sentence post-processing (reference: src/posextract/grammatical_triples.py:26-192)."""

from __future__ import annotations

from typing import Iterator, List, Optional

from posextract_spark.kernel.model import Token, VerbPhrase
from posextract_spark.kernel.triple import TripleExtraction


def dedup_triples(extractions: List[TripleExtraction]) -> List[TripleExtraction]:
    """Order-preserving first-wins dedup on lower-cased (s, v, o)
    (reference: grammatical_triples.py:186-192)."""
    seen = set()
    out = []
    for triple in extractions:
        h = triple.get_triple_hash()
        if h not in seen:
            seen.add(h)
            out.append(triple)
    return out


def conj_expansions(triple: TripleExtraction) -> List[TripleExtraction]:
    """Clone the triple for NOUN+conj descendants of subject and object
    (reference: grammatical_triples.py:101-134). DFS continues through a
    matched conjunct's children, so chains expand."""
    new: List[TripleExtraction] = []

    for attr in ("subject", "object"):
        anchor: Token = getattr(triple, attr)
        sent = anchor._sent
        _, pos, dep, _, kid_idx = sent.parse_view()
        # index DFS (LIFO over the in-order child lists, visited set keyed
        # on token index): only the matched conjuncts materialize Tokens
        visited = set()
        considering = list(kid_idx[anchor.i])
        while considering:
            ti = considering.pop()
            if ti in visited:
                continue
            visited.add(ti)
            if pos[ti] == "NOUN" and dep[ti] == "conj":
                t = triple.clone()
                setattr(t, attr, sent._tok(ti))
                new.append(t)
                considering.extend(kid_idx[ti])

    return new


def adj_acomp_expansions(triple: TripleExtraction) -> List[TripleExtraction]:
    """Clone for ADJ+conj conjuncts of an ADJ/acomp object, traversing only
    ADJ children (reference: grammatical_triples.py:137-164)."""
    obj = triple.object
    if obj.pos != "ADJ" or obj.dep != "acomp":
        return []
    sent = obj._sent
    _, pos, dep, _, kid_idx = sent.parse_view()
    new: List[TripleExtraction] = []
    visited = set()
    considering = list(kid_idx[obj.i])
    while considering:
        ci = considering.pop()
        if ci in visited:
            continue
        visited.add(ci)
        if pos[ci] == "ADJ" and dep[ci] == "conj":
            t = triple.clone()
            t.object = sent._tok(ci)
            new.append(t)
        for ki in kid_idx[ci]:
            if ki in visited:
                continue
            if pos[ki] != "ADJ":
                continue
            considering.append(ki)
    return new


def expand_transitively(extractions: List[TripleExtraction]) -> List[TripleExtraction]:
    """Worklist-to-fixpoint conjunction + acomp expansion.

    The reference extends the list it is iterating
    (grammatical_triples.py:204-206), which makes expansion *transitive*:
    appended clones are themselves revisited. Reproduced with an explicit
    index worklist; the subsequent dedup keeps it finite.
    """
    i = 0
    while i < len(extractions):
        triple = extractions[i]
        extractions.extend(conj_expansions(triple))
        extractions.extend(adj_acomp_expansions(triple))
        i += 1
    return extractions


def combine_adjectives(extractions: List[TripleExtraction]) -> List[TripleExtraction]:
    """Optional --post-combine-adj folding (reference: grammatical_triples.py:26-65).

    Quirks preserved:
    - VerbPhrase-verb triples are skipped entirely and therefore *dropped*
      from the output (the reference's ``continue`` at :30-31 excludes them
      from possible_dupes, and the output is built only from possible_dupes).
    - groups with no pobj/dobj/acomp main triple keep only their first
      member (:60-63).
    """
    possible_dupes: dict = {}
    for extraction in extractions:
        if isinstance(extraction.verb, VerbPhrase):
            continue
        key = (extraction.subject.i, extraction.verb.i)
        possible_dupes.setdefault(key, []).append(extraction)

    new_extractions: List[TripleExtraction] = []

    for key, dupe_list in possible_dupes.items():
        if len(dupe_list) == 1:
            new_extractions.append(dupe_list[0])
            continue

        ext_main = None
        for ext in dupe_list:
            if ext.object.dep in ("pobj", "dobj", "acomp"):
                ext_main = ext
                break

        if ext_main is None:
            new_extractions.append(dupe_list[0])
            continue

        adjectives: List[Token] = []
        for ext in dupe_list:
            if ext.object.i == ext_main.object.i:
                continue
            if ext.object.dep == "advmod" and not ext.poa:
                adjectives.append(ext.object)
            else:
                new_extractions.append(ext)

        ext_main.object_adjectives = adjectives
        new_extractions.append(ext_main)

    return new_extractions


def resolve_coreferences(triple: TripleExtraction) -> None:
    """'which'/'who' backoff (reference: grammatical_triples.py:167-176)."""
    if triple.subject.text.lower() == "which":
        if triple.subject.head.pos == "NOUN":
            triple.subject = triple.subject.head

    if triple.subject.text.lower() == "who" and triple.subject.pos == "PRON":
        if triple.verb == triple.subject.head:
            noun = triple.verb.head
            if noun.pos in ("NOUN", "PROPN") and triple.verb.dep == "relcl":
                triple.subject = noun


def add_auxiliary_verb(triple: TripleExtraction) -> None:
    """First aux child of the verb (reference: grammatical_triples.py:179-183)."""
    for child in triple.verb.children:
        if child.dep == "aux":
            triple.aux_verb = child
            break


def attach_prep_phrase(triple: TripleExtraction) -> TripleExtraction:
    """--prep-phrase attachment (reference: grammatical_triples.py:68-98).

    Rule A ('of'/'to' under the object, exactly one NOUN-or-pobj grandchild)
    is the reference's standard path (:72-82). Rule B ('with' under the verb,
    :85-96) is the half-re-enabled experiment that is mis-indented in the
    reference source; semantics after the one-space dedent are implemented
    here (per SURVEY.md §0.1.1 the canonical reading is ON-after-dedent).
    """
    for child in triple.object.children:
        if child.text in ("of", "to"):
            nouns = [gc for gc in child.children if gc.pos == "NOUN" or gc.dep == "pobj"]
            if len(nouns) != 1:
                continue
            triple.object_prep = child
            triple.object_prep_noun = nouns[0]
            return triple

    for child in triple.verb.children:
        if child is triple.poa:
            continue
        if child.text == "with":
            pobjs = [gc for gc in child.children if gc.dep == "pobj"]
            if len(pobjs) != 1:
                continue
            triple.object_prep = child
            triple.object_prep_noun = pobjs[0]
            return triple

    return triple
