"""Verb-phrase pattern matching.

The reference registers 7 one-edge DependencyMatcher patterns across 4 named
pattern groups (reference: src/posextract/verb_phrase.py:164-299). Every
pattern is a single (anchor —dep→ child) edge with POS constraints, so a
direct scan over the token array replaces spaCy's matcher: for each pattern
group in registration order, iterate anchors in token order and their
children in order. Match tuple order is (anchor, dependent), matching the
RIGHT_ID declaration order the reference passes to the VerbPhrase
constructors (reference: src/posextract/traversal.py:114-117).
"""

from __future__ import annotations

from typing import List

from posextract_spark.kernel.model import (
    ADVCLVerbPhrase,
    CCompVerbPhrase,
    ConjVerbPhrase,
    Sentence,
    VerbPhrase,
    XCompVerbPhrase,
)

# (phrase class, anchor POS, child dep, child POS) — one row per sub-pattern,
# in the reference's registration order (verb_phrase.py:165-299).
_PATTERNS = [
    (ADVCLVerbPhrase, "AUX", "advcl", "VERB"),
    (ADVCLVerbPhrase, "VERB", "advcl", "VERB"),
    (ConjVerbPhrase, "VERB", "conj", "AUX"),
    (ConjVerbPhrase, "AUX", "conj", "VERB"),
    (CCompVerbPhrase, "VERB", "ccomp", "VERB"),
    (CCompVerbPhrase, "VERB", "ccomp", "AUX"),
    (XCompVerbPhrase, "VERB", "xcomp", "AUX"),
]


# (anchor POS, child dep, child POS) -> pattern index; the 7 rows are
# distinct triples, so one dict lookup classifies an edge.
_PATTERN_INDEX = {
    (anchor_pos, child_dep, child_pos): k
    for k, (_, anchor_pos, child_dep, child_pos) in enumerate(_PATTERNS)
}
_VP_CHILD_DEPS = frozenset({"advcl", "conj", "ccomp", "xcomp"})


def find_verb_phrases(sent: Sentence) -> List[VerbPhrase]:
    """Single pass over tokens-as-dependents (O(n) instead of 7 full
    anchor scans): each (head, child) edge is classified by one dict
    lookup. Output order is the reference's registration order exactly —
    pattern-major, then (anchor index, child index) — reproduced by
    per-pattern buckets sorted on (anchor_i, child_i); the original
    nested loop yields anchors in token order and children in index
    order, which is the same key.

    Scans the parse_view arrays (dep/pos/head), so only the matched
    anchor/child pairs materialize Tokens; a sentence with no
    advcl/conj/ccomp/xcomp edge (the common case) touches none. The self-loop guard ``head is child``
    becomes ``hi == ci`` (identical: token identity == index equality
    within one sentence)."""
    _, pos, dep, head_idx, _ = sent.parse_view()
    buckets: List[List] = [[] for _ in _PATTERNS]
    any_hit = False
    for ci, d in enumerate(dep):
        if d not in _VP_CHILD_DEPS:
            continue
        hi = head_idx[ci]
        if hi == ci:
            continue
        k = _PATTERN_INDEX.get((pos[hi], d, pos[ci]))
        if k is not None:
            buckets[k].append((hi, ci))
            any_hit = True
    if not any_hit:
        return []
    tok = sent._tok
    phrases: List[VerbPhrase] = []
    for k, bucket in enumerate(buckets):
        if not bucket:
            continue
        bucket.sort()
        cls = _PATTERNS[k][0]
        phrases.extend(cls(tok(hi), tok(ci)) for hi, ci in bucket)
    return phrases
