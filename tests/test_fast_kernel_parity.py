"""Pin the struct-of-arrays fast kernel against direct transcriptions of the
reference's search/scan semantics (VERDICT r2 item 7: the rewrite must be
differential-gated at every step).

Each check compares the optimized path against a naive in-test
re-implementation transcribed from the reference (and identical to this
repo's pre-rewrite r2 code) over thousands of random trees:

1. subject reach-masks (reverse DFS per subject) == forward per-verb DFS
   (reference: traversal.py:161-205)
2. object candidate precompute + DFS == the original inline-classifier DFS
   (reference: traversal.py:131-158, util.py:83-107)
3. dep-gated rule sequences == the full rules-1..12 first-match loop
   (reference: traversal.py:69-80)
4. single-pass bucketed find_verb_phrases == the pattern-major nested scan
   (reference: verb_phrase.py:164-299 registration order)
"""

import random

from posextract_spark.kernel.model import Sentence, VerbPhrase
from posextract_spark.kernel.negation import get_object_neg, get_poa_neg, get_subject_neg
from posextract_spark.kernel.rules import RULE_FUNCS
from posextract_spark.kernel.traversal import (
    _dedup_sorted_subjects,
    _rules_for,
    _soa_of,
    object_search,
    subject_search,
)
from posextract_spark.kernel.verb_phrase import _PATTERNS, find_verb_phrases
from tools.fuzz_differential import random_tree

N_TREES = 1500


def _sentences(seed=99, n=N_TREES):
    rng = random.Random(seed)
    for _ in range(n):
        yield Sentence.from_rows([tuple(r.values()) for r in random_tree(rng)])


# --- naive transcriptions (the r2 pre-rewrite code) -------------------------

_OBJ_DEP_TAGS = frozenset({"dobj", "pobj", "acomp"})
_POA_DEPS = frozenset({"prep", "agent", "det", "nmod"})


def naive_subject_search(token, verb_phrase=False):
    found = []
    visited = set()
    considering = [token]
    while considering:
        candidate = considering.pop()
        if candidate.i in visited:
            continue
        visited.add(candidate.i)
        if candidate.dep in ("nsubj", "nsubjpass"):
            found.append((get_subject_neg(candidate), candidate))
        for child in candidate.children:
            if child.i in visited:
                continue
            if child.pos == "VERB":
                continue
            if verb_phrase and child.pos == "AUX":
                continue
            considering.append(child)
        parent = candidate.head
        if parent.i not in visited:
            if (parent.pos == "VERB" or parent.pos == "AUX") and candidate.dep in ("conj", "advcl"):
                continue
            considering.append(parent)
    return found


def naive_object_search(token):
    found = []
    visited = set()
    considering = [token]
    while considering:
        candidate = considering.pop()
        if candidate.i in visited:
            continue
        visited.add(candidate.i)
        dep = candidate.dep
        pos = candidate.pos
        if (
            dep in _OBJ_DEP_TAGS
            or (pos == "NOUN" and (dep == "amod" or dep == "attr"))
            or (pos == "PROPN" and dep == "attr")
            or (pos == "ADV" and dep == "advmod")
            or (pos == "PRON" and dep == "dative")
        ):
            obj_negdet = get_object_neg(candidate)
            head = candidate.head
            poa = head if head.dep in _POA_DEPS else None
            poa_neg = get_poa_neg(poa) if poa is not None else None
            found.append((poa_neg, poa, obj_negdet, candidate))
        for child in candidate.children:
            if child.i in visited:
                continue
            if child.pos == "VERB" or child.pos == "AUX":
                continue
            considering.append(child)
    return found


def _subj_key(cands):
    return sorted((c[0].i if c[0] is not None else -1, c[1].i) for c in cands)


def _obj_key(cands):
    return sorted(tuple(x.i if x is not None else -1 for x in c) for c in cands)


def test_reach_masks_equal_forward_subject_search():
    for sent in _sentences(seed=7):
        _, _, _, subj_cands, reach, _ = _soa_of(sent)
        for tok in sent:
            expected = _subj_key(naive_subject_search(tok))
            mask = reach[tok.i]
            got = _subj_key([c for j, c in enumerate(subj_cands) if mask >> j & 1])
            assert got == expected, (sent.arrays(), tok.i, got, expected)
            # the public forward implementation must agree too
            assert _subj_key(subject_search(tok)) == expected
            # and the verb-phrase variant against its naive twin
            assert _subj_key(subject_search(tok, verb_phrase=True)) == _subj_key(
                naive_subject_search(tok, verb_phrase=True)
            )


def test_object_search_equals_naive():
    for sent in _sentences(seed=8):
        for tok in sent:
            assert _obj_key(object_search(tok)) == _obj_key(naive_object_search(tok))


def test_gated_rules_equal_full_rule_loop():
    rules_full = tuple((f, " <%s>" % f.__name__) for f in RULE_FUNCS)
    checked = 0
    for sent in _sentences(seed=9, n=3000):
        verbs = list(sent) + find_verb_phrases(sent)
        for verb in verbs:
            is_vp = isinstance(verb, VerbPhrase)
            root = verb.subject_search_root if is_vp else verb
            oroot = verb.object_search_root if is_vp else verb
            subjects = _dedup_sorted_subjects(subject_search(root, verb_phrase=is_vp))
            objects = object_search(oroot)
            gated = _rules_for(verb.dep, is_vp)
            for _, subject in subjects[:4]:
                for poa_neg, poa, obj_negdet, obj in objects[:4]:
                    full_hit = next(
                        (tag for rule, tag in rules_full if rule(verb, subject, obj, poa)),
                        None,
                    )
                    gated_hit = next(
                        (tag for rule, tag in gated if rule(verb, subject, obj, poa)),
                        None,
                    )
                    assert gated_hit == full_hit, (verb, subject, obj, poa)
                    checked += 1
    assert checked > 1500  # the corpus actually exercises the loop


def test_find_verb_phrases_equals_pattern_major_scan():
    for sent in _sentences(seed=10):
        naive = []
        for cls, anchor_pos, child_dep, child_pos in _PATTERNS:
            for tok in sent:
                if tok.pos != anchor_pos:
                    continue
                for child in tok.children:
                    if child.dep == child_dep and child.pos == child_pos:
                        naive.append((cls, tok.i, child.i))
        got = [(type(vp), vp.first.i, vp.second.i) for vp in find_verb_phrases(sent)]
        assert got == naive
