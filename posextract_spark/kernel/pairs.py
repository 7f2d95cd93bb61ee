"""Adjective-noun and subject-verb pair extractors.

Re-expression of reference: src/posextract/adj_noun_pairs.py:49-88 and
subj_verb_pairs.py:49-81 over the provider's parse arrays
(``ParseProvider.parse_arrays_batch``; ``Sentence.arrays()`` returns a
sentence's own). The extractors read only (text, lemma, pos, dep, head,
children), so they need no Token or Sentence objects.

Their output is pinned by ``tests/goldens/kernel.jsonl`` (the reference's
pairs on the differential corpora), by tests/test_pairs_and_posrule.py and
tests/test_pairs_array_parity.py (hand-built trees for the negation
branches the corpora never hit), and end to end by the DuckDB oracles of
operators.pairs.
"""

from __future__ import annotations

from typing import List, Tuple

from posextract_spark.kernel.negation import _NEG_DETS  # single source of truth


def _apply_case(values: Tuple[str, ...], letter_case: str) -> Tuple[str, ...]:
    if letter_case == "upper":
        return tuple(v.upper() for v in values)
    if letter_case == "lower":
        return tuple(v.lower() for v in values)
    return values


_SUBJ_DEPS = ("nsubj", "nsubjpass")


def _verb_neg_arrays(vi, words, pos, dep, head, kid_idx) -> str:
    """get_verb_neg (negation.py:12-47) for a plain verb token, on arrays:
    first child with dep 'neg', else the ccomp/xcomp parent-inheritance
    branch (with the reference's dead 'failed to X' branch preserved)."""
    for ci in kid_idx[vi]:
        if dep[ci] == "neg":
            return words[ci]
    hv = head[vi]
    if pos[hv] == "VERB":
        d = dep[vi]
        if words[hv].lower() == "failed" and d == "xcomp":
            return ""  # dead branch in the reference (exhausted generator)
        if d == "ccomp" or d == "xcomp":
            for ci in kid_idx[hv]:
                if dep[ci] == "neg":
                    return words[ci]
    return ""


def _subject_neg_arrays(ni, words, dep, kid_idx) -> str:
    """get_subject_neg (negation.py:50-57) on arrays."""
    for ci in kid_idx[ni]:
        d = dep[ci]
        if d == "det" and words[ci].lower() in _NEG_DETS:
            return words[ci]
        if d == "neg":
            return words[ci]
    return ""


def adj_noun_pairs_arrays(
    arrays, lemmatize: bool = False, letter_case: str = "default"
) -> List[dict]:
    """(verb_neg, neg_det, adjective, noun) per ADJ token whose head is a
    NOUN (reference: adj_noun_pairs.py:49-88)."""
    words, lemmas, pos, dep, head, kid_idx = arrays
    pairs: List[dict] = []
    for ai in range(len(words)):
        if pos[ai] == "ADJ":
            ni = head[ai]
            if pos[ni] == "NOUN":
                neg_det = _subject_neg_arrays(ni, words, dep, kid_idx)
                vi = head[ni]
                p = pos[vi]
                verb_neg = (
                    _verb_neg_arrays(vi, words, pos, dep, head, kid_idx)
                    if (p == "AUX" or p == "VERB")
                    else ""
                )
                if lemmatize:
                    adj_s, noun_s = lemmas[ai], lemmas[ni]
                else:
                    adj_s, noun_s = words[ai], words[ni]
                verb_neg, neg_det, adj_s, noun_s = _apply_case(
                    (verb_neg, neg_det, adj_s, noun_s), letter_case
                )
                pairs.append(
                    {"verb_neg": verb_neg, "neg_det": neg_det, "adjective": adj_s, "noun": noun_s}
                )
    return pairs


def subj_verb_pairs_arrays(
    arrays, lemmatize: bool = False, letter_case: str = "default"
) -> List[dict]:
    """(subject, verb_neg, verb) per VERB-pos token that has its OWN
    subject (reference: subj_verb_pairs.py:49-81).

    Faithfulness notes:
    - the reference's ``subject`` variable does leak across loop iterations
      (subj_verb_pairs.py:49-59), but it is stringified at the END of every
      emitting iteration (``subject = subject.text``, :68-72), so a verb
      that would inherit a carried-over subject crashes on ``str.text``
      (AttributeError); a verb with no subject and no prior one crashes
      with UnboundLocalError (SURVEY.md §0.1.3). Either way the reference
      NEVER emits a carry-over pair — proven by the pairs differential
      (tools/differential.py), which runs the actual reference code. We
      define both crash classes as skip-this-verb, the only output-defined
      behavior consistent with what the reference can actually produce.
    - the *last* nsubj/nsubjpass child wins (subj_verb_pairs.py:57-59).
    - verb_neg keeps its case under ``letter_case`` (subj_verb_pairs.py
      cases only the subject and the verb)."""
    words, lemmas, pos, dep, head, kid_idx = arrays
    pairs: List[dict] = []
    for vi in range(len(words)):
        if pos[vi] != "VERB":
            continue
        subject = None
        hv = head[vi]
        if dep[hv] in _SUBJ_DEPS:
            subject = hv
        for ci in kid_idx[vi]:
            if dep[ci] in _SUBJ_DEPS:
                subject = ci
        if subject is None:
            continue
        verb_neg = _verb_neg_arrays(vi, words, pos, dep, head, kid_idx)
        if lemmatize:
            subj_s, verb_s = lemmas[subject], lemmas[vi]
        else:
            subj_s, verb_s = words[subject], words[vi]
        if letter_case == "upper":
            subj_s, verb_s = subj_s.upper(), verb_s.upper()
        elif letter_case == "lower":
            subj_s, verb_s = subj_s.lower(), verb_s.lower()
        pairs.append({"subject": subj_s, "verb_neg": verb_neg, "verb": verb_s})
    return pairs
