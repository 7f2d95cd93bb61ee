"""Tree traversal: subject/object search and the verb visitor.

Re-expression of reference: src/posextract/traversal.py:30-205 with one
deliberate change: the reference de-duplicates candidate lists via
``list(set(...))`` (traversal.py:50-51), whose order is CPython-hash
dependent; we dedupe order-stably and sort by token index so output is
deterministic across runs and parallelism levels. P/R comparison is
unaffected (the triple *set* is identical; only which duplicate survives
first-wins dedup could differ, and those duplicates agree on (s, v, o)).
"""

from __future__ import annotations

from typing import List, Optional, Tuple

from posextract_spark.kernel.classifiers import (
    is_root,
    should_consider_verb_phrase,
)
from posextract_spark.kernel.model import Sentence, Token, TokenLike, VerbPhrase
from posextract_spark.kernel.negation import _NEG_DETS, get_verb_neg
from posextract_spark.kernel.rules import RULE_FUNCS
from posextract_spark.kernel.triple import TripleExtraction
from posextract_spark.kernel.verb_phrase import find_verb_phrases

SubjectCand = Tuple[Optional[Token], Token]  # (negdet, subject)
ObjectCand = Tuple[Optional[Token], Optional[Token], Optional[Token], Token]

_OBJ_DEP_TAGS = frozenset({"dobj", "pobj", "acomp"})
_POA_DEPS = frozenset({"prep", "agent", "det", "nmod"})
_VERB_DEP_TAGS = frozenset(
    {"ccomp", "relcl", "xcomp", "acl", "advcl", "pcomp", "csubj", "csubjpass", "conj"}
)

# Struct-of-arrays bitmask flags, one int per token (built once per
# sentence, cached on Sentence._soa). Each bit is a token-LOCAL predicate
# the searches/walk would otherwise re-evaluate as string comparisons for
# every one of the ~n-verbs-per-sentence DFS invocations.
F_SUBJ = 1        # dep in (nsubj, nsubjpass)            [traversal.py:168-170]
F_VERBPOS = 2     # pos == VERB                          [descend prune :185]
F_AUXPOS = 4      # pos == AUX                           [vp descend prune :187]
F_CONJADVCL = 8   # dep in (conj, advcl)                 [ascend prune :195-198]
F_OBJCAND = 16    # classifiers.is_object                [util.py:83-99]
F_POADEP = 32     # dep in (prep, agent, det, nmod)      [util.py:106-107]
F_ISVERB = 64     # classifiers.is_verb                  [util.py:73-80]
_F_VERB_OR_AUX = F_VERBPOS | F_AUXPOS


# flags are a pure function of (dep, pos): memoized globally (a corpus
# has a few dozen distinct pairs), so the per-token build is two dict gets.
_FLAG_CACHE: dict = {}


def _compute_flags(d: str, p: str) -> int:
    f = 0
    if d == "nsubj" or d == "nsubjpass":
        f = F_SUBJ
    if p == "VERB":
        f |= F_VERBPOS
    elif p == "AUX":
        f |= F_AUXPOS
    if d == "conj" or d == "advcl":
        f |= F_CONJADVCL
    if (
        d in _OBJ_DEP_TAGS
        or (p == "NOUN" and (d == "amod" or d == "attr"))
        or (p == "PROPN" and d == "attr")
        or (p == "ADV" and d == "advmod")
        or (p == "PRON" and d == "dative")
    ):
        f |= F_OBJCAND
    if d in _POA_DEPS:
        f |= F_POADEP
    if d == "ROOT" or (d in _VERB_DEP_TAGS and not (d == "conj" and p == "PROPN")):
        f |= F_ISVERB
    return f


def _subject_neg_i(si: int, kid_idx, dep, words) -> Optional[int]:
    """Index form of negation.get_subject_neg (reference: util.py:145-152):
    first child (index order) that is a no/not/never det OR a neg."""
    for ki in kid_idx[si]:
        d = dep[ki]
        if d == "det" and words[ki].lower() in _NEG_DETS:
            return ki
        if d == "neg":
            return ki
    return None


def _object_neg_i(ci: int, kid_idx, dep, words, pos, head_idx) -> Optional[int]:
    """Index form of negation.get_object_neg (reference: util.py:163-174):
    child scan as above, then the head PART-'not' fallback."""
    for ki in kid_idx[ci]:
        d = dep[ki]
        if d == "det" and words[ki].lower() in _NEG_DETS:
            return ki
        if d == "neg":
            return ki
    hi = head_idx[ci]
    if pos[hi] == "PART" and words[hi].lower() == "not":
        return hi
    return None


def _poa_neg_i(pi: int, kid_idx, dep) -> Optional[int]:
    """Index form of negation.get_poa_neg (reference: util.py:155-160)."""
    for ki in kid_idx[pi]:
        if dep[ki] == "neg":
            return ki
    return None


def _verb_neg_i(vi: int, kid_idx, dep, words, pos, head_idx) -> Optional[int]:
    """Index form of negation.get_verb_neg for PLAIN Token verbs
    (reference: util.py:110-142). VerbPhrases keep the object form (their
    children/parent come from first/second). The second tuple element of
    get_verb_neg is provably always None (the reference's exhausted-
    generator dead branch), so only the adverb index is returned here and
    the caller pins the part to None."""
    for ki in kid_idx[vi]:
        if dep[ki] == "neg":
            return ki
    hi = head_idx[vi]
    d = dep[vi]
    if pos[hi] == "VERB" and words[hi].lower() == "failed" and d == "xcomp":
        # Dead branch in the reference (exhausted generator) — preserved.
        return None
    elif pos[hi] == "VERB" and (d == "ccomp" or d == "xcomp"):
        for ki in kid_idx[hi]:
            if dep[ki] == "neg":
                return ki
    return None


def _soa_of(sent: Sentence):
    """Build (once per sentence) the struct-of-arrays view:

    flags     — per-token bitmask (above)
    kid_idx   — children as int index lists
    head_idx  — head as int index
    subj_cands— [(negdet, token), ...] for each F_SUBJ token, index order
                (get_subject_neg is a pure function of the subject token,
                so it is computed once per subject, not once per verb)
    reach     — per-token int bitmask: bit j set iff subject j is
                reachable from this token by subject_search's move rules.

    ``reach`` inverts the per-verb subject DFS (reference:
    traversal.py:161-205): subject_search from v finds exactly
    {s : path v->s over (down into non-VERB child | up to parent unless
    (parent VERB/AUX and from-node dep conj/advcl))}. Reachability is
    path existence, so computing it from each SUBJECT over the REVERSED
    moves — up allowed iff the from-node is not VERB-pos (reverse of the
    child prune), down into child c allowed iff not (from-node VERB/AUX
    and c conj/advcl) (reverse of the ascend prune) — marks every v with
    the subjects its forward search would find. One DFS per subject
    (few) replaces one DFS per verb (many); a verb with no subjects
    (~70% of visits on web text) costs one list index. Equivalence is
    exact because _dedup_sorted_subjects sorts by subject token index
    and subject keys are unique per subject, so only the SET matters;
    pinned by tests/test_fast_kernel_parity.py and the differential.

    obj_cands — per-token (poa_neg, poa, obj_negdet, token) for each
                F_OBJCAND token (all four fields are pure functions of
                the candidate token), else None.

    The build reads the ``sent.parse_view()`` arrays and resolves
    negations by index (_subject_neg_i / _object_neg_i / _poa_neg_i —
    transcriptions of negation.py's child scans, pinned against them by
    tests/test_lazy_sentence_parity.py), so the ONLY Token objects it
    constructs are the candidate/negation tokens the emission path can
    touch.
    """
    soa = sent._soa
    if soa is None:
        words, pos, dep, head_idx, kid_idx = sent.parse_view()
        n = len(words)
        flags = []
        fappend = flags.append
        cache = _FLAG_CACHE
        for d, p in zip(dep, pos):
            by_dep = cache.get(d)
            if by_dep is None:
                by_dep = cache[d] = {}
            f = by_dep.get(p)
            if f is None:
                f = by_dep[p] = _compute_flags(d, p)
            fappend(f)
        tok = sent._tok

        subj_cands = []
        reach = [0] * n
        j = 0
        for si in range(n):
            if flags[si] & F_SUBJ:
                ni = _subject_neg_i(si, kid_idx, dep, words)
                subj_cands.append((tok(ni) if ni is not None else None, tok(si)))
                bit = 1 << j
                j += 1
                stack = [si]
                while stack:
                    x = stack.pop()
                    if reach[x] & bit:
                        continue
                    reach[x] |= bit
                    if not flags[x] & F_VERBPOS:
                        h = head_idx[x]
                        if not reach[h] & bit:
                            stack.append(h)
                    x_is_va = flags[x] & _F_VERB_OR_AUX
                    for c in kid_idx[x]:
                        if reach[c] & bit:
                            continue
                        if x_is_va and flags[c] & F_CONJADVCL:
                            continue
                        stack.append(c)

        obj_cands: List[Optional[ObjectCand]] = [None] * n
        for ci in range(n):
            if flags[ci] & F_OBJCAND:
                hi = head_idx[ci]
                if flags[hi] & F_POADEP:
                    poa = tok(hi)
                    pn = _poa_neg_i(hi, kid_idx, dep)
                    poa_neg = tok(pn) if pn is not None else None
                else:
                    poa = None
                    poa_neg = None
                on = _object_neg_i(ci, kid_idx, dep, words, pos, head_idx)
                obj_cands[ci] = (
                    poa_neg,
                    poa,
                    tok(on) if on is not None else None,
                    tok(ci),
                )

        soa = (flags, kid_idx, head_idx, subj_cands, reach, obj_cands)
        sent._soa = soa
    return soa


def subject_search(token: Token, verb_phrase: bool = False) -> List[SubjectCand]:
    """Worklist DFS over children AND parents (reference: traversal.py:161-205).

    Prunes: never descend into VERB-pos children (185-186); for verb
    phrases also skip AUX children (187-188); never ascend from a
    conj/advcl candidate into a VERB/AUX parent (195-198).
    """
    found: List[SubjectCand] = []
    sent = token._sent
    flags, kid_idx, head_idx, _, _, _ = _soa_of(sent)
    words, _, dep, _, _ = sent.parse_view()
    tok = sent._tok
    child_block = _F_VERB_OR_AUX if verb_phrase else F_VERBPOS

    visited = set()
    add = visited.add
    considering = [token.i]
    push = considering.append
    pop = considering.pop

    while considering:
        ci = pop()
        if ci in visited:
            continue
        add(ci)
        fc = flags[ci]

        if fc & F_SUBJ:
            ni = _subject_neg_i(ci, kid_idx, dep, words)
            found.append((tok(ni) if ni is not None else None, tok(ci)))

        for ki in kid_idx[ci]:
            if ki in visited or flags[ki] & child_block:
                continue
            push(ki)

        hi = head_idx[ci]
        if hi not in visited:
            if flags[hi] & _F_VERB_OR_AUX and fc & F_CONJADVCL:
                continue
            push(hi)

    return found


def object_search(token: Token) -> List[ObjectCand]:
    """Worklist DFS over children only (reference: traversal.py:131-158).
    Prunes VERB/AUX-pos children (153-155). The object test is
    classifiers.is_object precomputed into F_OBJCAND — this is the
    kernel's hottest loop."""
    flags, kid_idx, _, _, _, obj_cands = _soa_of(token._sent)
    return _object_cands_dfs(token.i, flags, kid_idx, obj_cands)


def _dedup_sorted_subjects(subjects: List[SubjectCand]) -> List[SubjectCand]:
    seen = set()
    out = []
    for cand in subjects:
        key = (cand[0].i if cand[0] is not None else -1, cand[1].i)
        if key not in seen:
            seen.add(key)
            out.append(cand)
    out.sort(key=lambda c: c[1].i)
    return out


def _obj_sort_key(c: ObjectCand):
    return c[3].i


def _dedup_sorted_objects(objects: List[ObjectCand]) -> List[ObjectCand]:
    seen = set()
    out = []
    for cand in objects:
        key = tuple(x.i if x is not None else -1 for x in cand)
        if key not in seen:
            seen.add(key)
            out.append(cand)
    out.sort(key=lambda c: (c[3].i, c[1].i if c[1] is not None else -1))
    return out


# rule tag strings precomputed once (not per emitted triple)
_RULES = tuple((f, " <%s>" % f.__name__) for f in RULE_FUNCS)

# Dep-gated rule sequences. Each rule's FIRST check rejects a verb whose
# dep is outside the rule's declared ``deps`` (rules.dep_gate); pre-filtering
# by verb.dep skips calls that would return False on line one, preserving
# first-match-wins order over the surviving subset. rule10 declares no gate:
# it takes any Token verb and is ALWAYS excluded for VerbPhrases (its
# hasattr(verb, 'conjuncts') is False for every VerbPhrase — reference:
# rules.py:209-210). Pinned exhaustively by tests/test_fast_kernel_parity.py
# over the fuzz corpus.
_RULE_DEP_GATES = tuple(getattr(f, "deps", None) for f in RULE_FUNCS)

_GATED_RULES: dict = {}


def _rules_for(dep: str, is_vp: bool):
    key = (dep, is_vp)
    seq = _GATED_RULES.get(key)
    if seq is None:
        seq = tuple(
            (f, tag)
            for (f, tag), gate in zip(_RULES, _RULE_DEP_GATES)
            if (gate is None and not is_vp) or (gate is not None and dep in gate)
        )
        _GATED_RULES[key] = seq
    return seq


def _object_cands_dfs(vi: int, flags, kid_idx, obj_cands) -> List[ObjectCand]:
    """object_search body on a pre-unpacked SoA (no per-call cache hop)."""
    found: List[ObjectCand] = []
    visited = set()
    add = visited.add
    considering = [vi]
    push = considering.append
    pop = considering.pop
    while considering:
        ci = pop()
        if ci in visited:
            continue
        add(ci)
        cand = obj_cands[ci]
        if cand is not None:
            found.append(cand)
        for ki in kid_idx[ci]:
            if ki in visited or flags[ki] & _F_VERB_OR_AUX:
                continue
            push(ki)
    return found


def _emit_for_verb(
    verb: TokenLike,
    parent_objects: List[ObjectCand],
    out: List[TripleExtraction],
    soa=None,
) -> None:
    """The subjects x objects x rules emission for ONE verb
    (reference: traversal.py:30-80), with two output-equivalent
    short-circuits: a verb with no subject candidates (or no object
    candidates and no inherited ones) emits nothing, so the object
    search / negation extraction / dedup-sorts are skipped for it —
    ~70% of verb visits on web-text corpora."""
    is_vp = isinstance(verb, VerbPhrase)
    if is_vp:
        # VerbPhrase searches use different prunes (AUX children blocked)
        # — rare; keep the direct forward DFS.
        subjects = _dedup_sorted_subjects(
            subject_search(verb.subject_search_root, verb_phrase=True)
        )
        if not subjects:
            return
        objects = object_search(verb.object_search_root) + parent_objects
        if not objects:
            return
        objects = _dedup_sorted_objects(objects)
    else:
        if soa is None:
            soa = _soa_of(verb._sent)
        flags, kid_idx, _, subj_cands, reach, obj_cands = soa
        vi = verb.i
        mask = reach[vi]
        if not mask:
            return
        # subj_cands is in token-index order and subject keys are unique
        # per subject, so this IS _dedup_sorted_subjects' output.
        subjects = (
            [c for j, c in enumerate(subj_cands) if mask >> j & 1]
            if mask != (1 << len(subj_cands)) - 1
            else subj_cands
        )
        objects = _object_cands_dfs(vi, flags, kid_idx, obj_cands)
        if parent_objects:
            objects = _dedup_sorted_objects(objects + parent_objects)
        else:
            if not objects:
                return
            # DFS visits each node once and object keys are unique per
            # candidate token, so dedup is a no-op: sort only. The sort
            # key matches _dedup_sorted_objects' (obj.i is unique, the
            # poa tiebreak can never engage).
            objects.sort(key=_obj_sort_key)
    rules = _rules_for(verb.dep, is_vp)

    if is_vp:
        neg_adverb, neg_adverb_part = get_verb_neg(verb)
    else:
        # index form: avoids materializing the verb's full child list
        # (the root verb's children are most of the sentence on
        # dangling-attachment trees)
        sent = verb._sent
        words, pos, dep, head_idx, kid_idx2 = sent.parse_view()
        ni = _verb_neg_i(verb.i, kid_idx2, dep, words, pos, head_idx)
        neg_adverb = sent._tok(ni) if ni is not None else None
        neg_adverb_part = None
    append = out.append

    for subject_negdet, subject in subjects:
        for poa_neg, poa, obj_negdet, obj in objects:
            for rule, tag in rules:
                if rule(verb, subject, obj, poa):
                    append(
                        TripleExtraction(
                            subject_negdet=subject_negdet,
                            subject=subject,
                            neg_adverb=neg_adverb,
                            neg_adverb_part=neg_adverb_part,
                            verb=verb,
                            poa_neg=poa_neg,
                            poa=poa,
                            object_negdet=obj_negdet,
                            object=obj,
                            rule=tag,
                            verb_phrase=is_vp,
                        )
                    )
                    break


def _walk(entry: TokenLike, entry_is_verb: bool, out: List[TripleExtraction]) -> None:
    """Iterative pre-order engine replacing the visit_verb/visit_token
    mutual recursion (reference: traversal.py:30-93). An int stack of
    token indices, children pushed in reverse so the leftmost child pops
    first, reproduces the recursion's emission order exactly (child verbs
    restart with empty inherited context, traversal.py:87-93, so no
    per-frame state needs to travel). Non-verb leaves are never pushed —
    the recursion's visit of them is a no-op (classifiers.is_verb is the
    precomputed F_ISVERB bit, parity pinned by the differential)."""
    if entry_is_verb:
        _emit_for_verb(entry, [], out)
    if isinstance(entry, VerbPhrase):
        sent = entry.first._sent
        # first's child indices then second's — entry.children order
        seed_idx = list(sent._kid_idx[entry.first.i]) + list(sent._kid_idx[entry.second.i])
    else:
        sent = entry._sent
        seed_idx = sent._kid_idx[entry.i]
    if not seed_idx:
        return
    soa = _soa_of(sent)
    flags, kid_idx, _, _, reach, _ = soa
    tok = sent._tok

    stack: List[int] = []
    push = stack.append
    pop = stack.pop
    for k in range(len(seed_idx) - 1, -1, -1):
        ci = seed_idx[k]
        if flags[ci] & F_ISVERB or kid_idx[ci]:
            push(ci)
    while stack:
        ci = pop()
        # reach[ci] == 0 => _emit_for_verb would return on its first
        # check (no subject reachable); skip the call entirely.
        if flags[ci] & F_ISVERB and reach[ci]:
            _emit_for_verb(tok(ci), [], out, soa)
        kids = kid_idx[ci]
        for k in range(len(kids) - 1, -1, -1):
            ki = kids[k]
            if flags[ki] & F_ISVERB or kid_idx[ki]:
                push(ki)


def visit_verb(
    verb: TokenLike,
    parent_subjects: List[SubjectCand],
    parent_objects: List[ObjectCand],
    out: Optional[List[TripleExtraction]] = None,
) -> List[TripleExtraction]:
    """reference: traversal.py:30-84 — cross product subjects x objects,
    rules 1-12 first-match-wins, then recurse into children.

    Kept as the public per-verb API (tests and the reference's own shape);
    ``graph_tokens`` drives the iterative ``_walk`` engine instead.
    ``parent_subjects`` is accepted for signature parity but — exactly as
    in the reference — never read (child verbs reset context)."""
    if out is None:
        out = []
    _emit_for_verb(verb, parent_objects, out)
    _walk(verb, False, out)  # children only: emission for `verb` done above
    return out


def visit_token(
    token: TokenLike,
    parent_subjects: List[SubjectCand],
    out: Optional[List[TripleExtraction]] = None,
) -> List[TripleExtraction]:
    """reference: traversal.py:87-93 — child verbs restart with empty
    inherited context."""
    if out is None:
        out = []
    _walk(token, False, out)
    return out


def graph_tokens(sent: Sentence) -> List[TripleExtraction]:
    """reference: traversal.py:96-128 — ROOT-rooted recursion, then gated
    verb-phrase visits.

    Sentence-level precheck: a triple needs a subject candidate, and
    subject candidates are exactly the nsubj/nsubjpass tokens
    (traversal.py:168-170 in the reference). A sentence containing none
    can emit nothing from ANY verb or verb phrase, so the entire walk is
    skipped — O(n) test instead of per-verb DFS over the whole tree."""
    _, _, dep, _, _ = sent.parse_view()
    root_i = None
    has_subject = False
    for i, d in enumerate(dep):
        if root_i is None and d == "ROOT":
            root_i = i
        if d == "nsubj" or d == "nsubjpass":
            has_subject = True
    if root_i is None or not has_subject:
        return []

    extractions: List[TripleExtraction] = []
    _walk(sent._tok(root_i), True, extractions)

    for vp in find_verb_phrases(sent):
        if not should_consider_verb_phrase(vp):
            continue
        _emit_for_verb(vp, [], extractions)
        _walk(vp, False, extractions)

    return extractions
