"""Per-rule reachability tests + documentation of the reference's dead rules.

Analysis (verified by construction and by 30k-tree fuzzing):

- rules 1, 2, 3, 4, 6, 7, 8, 10 are reachable on tree-shaped parses;
- rule5 and rule12 are FULLY SHADOWED by rule2: rule2's dep gate
  ({ccomp, conj, relcl, advcl, pcomp, ROOT}) is a superset of theirs and
  its per-object conditions are implied by theirs, and first-match-wins
  (reference: traversal.py:69-80) tries rule2 first;
- rule9 and rule11 are STRUCTURALLY UNREACHABLE on acyclic parses: rule9
  needs verb.head == A, A.head == object, object(.poa-chain).head == verb —
  a head cycle; rule11 needs the object's head to equal the verb's head,
  i.e. a sibling of the verb, which object_search (descendants only,
  traversal.py:131-158) can never produce, and the parent_objects channel
  is always empty (traversal.py:87-93).

We keep all 12 for behavioral parity (the reference would behave
identically if spaCy ever emitted such structures), and pin the reachable
ones here with minimal fixtures.
"""

from posextract_spark.kernel.extract import extract_triples_one
from posextract_spark.kernel.model import Sentence


def rules_fired(rows):
    return {
        f["rule"].strip(" <>")
        for f in extract_triples_one(Sentence.from_rows([dict(r, lemma=r["text"]) for r in rows]))
    }


def T(i, text, pos, dep, head):
    return {"i": i, "text": text, "pos": pos, "dep": dep, "head": head}


def test_rule1_pcomp_under_prep():
    rows = [
        T(0, "succeeded", "VERB", "ROOT", 0),
        T(1, "Acme", "PROPN", "nsubj", 0),
        T(2, "by", "ADP", "prep", 0),
        T(3, "acquiring", "VERB", "pcomp", 2),
        T(4, "Zorin", "PROPN", "dobj", 3),
    ]
    assert rules_fired(rows) == {"rule1"}


def test_rule2_root_dobj():
    rows = [
        T(0, "made", "VERB", "ROOT", 0),
        T(1, "Acme", "PROPN", "nsubj", 0),
        T(2, "profit", "NOUN", "dobj", 0),
    ]
    assert rules_fired(rows) == {"rule2"}


def test_rule3_relcl_on_subject():
    rows = [
        T(0, "retired", "VERB", "ROOT", 0),
        T(1, "man", "NOUN", "nsubj", 0),
        T(2, "owned", "VERB", "relcl", 1),
        T(3, "mines", "NOUN", "dobj", 2),
    ]
    assert "rule3" in rules_fired(rows)


def test_rule3_acl_on_subject():
    # rule3's other declared dep: an acl verb on the subject noun
    rows = [
        T(0, "company", "NOUN", "nsubj", 3),
        T(1, "owning", "VERB", "acl", 0),
        T(2, "mines", "NOUN", "dobj", 1),
        T(3, "failed", "VERB", "ROOT", 3),
    ]
    assert "rule3" in rules_fired(rows)


def test_rule4_xcomp():
    rows = [
        T(0, "wanted", "VERB", "ROOT", 0),
        T(1, "Acme", "PROPN", "nsubj", 0),
        T(2, "buy", "VERB", "xcomp", 0),
        T(3, "mines", "NOUN", "dobj", 2),
    ]
    assert "rule4" in rules_fired(rows)


def test_rule6_advcl_sibling_subject():
    # advcl verb under a NOUN head (subject_search never ascends from an
    # advcl candidate into a VERB/AUX parent, traversal.py:195-198, so the
    # shared head must be non-verbal); acomp object dodges rule4.
    rows = [
        T(0, "firm", "NOUN", "ROOT", 0),
        T(1, "Acme", "PROPN", "nsubj", 0),
        T(2, "feeling", "VERB", "advcl", 0),
        T(3, "weak", "ADJ", "acomp", 2),
    ]
    assert "rule6" in rules_fired(rows)


def test_rule7_relcl_dative():
    rows = [
        T(0, "retired", "VERB", "ROOT", 0),
        T(1, "man", "NOUN", "nsubj", 0),
        T(2, "gave", "VERB", "relcl", 1),
        T(3, "him", "PRON", "dative", 2),
    ]
    assert "rule7" in rules_fired(rows)


def test_rule8_conj_sibling_subject():
    # conj verb under a NOUN head (same ascent constraint as rule6);
    # acomp object dodges rule4's pobj/dobj-only branch.
    rows = [
        T(0, "firm", "NOUN", "ROOT", 0),
        T(1, "Acme", "PROPN", "nsubj", 0),
        T(2, "stayed", "VERB", "conj", 0),
        T(3, "strong", "ADJ", "acomp", 2),
    ]
    assert "rule8" in rules_fired(rows)


def test_rule10_verb_conjunct():
    # the visited verb is the self-headed ROOT; its conjunct is a NON-verb
    # conj child (so object_search can descend through it) carrying the
    # dobj. A VERB conjunct is unreachable: object_search prunes VERB
    # children (traversal.py:153-155).
    rows = [
        T(0, "combined", "VERB", "ROOT", 0),
        T(1, "Acme", "PROPN", "nsubj", 0),
        T(2, "venture", "NOUN", "conj", 0),
        T(3, "mines", "NOUN", "dobj", 2),
    ]
    assert "rule10" in rules_fired(rows)


def test_dead_rules_never_fire_in_fuzz_corpus():
    import random

    from tools.fuzz_differential import random_tree

    rng = random.Random(7)
    fired = set()
    for _ in range(3000):
        rows = random_tree(rng)
        for f in extract_triples_one(Sentence.from_rows(rows)):
            fired.add(f["rule"].strip(" <>"))
    assert not fired & {"rule5", "rule9", "rule11", "rule12"}


def test_rules_reject_verbs_outside_their_declared_deps():
    """Each rule's first check reads its declared deps (rules.dep_gate), the
    set traversal pre-filters by: a verb with any other dep is rejected
    before the rule reads the subject (None here). rule10 declares no
    gate."""
    from types import SimpleNamespace

    from posextract_spark.kernel import traversal
    from posextract_spark.kernel.rules import RULE_FUNCS, rule10

    assert traversal._RULE_DEP_GATES == tuple(getattr(f, "deps", None) for f in RULE_FUNCS)
    assert not hasattr(rule10, "deps")
    gated = [f for f in RULE_FUNCS if f is not rule10]
    deps = set().union(*(f.deps for f in gated)) | {"nsubj", "dobj"}
    for rule in gated:
        for dep in sorted(deps - rule.deps):
            assert rule(SimpleNamespace(dep=dep), None, None, None) is False, (rule, dep)
