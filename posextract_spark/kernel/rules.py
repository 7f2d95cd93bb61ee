"""The 12 triple-admission rules (reference: src/posextract/rules.py:9-273).

Each rule decides whether a (verb, subject, object, poa) combination forms a
triple. They are evaluated in order with first-match-wins (reference:
src/posextract/traversal.py:69-80).

Token comparisons are identity comparisons, except when the verb is a
VerbPhrase, whose ``__eq__`` means membership (model.VerbPhrase).
"""

from __future__ import annotations

from typing import Optional

from posextract_spark.kernel.classifiers import is_noun_attribute
from posextract_spark.kernel.model import Token, TokenLike


def dep_gate(*deps: str):
    """Declare the verb deps a rule can admit, as the rule's ``deps``.

    The rule's first check rejects any other verb dep by reading ``deps``,
    and traversal._RULE_DEP_GATES reads the same attribute to skip the
    rules a verb's dep rules out before calling any. rule10 declares no
    gate: it takes any Token verb and never a VerbPhrase."""

    def declare(rule):
        rule.deps = frozenset(deps)
        return rule

    return declare


@dep_gate("pcomp")
def rule1(verb, subject, obj, poa) -> bool:
    """pcomp verb under a prep (reference: rules.py:9-22)."""
    if verb.dep not in rule1.deps:
        return False
    verb_head = verb.head
    if verb_head.dep != "prep":
        return False
    if subject.head is not verb_head.head:
        return False
    return obj.dep == "dobj" and verb == obj.head


@dep_gate("ccomp", "conj", "relcl", "advcl", "pcomp", "ROOT")
def rule2(verb, subject, obj, poa) -> bool:
    """Main-clause verb (reference: rules.py:25-46)."""
    if verb.dep not in rule2.deps:
        return False
    if not (verb == subject.head):
        return False
    if obj.dep == "pobj":
        if poa is None:
            return False
        if poa.head.pos == "SCONJ":
            return verb == poa.head.head and obj.head is poa
        return verb == poa.head and obj.head is poa
    elif obj.dep == "dobj":
        return verb == obj.head
    elif obj.dep in ("acomp", "amod", "advmod"):
        return True
    elif obj.dep == "attr":
        return True
    return False


@dep_gate("relcl", "acl")
def rule3(verb, subject, obj, poa) -> bool:
    """relcl/acl on the subject noun (reference: rules.py:49-64)."""
    if verb.dep not in rule3.deps:
        return False
    if verb.head is not subject:
        return False
    if obj.dep == "pobj":
        if poa is None:
            return False
        return verb == poa.head and obj.head is poa.head
    elif obj.dep == "dobj":
        return verb == obj.head
    return False


@dep_gate("xcomp", "advcl", "conj")
def rule4(verb, subject, obj, poa) -> bool:
    """xcomp/advcl/conj verb (reference: rules.py:67-97)."""
    if verb.dep not in rule4.deps:
        return False
    if not (verb == subject.head) and subject.head is not verb.head:
        return False
    if obj.dep == "pobj":
        if poa is None:
            return False
        return verb == poa.head and obj.head.head is poa.head
    elif obj.dep == "dobj":
        return verb == obj.head
    return False


@dep_gate("ccomp", "advcl", "pcomp", "ROOT")
def rule5(verb, subject, obj, poa) -> bool:
    """ccomp/advcl/pcomp/ROOT (reference: rules.py:100-116)."""
    if verb.dep not in rule5.deps:
        return False
    if not (verb == subject.head):
        return False
    if obj.dep == "pobj":
        if poa is None:
            return False
        return verb == poa.head and poa.head is subject.head
    elif obj.dep in ("acomp", "amod", "advmod"):
        return True
    return False


@dep_gate("xcomp", "advcl")
def rule6(verb, subject, obj, poa) -> bool:
    """xcomp/advcl sibling of subject (reference: rules.py:119-135)."""
    if verb.dep not in rule6.deps:
        return False
    if verb.head is not subject.head:
        return False
    if obj.dep == "pobj":
        if poa is None:
            return False
        return verb == poa.head and poa.head is subject.head
    elif obj.dep in ("acomp", "amod", "advmod"):
        return True
    elif obj.dep == "dative":
        return True
    return False


@dep_gate("relcl")
def rule7(verb, subject, obj, poa) -> bool:
    """relcl on subject (reference: rules.py:138-154)."""
    if verb.dep not in rule7.deps:
        return False
    if verb.head is not subject:
        return False
    if obj.dep == "pobj":
        if poa is None:
            return False
        return verb == poa.head and poa.head is subject.head
    elif obj.dep in ("acomp", "amod", "advmod"):
        return True
    elif obj.dep == "dative":
        return True
    return False


@dep_gate("conj")
def rule8(verb, subject, obj, poa) -> Optional[bool]:
    """conj verb, head-sharing (reference: rules.py:157-171). The reference
    falls through with an implicit None for the final dobj case miss —
    equivalent to False; preserved by returning None."""
    if verb.dep not in rule8.deps:
        return False
    if verb.head is not subject.head:
        return False
    if obj.dep == "pobj":
        if poa is None:
            return False
        return poa.head == verb and obj.head is poa
    if obj.dep in ("acomp", "amod", "advmod"):
        return True
    elif obj.dep in ("dobj", "acomp", "amod", "advmod") and verb == obj.head:
        return True
    return None


@dep_gate("relcl")
def rule9(verb, subject, obj, poa) -> bool:
    """relcl via a noun attribute of the object (reference: rules.py:174-200).

    The reference dereferences ``poa.head`` without a None-guard at
    rules.py:194 — a latent AttributeError that never fires in practice
    because rules 2/5-8 catch acomp/amod/advmod objects first. We guard
    (poa None => that branch is not satisfied) instead of crashing.
    """
    if verb.dep not in rule9.deps:
        return False
    noun_attribute = None
    for child in obj.children:
        if is_noun_attribute(child):
            noun_attribute = child
            break
    if not noun_attribute:
        return False
    if subject.head is not noun_attribute.head:
        return False
    if not (verb.head is noun_attribute):
        return False
    if (
        obj.dep in ("pobj", "acomp", "amod", "advmod")
        and poa is not None
        and verb == poa.head
        and obj.head is poa
    ):
        return True
    if obj.dep in ("dobj", "acomp", "amod", "advmod") and verb == obj.head:
        return True
    return False


def rule10(verb, subject, obj, poa) -> bool:
    """Verb with a conjunct sharing its head (reference: rules.py:203-229).
    VerbPhrases have no ``conjuncts`` attribute -> False (rules.py:209-210)."""
    if verb.head is not subject.head:
        return False
    if not hasattr(verb, "conjuncts"):
        return False
    verb_conj = None
    for conjunct in verb.conjuncts:
        if conjunct.head is verb.head:
            verb_conj = conjunct
            break
    if verb_conj is None:
        return False
    if obj.dep == "pobj":
        if poa is None:
            return False
        return verb_conj is poa.head and poa is obj.head
    if obj.dep == "dobj" and verb_conj is obj.head:
        return True
    return False


@dep_gate("ccomp")
def rule11(verb, subject, obj, poa) -> bool:
    """ccomp verb with an xcomp child (reference: rules.py:232-255)."""
    if verb.dep not in rule11.deps:
        return False
    if not (verb == subject.head):
        return False
    verb_xcomp = None
    for child in verb.children:
        if child.dep == "xcomp":
            verb_xcomp = child
            break
    if verb_xcomp is None:
        return False
    if obj.dep == "pobj":
        return False
    if obj.dep in ("dobj", "acomp", "amod", "advmod") and verb.head is obj.head:
        return True
    return False


@dep_gate("conj")
def rule12(verb, subject, obj, poa) -> bool:
    """conj verb owning the subject (reference: rules.py:258-273)."""
    if verb.dep not in rule12.deps:
        return False
    if not (verb == subject.head):
        return False
    if obj.dep in ("pobj", "acomp", "amod", "advmod"):
        if poa is None:
            return False
        return verb == poa.head and obj.head is poa
    if obj.dep == "dobj" and verb == obj.head:
        return True
    return False


RULE_FUNCS = [
    rule1,
    rule2,
    rule3,
    rule4,
    rule5,
    rule6,
    rule7,
    rule8,
    rule9,
    rule10,
    rule11,
    rule12,
]
