"""Token classifiers (reference: src/posextract/util.py:65-107)."""

from __future__ import annotations

from posextract_spark.kernel.model import Token, TokenLike, VerbPhrase, CCompVerbPhrase

VERB_DEP_TAGS = frozenset(
    {"ccomp", "relcl", "xcomp", "acl", "advcl", "pcomp", "csubj", "csubjpass", "conj"}
)  # reference: util.py:65
OBJ_DEP_TAGS = frozenset({"dobj", "pobj", "acomp"})  # reference: util.py:66


def is_root(token: Token) -> bool:
    """reference: util.py:69-70 (string dep check — any ROOT, not just verbs)."""
    return token.dep == "ROOT"


def is_verb(token: Token) -> bool:
    """reference: util.py:73-80. ROOT is always a 'verb' for traversal; a
    PROPN conjunct never is."""
    if token.dep == "ROOT":
        return True
    if token.pos == "PROPN" and token.dep == "conj":
        return False
    return token.dep in VERB_DEP_TAGS


def is_object(token: Token) -> bool:
    """reference: util.py:83-99."""
    if token.pos == "NOUN" and token.dep == "amod":
        return True
    if token.pos == "NOUN" and token.dep == "attr":
        return True
    if token.pos == "PROPN" and token.dep == "attr":
        return True
    if token.pos == "ADV" and token.dep == "advmod":
        return True
    if token.pos == "PRON" and token.dep == "dative":
        return True
    return token.dep in OBJ_DEP_TAGS


def is_noun_attribute(token: Token) -> bool:
    """reference: util.py:102-103."""
    return (token.pos == "NOUN" or token.pos == "PROPN") and token.dep == "attr"


def should_consider_verb_phrase(vp: VerbPhrase) -> bool:
    """reference: util.py:44-52 — CComp (and its XComp subclass) always pass;
    otherwise reject when the second token has its own subject."""
    if isinstance(vp, CCompVerbPhrase):
        return True
    for child in vp.second.children:
        if child.dep in ("nsubj", "nsubjpass"):
            return False
    return True
