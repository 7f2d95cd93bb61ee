"""Token / Sentence / VerbPhrase data model.

The kernel consumes one parse format, six parallel arrays per sentence:

    (words, lemmas, pos, dep, head, kid_idx)

with spaCy-convention coarse POS labels (NOUN, PROPN, PRON, VERB, AUX,
ADJ, ADV, ADP, PART, DET, SCONJ, ...) and en_core_web_sm dependency labels
(nsubj, nsubjpass, dobj, pobj, acomp, amod, advmod, attr, dative, prep,
agent, det, nmod, neg, aux, conj, cc, ccomp, xcomp, pcomp, advcl, relcl,
acl, csubj, csubjpass, compound, prt, punct, ROOT). ``head`` holds token
indices; the root has ``head == i`` and ``dep == 'ROOT'``. ``kid_idx`` is
``kid_index(head)``: each token's child indices in index order. Every
provider emits these arrays (``ParseProvider.parse_arrays_batch``); the
pair extractors read them directly and ``Sentence`` wraps them for the
triple kernel.

``Token`` mirrors the attribute surface the reference's rule engine reads
off spaCy tokens (``i``, ``text``, ``lemma_``, ``pos``, ``dep``, ``head``,
``children``, ``conjuncts`` — e.g. reference: src/posextract/traversal.py and
rules.py use exactly these). We use plain strings where spaCy uses interned
symbol ids; comparisons are string equality.

``VerbPhrase`` duck-types Token for synthetic two-token verbs, mirroring
reference: src/posextract/verb_phrase.py:8-161 (property delegation, the
membership-based ``__eq__`` at verb_phrase.py:59-63, and the ``__hash__``
at verb_phrase.py:13-14).
"""

from __future__ import annotations

from typing import Iterator, List, Optional, Sequence, Union


class Token:
    __slots__ = ("i", "text", "lemma_", "pos", "dep", "head_i", "_sent")

    def __init__(self, i: int, text: str, lemma: str, pos: str, dep: str, head_i: int):
        self.i = i
        self.text = text
        self.lemma_ = lemma
        self.pos = pos
        self.dep = dep
        self.head_i = head_i
        self._sent: Optional["Sentence"] = None

    # spaCy-parity aliases (the reference reads both .dep/.pos symbols and
    # .dep_/.pos_ strings; ours are the same object).
    @property
    def dep_(self) -> str:
        return self.dep

    @property
    def pos_(self) -> str:
        return self.pos

    @property
    def head(self) -> "Token":
        s = self._sent
        t = s.tokens[self.head_i]
        return t if t is not None else s._tok(self.head_i)

    @property
    def children(self) -> List["Token"]:
        """Children in token-index order (spaCy yields them in order)."""
        s = self._sent
        c = s._children[self.i]
        return c if c is not None else s._build_children(self.i)

    @property
    def conjuncts(self) -> List["Token"]:
        """All other tokens in this token's coordination chain.

        spaCy's Token.conjuncts: ascend conj edges to the chain head, then
        collect every token reachable from it through conj edges, excluding
        self. Used by rule10 (reference: src/posextract/rules.py:212-215).

        Walks the parse arrays (indices, not Token objects), so only the
        chain members returned are materialized. Visit order is a LIFO
        stack over in-order child lists, as an object walk would give.
        """
        s = self._sent
        _, _, dep, head_idx, kid_idx = s.parse_view()
        i = self.i
        root = i
        while dep[root] == "conj":
            nxt = head_idx[root]
            if nxt == root:
                break
            root = nxt
        chain: List[int] = []
        stack = [root]
        seen = {root}
        while stack:
            x = stack.pop()
            chain.append(x)
            for c in kid_idx[x]:
                if dep[c] == "conj" and c not in seen:
                    seen.add(c)
                    stack.append(c)
        tok = s._tok
        return [tok(x) for x in chain if x != i]

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"Token({self.i}:{self.text}/{self.pos}/{self.dep}->{self.head_i})"

    def __str__(self) -> str:
        return self.text


# shared children/kid_idx value for childless tokens (immutable on purpose:
# iteration, len, indexing and reversed() all behave like an empty list)
_EMPTY = ()


def kid_index(head: Sequence[int]) -> List[Sequence[int]]:
    """Each token's child indices, in index order, from the ``head`` array.
    A self-loop (the root, or an inert dangler) is no child edge.
    Childless tokens, the majority, share one immutable empty tuple."""
    kid_idx: List = [None] * len(head)
    for i, hi in enumerate(head):
        if hi != i:
            k = kid_idx[hi]
            if k is None:
                kid_idx[hi] = [i]
            else:
                k.append(i)
    return [_EMPTY if k is None else k for k in kid_idx]


class Sentence:
    """One parsed sentence over its parse arrays.

    The traversal reads the arrays (``parse_view()``) and asks for a
    ``Token`` only where an emitted triple needs one: ``tokens`` and the
    per-token child lists are caches that hold ``None`` until a token is
    touched, so a sentence that emits nothing builds no Token. Iterating
    or indexing the sentence materializes the tokens it returns.

    ``_soa`` is the traversal's struct-of-arrays view (per-token bitmask
    flags, candidate tables, subject reach masks), built once per sentence
    by kernel.traversal._soa_of.

    Cycles: a materialized Token points back at its sentence
    (``Token._sent``), which holds it in ``tokens``, ``_children`` and
    ``_soa`` — a reference cycle until ``release()`` drops the sentence's
    side. The triples batch function releases each sentence once its
    triples are flattened, so refcounting frees the parse forest and the
    cyclic collector finds nothing (pinned by
    tests/test_triples_batches.py).
    """

    __slots__ = ("_arrays", "_view", "_kid_idx", "tokens", "_children", "_soa")

    def __init__(
        self,
        words: Sequence[str],
        lemmas: Sequence[str],
        pos: Sequence[str],
        dep: Sequence[str],
        head: Sequence[int],
        kid_idx: Sequence[Sequence[int]],
    ):
        """Wrap parse arrays without building any Token; ``kid_idx`` must
        be ``kid_index(head)``."""
        n = len(words)
        self._arrays = (words, lemmas, pos, dep, head, kid_idx)
        self._view = (words, pos, dep, head, kid_idx)
        self._kid_idx = kid_idx
        self.tokens: List[Optional[Token]] = [None] * n
        self._children: List = [None] * n
        self._soa = None

    @classmethod
    def from_rows(cls, rows: Sequence) -> "Sentence":
        """Build from (i, text, lemma, pos, dep, head) rows (tuples, dicts,
        or pyarrow/pandas struct rows) in index order."""
        cols = [
            (r["text"], r["lemma"], r["pos"], r["dep"], r["head"]) if isinstance(r, dict) else r[1:6]
            for r in rows
        ]
        head = [int(c[4]) for c in cols]
        return cls(
            [c[0] for c in cols],
            [c[1] for c in cols],
            [c[2] for c in cols],
            [c[3] for c in cols],
            head,
            kid_index(head),
        )

    def arrays(self) -> tuple:
        """The (words, lemmas, pos, dep, head, kid_idx) parse arrays."""
        return self._arrays

    def parse_view(self) -> tuple:
        """(words, pos, dep, head, kid_idx): the traversal's input view."""
        return self._view

    def _tok(self, i: int) -> Token:
        """The Token at index i, built on first access."""
        t = self.tokens[i]
        if t is None:
            words, lemmas, pos, dep, head, _ = self._arrays
            t = Token(i, words[i], lemmas[i], pos[i], dep[i], head[i])
            t._sent = self
            self.tokens[i] = t
        return t

    def _build_children(self, i: int) -> List[Token]:
        """Token i's child list, built from its child indices."""
        kids = self._kid_idx[i]
        c = [self._tok(k) for k in kids] if kids else _EMPTY
        self._children[i] = c
        return c

    def release(self) -> None:
        """Drop this sentence's references to its Token objects (the
        ``Token._sent`` back-references then form no cycle, so refcounting
        frees the whole parse forest without the cyclic collector). Call
        once the sentence's triples are flattened: the sentence and its
        tokens are unusable afterwards."""
        self.tokens = None
        self._children = None
        self._soa = None

    def __iter__(self) -> Iterator[Token]:
        tok = self._tok
        return iter([tok(i) for i in range(len(self._kid_idx))])

    def __getitem__(self, i: int) -> Token:
        # range() resolves a negative index (and rejects one out of range)
        # before the cache slot is picked
        return self._tok(range(len(self._kid_idx))[i])

    def __len__(self) -> int:
        return len(self._kid_idx)


class VerbPhrase:
    """Synthetic two-token verb (reference: src/posextract/verb_phrase.py:8-64).

    Duck-types Token: ``dep``/``dep_`` delegate to ``first``; ``pos`` is
    always VERB; equality against a Token is *membership* (true when the
    token is either half) — load-bearing in rules like
    ``verb_token == object_token.head`` (reference: verb_phrase.py:59-63).
    """

    kind = "base"

    def __init__(self, first: Token, second: Token):
        self.first = first
        self.second = second

    @property
    def dep(self) -> str:
        return self.first.dep

    dep_ = dep

    @property
    def pos(self) -> str:
        return "VERB"

    @property
    def children(self) -> List[Token]:
        return list(self.first.children) + list(self.second.children)

    @property
    def subject_search_root(self) -> Token:
        return self.first

    @property
    def object_search_root(self) -> Token:
        return self.second

    @property
    def head(self) -> Token:
        return self.first.head

    def __contains__(self, item) -> bool:
        return item is self.first or item is self.second

    def __eq__(self, other) -> bool:
        if isinstance(other, VerbPhrase):
            return self.first is other.first and self.second is other.second
        return other is self.first or other is self.second

    def __ne__(self, other) -> bool:
        return not self.__eq__(other)

    def __hash__(self) -> int:
        return hash((id(self.first), id(self.second)))

    @property
    def text(self) -> str:
        raise NotImplementedError

    @property
    def lemma_(self) -> str:
        raise NotImplementedError

    def __str__(self) -> str:
        return self.text


class ADVCLVerbPhrase(VerbPhrase):
    """reference: verb_phrase.py:66-85 — text/lemma come from ``second``."""

    kind = "advcl"

    @property
    def text(self) -> str:
        return self.second.text

    @property
    def lemma_(self) -> str:
        return self.second.lemma_


class ConjVerbPhrase(VerbPhrase):
    """reference: verb_phrase.py:88-107."""

    kind = "conj"

    @property
    def text(self) -> str:
        return self.second.text

    @property
    def lemma_(self) -> str:
        return self.second.lemma_


class CCompVerbPhrase(VerbPhrase):
    """reference: verb_phrase.py:110-129 — text/lemma come from ``first``;
    negation search also uses ``first`` (see negation.get_verb_neg)."""

    kind = "ccomp"

    @property
    def text(self) -> str:
        return self.first.text

    @property
    def lemma_(self) -> str:
        return self.first.lemma_


class XCompVerbPhrase(CCompVerbPhrase):
    """reference: verb_phrase.py:132-153 — joins first+second with the
    second verb's leading PART/aux child ('to') in between. Only the FIRST
    child is inspected (reference uses next(token.children))."""

    kind = "xcomp"

    def _part(self) -> str:
        kids = self.second.children
        if kids:
            child = kids[0]
            if child.pos == "PART" and child.dep == "aux":
                return f" {child.text} "
        return " "

    @property
    def text(self) -> str:
        return f"{self.first.text}{self._part()}{self.second.text}"

    @property
    def lemma_(self) -> str:
        return f"{self.first.lemma_}{self._part()}{self.second.lemma_}"


TokenLike = Union[Token, VerbPhrase]
