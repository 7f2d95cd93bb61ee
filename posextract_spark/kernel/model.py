"""Token / Sentence / VerbPhrase data model.

The kernel consumes a columnar token-array encoding:

    tokens: list of (i, text, lemma, pos, dep, head)

with spaCy-convention coarse POS labels (NOUN, PROPN, PRON, VERB, AUX,
ADJ, ADV, ADP, PART, DET, SCONJ, ...) and en_core_web_sm dependency labels
(nsubj, nsubjpass, dobj, pobj, acomp, amod, advmod, attr, dative, prep,
agent, det, nmod, neg, aux, conj, cc, ccomp, xcomp, pcomp, advcl, relcl,
acl, csubj, csubjpass, compound, prt, punct, ROOT). ``head`` is a token
index; the root has ``head == i`` and ``dep == 'ROOT'``.

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
        # None only on a LazySentence whose head token is not yet
        # materialized; eager sentences never store None, so the extra
        # check costs one comparison on the hot path.
        return t if t is not None else s._tok(self.head_i)

    @property
    def children(self) -> List["Token"]:
        """Children in token-index order (spaCy yields them in order)."""
        s = self._sent
        c = s._children[self.i]
        # None only on a LazySentence slot not yet built; eager
        # construction never stores None (a childless slot holds [] from
        # __init__ or _EMPTY from from_arrays).
        return c if c is not None else s._build_children(self.i)

    @property
    def conjuncts(self) -> List["Token"]:
        """All other tokens in this token's coordination chain.

        spaCy's Token.conjuncts: ascend conj edges to the chain head, then
        collect every token reachable from it through conj edges, excluding
        self. Used by rule10 (reference: src/posextract/rules.py:212-215).

        Walks the parse_view arrays (indices, not Token objects) so a
        LazySentence materializes only the chain members returned — the
        object walk scanned every child of the chain head, which on
        dangling-attachment trees is most of the sentence. Visit order is
        the object walk's exactly (same LIFO stack over in-order child
        lists), so the returned order is unchanged.
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


class Sentence:
    """One parsed sentence: a token array wired into a tree.

    ``_soa`` is a lazily-built struct-of-arrays view (per-token bitmask
    flags + int child/head index arrays) used by the traversal hot path —
    see kernel.traversal._soa_of. Built once per sentence, it replaces
    repeated string comparisons across the ~N-verbs-per-sentence searches
    with single int ops."""

    __slots__ = ("tokens", "_children", "_kid_idx", "_soa", "_view")

    def __init__(self, tokens: Sequence[Token]):
        self.tokens: List[Token] = list(tokens)
        self._soa = None
        self._view = None
        self._children: List[List[Token]] = [[] for _ in self.tokens]
        self._kid_idx: List[List[int]] = [[] for _ in self.tokens]
        # tokens are iterated in index order, so each child list is already
        # sorted by token index (spaCy convention) — no sort needed.
        for tok in self.tokens:
            tok._sent = self
            hi = tok.head_i
            if hi != tok.i:
                self._children[hi].append(tok)
                self._kid_idx[hi].append(tok.i)

    @classmethod
    def from_arrays(
        cls,
        words: Sequence[str],
        lemmas: Sequence[str],
        pos: Sequence[str],
        dep: Sequence[str],
        head: Sequence[int],
    ) -> "Sentence":
        """Fused construction from parallel arrays: one pass creates the
        tokens AND wires children (providers already hold these arrays;
        the Token-listcomp + re-iteration in __init__ was ~10% of
        single-core extraction)."""
        sent = cls.__new__(cls)
        n = len(words)
        tokens: List[Token] = [None] * n  # type: ignore[list-item]
        # Childless tokens (the majority) share ONE immutable empty tuple
        # instead of each allocating two empty lists — profiled at a third
        # of parse-side construction. Nothing mutates children after
        # construction (the build appends are on per-head private lists).
        children: List = [None] * n
        kid_idx: List = [None] * n
        for i in range(n):
            hi = head[i]
            tok = Token(i, words[i], lemmas[i], pos[i], dep[i], hi)
            tok._sent = sent
            tokens[i] = tok
            if hi != i:
                c = children[hi]
                if c is None:
                    children[hi] = [tok]
                    kid_idx[hi] = [i]
                else:
                    c.append(tok)
                    kid_idx[hi].append(i)
        for i in range(n):
            if children[i] is None:
                children[i] = _EMPTY
                kid_idx[i] = _EMPTY
        sent.tokens = tokens
        sent._children = children
        sent._kid_idx = kid_idx
        sent._soa = None
        sent._view = None
        return sent

    @classmethod
    def from_rows(cls, rows: Sequence) -> "Sentence":
        """Build from an iterable of (i, text, lemma, pos, dep, head) rows
        (tuples, dicts, or pyarrow/pandas struct rows)."""
        toks = []
        for r in rows:
            if isinstance(r, dict):
                toks.append(Token(int(r["i"]), r["text"], r["lemma"], r["pos"], r["dep"], int(r["head"])))
            else:
                toks.append(Token(int(r[0]), r[1], r[2], r[3], r[4], int(r[5])))
        return cls(toks)

    def children_of(self, i: int) -> List[Token]:
        c = self._children[i]
        return c if c is not None else self._build_children(i)

    def _tok(self, i: int) -> Token:
        """Token at index i (overridden by LazySentence to materialize)."""
        return self.tokens[i]

    def _build_children(self, i: int) -> List[Token]:
        """Resolve a lazily-unbuilt child list from the int index list.
        Generic over eager/lazy (``_tok`` dispatches); eager sentences
        never hit it because construction fills every slot."""
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

    def parse_view(self):
        """(words, pos, dep, head, kid_idx) parallel arrays — the
        traversal's input view. Derived (and cached) from the token
        objects here; LazySentence returns its stored parse arrays
        without materializing any Token."""
        v = self._view
        if v is None:
            toks = self.tokens
            v = self._view = (
                [t.text for t in toks],
                [t.pos for t in toks],
                [t.dep for t in toks],
                [t.head_i for t in toks],
                self._kid_idx,
            )
        return v

    def __iter__(self) -> Iterator[Token]:
        return iter(self.tokens)

    def __getitem__(self, i: int) -> Token:
        return self.tokens[i]

    def __len__(self) -> int:
        return len(self.tokens)


class LazySentence(Sentence):
    """A Sentence over stored parse arrays that materializes Token objects
    on demand.

    Observably identical to an eager Sentence (pinned by
    tests/test_lazy_sentence_parity.py over the fuzz-tree corpus): every
    Token/children/head access resolves through ``_tok``/``_build_children``.
    Why it exists (r8): the triples path constructs ~50 Token objects per
    document but the traversal touches only the handful that reach an
    emitted triple. The traversal reads ``parse_view()`` arrays directly,
    so a sentence that emits nothing materializes zero tokens.

    Cycles: a materialized Token points back at its sentence
    (``Token._sent``), which holds it in ``tokens``, ``_children`` and
    ``_soa`` — a reference cycle until ``release()`` drops the sentence's
    side. The triples batch function releases each sentence once its
    triples are flattened, so refcounting frees the parse forest and the
    cyclic collector finds nothing (pinned by
    tests/test_triples_batches.py).
    """

    __slots__ = ("_pv_words", "_pv_lemmas", "_pv_pos", "_pv_dep", "_pv_head")

    def __init__(self, *a, **k):  # pragma: no cover - guard
        raise TypeError("use LazySentence.from_parse")

    @classmethod
    def from_parse(
        cls,
        words: Sequence[str],
        lemmas: Sequence[str],
        pos: Sequence[str],
        dep: Sequence[str],
        head: Sequence[int],
        kid_idx: Sequence,
    ) -> "LazySentence":
        """Wrap parse arrays without building any Token. ``kid_idx`` is the
        per-head child-index list (childless slots may share one immutable
        empty sequence); self-loop roots must not appear as children,
        matching Sentence.from_arrays."""
        sent = cls.__new__(cls)
        n = len(words)
        sent._pv_words = words
        sent._pv_lemmas = lemmas
        sent._pv_pos = pos
        sent._pv_dep = dep
        sent._pv_head = head
        sent._kid_idx = kid_idx
        sent.tokens = [None] * n
        sent._children = [None] * n
        sent._soa = None
        sent._view = None
        return sent

    def _tok(self, i: int) -> Token:
        t = self.tokens[i]
        if t is None:
            t = Token(
                i,
                self._pv_words[i],
                self._pv_lemmas[i],
                self._pv_pos[i],
                self._pv_dep[i],
                self._pv_head[i],
            )
            t._sent = self
            self.tokens[i] = t
        return t

    def parse_view(self):
        v = self._view
        if v is None:
            v = self._view = (
                self._pv_words,
                self._pv_pos,
                self._pv_dep,
                self._pv_head,
                self._kid_idx,
            )
        return v

    def __iter__(self) -> Iterator[Token]:
        tok = self._tok
        return iter([tok(i) for i in range(len(self.tokens))])

    def __getitem__(self, i: int) -> Token:
        return self._tok(i)


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
