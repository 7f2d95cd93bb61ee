"""Deterministic lexicon-driven SVO chunk parser.

Purpose: give the extraction kernel real trees for synthetic bag-of-words
corpora (like /root/testdata/sf*/documents.parquet) with semantics simple
enough to mirror in ANSI SQL, so the full Spark pipeline
(mapInPandas: parse -> kernel -> field rows) can be verified against a
DuckDB oracle.

Contract (mirrored by posextract_spark.operators.triples.SVO_TRIPLES_CTE):

  * tokenize on single spaces;
  * POS: 'the'/'a'/'an' -> DET; {fast, slow, small, big} -> ADJ;
    {scan, merge, join, sort, filter, group, order, hash, batch, stream,
    query} -> VERB; everything else -> NOUN;
  * the first VERB is ROOT; each later VERB attaches to the previous VERB
    with dep=conj;
  * for each verb V (left to right): its subject is the LAST noun strictly
    between the previous verb (or start) and V — unless that noun was
    already consumed as the previous verb's object, in which case V has no
    subject; its object is the FIRST noun strictly between V and the next
    verb (or end);
  * DET/ADJ tokens attach to the next NOUN (dep det/amod); all remaining
    tokens attach inertly (to the root when it is a verb, else to
    themselves);
  * no verbs => token 0 is ROOT and nothing else attaches meaningfully
    (no triples, no pairs).

Given these trees, the kernel provably emits exactly one ' <rule2>' triple
per verb that has both a subject and an object, de-duplicated per document
on lower-cased (subject, verb, object).
"""

from __future__ import annotations

from typing import List, Optional

from posextract_spark.kernel.model import kid_index
from posextract_spark.parse.provider import ParseProvider

DET_WORDS = frozenset({"the", "a", "an"})
ADJ_WORDS = frozenset({"fast", "slow", "small", "big"})
VERB_WORDS = frozenset(
    {"scan", "merge", "join", "sort", "filter", "group", "order", "hash", "batch", "stream", "query"}
)


_POS_MAP = (
    {w: "DET" for w in DET_WORDS}
    | {w: "ADJ" for w in ADJ_WORDS}
    | {w: "VERB" for w in VERB_WORDS}
)


def classify(word: str) -> str:
    return _POS_MAP.get(word, "NOUN")


class SVOChunkParser(ParseProvider):
    name = "svo"

    def _parse_core(self, text: str):
        """(words, pos, dep, head) parallel arrays — the whole parse, no
        objects (all empty for a text with no words)."""
        words = [w for w in text.split(" ") if w]
        n = len(words)
        get_pos = _POS_MAP.get
        # one pass: pos classification + verb index collection
        pos: List[str] = [""] * n
        verb_idxs: List[int] = []
        for i, w in enumerate(words):
            p = get_pos(w, "NOUN")
            pos[i] = p
            if p == "VERB":
                verb_idxs.append(i)
        head = [None] * n  # type: List[Optional[int]]
        dep = [None] * n  # type: List[Optional[str]]

        if verb_idxs:
            root = verb_idxs[0]
            head[root], dep[root] = root, "ROOT"
            for j in range(1, len(verb_idxs)):
                head[verb_idxs[j]] = verb_idxs[j - 1]
                dep[verb_idxs[j]] = "conj"
        elif n:
            root = 0
            head[0], dep[0] = 0, "ROOT"
        else:
            return words, pos, dep, head

        prev_obj: Optional[int] = None
        for j, v in enumerate(verb_idxs):
            lo = verb_idxs[j - 1] if j > 0 else -1
            hi = verb_idxs[j + 1] if j + 1 < len(verb_idxs) else n

            subj = None
            for i in range(v - 1, lo, -1):
                if pos[i] == "NOUN":
                    subj = i
                    break
            if subj is not None and subj != prev_obj:
                head[subj], dep[subj] = v, "nsubj"

            obj = None
            for i in range(v + 1, hi):
                if pos[i] == "NOUN":
                    obj = i
                    break
            if obj is not None:
                head[obj], dep[obj] = v, "dobj"
            prev_obj = obj

        # DET/ADJ attach to the next NOUN. next-noun index precomputed in
        # one reverse pass (replaces the per-token forward scan — O(n)
        # instead of O(n^2) on noun-free tails); attachment identical.
        next_noun: List[Optional[int]] = [None] * n
        last_noun: Optional[int] = None
        for i in range(n - 1, -1, -1):
            next_noun[i] = last_noun
            if pos[i] == "NOUN":
                last_noun = i
        for i in range(n):
            if head[i] is not None:
                continue
            p = pos[i]
            if p == "DET" or p == "ADJ":
                k = next_noun[i]
                if k is not None:
                    head[i] = k
                    dep[i] = "det" if p == "DET" else "amod"

        # Everything left dangles inertly: off the root when the root is a
        # verb, else off itself (self-loop => no tree edge, no kernel
        # visibility). Keeps the adj-noun SQL mirror exact: a dangling ADJ
        # never acquires a NOUN head.
        root_is_verb = pos[root] == "VERB"
        for i in range(n):
            if head[i] is None:
                head[i], dep[i] = (root, "dep") if root_is_verb else (i, "dep")

        return words, pos, dep, head

    def parse_arrays_batch(self, texts: List[str]) -> List[tuple]:
        """The parse arrays; the lemma array is the word array (the
        lexicon has no lemmas)."""
        out = []
        for text in texts:
            words, pos, dep, head = self._parse_core(text)
            out.append((words, words, pos, dep, head, kid_index(head)))
        return out
