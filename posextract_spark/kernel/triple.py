"""Triple records and flattening (reference: src/posextract/triple_extraction.py).

``TripleExtraction`` holds live Token references (copy-on-expand, like the
reference dataclass at triple_extraction.py:38-54). ``flatten`` produces the
final all-strings record with the reference's exact assembly quirks
(triple_extraction.py:56-99), plus raw token texts for Catalyst-side posrule
filtering and provenance.
"""

from __future__ import annotations

import copy
from dataclasses import dataclass, field
from typing import List, Optional

from posextract_spark.kernel.model import Token, TokenLike, VerbPhrase

EMPHASIS_ADJ_LIST = ("very", "much", "most", "utterly", "as")  # triple_extraction.py:35

# Output field order of the flattened record (triple_extraction.py:11-26).
FLAT_FIELDS = (
    "subject_negdet",
    "subject",
    "neg_adverb",
    "neg_adverb_part",
    "aux_verb",
    "verb",
    "poa_neg",
    "poa",
    "object_negdet",
    "object_adjectives",
    "object",
    "object_prep",
    "object_prep_noun",
    "rule",
)


# prebuilt all-empty record: dict.copy is ~3x cheaper than dict.fromkeys
# in the per-triple flatten hot path
_FLAT_TEMPLATE = dict.fromkeys(FLAT_FIELDS, "")


@dataclass
class TripleExtraction:
    subject_negdet: Optional[Token] = None
    subject: Optional[Token] = None
    neg_adverb: Optional[Token] = None
    neg_adverb_part: Optional[Token] = None
    aux_verb: Optional[Token] = None
    verb: Optional[TokenLike] = None
    poa_neg: Optional[Token] = None
    poa: Optional[Token] = None
    object_negdet: Optional[Token] = None
    object_adjectives: Optional[List[Token]] = None
    object: Optional[Token] = None
    object_prep: Optional[Token] = None
    object_prep_noun: Optional[Token] = None
    rule: str = ""
    verb_phrase: bool = False

    def clone(self) -> "TripleExtraction":
        """Shallow copy, like the reference's copy.copy on expansion
        (grammatical_triples.py:115,129,154)."""
        return copy.copy(self)

    def get_triple_hash(self):
        """Lower-cased (subject, verb, object) text key
        (triple_extraction.py:101-103). We return the tuple itself rather
        than hash() so dedup cannot collide."""
        s = self.subject.text.lower() if self.subject is not None else ""
        v = self.verb.text.lower() if self.verb is not None else ""
        o = self.object.text.lower() if self.object is not None else ""
        return (s, v, o)

    def flatten(
        self,
        lemmatize: bool = False,
        compound_subject: bool = True,
        compound_object: bool = True,
    ) -> dict:
        """String assembly (reference: triple_extraction.py:56-99).

        Quirks preserved:
        - verb is replaced by its lemma when (not lemmatizing and) the verb
          precedes the subject (triple_extraction.py:69-70); VerbPhrases
          have no ``i`` so never qualify.
        - multiple compound children *prepend* for the subject (so they end
          up reversed) but iterate reversed for the object (so they end up
          in order) (triple_extraction.py:79-91).
        - EMPHASIS adverb objects append their ADJ head's text
          (triple_extraction.py:84-86).
        - ADP/prt verb children append to the verb (triple_extraction.py:93-95).
        """
        out = _FLAT_TEMPLATE.copy()

        # unrolled field copy (profiled: the getattr-by-name loop was the
        # hottest line of flatten); same str() coercion per field
        if self.subject_negdet is not None:
            out["subject_negdet"] = str(self.subject_negdet)
        if self.subject is not None:
            out["subject"] = str(self.subject)
        if self.neg_adverb is not None:
            out["neg_adverb"] = str(self.neg_adverb)
        if self.neg_adverb_part is not None:
            out["neg_adverb_part"] = str(self.neg_adverb_part)
        if self.aux_verb is not None:
            out["aux_verb"] = str(self.aux_verb)
        if self.verb is not None:
            out["verb"] = str(self.verb)
        if self.poa_neg is not None:
            out["poa_neg"] = str(self.poa_neg)
        if self.poa is not None:
            out["poa"] = str(self.poa)
        if self.object_negdet is not None:
            out["object_negdet"] = str(self.object_negdet)
        if self.object is not None:
            out["object"] = str(self.object)
        if self.object_prep is not None:
            out["object_prep"] = str(self.object_prep)
        if self.object_prep_noun is not None:
            out["object_prep_noun"] = str(self.object_prep_noun)
        out["rule"] = self.rule

        if lemmatize:
            if self.object is not None:
                out["object"] = self.object.lemma_
            if self.verb is not None:
                out["verb"] = self.verb.lemma_
            if self.subject is not None:
                out["subject"] = self.subject.lemma_
        else:
            if (
                hasattr(self.verb, "i")
                and (self.verb is not None and self.subject is not None)
                and self.verb.i < self.subject.i
            ):
                out["verb"] = self.verb.lemma_

        if self.object_adjectives:
            out["object_adjectives"] = " ".join(adj.text for adj in self.object_adjectives)
        elif self.object_adjectives is not None:
            # reference quirk: combine-adj sets [] on the main triple, and
            # flatten str-coerces the empty list to the literal '[]'
            # (triple_extraction.py:57,72-77 — non-None fields pass through
            # str()); distinguishes "combined, no adjectives" from "never
            # combined" in the output.
            out["object_adjectives"] = "[]"

        # Child scans over the parse_view arrays (indices, not Token
        # objects), so flattening materializes no child list — on
        # dangling-attachment trees the verb's is most of the sentence.
        subj = self.subject
        words, pos, dep, head_idx, kid_idx = subj._sent.parse_view()

        if compound_subject:
            for ki in kid_idx[subj.i]:
                if dep[ki] == "compound":
                    out["subject"] = words[ki] + " " + out["subject"]

        obj = self.object
        if obj.dep == "advmod" and obj.pos == "ADV":
            hi = head_idx[obj.i]
            if pos[hi] == "ADJ" and obj.text.lower() in EMPHASIS_ADJ_LIST:
                out["object"] += " " + words[hi]

        if compound_object:
            for ki in reversed(kid_idx[obj.i]):
                if dep[ki] == "compound":
                    out["object"] = words[ki] + " " + out["object"]

        v = self.verb
        if isinstance(v, VerbPhrase):
            v_kids = list(kid_idx[v.first.i]) + list(kid_idx[v.second.i])
        else:
            v_kids = kid_idx[v.i]
        for ki in v_kids:
            if pos[ki] == "ADP" and dep[ki] == "prt":
                out["verb"] += " " + words[ki]

        # Raw token texts (pre-compound/emphasis assembly): the reference's
        # posrule filters evaluate Token.text (posrule/parser.py:43-45), so
        # the Catalyst-compiled filters need these columns.
        out["subject_token_text"] = self.subject.text if self.subject is not None else ""
        out["verb_token_text"] = self.verb.text if self.verb is not None else ""
        out["object_token_text"] = self.object.text if self.object is not None else ""

        return out
