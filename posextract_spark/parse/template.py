"""Template parser: exact parses for a closed family of sentence shapes.

Used for the synthetic ``pages`` corpus (sources/pages.py generates sentences
*from* these templates, so parses are deterministic and extraction output is
exactly known without spaCy) and for golden kernel tests.

Token rows are (text, lemma, pos, dep, head). Parses follow en_core_web_sm
conventions (FIXTURES.md §3). Unknown sentences fall back to the SVO chunker
so the provider is total.
"""

from __future__ import annotations

import re
from typing import Callable, List, Optional, Tuple

from posextract_spark.kernel.model import kid_index
from posextract_spark.parse.provider import ParseProvider
from posextract_spark.parse.svo import SVOChunkParser

Row = Tuple[str, str, str, str, int]


def _arrays(rows: List[Row]) -> tuple:
    """The parse arrays of a template's rows."""
    words, lemmas, pos, dep, head = (list(col) for col in zip(*rows))
    return words, lemmas, pos, dep, head, kid_index(head)


_E = r"[A-Z][A-Za-z0-9]*"  # single-token entity (PROPN)
_W = r"[a-z]+"  # single-token common noun


def _t_acquired(m) -> List[Row]:
    s, o = m.group("s"), m.group("o")
    rows = [
        (s, s, "PROPN", "nsubj", 1),
        ("acquired", "acquire", "VERB", "ROOT", 1),
        (o, o, "PROPN", "dobj", 1),
    ]
    if m.group("dot"):
        rows.append((".", ".", "PUNCT", "punct", 1))
    return rows


def _t_did_not_acquire(m) -> List[Row]:
    s, o = m.group("s"), m.group("o")
    return [
        (s, s, "PROPN", "nsubj", 3),
        ("did", "do", "AUX", "aux", 3),
        ("not", "not", "PART", "neg", 3),
        ("acquire", "acquire", "VERB", "ROOT", 3),
        (o, o, "PROPN", "dobj", 3),
        (".", ".", "PUNCT", "punct", 3),
    ]


def _t_invested_in(m) -> List[Row]:
    s, o = m.group("s"), m.group("o")
    return [
        (s, s, "PROPN", "nsubj", 1),
        ("invested", "invest", "VERB", "ROOT", 1),
        ("in", "in", "ADP", "prep", 1),
        (o, o, "PROPN", "pobj", 2),
        (".", ".", "PUNCT", "punct", 1),
    ]


def _t_was_profitable(m) -> List[Row]:
    s = m.group("s")
    return [
        (s, s, "PROPN", "nsubj", 1),
        ("was", "be", "AUX", "ROOT", 1),
        ("profitable", "profitable", "ADJ", "acomp", 1),
        (".", ".", "PUNCT", "punct", 1),
    ]


def _t_was_very_profitable(m) -> List[Row]:
    s = m.group("s")
    return [
        (s, s, "PROPN", "nsubj", 1),
        ("was", "be", "AUX", "ROOT", 1),
        ("very", "very", "ADV", "advmod", 3),
        ("profitable", "profitable", "ADJ", "acomp", 1),
        (".", ".", "PUNCT", "punct", 1),
    ]


def _t_acquired_list(m) -> List[Row]:
    s, o1, o2, o3 = m.group("s"), m.group("o1"), m.group("o2"), m.group("o3")
    return [
        (s, s, "PROPN", "nsubj", 1),
        ("acquired", "acquire", "VERB", "ROOT", 1),
        (o1, o1, "NOUN", "dobj", 1),
        (",", ",", "PUNCT", "punct", 2),
        ("and", "and", "CCONJ", "cc", 2),
        (o2, o2, "NOUN", "conj", 2),
        (",", ",", "PUNCT", "punct", 5),
        ("and", "and", "CCONJ", "cc", 5),
        (o3, o3, "NOUN", "conj", 5),
        (".", ".", "PUNCT", "punct", 1),
    ]


def _t_bought_and_sold(m) -> List[Row]:
    s, o1, o2 = m.group("s"), m.group("o1"), m.group("o2")
    return [
        (s, s, "PROPN", "nsubj", 1),
        ("bought", "buy", "VERB", "ROOT", 1),
        (o1, o1, "NOUN", "dobj", 1),
        ("and", "and", "CCONJ", "cc", 1),
        ("sold", "sell", "VERB", "conj", 1),
        (o2, o2, "NOUN", "dobj", 4),
        (".", ".", "PUNCT", "punct", 1),
    ]


def _t_tycoon_who_owned(m) -> List[Row]:
    o = m.group("o")
    return [
        ("The", "the", "DET", "det", 1),
        ("tycoon", "tycoon", "NOUN", "nsubj", 5),
        ("who", "who", "PRON", "nsubj", 3),
        ("owned", "own", "VERB", "relcl", 1),
        (o, o, "PROPN", "dobj", 3),
        ("retired", "retire", "VERB", "ROOT", 5),
        (".", ".", "PUNCT", "punct", 5),
    ]


def _t_wanted_to_acquire(m) -> List[Row]:
    s, o = m.group("s"), m.group("o")
    return [
        (s, s, "PROPN", "nsubj", 1),
        ("wanted", "want", "VERB", "ROOT", 1),
        ("to", "to", "PART", "aux", 3),
        ("acquire", "acquire", "VERB", "xcomp", 1),
        (o, o, "PROPN", "dobj", 3),
        (".", ".", "PUNCT", "punct", 1),
    ]


def _t_said_acquired(m) -> List[Row]:
    s, s2, o = m.group("s"), m.group("s2"), m.group("o")
    return [
        (s, s, "PROPN", "nsubj", 1),
        ("said", "say", "VERB", "ROOT", 1),
        (s2, s2, "PROPN", "nsubj", 3),
        ("acquired", "acquire", "VERB", "ccomp", 1),
        (o, o, "PROPN", "dobj", 3),
        (".", ".", "PUNCT", "punct", 1),
    ]


def _t_gave_up(m) -> List[Row]:
    s1, s2, o = m.group("s1"), m.group("s2"), m.group("o")
    return [
        (s1, s1, "PROPN", "compound", 1),
        (s2, s2, "PROPN", "nsubj", 2),
        ("gave", "give", "VERB", "ROOT", 2),
        ("up", "up", "ADP", "prt", 2),
        ("the", "the", "DET", "det", 5),
        (o, o, "NOUN", "dobj", 2),
        (".", ".", "PUNCT", "punct", 2),
    ]


def _t_said_frag(m) -> List[Row]:
    s = m.group("s")
    return [
        (s, s, "PROPN", "nsubj", 1),
        ("said", "say", "VERB", "ROOT", 1),
    ]


def _t_adv_frag(m) -> List[Row]:
    w = m.group("w")
    return [
        (w, w, "ADV", "ROOT", 0),
        (".", ".", "PUNCT", "punct", 0),
    ]


TEMPLATES: List[Tuple[str, "re.Pattern", Callable]] = [
    ("acquired", re.compile(rf"^(?P<s>{_E}) acquired (?P<o>{_E})(?P<dot>\.)?$"), _t_acquired),
    (
        "did_not_acquire",
        re.compile(rf"^(?P<s>{_E}) did not acquire (?P<o>{_E})\.$"),
        _t_did_not_acquire,
    ),
    ("invested_in", re.compile(rf"^(?P<s>{_E}) invested in (?P<o>{_E})\.$"), _t_invested_in),
    ("was_profitable", re.compile(rf"^(?P<s>{_E}) was profitable\.$"), _t_was_profitable),
    (
        "was_very_profitable",
        re.compile(rf"^(?P<s>{_E}) was very profitable\.$"),
        _t_was_very_profitable,
    ),
    (
        "acquired_list",
        re.compile(rf"^(?P<s>{_E}) acquired (?P<o1>{_W}), and (?P<o2>{_W}), and (?P<o3>{_W})\.$"),
        _t_acquired_list,
    ),
    (
        "bought_and_sold",
        re.compile(rf"^(?P<s>{_E}) bought (?P<o1>{_W}) and sold (?P<o2>{_W})\.$"),
        _t_bought_and_sold,
    ),
    (
        "tycoon_who_owned",
        re.compile(rf"^The tycoon who owned (?P<o>{_E}) retired\.$"),
        _t_tycoon_who_owned,
    ),
    (
        "wanted_to_acquire",
        re.compile(rf"^(?P<s>{_E}) wanted to acquire (?P<o>{_E})\.$"),
        _t_wanted_to_acquire,
    ),
    (
        "said_acquired",
        re.compile(rf"^(?P<s>{_E}) said (?P<s2>{_E}) acquired (?P<o>{_E})\.$"),
        _t_said_acquired,
    ),
    (
        "gave_up",
        re.compile(rf"^(?P<s1>{_E}) (?P<s2>{_E}) gave up the (?P<o>{_W})\.$"),
        _t_gave_up,
    ),
    ("said_frag", re.compile(rf"^(?P<s>{_E}) said $"), _t_said_frag),
    ("adv_frag", re.compile(rf"^(?P<w>{_W})\.$"), _t_adv_frag),
]


class TemplateParser(ParseProvider):
    name = "template"

    def __init__(self):
        self._fallback = SVOChunkParser()

    def parse_arrays_batch(self, texts: List[str]) -> List[tuple]:
        out = []
        for text in texts:
            for _, pattern, builder in TEMPLATES:
                m = pattern.match(text)
                if m:
                    out.append(_arrays(builder(m)))
                    break
            else:
                out.extend(self._fallback.parse_arrays_batch([text]))
        return out
