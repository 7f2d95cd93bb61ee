"""Regression tests for the reference's load-bearing quirks (SURVEY.md §0.1)."""

from posextract_spark.kernel.model import Sentence
from posextract_spark.kernel.negation import get_verb_neg
from posextract_spark.kernel.postprocess import (
    attach_prep_phrase,
    combine_adjectives,
    dedup_triples,
)
from posextract_spark.kernel.quotes import split_quotes_list
from posextract_spark.kernel.extract import extract_triples_one
from posextract_spark.kernel.triple import TripleExtraction
from posextract_spark.options import TripleExtractorOptions
from posextract_spark.parse.template import TemplateParser


def S(rows):
    return Sentence.from_rows([(i, *r) for i, r in enumerate(rows)])


def test_split_quotes_drops_short_prefix_and_skips_post_char():
    # start>1 quirk + end+1 skip (reference: util.py:187-201)
    doc = 'He said "the dog runs fast" yesterday.'
    assert split_quotes_list(doc) == ["He said ", "the dog runs fast", "yesterday."]
    # quote at position 0: no prefix is yielded; char after quote is skipped
    doc2 = '"the dog runs fast" yes'
    assert split_quotes_list(doc2) == ["the dog runs fast", "yes"]
    # 1-char prefix is dropped (start == 1 fails start > 1)
    doc3 = 'x"the dog runs fast" yes'
    assert split_quotes_list(doc3) == ["the dog runs fast", "yes"]
    # short quotes (<3 words) are not split
    assert split_quotes_list('He said "no way" loudly.') == ['He said "no way" loudly.']
    assert split_quotes_list("") == []


def test_failed_to_branch_is_dead():
    # The reference's 'failed to X' negation (util.py:125-131) can never
    # fire: it next()s an exhausted generator. Verify we reproduce the
    # observable (None, None) — and that it shadows ccomp/xcomp
    # parent-negation inheritance for such verbs.
    # failed(VERB, ROOT) -> finish(VERB, xcomp) with child to(PART, aux)
    rows = [
        ("He", "he", "PRON", "nsubj", 1),
        ("failed", "fail", "VERB", "ROOT", 1),
        ("to", "to", "PART", "aux", 3),
        ("finish", "finish", "VERB", "xcomp", 1),
        (".", ".", "PUNCT", "punct", 1),
    ]
    sent = S(rows)
    finish = sent[3]
    assert get_verb_neg(finish) == (None, None)


def test_ccomp_inherits_parent_neg():
    # reference: util.py:132-135
    rows = [
        ("He", "he", "PRON", "nsubj", 2),
        ("not", "not", "PART", "neg", 2),
        ("said", "say", "VERB", "ROOT", 2),
        ("left", "leave", "VERB", "ccomp", 2),
    ]
    sent = S(rows)
    neg, part = get_verb_neg(sent[3])
    assert neg is sent[1] and part is None


def test_combine_adj_drops_verb_phrase_triples():
    # grammatical_triples.py:30-31 'continue' excludes VerbPhrase triples
    # from possible_dupes AND from the rebuilt output.
    tp = TemplateParser()
    sent = tp.parse_lazy_batch(["Acme said Zorin acquired Initech."])[0]
    rows_default = extract_triples_one(sent)
    rows_combine = extract_triples_one(sent, options=TripleExtractorOptions(combine_adj=True))
    assert ("Acme", "said", "Initech") in {
        (r["subject"], r["verb"], r["object"]) for r in rows_default
    }
    assert ("Acme", "said", "Initech") not in {
        (r["subject"], r["verb"], r["object"]) for r in rows_combine
    }


def test_combine_adj_no_main_keeps_first_only():
    # grammatical_triples.py:60-63: a group with no pobj/dobj/acomp main
    # triple keeps only its first member.
    rows = [
        ("Acme", "Acme", "PROPN", "nsubj", 1),
        ("ran", "run", "VERB", "ROOT", 1),
        ("fast", "fast", "ADV", "advmod", 1),
        ("today", "today", "ADV", "advmod", 1),
    ]
    sent = S(rows)
    out_default = extract_triples_one(sent)
    assert len(out_default) == 2  # fast + today, both advmod objects
    out = extract_triples_one(sent, options=TripleExtractorOptions(combine_adj=True))
    assert len(out) == 1
    assert out[0]["object"] == "fast"


def test_prep_phrase_of_rule():
    # grammatical_triples.py:72-82
    rows = [
        ("He", "he", "PRON", "nsubj", 1),
        ("signed", "sign", "VERB", "ROOT", 1),
        ("the", "the", "DET", "det", 3),
        ("treaty", "treaty", "NOUN", "dobj", 1),
        ("of", "of", "ADP", "prep", 3),
        ("Paris", "Paris", "PROPN", "pobj", 4),
        (".", ".", "PUNCT", "punct", 1),
    ]
    out = extract_triples_one(S(rows), options=TripleExtractorOptions(prep_phrase=True))
    main = [r for r in out if r["object"] == "treaty"]
    assert main and main[0]["object_prep"] == "of" and main[0]["object_prep_noun"] == "Paris"


def test_prep_phrase_with_rule():
    # the dedented 'with' branch (grammatical_triples.py:85-96, SURVEY §0.1.1)
    rows = [
        ("He", "he", "PRON", "nsubj", 1),
        ("cut", "cut", "VERB", "ROOT", 1),
        ("the", "the", "DET", "det", 3),
        ("bread", "bread", "NOUN", "dobj", 1),
        ("with", "with", "ADP", "prep", 1),
        ("a", "a", "DET", "det", 6),
        ("knife", "knife", "NOUN", "pobj", 4),
        (".", ".", "PUNCT", "punct", 1),
    ]
    out = extract_triples_one(S(rows), options=TripleExtractorOptions(prep_phrase=True))
    bread = [r for r in out if r["object"] == "bread"]
    knife = [r for r in out if r["object"] == "knife"]
    assert bread[0]["object_prep"] == "with" and bread[0]["object_prep_noun"] == "knife"
    # the knife triple's poa IS 'with' -> skipped by child==poa, unchanged
    assert knife and knife[0]["object_prep"] == ""


def test_dedup_first_wins_case_insensitive():
    rows = [
        ("Dog", "dog", "NOUN", "nsubj", 1),
        ("runs", "run", "VERB", "ROOT", 1),
    ]
    sent = S(rows)
    t1 = TripleExtraction(subject=sent[0], verb=sent[1], object=sent[0], rule=" <rule2>")
    t2 = TripleExtraction(subject=sent[0], verb=sent[1], object=sent[0], rule=" <rule5>")
    out = dedup_triples([t1, t2])
    assert out == [t1]


def test_no_root_no_triples():
    rows = [("word", "word", "NOUN", "dep", 0)]
    # head self-loop but dep != ROOT anywhere => no traversal entry
    assert extract_triples_one(S(rows)) == []


def test_multiple_compounds_subject_reversed_object_in_order():
    # triple_extraction.py:79-91: subject compounds prepend (reversed),
    # object compounds iterate reversed (natural order).
    rows = [
        ("New", "New", "PROPN", "compound", 2),
        ("York", "York", "PROPN", "compound", 2),
        ("Port", "Port", "PROPN", "nsubj", 3),
        ("handles", "handle", "VERB", "ROOT", 3),
        ("cargo", "cargo", "NOUN", "compound", 5),
        ("ships", "ship", "NOUN", "dobj", 3),
        (".", ".", "PUNCT", "punct", 3),
    ]
    out = extract_triples_one(S(rows))
    assert out[0]["subject"] == "York New Port"  # reference quirk: reversed
    assert out[0]["object"] == "cargo ships"
