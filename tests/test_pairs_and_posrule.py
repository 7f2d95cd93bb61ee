"""Pairs extractors + posrule DSL tests."""

import pytest

from posextract_spark.kernel.model import Sentence
from posextract_spark.kernel.pairs import adj_noun_pairs_arrays, subj_verb_pairs_arrays
from posextract_spark.posrule import parse_posrule_text, to_python_predicate, to_sql
from posextract_spark.posrule.parser import Equality, Expr
from posextract_spark.kernel.triple import TripleExtraction


def S(rows):
    return Sentence.from_rows([(i, *r) for i, r in enumerate(rows)])


def A(rows):
    return S(rows).arrays()


def test_adj_noun_basic_and_negation():
    rows = [
        ("The", "the", "DET", "det", 2),
        ("red", "red", "ADJ", "amod", 2),
        ("dog", "dog", "NOUN", "nsubj", 3),
        ("chased", "chase", "VERB", "ROOT", 3),
        ("no", "no", "DET", "det", 6),
        ("black", "black", "ADJ", "amod", 6),
        ("cat", "cat", "NOUN", "dobj", 3),
        (".", ".", "PUNCT", "punct", 3),
    ]
    out = adj_noun_pairs_arrays(A(rows))
    assert out == [
        {"verb_neg": "", "neg_det": "", "adjective": "red", "noun": "dog"},
        {"verb_neg": "", "neg_det": "no", "adjective": "black", "noun": "cat"},
    ]


def test_adj_noun_verb_neg_and_case():
    rows = [
        ("The", "the", "DET", "det", 1),
        ("dog", "dog", "NOUN", "nsubj", 4),
        ("did", "do", "AUX", "aux", 4),
        ("not", "not", "PART", "neg", 4),
        ("chase", "chase", "VERB", "ROOT", 4),
        ("black", "black", "ADJ", "amod", 6),
        ("cats", "cat", "NOUN", "dobj", 4),
    ]
    out = adj_noun_pairs_arrays(A(rows), letter_case="upper")
    assert out == [{"verb_neg": "NOT", "neg_det": "", "adjective": "BLACK", "noun": "CATS"}]


def test_subj_verb_own_subject_only():
    # A verb without its OWN nsubj/nsubjpass emits nothing: the reference's
    # stale-subject local is stringified at the end of every emitting
    # iteration (subj_verb_pairs.py:68-72), so a carried-over subject always
    # crashes (str.text AttributeError; first verb: UnboundLocalError) —
    # proven by the pairs differential running the actual reference code.
    # We define both crash classes as skip-this-verb.
    rows = [
        ("Running", "run", "VERB", "ROOT", 0),  # no subject -> skip
        ("dogs", "dog", "NOUN", "nsubj", 2),
        ("bark", "bark", "VERB", "conj", 0),
        ("and", "and", "CCONJ", "cc", 2),
        ("howl", "howl", "VERB", "conj", 2),  # no own subject -> ref crashes -> skip
    ]
    out = subj_verb_pairs_arrays(A(rows))
    assert out == [
        {"subject": "dogs", "verb_neg": "", "verb": "bark"},
    ]


def test_posrule_example_file_semantics():
    # reference: examples/example.posrule:1-5
    text = """
MATCH (SUBJECT="dog" AND PREDICATE="house") OR SUBJECT="bowl";
MATCH SUBJECT=RE<"cats?">;
//this is a comment
IGNORE VERB="walking";
"""
    node = parse_posrule_text(text)
    pred = to_python_predicate(node)

    def triple(s, v, o):
        rows = [(s, s, "NOUN", "nsubj", 1), (v, v, "VERB", "ROOT", 1), (o, o, "NOUN", "dobj", 1)]
        sent = S(rows)
        return TripleExtraction(subject=sent[0], verb=sent[1], object=sent[2])

    assert pred(triple("dog", "ate", "house"))
    assert not pred(triple("dog", "ate", "bone"))
    assert pred(triple("bowl", "fell", "floor"))
    assert pred(triple("cat", "sat", "mat"))
    assert pred(triple("cats", "sat", "mat"))
    assert pred(triple("catsup", "sat", "mat"))  # re.match is prefix-anchored
    assert not pred(triple("dog", "walking", "house"))  # ignore wins (AND)
    assert not pred(triple("scat", "sat", "mat"))  # anchored at start


def test_posrule_condense_or_of_matches_and_of_ignores():
    node = parse_posrule_text('MATCH SUBJECT="a"; MATCH SUBJECT="b"; IGNORE VERB="x"; IGNORE VERB="y";')
    # ((a OR b) AND !x) AND !y
    assert isinstance(node, Expr) and node.op == "AND"
    sql = to_sql(node, cols={"SUBJECT": "s", "VERB": "v", "PREDICATE": "o"})
    assert sql == "(((s = 'a' OR s = 'b') AND (NOT v = 'x')) AND (NOT v = 'y'))"


def test_posrule_right_associativity_and_parens():
    n1 = parse_posrule_text('MATCH SUBJECT="a" AND SUBJECT="b" OR SUBJECT="c";')
    # right fold: AND(a, OR(b, c))
    assert n1.op == "AND" and isinstance(n1.right, Expr) and n1.right.op == "OR"
    n2 = parse_posrule_text('MATCH (SUBJECT="a" OR SUBJECT="b") AND SUBJECT="c";')
    assert n2.op == "AND" and isinstance(n2.left, Expr) and n2.left.op == "OR"


def test_posrule_escape_sequences():
    node = parse_posrule_text(r'MATCH SUBJECT="a\"b";')
    assert isinstance(node, Equality) and node.value == 'a"b'


def test_posrule_empty_raises():
    with pytest.raises(ValueError):
        parse_posrule_text("// only a comment\n")


def test_subj_verb_keep_modes(spark):
    """keep=True carries the id columns through the crossing; keep=False is
    the reference's column-drop variant (subj_verb_pairs.py:21-31)."""
    from posextract_spark.operators.pairs import extract_subj_verb_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    kept = extract_subj_verb_pairs(
        docs, text_col="text", id_cols=["doc_id"], provider="svo"
    )
    dropped = extract_subj_verb_pairs(
        docs, text_col="text", id_cols=["doc_id"], provider="svo", keep=False
    )
    assert kept.columns == ["doc_id", "subject", "verb_neg", "verb"]
    assert dropped.columns == ["subject", "verb_neg", "verb"]
    assert kept.count() == dropped.count()


def test_posrule_regex_escapes_preserved():
    r"""Backslash unescapes only string metachars; regex classes survive:
    RE<"\d+\.\w"> must reach the matcher as \d+\.\w (the r1 lexer stripped
    every backslash, corrupting it to the any-char pattern d+.w). The
    reference defines no semantics here — its lark Transformer crashes on
    any escape (no escape_sequence handler)."""
    node = parse_posrule_text(r'MATCH SUBJECT=RE<"\d+\.\w">;')
    assert isinstance(node, Equality) and node.value == r"\d+\.\w"
    pred = to_python_predicate(node)

    from posextract_spark.kernel.model import Sentence
    from posextract_spark.kernel.triple import TripleExtraction

    def triple(s):
        rows = [(s, s, "NOUN", "nsubj", 1), ("ate", "ate", "VERB", "ROOT", 1), ("x", "x", "NOUN", "dobj", 1)]
        sent = Sentence.from_rows([(i, *r) for i, r in enumerate(rows)])
        return TripleExtraction(subject=sent[0], verb=sent[1], object=sent[2])

    assert pred(triple("42.a"))
    assert not pred(triple("dddXw"))  # the corrupted pattern would match this
    # backslash-quote unescaping still works
    n2 = parse_posrule_text(r'MATCH SUBJECT="a\"b";')
    assert n2.value == 'a"b'
    n3 = parse_posrule_text(r'MATCH SUBJECT="a\\b";')
    assert n3.value == "a\\b"
