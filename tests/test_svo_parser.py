"""Deterministic SVO chunker contract tests (the SQL-mirror invariants)."""

from posextract_spark.kernel.extract import extract_triples_one
from posextract_spark.parse.svo import SVOChunkParser

P = SVOChunkParser()


def triples(text):
    return [
        (f["subject"], f["verb"], f["object"]) for f in extract_triples_one(P.parse_lazy_batch([text])[0])
    ]


def test_basic_svo():
    assert triples("data scan table") == [("data", "scan", "table")]


def test_object_consumed_blocks_next_subject():
    # 'table' is scan's object; merge gets no subject -> no second triple.
    assert triples("data scan table merge row") == [("data", "scan", "table")]


def test_two_clauses():
    assert triples("data scan table row merge line") == [
        ("data", "scan", "table"),
        ("row", "merge", "line"),
    ]


def test_det_adj_transparent():
    assert triples("the fast data scan a small table") == [("data", "scan", "table")]


def test_no_verb_no_triples():
    assert triples("data table row line") == []


def test_verb_first_no_subject():
    assert triples("scan table") == []


def test_dedup_per_document():
    assert triples("data scan table data scan table") == [("data", "scan", "table")]


def test_rule_is_rule2():
    out = extract_triples_one(P.parse_lazy_batch(["data scan table row merge line"])[0])
    assert {f["rule"] for f in out} == {" <rule2>"}


def test_adjacent_verbs():
    # scan has subject 'data' but no object (gap to merge is empty); merge
    # has object 'table' but no subject (gap is empty) -> no triples.
    assert triples("data scan merge table") == []
