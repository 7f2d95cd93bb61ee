"""The one entity-link path (operators.linking.attach_entities) through its
two public entry points: link_entities (mentions -> nodes) and
graph.link_triples (triples -> edges)."""

import hashlib

import pytest

from posextract_spark.operators.graph import link_triples
from posextract_spark.operators.linking import link_entities


def _hash64_py(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


@pytest.fixture(scope="module")
def aliases(spark):
    return spark.createDataFrame(
        [("acme", "acme"), ("acmecorp", "acme"), ("zorin ltd", "zorin")],
        "surface_norm string, canonical string",
    )


def test_link_entities_hit_miss_and_normalization(spark, aliases):
    mentions = spark.createDataFrame(
        [("Acme",), ("  ACMECORP ",), ("Zorin Ltd",), (" Quixote",)], "surface string"
    )
    out = {r.surface: r for r in link_entities(mentions, aliases).collect()}
    assert len(out) == 4
    # alias hits, after trim + lower-case
    for surface, norm in (("Acme", "acme"), ("  ACMECORP ", "acmecorp"), ("Zorin Ltd", "zorin ltd")):
        assert out[surface].surface_norm == norm and out[surface].linked is True
    assert out["Acme"].canonical == out["  ACMECORP "].canonical == "acme"
    assert out["Acme"].entity_id == out["  ACMECORP "].entity_id == _hash64_py("acme")
    assert out["Zorin Ltd"].canonical == "zorin"
    # a miss keeps its normalized surface as canonical and id
    miss = out[" Quixote"]
    assert (miss.surface_norm, miss.canonical, miss.linked) == ("quixote", "quixote", False)
    assert miss.entity_id == _hash64_py("quixote")


def test_link_entities_null_surface_stays_null(spark, aliases):
    """A null surface matches no table row: it is kept (left join) with a
    null canonical and id. The triples batch never emits one."""
    mentions = spark.createDataFrame([(None,)], "surface string")
    (row,) = link_entities(mentions, aliases).collect()
    assert (row.surface_norm, row.canonical, row.entity_id, row.linked) == (None, None, None, False)


def test_link_triples_ids_equal_link_entities(spark, aliases):
    triples = spark.createDataFrame(
        [("u1", "ACME ", "acquired", "Quixote"), ("u2", "zorin ltd", "sued", "AcmeCorp")],
        "url string, subject string, verb string, object string",
    )
    linked = {r.url: r for r in link_triples(triples, aliases).collect()}
    mentions = spark.createDataFrame(
        [("ACME ",), ("Quixote",), ("zorin ltd",), ("AcmeCorp",)], "surface string"
    )
    ids = {r.surface: r.entity_id for r in link_entities(mentions, aliases).collect()}
    for r, subject, obj in ((linked["u1"], "ACME ", "Quixote"), (linked["u2"], "zorin ltd", "AcmeCorp")):
        assert r.subject_entity_id == ids[subject]
        assert r.object_entity_id == ids[obj]
    assert linked["u1"].subject_entity_id == linked["u2"].object_entity_id == _hash64_py("acme")
    assert linked["u1"].object_entity_id == _hash64_py("quixote")
    assert (linked["u1"].object_linked, linked["u2"].subject_linked) == (False, True)
    # the triple's own columns pass through untouched
    assert (linked["u1"].subject, linked["u1"].verb) == ("ACME ", "acquired")
