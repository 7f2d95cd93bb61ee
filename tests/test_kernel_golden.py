"""Golden end-to-end kernel tests on hand-authored parses (FIXTURES.md §2-4).

Expected triples derive from the reference's documented examples
(reference: README.md:35-40, 80-89; tests/conjunctions_test.py:10-13) and
from hand-tracing the reference rule engine on en_core_web_sm-convention
parses.
"""

from posextract_spark.kernel.extract import extract_triples_one
from posextract_spark.options import TripleExtractorOptions
from posextract_spark.parse.template import TemplateParser

TP = TemplateParser()


def svo(text, options=None):
    flats = extract_triples_one(TP.parse_lazy_batch([text])[0], options=options)
    return [(f["subject"], f["verb"], f["object"], f["rule"]) for f in flats]


def test_simple_svo():
    assert svo("Acme acquired Zorin.") == [("Acme", "acquired", "Zorin", " <rule2>")]


def test_negated_verb():
    flats = extract_triples_one(TP.parse_lazy_batch(["Acme did not acquire Zorin."])[0])
    assert len(flats) == 1
    t = flats[0]
    assert (t["subject"], t["neg_adverb"], t["verb"], t["object"]) == (
        "Acme",
        "not",
        "acquire",
        "Zorin",
    )


def test_pobj_with_poa():
    flats = extract_triples_one(TP.parse_lazy_batch(["Acme invested in Zorin."])[0])
    assert len(flats) == 1
    assert (flats[0]["subject"], flats[0]["verb"], flats[0]["poa"], flats[0]["object"]) == (
        "Acme",
        "invested",
        "in",
        "Zorin",
    )


def test_acomp():
    # reference README.md:35-40 pattern ("The soldiers were ill.")
    assert svo("Acme was profitable.") == [("Acme", "was", "profitable", " <rule2>")]


def test_emphasis_adverb():
    # 'very' + ADJ head appends the head text (triple_extraction.py:84-86)
    assert svo("Acme was very profitable.") == [
        ("Acme", "was", "very profitable", " <rule2>"),
        ("Acme", "was", "profitable", " <rule2>"),
    ]


def test_transitive_conj_expansion():
    # reference tests/conjunctions_test.py:10-13 (chained conj expands fully)
    assert svo("Acme acquired factories, and mines, and railways.") == [
        ("Acme", "acquired", "factories", " <rule2>"),
        ("Acme", "acquired", "mines", " <rule2>"),
        ("Acme", "acquired", "railways", " <rule2>"),
    ]


def test_conj_verb_without_subject_is_skipped():
    # subject_search never ascends from a conj verb into a VERB parent
    # (traversal.py:195-198) => the second clause emits nothing.
    assert svo("Acme bought mines and sold railways.") == [
        ("Acme", "bought", "mines", " <rule2>")
    ]


def test_relcl_and_who_coref():
    # rule3 for the noun-headed path; rule2 + 'who'->head backoff
    # (grammatical_triples.py:172-176). Dedup runs BEFORE coref, so both
    # rows survive with identical strings.
    assert svo("The tycoon who owned Acme retired.") == [
        ("tycoon", "owned", "Acme", " <rule3>"),
        ("tycoon", "owned", "Acme", " <rule2>"),
    ]


def test_xcomp_rule4():
    assert svo("Acme wanted to acquire Zorin.") == [
        ("Acme", "acquire", "Zorin", " <rule4>")
    ]


def test_ccomp_verb_phrase():
    # inner clause via rule2 + CCompVerbPhrase(said, acquired) via rule2
    # (verb_phrase.py:110-129: phrase text is the first token's).
    assert svo("Acme said Zorin acquired Initech.") == [
        ("Zorin", "acquired", "Initech", " <rule2>"),
        ("Acme", "said", "Initech", " <rule2>"),
    ]


def test_compound_subject_and_particle_verb():
    # compound prepend (triple_extraction.py:79-82) + ADP/prt append (:93-95)
    assert svo("Zorin Holdings gave up the lawsuit.") == [
        ("Zorin Holdings", "gave up", "lawsuit", " <rule2>")
    ]


def test_combine_adj_folds_advmod():
    # reference README.md:80-89: default emits advmod + acomp rows;
    # --post-combine-adj folds the advmod into object_adjectives.
    rows = extract_triples_one(
        TP.parse_lazy_batch(["Acme was very profitable."])[0],
        options=TripleExtractorOptions(combine_adj=True),
    )
    assert len(rows) == 1
    assert rows[0]["object"] == "profitable"
    assert rows[0]["object_adjectives"] == "very"


def test_lemmatize_option():
    rows = extract_triples_one(
        TP.parse_lazy_batch(["Acme acquired Zorin."])[0],
        options=TripleExtractorOptions(lemmatize=True),
    )
    assert (rows[0]["subject"], rows[0]["verb"], rows[0]["object"]) == (
        "Acme",
        "acquire",
        "Zorin",
    )


def test_add_auxiliary():
    rows = extract_triples_one(
        TP.parse_lazy_batch(["Acme did not acquire Zorin."])[0],
        options=TripleExtractorOptions(add_auxiliary=True),
    )
    assert rows[0]["aux_verb"] == "did"


def test_determinism():
    texts = [
        "Acme said Zorin acquired Initech.",
        "The tycoon who owned Acme retired.",
        "Acme acquired factories, and mines, and railways.",
    ]
    for text in texts:
        a = svo(text)
        b = svo(text)
        assert a == b
