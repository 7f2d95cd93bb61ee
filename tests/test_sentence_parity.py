"""The Python sentence splitter (sentences_of, run inside the fused
pages -> triples batch function) equals the Column split_sentences row for
row: same (sent_pos, sentence) per text."""

import pytest

from posextract_spark.operators.sentences import sentences_of, split_sentences
from posextract_spark.sources.pages import gen_page

EDGE_TEXTS = [
    "",
    None,
    "\n\n\n",
    ".\n.\n",
    "Acme formally acquired Zorin today\n\n\nBolt bought mines and sold bonds\n",
    "one two three four five:",
    "one two three four five,",
    "one two three four five: six. one two three four five, six.",
    ", one two three four five",
    ",one two three four five. one two three four five",
    "one  two   three four five",
    "one two  three four",
    "   one two three four five   .   ",
    "\tone two three four five\t",
    "one\ttwo three four five",
    " one two three four five ",
    "one two three four five\r\nsix seven eight nine ten",
    'Acme said "Zorin acquired Bolt" yesterday and left.',
    '"one two three four five"',
    'quote " inside one two three four " five.',
    "Zoë acquired Ünïcode tėxt here today. 日本語 の テキスト は ここ に あり ます",
    "🙂 one two three four. 🙂 🙂 🙂 🙂 🙂",
    " ".join(["word"] * 2000),
    "w " * 4096,
    "w " * 4095 + "ww",
    "w " * 4095 + "😀😀",
    "w " * 4095 + "😀😀😀",
    "short. " + " ".join(["long"] * 3000) + ". one two three four five six",
]


def _column_rows(spark, texts, remove_quotes):
    df = spark.createDataFrame(list(enumerate(texts)), "doc int, text string")
    out = split_sentences(df, remove_quotes=remove_quotes)
    return sorted((r.doc, r.sent_pos, r.sentence) for r in out.collect())


def _python_rows(texts, remove_quotes):
    return sorted(
        (doc, pos, s)
        for doc, text in enumerate(texts)
        for pos, s in enumerate(sentences_of(text, remove_quotes=remove_quotes))
    )


@pytest.mark.parametrize("remove_quotes", [False, True])
def test_edge_strings(spark, remove_quotes):
    expected = _column_rows(spark, EDGE_TEXTS, remove_quotes)
    assert expected  # the edge set keeps some sentences
    assert _python_rows(EDGE_TEXTS, remove_quotes) == expected


@pytest.mark.parametrize("remove_quotes", [False, True])
def test_generated_page_texts(spark, remove_quotes):
    texts = [gen_page(i, seed=11)["text"] for i in range(300)]
    expected = _column_rows(spark, texts, remove_quotes)
    assert len(expected) > 300
    assert _python_rows(texts, remove_quotes) == expected


def test_documents_texts(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    texts = [r.text for r in docs.orderBy("doc_id").select("text").collect()]
    assert _python_rows(texts, True) == _column_rows(spark, texts, True)


def test_oversized_segment_dropped():
    long = " ".join(["long"] * 3000)
    assert sentences_of(long) == []
    assert sentences_of("one two three four five. " + long) == ["one two three four five."]
