"""Page text -> sentence rows.

The reference has no document-level sentence segmentation in its extraction
path (a multi-sentence doc only traverses its FIRST root —
reference: src/posextract/traversal.py:99-103); its eval pipeline segments
with re.split(r'\\.|\\n') + a word-count/punctuation filter + a postprocess
(reference: eval/generate-datasets/generate_wikipedia_dataset.py:62-81,108-110).
We adopt exactly those segmentation semantics as the page->sentence stage,
implemented as native Column expressions (codegen'd, SQL-mirrorable, no
Python):

- split on '.' or '\\n';
- keep raw segments that are non-empty and pass default_sentence_filter
  (>=5 whitespace words, not ending ':' or ',', not starting ',');
- postprocess: strip, optionally remove '\"' (the reference always removes;
  keep quotes when downstream split_quotes segmentation should see them),
  append '.'.

``sentences_of`` is the same segmentation for one text in Python, for
stages that already hold the text inside a Python worker (the fused
pages -> triples batch function); tests/test_sentence_parity.py pins it to
the Column form row for row.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from posextract_spark.functions.hashing import word_array

# longest raw segment kept as a sentence (north_rule: oversized pages)
MAX_SENTENCE_CHARS = 8192


def _passes_filter(s):
    words = word_array(s)
    return (
        (s != "")
        & (F.size(words) >= 5)
        & (~s.endswith(":"))
        & (~s.startswith(","))
        & (~s.endswith(","))
    )


def split_sentences(
    df: DataFrame,
    text_col: str = "text",
    remove_quotes: bool = True,
    out_col: str = "sentence",
    pos_col: str = "sent_pos",
    max_sentence_chars: int = MAX_SENTENCE_CHARS,
) -> DataFrame:
    """One row per kept sentence, with its ordinal position in the page.

    ``max_sentence_chars`` bounds worst-case per-row work downstream
    (north_rule: oversized pages): a pathological page with megabytes of
    period-free text would otherwise become one giant row that stalls its
    extraction task and can blow the Arrow batch. Dropping (not truncating)
    keeps semantics clean — a >8 KB 'sentence' is boilerplate/garbage in
    web text, and the cap is configurable.
    """
    segs = F.split(F.col(text_col), r"\.|\n")
    kept = F.filter(segs, _passes_filter)
    if max_sentence_chars:
        kept = F.filter(kept, lambda s: F.length(s) <= max_sentence_chars)
    post = F.transform(kept, lambda s: F.trim(s))
    if remove_quotes:
        post = F.transform(post, lambda s: F.regexp_replace(s, '"', ""))
    post = F.transform(post, lambda s: F.concat(s, F.lit(".")))
    other = [c for c in df.columns if c != text_col]
    return df.select(*other, F.posexplode(post).alias(pos_col, out_col))


def sentences_of(text: Optional[str], remove_quotes: bool = True) -> List[str]:
    """split_sentences for one text: its kept sentences in order (list
    index == sent_pos). Mirrors the Column form with its default cap
    exactly: split on '.' or '\\n', word count over ' '-separated non-empty
    fields, MAX_SENTENCE_CHARS on the raw segment, and Spark ``trim``
    strips only ' '."""
    if not text:
        return []
    out = []
    for s in text.replace("\n", ".").split("."):
        if not s or s[-1] in ":," or s[0] == ",":
            continue
        if len(s) > MAX_SENTENCE_CHARS:
            continue
        words = s.split(" ")
        if len(words) - words.count("") < 5:
            continue
        s = s.strip(" ")
        if remove_quotes:
            s = s.replace('"', "")
        out.append(s + ".")
    return out
