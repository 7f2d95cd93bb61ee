"""Seeded inputs for the workloads.

Every generator is a pure function of ``(seed, size)``: the same seed gives
byte-identical rows. Generation runs in plain Python before the Spark
session exists, so it is neither timed nor counted in ``setup_s``.
"""

from __future__ import annotations

import hashlib
import os
import random
from datetime import timedelta
from typing import Dict, List, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
DOCS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def spark_schema(schema: pa.Schema) -> str:
    """DDL for ``spark.read.schema``: reading with a given schema skips
    Spark's schema-inference job."""
    types = {pa.string(): "string", pa.binary(): "binary", pa.int64(): "bigint"}
    return ", ".join(
        f"{f.name} {types.get(f.type, 'timestamp')}" for f in schema
    )


def write_files(rows: List[dict], schema: pa.Schema, out_dir: str, n_files: int) -> None:
    """``rows`` as ``n_files`` equal parquet files (one Spark partition
    each under the pinned ``openCostInBytes``)."""
    os.makedirs(out_dir, exist_ok=True)
    table = pa.Table.from_pylist(rows, schema=schema)
    step = len(first_file(rows, n_files))
    for f in range(n_files):
        pq.write_table(table.slice(f * step, step), os.path.join(out_dir, f"part-{f:03d}.parquet"))


def first_file(rows: List, n_files: int) -> List:
    """The rows ``write_files`` puts in its first file."""
    return rows[: -(-len(rows) // n_files)]


def digest_rows(rows) -> str:
    """Order-independent digest of an iterable of tuples."""
    h = hashlib.sha256()
    for line in sorted(repr(tuple(r)) for r in rows):
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()[:16]


# --- kg_html: the stock synthetic crawl ----------------------------------------

# What the reference extractor (generate_wikipedia_dataset.py) keeps of a
# generated page besides its content paragraphs: the decoy paragraph with its
# [..], (..) and '|' removed and its runs of spaces collapsed. The References,
# *link* and stub sections and the under-5-word paragraph are dropped.
DECOY_TEXT = "Quarterly report shows steady growth overall today."


def kg_html_pages(seed: int, n: int) -> List[dict]:
    """The library's stock ``generate_pages`` corpus, row for row: the same
    draws as ``sources.pages.gen_page``. The ``text`` column is built from
    the page's generated sentences, not by running the library's html
    extractor, so the expected outputs do not move when that extractor
    does."""
    from posextract_spark.sources import pages as src

    out = []
    for i in range(n):
        rng = random.Random(f"{seed}:{i}")
        if rng.random() < 0.85:
            lang = "en"
            sentences = src._gen_sentences(rng)
        else:
            lang = rng.choice(["de", "fr", "es"])
            sentences = [src.NON_EN_SENTENCES[lang]] * rng.randint(2, 4)
        html = src._gen_html(i, rng, sentences)
        out.append(
            {
                "url": f"https://synth.test/{seed}/{i}",
                "warc_ts": src._EPOCH + timedelta(seconds=i),
                "html": html.encode("utf-8"),
                "text": " ".join(sentences + [DECOY_TEXT]),
                "lang": lang,
            }
        )
    return out


# --- curation_docs: bag-of-words documents with planted near-duplicates ----

# the documents.parquet vocabulary of the repo's sf* test tables
DOC_VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]


def curation_inputs(
    seed: int, n_docs: int, dup_frac: float, n_eval: int, leak_frac: float
) -> Tuple[List[dict], List[dict]]:
    """(docs, eval docs). ``dup_frac`` of the docs are perturbed copies
    (two word substitutions) of an earlier doc; ``leak_frac`` of the eval
    docs quote a 12-word span of a train doc."""
    rng = random.Random(f"docs:{seed}")
    texts: List[List[str]] = []
    docs: List[dict] = []
    for i in range(n_docs):
        if texts and rng.random() < dup_frac:
            words = list(rng.choice(texts))
            for _ in range(2):
                words[rng.randrange(len(words))] = rng.choice(DOC_VOCAB)
        else:
            words = [rng.choice(DOC_VOCAB) for _ in range(rng.randint(10, 100))]
        texts.append(words)
        text = " ".join(words)
        docs.append(
            {
                "doc_id": i,
                "text": text,
                "lang": rng.choice(LANGS),
                "source": f"src{i % 20}",
                "n_chars": len(text),
            }
        )
    ev: List[dict] = []
    for j in range(n_eval):
        words = [rng.choice(DOC_VOCAB) for _ in range(rng.randint(20, 60))]
        if rng.random() < leak_frac:
            src = rng.choice(texts)
            k = rng.randrange(max(1, len(src) - 12))
            at = rng.randrange(len(words))
            words[at:at] = src[k : k + 12]
        text = " ".join(words)
        ev.append({"doc_id": j, "text": text, "lang": "en", "source": "eval", "n_chars": len(text)})
    return docs, ev


def input_digest(parts: Dict[str, List]) -> str:
    """Digest of every generated input row (the same-seed test pins it)."""
    h = hashlib.sha256()
    for name in sorted(parts):
        h.update(name.encode())
        h.update(digest_rows(tuple(sorted(r.items())) if isinstance(r, dict) else r for r in parts[name]).encode())
    return h.hexdigest()[:16]
