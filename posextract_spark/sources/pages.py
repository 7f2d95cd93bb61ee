"""Synthetic Common-Crawl-style ``pages`` corpus (BASELINE.json input_hint).

Schema: url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING.

Deterministic (seed + row index -> page; no wall clock, no network), and
generated *distributed* (mapInPandas over spark.range) so the corpus can be
scaled to any size without a driver bottleneck. Sentences are drawn from the
template-parser family (parse/template.py), so the downstream extraction
output is exactly known; the stored ``text`` column is stamped with
operators.html_text.extract_text_pure(html) — the byte-identical contract
the extract_text UDF is tested against (north_rule).

The HTML exercises every branch of the reference extractor
(generate_wikipedia_dataset.py:18-59): ignored sections, 'link' headers,
asbox stubs, '|' chars, [bracketed]/(parenthesized) spans, runs of spaces,
and <5-word paragraphs.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta, timezone
from typing import Iterator, List, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from posextract_spark.operators.html_text import extract_text_pure
from posextract_spark.sources.local import local_frame

ENTITY_ALIASES = {
    "acme": ["Acme", "AcmeCorp", "AcmeInc"],
    "zorin": ["Zorin", "ZorinLtd", "Zorin Holdings"],
    "initech": ["Initech", "InitechGmbH"],
    "bolt": ["Bolt", "BoltCo"],
    "vandelay": ["Vandelay", "VandelayIndustries"],
    "hooli": ["Hooli", "HooliX"],
    "umbrella": ["Umbrella", "UmbrellaCorp"],
    "stark": ["Stark", "StarkGroup", "Stark Group"],
}

_SINGLE_SURFACES = [s for surfs in ENTITY_ALIASES.values() for s in surfs if " " not in s]
_COMPOUND_SURFACES = [s for surfs in ENTITY_ALIASES.values() for s in surfs if " " in s]

NOUNS = ["factories", "mines", "railways", "lawsuit", "dispute", "shares", "patents", "bonds"]

NON_EN_SENTENCES = {
    "de": "der bericht ist heute nicht gut und bleibt offen.",
    "fr": "le rapport est dans les archives et reste ouvert.",
    "es": "el informe es bueno y los datos son claros.",
}


def _gen_sentences(rng: random.Random) -> List[str]:
    def ent() -> str:
        return rng.choice(_SINGLE_SURFACES)

    def two_ents() -> Tuple[str, str]:
        a = ent()
        b = ent()
        while b == a:
            b = ent()
        return a, b

    makers = [
        lambda: "%s did not acquire %s." % two_ents(),
        lambda: "%s acquired %s, and %s, and %s."
        % ((ent(),) + tuple(rng.sample(NOUNS, 3))),
        lambda: "%s bought %s and sold %s." % ((ent(),) + tuple(rng.sample(NOUNS, 2))),
        lambda: "The tycoon who owned %s retired." % ent(),
        lambda: "%s wanted to acquire %s." % two_ents(),
        lambda: "%s said %s acquired %s." % (two_ents() + (ent(),)),
        lambda: "%s gave up the %s." % (rng.choice(_COMPOUND_SURFACES), rng.choice(NOUNS)),
        lambda: '%s said "%s acquired %s" yesterday.' % (two_ents() + (ent(),)),
    ]
    n = rng.randint(3, 8)
    return [rng.choice(makers)() for _ in range(n)]


def _gen_html(i: int, rng: random.Random, sentences: List[str]) -> str:
    paras: List[str] = []
    k = max(1, len(sentences) // 2)
    for j in range(0, len(sentences), k):
        paras.append(" ".join(sentences[j : j + k]))

    body = []
    body.append(f"<title>Synthetic page {i}</title>")
    content_ps = "".join(f"<p>{p}</p>" for p in paras)
    decoy = (
        "<p>Quarterly [12] report (draft notes) shows  steady | growth overall today.</p>"
        "<p>Too short here.</p>"
    )
    body.append(f'<section><h2 id="Overview_{i}">Overview</h2>{content_ps}{decoy}</section>')
    body.append(
        '<section><h2 id="References">References</h2><p>Reference one two three four five.</p></section>'
    )
    body.append(
        '<section><h2 id="External_links">Links</h2><p>Some external link text here now.</p></section>'
    )
    body.append(
        f'<section><h2 id="more_links_{i}">More</h2><p>Another linked paragraph with many words.</p></section>'
    )
    body.append(
        f'<section><h2 id="Stub_{i}">Stub</h2><p class="asbox-body">Short stub note.</p></section>'
    )
    return "<html><head></head><body>" + "".join(body) + "</body></html>"


_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)


def gen_page(i: int, seed: int = 42) -> dict:
    rng = random.Random(f"{seed}:{i}")
    r = rng.random()
    if r < 0.85:
        lang = "en"
        sentences = _gen_sentences(rng)
    else:
        lang = rng.choice(["de", "fr", "es"])
        sentences = [NON_EN_SENTENCES[lang]] * rng.randint(2, 4)
    html = _gen_html(i, rng, sentences)
    _, text = extract_text_pure(html)
    return {
        "url": f"https://synth.test/{seed}/{i}",
        "warc_ts": _EPOCH + timedelta(seconds=i),
        "html": html.encode("utf-8"),
        "text": text,
        "lang": lang,
    }


PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def generate_pages(
    spark: SparkSession, n: int, seed: int = 42, n_partitions: int = 32
) -> DataFrame:
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [gen_page(int(i), seed) for i in pdf["id"]]
            yield pd.DataFrame(rows)

    return spark.range(n).repartition(n_partitions).mapInPandas(gen, PAGES_SCHEMA)


N_CRAWLS = 5


def recrawl_captures(i: int, seed: int = 42, n_crawls: int = N_CRAWLS) -> List[dict]:
    """All captures of url ``i`` across ``n_crawls`` weekly crawl
    snapshots — the multi-capture corpus the temporal operators
    (operators/temporal.py) run on. Deterministic per (seed, i): the url
    first appears in crawl ``first_crawl`` (0..2), is re-captured in each
    later crawl with p=0.7, and each re-capture bumps the content version
    with p=0.4 (non-en pages keep constant text, so a version bump there
    is NOT a content change — churn is defined on bytes, not on crawl
    bookkeeping). Shared verbatim by the Spark generator and the oracle
    replay; the operator under test is computed independently on each
    side (DataFrame aggregation vs DuckDB SQL)."""
    rng = random.Random(f"{seed}:rc:{i}")
    r = rng.random()
    lang = "en" if r < 0.85 else rng.choice(["de", "fr", "es"])
    first_crawl = rng.randrange(3)
    version = 0
    rows: List[dict] = []
    for c in range(n_crawls):
        if c < first_crawl:
            continue
        if c > first_crawl:
            if rng.random() >= 0.7:
                continue
            if rng.random() < 0.4:
                version += 1
        content_rng = random.Random(f"{seed}:rc:{i}:v{version}")
        if lang == "en":
            sentences = _gen_sentences(content_rng)
        else:
            sentences = [NON_EN_SENTENCES[lang]] * content_rng.randint(2, 4)
        html = _gen_html(i, content_rng, sentences)
        _, text = extract_text_pure(html)
        rows.append(
            {
                "url": f"https://synth.test/rc/{seed}/{i}",
                "warc_ts": _EPOCH + timedelta(days=7 * c, seconds=i),
                "html": html.encode("utf-8"),
                "text": text,
                "lang": lang,
                # replay-only key (pd.DataFrame(columns=...) drops it from
                # the Spark frame): the exact sentence list, so the
                # incremental-KG oracle can apply triples_for_sentence
                # without re-deriving sentences from html
                "_sentences": sentences,
            }
        )
    return rows


def generate_recrawls(
    spark: SparkSession, n: int, seed: int = 42, n_partitions: int = 32
) -> DataFrame:
    """Multi-capture pages corpus: ~2.6 captures per url over N_CRAWLS
    weekly crawls (same schema as generate_pages). Distributed generation,
    no driver bottleneck — url index space scales to any n."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [r for i in pdf["id"] for r in recrawl_captures(int(i), seed)]
            yield pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])

    return spark.range(n).repartition(n_partitions).mapInPandas(gen, PAGES_SCHEMA)


def replay_recrawl_captures(n: int, seed: int = 42) -> List[Tuple[str, str, str, str]]:
    """(url, ts 'yyyy-MM-dd HH:mm:ss', md5(text), lang) for every capture —
    the oracle-side input relation for the temporal mirrors."""
    import hashlib

    out: List[Tuple[str, str, str, str]] = []
    for i in range(n):
        for row in recrawl_captures(i, seed):
            out.append(
                (
                    row["url"],
                    row["warc_ts"].strftime("%Y-%m-%d %H:%M:%S"),
                    hashlib.md5(row["text"].encode("utf-8")).hexdigest(),
                    row["lang"],
                )
            )
    return out


#: Deterministic pages whose mention surfaces are NOT generator aliases —
#: they exercise the scored-linking + co-reference-CC canonicalization path
#: (SURVEY §7.6): 'AcmeCorpX' fuzzy-links to the dictionary (bigram Jaccard
#: 7/8 vs 'acmecorp'), while 'Quixote'/'Quixotec' match no dictionary entry
#: but are near-identical to each other (6/7), so only a co-reference CC
#: edge can put them in one cluster.
TYPO_SENTENCES = [
    "AcmeCorpX wanted to acquire Zorin.",
    "Quixote wanted to acquire Bolt.",
    "Quixotec wanted to acquire Hooli.",
]


def typo_pages(spark: SparkSession) -> DataFrame:
    """One tiny page per TYPO_SENTENCES entry (url namespace 'typo' — never
    collides with generate_pages urls). Deterministic literal frame; unioned
    onto the generated corpus by the canonicalization contract query."""
    rows = []
    for i, sentence in enumerate(TYPO_SENTENCES):
        html = _gen_html(i, random.Random(f"typo:{i}"), [sentence])
        _, text = extract_text_pure(html)
        rows.append(
            (
                f"https://synth.test/typo/{i}",
                _EPOCH + timedelta(days=7, seconds=i),
                html.encode("utf-8"),
                text,
                "en",
            )
        )
    return local_frame(spark, rows, PAGES_SCHEMA)


def alias_table(spark: SparkSession) -> DataFrame:
    """Broadcast-sized alias dictionary: surface_norm -> canonical entity."""
    rows = [
        (surface.lower(), canonical)
        for canonical, surfaces in ENTITY_ALIASES.items()
        for surface in surfaces
    ]
    return local_frame(spark, rows, "surface_norm string, canonical string")
