"""Expected outputs, computed without Spark from the generated inputs.

kg_html: a plain-Python replay of text -> sentence split -> triples -> exact
alias link -> edge/node aggregation. The text is the one the generator built
from each page's sentences (``inputs.kg_html_pages``), not the library's html
extractor's output. Triples come from the library's closed-form template
table (``oracles.triples_for_sentence``, which the library's tests pin
against the kernel).

curation_docs: the library's DuckDB mirrors of each stage, run over the
same rows as the Spark chain. Near-duplicate survivors (traced run only):
the DuckDB mirror of the LSH band pairs, closed under union-find here.

Each function returns {output name: rows}; ``digests`` reduces them to
order-independent digests.
"""

from __future__ import annotations

import hashlib
import re
from collections import defaultdict
from typing import Dict, List

from inputs import digest_rows

N_BUCKETS = 16  # pipeline.kg_from_pages default
MAX_SOURCES = 8  # operators.graph.MAX_SOURCES
_SEG_RE = re.compile(r"\.|\n")


def _hash64(s: str) -> int:
    """functions.hashing.portable_hash64 in plain Python."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def split_sentences(text: str) -> List[str]:
    """operators.sentences.split_sentences(remove_quotes=False), per page."""
    out = []
    for s in _SEG_RE.split(text):
        if (
            s
            and len([w for w in s.split(" ") if w]) >= 5
            and not s.endswith(":")
            and not s.startswith(",")
            and not s.endswith(",")
            and len(s) <= 8192
        ):
            out.append(s.strip(" ") + ".")
    return out


def digests(outputs: Dict[str, list]) -> Dict[str, str]:
    return {name: digest_rows(rows) for name, rows in outputs.items()}


def kg_html(pages: List[dict], aliases: Dict[str, str]) -> Dict[str, list]:
    """The pipeline re-extracts text from the html; the generator stamped
    the expected text in the ``text`` column."""
    from posextract_spark.oracles import triples_for_sentence

    edges = defaultdict(lambda: [0, set()])
    nodes = defaultdict(lambda: [0, set()])
    for page in pages:
        if page["lang"] != "en":
            continue
        for sentence in split_sentences(page["text"]):
            for subj, verb, obj in triples_for_sentence(sentence):
                ids = []
                for surface in (subj, obj):
                    norm = surface.strip(" ").lower()
                    canonical = aliases.get(norm, norm)
                    eid = _hash64(canonical)
                    node = nodes[(eid, canonical)]
                    node[0] += 1
                    node[1].add(surface)
                    ids.append(eid)
                edge = edges[(ids[0], verb, ids[1])]
                edge[0] += 1
                edge[1].add(page["url"])
    return {
        "edges": [
            (src, pred, dst, w, tuple(sorted(urls)[:MAX_SOURCES]), src % N_BUCKETS)
            for (src, pred, dst), (w, urls) in edges.items()
        ],
        "nodes": [
            (eid, canon, tuple(sorted(surfs)[:MAX_SOURCES]), n, eid % N_BUCKETS)
            for (eid, canon), (n, surfs) in nodes.items()
        ],
    }


def kg_html_counts(pages: List[dict]) -> Dict[str, int]:
    """Sentence and triple rows the traced prefixes must observe."""
    from posextract_spark.oracles import triples_for_sentence

    sentences = [
        s for page in pages if page["lang"] == "en" for s in split_sentences(page["text"])
    ]
    return {
        "sentences.rows": len(sentences),
        "triples.rows": sum(len(triples_for_sentence(s)) for s in sentences),
    }


def dedup_survivors(docs) -> List[tuple]:
    """(doc_id, cluster_id, is_survivor) of ``minhash_dedup_survivors``:
    a cluster is a connected component of the band-pair graph and its id
    is its smallest doc id."""
    import duckdb

    from posextract_spark.operators.dedup import band_pairs_ctes

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        con.register("documents", docs)
        pairs = con.execute("WITH " + band_pairs_ctes("documents") + " SELECT id_a, id_b FROM pairs").fetchall()
    finally:
        con.close()
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    rows = []
    for doc_id in docs.column("doc_id").to_pylist():
        cluster = find(doc_id)
        rows.append((doc_id, cluster, int(cluster == doc_id)))
    return rows


def curation_docs(docs, eval_docs) -> Dict[str, list]:
    """``docs``/``eval_docs`` as pyarrow Tables."""
    import duckdb

    from posextract_spark.operators.classifier import quality_classifier_scores_sql
    from posextract_spark.operators.mldata import contaminated_token_fraction_ctes
    from posextract_spark.operators.textops import CORPUS_QUALITY_FILTER_SQL

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        con.register("documents", docs)
        con.register("evalset", eval_docs)
        con.execute(
            "CREATE TEMP TABLE kept AS SELECT d.* FROM documents d "
            f"JOIN ({CORPUS_QUALITY_FILTER_SQL}) f USING (doc_id) WHERE f.keep = 1"
        )
        scores = con.execute(
            f"SELECT doc_id, n_tokens, score_e6, pred_keep FROM ({quality_classifier_scores_sql('documents')})"
        ).fetchall()
        contam = con.execute(
            "WITH "
            + contaminated_token_fraction_ctes("kept", "evalset", 1)
            + "\nSELECT doc_id, n_words, covered_tokens, frac_e6 FROM ctf_hits"
        ).fetchall()
    finally:
        con.close()
    return {"scores": scores, "contam": contam}
