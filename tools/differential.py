"""Differential P/R harness: OUR kernel vs THE REFERENCE CODE, same trees.

Loads the reference package from /root/reference/src through the spaCy shim
(tools/spacy_shim.py), patched ONLY for its documented one-space
indentation defect (grammatical_triples.py:85-96 — SURVEY.md §0.1.1; the
canonical dedent that re-enables the 'with' prep-phrase rule). Runs
reference ``extract_one`` and our ``extract_triples_one`` on identical
token arrays and set-compares (subject, verb, object) per sentence.

This is the evidence for the BASELINE.json correctness metric
(triple P/R >= 0.95 vs reference): same parse in, same triples out.

Usage: python tools/differential.py          # fixtures + svo corpus
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys
import types

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import spacy_shim  # noqa: E402

REF_SRC = "/root/reference/src/posextract"


def _load_patched_reference():
    spacy_shim.install()

    pkg = types.ModuleType("posextract")
    pkg.__path__ = [REF_SRC]
    sys.modules["posextract"] = pkg

    def load(modname: str, relpath: str, patch=None):
        path = f"{REF_SRC}/{relpath}"
        with open(path) as f:
            src = f.read()
        if patch:
            src = patch(src)
        spec = importlib.util.spec_from_loader(modname, loader=None, origin=path)
        mod = importlib.util.module_from_spec(spec)
        mod.__file__ = path
        sys.modules[modname] = mod
        code = compile(src, path, "exec")
        exec(code, mod.__dict__)
        return mod

    def dedent_patch(src: str) -> str:
        # grammatical_triples.py lines 85-96 carry one extra leading space.
        lines = src.split("\n")
        for idx in range(84, 96):  # 0-based for 1-based 85..96
            if lines[idx].startswith(" "):
                lines[idx] = lines[idx][1:]
        return "\n".join(lines)

    load("posextract.verb_phrase", "verb_phrase.py")
    load("posextract.util", "util.py")
    load("posextract.triple_extraction", "triple_extraction.py")
    load("posextract.rules", "rules.py")
    sys.modules["posextract"].rules = sys.modules["posextract.rules"]
    posrule_pkg = load("posextract.posrule", "posrule/__init__.py")
    posrule_pkg.__path__ = [f"{REF_SRC}/posrule"]
    load("posextract.posrule.grammar", "posrule/grammar.py")
    load("posextract.posrule.parser", "posrule/parser.py")
    load("posextract.traversal", "traversal.py")
    gt = load("posextract.grammatical_triples", "grammatical_triples.py", patch=dedent_patch)
    anp = load("posextract.adj_noun_pairs", "adj_noun_pairs.py")
    svp = load("posextract.subj_verb_pairs", "subj_verb_pairs.py")
    return gt, anp, svp


def reference_triples(gt, rows, options=None):
    """Run reference extract_one on a token-array sentence."""
    doc = spacy_shim.ShimDoc(rows)
    flats = gt.extract_one(doc, options, flatten=True)
    return flats


def our_triples(rows, options=None):
    from posextract_spark.kernel.extract import extract_triples_one
    from posextract_spark.kernel.model import Sentence

    return extract_triples_one(Sentence.from_rows(rows), options=options)


def tokens_of(sent):
    return [
        {"i": t.i, "text": t.text, "lemma": t.lemma_, "pos": t.pos, "dep": t.dep, "head": t.head_i}
        for t in sent
    ]


def pairs_differential(anp, svp, corpora) -> dict:
    """Reference adj_noun_pairs.rule / subj_verb_pairs.rule vs our kernel
    pairs extractors on identical trees — EXACT sequence comparison (same
    pairs, same emission order, every field). The reference subj-verb rule
    raises UnboundLocalError when the first verb of a doc has no subject
    (SURVEY.md §0.1.3; we define crash -> skip); crashing sentences are
    counted and excluded from the parity stats."""
    from posextract_spark.kernel.model import Sentence
    from posextract_spark.kernel.pairs import adj_noun_pairs_arrays, subj_verb_pairs_arrays

    out = {}
    for label, ref_rule, ours_fn, fields, may_crash in (
        ("adj_noun_pairs", anp.rule, adj_noun_pairs_arrays,
         ("verb_neg", "neg_det", "adjective", "noun"), False),
        ("subj_verb_pairs", svp.rule, subj_verb_pairs_arrays,
         ("subject", "verb_neg", "verb"), True),
    ):
        exact = total = crashes = 0
        mism = 0
        for _, sents in corpora:
            for rows in sents:
                ours = [tuple(d[f] for f in fields)
                        for d in ours_fn(Sentence.from_rows(rows).arrays())]
                try:
                    ref = [tuple(p) for p in ref_rule(spacy_shim.ShimDoc(rows))]
                except (UnboundLocalError, AttributeError):
                    # subj-verb ONLY: a verb without its own subject makes
                    # the reference raise (first verb: UnboundLocalError;
                    # later verbs: str.text AttributeError on the
                    # stringified stale subject). Defined divergence: our
                    # kernel skips that verb. adj-noun has no legitimate
                    # crash class, so a crash there is a harness failure.
                    if not may_crash:
                        raise
                    crashes += 1
                    continue
                total += 1
                if ref == ours:
                    exact += 1
                else:
                    mism += 1
        out[label] = {
            "sentences": total,
            "exact_sentence_match": f"{exact}/{total}",
            "mismatches": mism,
            "reference_crashes_skipped": crashes,
            # total > 0 keeps the gate non-vacuous if a loader/shim
            # regression ever makes EVERY sentence "crash"
            "pass": mism == 0 and total > 0,
        }
    return out


def build_corpora():
    """[(name, [token rows per sentence])] of the three differential
    corpora: fixture sentences, generated pages, svo-parsed documents."""
    # corpus 1: golden fixture sentences (template parses)
    from posextract_spark.parse.template import TemplateParser
    from posextract_spark.parse.svo import SVOChunkParser

    tp = TemplateParser()
    fixture_sentences = [
        "Acme acquired Zorin.",
        "Acme did not acquire Zorin.",
        "Acme invested in Zorin.",
        "Acme was profitable.",
        "Acme was very profitable.",
        "Acme acquired factories, and mines, and railways.",
        "Acme bought mines and sold railways.",
        "The tycoon who owned Acme retired.",
        "Acme wanted to acquire Zorin.",
        "Acme said Zorin acquired Initech.",
        "Zorin Holdings gave up the lawsuit.",
    ]
    corpora = [("fixtures", [tokens_of(s) for s in tp.parse_lazy_batch(fixture_sentences)])]

    # corpus 2: synthetic pages sentences (all template shapes, many fills)
    from posextract_spark.sources.pages import gen_page
    import re as _re

    page_sents = []
    for i in range(100):
        page = gen_page(i, seed=13)
        if page["lang"] != "en":
            continue
        for raw in _re.split(r"\.|\n", page["text"]):
            if raw and len(raw.split()) >= 5:
                page_sents.append(tokens_of(tp.parse_lazy_batch([raw.strip() + "."])[0]))
    corpora.append(("pages", page_sents))

    # corpus 3: svo-parsed documents corpus
    import duckdb

    svo = SVOChunkParser()
    texts = [
        r[0]
        for r in duckdb.sql(
            "select text from '/root/testdata/sf0.001/documents.parquet'"
        ).fetchall()
    ]
    corpora.append(("svo_docs", [tokens_of(s) for s in svo.parse_lazy_batch(texts)]))
    return corpora


def main() -> int:
    gt, anp, svp = _load_patched_reference()
    corpora = build_corpora()

    report = {}
    worst = 1.0
    for name, sents in corpora:
        tp_count = fp = fn = 0
        exact_rows = total_rows = 0
        for rows in sents:
            ref = {
                (f.subject, f.verb, f.object) for f in reference_triples(gt, rows)
            }
            ours_flat = our_triples(rows)
            ours = {(f["subject"], f["verb"], f["object"]) for f in ours_flat}
            tp_count += len(ref & ours)
            fp += len(ours - ref)
            fn += len(ref - ours)
            # full-row exactness (field-by-field, order-insensitive)
            ref_rows = sorted(
                tuple(sorted((k, v) for k, v in f.__dict__.items()))
                for f in reference_triples(gt, rows)
            )
            our_rows = sorted(
                tuple(sorted((k, v) for k, v in f.items() if not k.endswith("_token_text")))
                for f in ours_flat
            )
            total_rows += len(ref_rows)
            exact_rows += sum(1 for a, b in zip(ref_rows, our_rows) if a == b)
        precision = tp_count / (tp_count + fp) if (tp_count + fp) else 1.0
        recall = tp_count / (tp_count + fn) if (tp_count + fn) else 1.0
        report[name] = {
            "sentences": len(sents),
            "ref_triples": tp_count + fn,
            "our_triples": tp_count + fp,
            "precision": round(precision, 4),
            "recall": round(recall, 4),
            "exact_row_match": f"{exact_rows}/{total_rows}",
        }
        worst = min(worst, precision, recall)

    pairs_report = pairs_differential(anp, svp, corpora)
    report.update(pairs_report)
    pairs_ok = all(v["pass"] for v in pairs_report.values())

    report["gate"] = {
        "threshold": 0.95,
        "worst": round(worst, 4),
        "pairs_exact": pairs_ok,
        "pass": worst >= 0.95 and pairs_ok,
    }
    print(json.dumps(report, indent=2))
    return 0 if (worst >= 0.95 and pairs_ok) else 1


if __name__ == "__main__":
    sys.exit(main())
