"""Differential fuzzing: random dependency trees through BOTH kernels.

Generates random well-formed parse trees (acyclic: head[i] < i, token 0 is
ROOT) over the full POS/dep vocabulary, with special-path trigger words
('which', 'who', 'not', 'of', 'to', 'with', 'failed', 'no', 'very'), runs
the patched reference (tools/differential.py loader) and our kernel on the
same tree across option combinations, and compares triples.

Gate: multiset equality of the per-triple dedup keys — lower-cased TOKEN
texts of (subject, verb, object), i.e. exactly the key the reference
de-duplicates on (reference: triple_extraction.py:101-103). The reference's
own output below that level is run-dependent: ``list(set(...))``
(traversal.py:50-51) decides *which* same-key duplicate survives first-wins
dedup and which group member combine-adj keeps, and lemmatize/compound
assembly then surface the chosen token's lemma. Our engine deterministically
emits one of the reference's possible outputs (canonical token-index
order). Flattened-string equality is tracked as a statistic: it holds in
the overwhelming majority of cases and exactly (2218/2218) on all realistic
corpora (DIFFERENTIAL.md).

Our kernel must never raise; reference crashes (e.g. the latent rule9
poa-None AttributeError, SURVEY.md T14) are counted and skipped.
"""

from __future__ import annotations

import json
import os
import random
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

POS_VOCAB = [
    "NOUN", "NOUN", "NOUN", "PROPN", "PRON", "VERB", "VERB", "AUX", "ADJ",
    "ADV", "ADP", "PART", "DET", "SCONJ", "CCONJ", "PUNCT",
]
DEP_VOCAB = [
    "nsubj", "nsubjpass", "dobj", "pobj", "acomp", "amod", "advmod", "attr",
    "dative", "prep", "agent", "det", "nmod", "neg", "aux", "conj", "cc",
    "ccomp", "xcomp", "pcomp", "advcl", "relcl", "acl", "csubj", "csubjpass",
    "compound", "prt", "punct", "dep", "mark",
]
WORDS = [
    "alpha", "beta", "gamma", "delta", "omega", "which", "who", "not", "of",
    "to", "with", "failed", "no", "never", "very", "much", "item", "thing",
]


def random_tree(rng: random.Random):
    n = rng.randint(2, 12)
    rows = []
    for i in range(n):
        if i == 0:
            head, dep = 0, "ROOT"
        else:
            head, dep = rng.randrange(i), rng.choice(DEP_VOCAB)
        word = rng.choice(WORDS)
        rows.append(
            {
                "i": i,
                "text": word,
                "lemma": word + "_l" if rng.random() < 0.5 else word,
                "pos": rng.choice(POS_VOCAB),
                "dep": dep,
                "head": head,
            }
        )
    return rows


OPTION_SETS = [
    {},
    {"combine_adj": True},
    {"prep_phrase": True},
    {"add_auxiliary": True},
    {"lemmatize": True},
    {"compound_subject": False, "compound_object": False},
]


_SINGLE_MODE_SRC = r"""
import json, sys
from tools.differential import _load_patched_reference
from tools import spacy_shim
payload = json.loads(sys.stdin.read())
gt, _anp, _svp = _load_patched_reference()
opts = gt.TripleExtractorOptions(**payload["opts"])
triples = gt.extract_one(spacy_shim.ShimDoc(payload["tree"]), opts, flatten=False)
keys = sorted(
    (t.subject.text.lower(), t.verb.text.lower(), t.object.text.lower()) for t in triples
)
print(json.dumps(keys))
"""


def _matches_any_hashseed(rows, opts, our_svo, seeds=(0, 1, 2, 3, 4, 5, 6, 7)) -> bool:
    import subprocess

    payload = json.dumps({"tree": rows, "opts": opts})
    for hs in seeds:
        env = dict(os.environ, PYTHONHASHSEED=str(hs))
        res = subprocess.run(
            [sys.executable, "-c", _SINGLE_MODE_SRC],
            input=payload, capture_output=True, text=True, env=env, timeout=120,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        if res.returncode != 0:
            continue
        ref_keys = [tuple(k) for k in json.loads(res.stdout.strip())]
        if sorted(ref_keys) == our_svo:
            return True
    return False


def run(n_trees: int = 400, seed: int = 1234) -> dict:
    from tools.differential import _load_patched_reference, reference_triples
    from posextract_spark.kernel.extract import extract_triples_one
    from posextract_spark.kernel.model import Sentence
    from posextract_spark.options import TripleExtractorOptions

    gt, _anp, _svp = _load_patched_reference()
    rng = random.Random(seed)

    stats = Counter()
    mismatches = []
    for t in range(n_trees):
        rows = random_tree(rng)
        for opts in OPTION_SETS:
            ref_opts = gt.TripleExtractorOptions(**opts)
            our_opts = TripleExtractorOptions(**opts)

            try:
                ref = reference_triples(gt, rows, ref_opts)
                ref_unflat = gt.extract_one(
                    __import__("tools.spacy_shim", fromlist=["ShimDoc"]).ShimDoc(rows),
                    ref_opts,
                    flatten=False,
                )
            except Exception as e:  # latent reference crash paths
                stats[f"ref_crash:{type(e).__name__}"] += 1
                continue

            sent = Sentence.from_rows(rows)
            ours = extract_triples_one(sent, options=our_opts)
            ours_unflat = extract_triples_one(sent, options=our_opts, flatten=False)

            ref_svo = sorted(
                (t.subject.text.lower(), t.verb.text.lower(), t.object.text.lower())
                for t in ref_unflat
            )
            our_svo = sorted(
                (t.subject.text.lower(), t.verb.text.lower(), t.object.text.lower())
                for t in ours_unflat
            )
            if ref_svo != our_svo:
                # The reference's output is PYTHONHASHSEED-dependent where
                # set() ordering picks which group member survives
                # (combine-adj no-main groups, same-key dedup). Accept when
                # ours equals the reference's output under ANY hash seed —
                # i.e. ours is one of the reference's possible outputs.
                if _matches_any_hashseed(rows, opts, our_svo):
                    stats["svo_match_mod_hashseed"] += 1
                else:
                    stats["svo_mismatch"] += 1
                    if len(mismatches) < 5:
                        mismatches.append(
                            {"tree": rows, "opts": opts, "ref": ref_svo, "ours": our_svo}
                        )
            else:
                stats["svo_match"] += 1

            ref_rows = sorted(
                tuple(sorted(f.__dict__.items())) for f in ref
            )
            our_rows = sorted(
                tuple(sorted((k, v) for k, v in f.items() if not k.endswith("_token_text")))
                for f in ours
            )
            stats["rows_match" if ref_rows == our_rows else "rows_differ"] += 1

    report = {
        "trees": n_trees,
        "comparisons": stats["svo_match"]
        + stats["svo_match_mod_hashseed"]
        + stats["svo_mismatch"],
        "stats": dict(stats),
        "mismatch_examples": mismatches,
        "pass": stats["svo_mismatch"] == 0,
    }
    return report


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 400
    report = run(n)
    examples = report.pop("mismatch_examples")
    print(json.dumps(report, indent=2))
    for ex in examples:
        print(json.dumps(ex))
    sys.exit(0 if report["pass"] else 1)
