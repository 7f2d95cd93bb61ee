"""Golden kernel outputs: the reference-free half of the differential gate.

``tests/goldens/kernel.jsonl`` records the kernel's outputs on the trees
tools/differential.py compares against the reference (fixtures, pages,
svo_docs: triples and both pair extractors) and on a fixed seed slice of
tools/fuzz_differential.py's random trees (triples, all six option sets).
Line 1 is a header (provenance, field order, a digest of each corpus's
input trees); every other line is ``[corpus, kind, index, rows]``, and
an entry with no rows is left out.

Provenance: the kernel is unchanged since its last exact differential
against the reference (P=R=1.0, 2218/2218 rows, commit b816b0f,
DIFFERENTIAL.md), so on the three corpora these triples are the reference's
output on the same trees, and so are the pairs wherever the reference's
pair rules do not crash (DIFFERENTIAL.md, round 2: its subj-verb rule
raises on a verb without its own subject; the kernel skips that verb). On
the fuzz slice the triples are one of the reference's
possible outputs (its own set order picks among same-key duplicates;
DIFFERENTIAL.md, fuzz section: these are the 2,000 trees of its recorded
run).

Usage:
  python tools/kernel_goldens.py           # compare; exit 1 on a mismatch
  python tools/kernel_goldens.py --write   # re-record; only after the live
                                           # differential passes
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import sys
from typing import Dict, List, Tuple

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from posextract_spark.kernel.extract import extract_triples_one  # noqa: E402
from posextract_spark.kernel.model import Sentence  # noqa: E402
from posextract_spark.kernel.pairs import (  # noqa: E402
    adj_noun_pairs_arrays,
    subj_verb_pairs_arrays,
)
from posextract_spark.operators.pairs import ADJ_NOUN_FIELDS, SUBJ_VERB_FIELDS  # noqa: E402
from posextract_spark.operators.triples import OUTPUT_STRING_FIELDS  # noqa: E402
from posextract_spark.options import TripleExtractorOptions  # noqa: E402

GOLDEN_PATH = os.path.join(REPO, "tests", "goldens", "kernel.jsonl")
PROVENANCE = (
    "kernel outputs recorded with tools/kernel_goldens.py --write; the kernel is unchanged "
    "since its last exact differential against the reference (P=R=1.0, 2218/2218 rows, "
    "commit b816b0f, DIFFERENTIAL.md), so on fixtures/pages/svo_docs these triples are the "
    "reference's outputs on the same trees, and the pairs are too wherever the reference's "
    "pair rules do not crash (DIFFERENTIAL.md round 2); on the fuzz trees the triples are one "
    "of the reference's possible outputs (its set order picks among same-key duplicates)"
)
FUZZ_SEED = 1234
FUZZ_TREES = 2000
PAIR_FIELDS = {"adj_noun_pairs": ADJ_NOUN_FIELDS, "subj_verb_pairs": SUBJ_VERB_FIELDS}
_PAIRS = (
    ("adj_noun_pairs", adj_noun_pairs_arrays),
    ("subj_verb_pairs", subj_verb_pairs_arrays),
)


def fuzz_trees(n: int = FUZZ_TREES, seed: int = FUZZ_SEED) -> List[List[dict]]:
    """The first ``n`` trees tools/fuzz_differential.py draws from ``seed``."""
    from tools.fuzz_differential import random_tree

    rng = random.Random(seed)
    return [random_tree(rng) for _ in range(n)]


def _digest(trees) -> str:
    return hashlib.sha256(json.dumps(trees, sort_keys=True).encode()).hexdigest()[:16]


def _triples(rows, options=None) -> List[List[str]]:
    flats = extract_triples_one(Sentence.from_rows(rows), options=options)
    return [[f[k] for k in OUTPUT_STRING_FIELDS] for f in flats]


def corpus_outputs(corpora) -> Tuple[Dict[str, str], Dict[Tuple[str, str, int], list]]:
    """({corpus: input digest}, {(corpus, kind, index): rows}) of the
    kernel on ``corpora`` (tools/differential.build_corpora); the pair
    extractors read each tree's parse arrays."""
    digests, out = {}, {}
    for name, sents in corpora:
        digests[name] = _digest(sents)
        for k, rows in enumerate(sents):
            out[(name, "triples", k)] = _triples(rows)
            arrays = Sentence.from_rows(rows).arrays()
            for kind, extract in _PAIRS:
                fields = PAIR_FIELDS[kind]
                out[(name, kind, k)] = [[p[f] for f in fields] for p in extract(arrays)]
    return digests, out


def fuzz_outputs(trees) -> Tuple[Dict[str, str], Dict[Tuple[str, str, int], list]]:
    """The same for the fuzz ``trees``: triples under every option set of
    tools/fuzz_differential.py, index ``tree * 6 + option set``."""
    from tools.fuzz_differential import OPTION_SETS

    out = {}
    for t, rows in enumerate(trees):
        for o, opts in enumerate(OPTION_SETS):
            out[("fuzz", "triples", t * len(OPTION_SETS) + o)] = _triples(
                rows, TripleExtractorOptions(**opts)
            )
    return {"fuzz": _digest(trees)}, out


def _all_outputs():
    from tools.differential import build_corpora

    digests, out = corpus_outputs(build_corpora())
    fuzz_digests, fuzz = fuzz_outputs(fuzz_trees())
    return {**digests, **fuzz_digests}, {**out, **fuzz}


def load(path: str = GOLDEN_PATH):
    """(header, {(corpus, kind, index): rows}) of the golden file."""
    with open(path) as f:
        header = json.loads(f.readline())
        rows = {}
        for line in f:
            corpus, kind, index, value = json.loads(line)
            rows[(corpus, kind, index)] = value
    return header, rows


def write(path: str = GOLDEN_PATH) -> None:
    digests, out = _all_outputs()
    header = {
        "provenance": PROVENANCE,
        "triple_fields": list(OUTPUT_STRING_FIELDS),
        "pair_fields": {k: list(v) for k, v in PAIR_FIELDS.items()},
        "fuzz": {"seed": FUZZ_SEED, "trees": FUZZ_TREES, "index": "tree * 6 + option set"},
        "input_digests": digests,
    }
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(json.dumps(header) + "\n")
        for (corpus, kind, index), value in out.items():
            if value:
                f.write(json.dumps([corpus, kind, index, value]) + "\n")


def mismatches(golden, current, limit: int = 5) -> List[str]:
    """Differences between the golden file and ``current`` (the outputs of
    corpus_outputs / fuzz_outputs) on the corpora ``current`` covers: the
    first ``limit``, plus a count. An input digest that moved is reported
    first: then the trees changed, not the kernel."""
    header, want = golden
    digests, got = current
    want = {key: v for key, v in want.items() if key[0] in digests}
    errors = [
        f"input trees of {name} changed: {header['input_digests'].get(name)} != {d}"
        for name, d in digests.items()
        if header["input_digests"].get(name) != d
    ]
    bad = [key for key in sorted(set(want) | set(got)) if want.get(key, []) != got.get(key, [])]
    errors += [
        f"{c} {k} #{i}: golden {want.get((c, k, i), [])} != kernel {got.get((c, k, i), [])}"
        for c, k, i in bad[:limit]
    ]
    if len(bad) > limit:
        errors.append(f"... {len(bad)} mismatched entries in all")
    return errors


def main(argv: List[str]) -> int:
    if "--write" in argv:
        write()
        print(f"wrote {GOLDEN_PATH}")
        return 0
    errors = mismatches(load(), _all_outputs())
    print(json.dumps({"mismatches": errors, "pass": not errors}, indent=2))
    return 0 if not errors else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
