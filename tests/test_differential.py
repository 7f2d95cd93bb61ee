"""Differential gate: our kernel vs the reference's outputs.

Every run compares the kernel with its committed goldens
(tests/goldens/kernel.jsonl, tools/kernel_goldens.py): its triples and
both pair extractors' output on the three differential corpora, recorded
while the kernel was exactly equal to the reference (P=R=1.0, 2218/2218
rows, DIFFERENTIAL.md). The live gate additionally runs the reference's
extract_one — loaded from the reference checkout through the pure-python
spaCy shim, dedent-patched per SURVEY.md §0.1.1 — on the same token trees
and requires P/R >= 0.95 plus exact pairs (tools/differential.py); it
skips when that checkout is absent.
"""

import os
import subprocess
import sys

import pytest

from posextract_spark.kernel import traversal
from tools import differential, kernel_goldens

REFERENCE = os.path.dirname(differential.REF_SRC)


@pytest.fixture(scope="module")
def golden():
    return kernel_goldens.load()


@pytest.fixture(scope="module")
def corpora():
    return differential.build_corpora()


def test_kernel_matches_goldens(golden, corpora):
    assert [name for name, _ in corpora] == ["fixtures", "pages", "svo_docs"]
    errors = kernel_goldens.mismatches(golden, kernel_goldens.corpus_outputs(corpora))
    assert not errors, "\n".join(errors)


def test_goldens_catch_a_broken_rule(golden, corpora, monkeypatch):
    """The golden comparison is not vacuous: with rule2 (the main-clause
    rule) admitting nothing, the kernel no longer matches."""
    rules = list(traversal._RULES)
    rules[1] = (lambda verb, subject, obj, poa: False, rules[1][1])
    monkeypatch.setattr(traversal, "_RULES", tuple(rules))
    monkeypatch.setattr(traversal, "_GATED_RULES", {})
    errors = kernel_goldens.mismatches(golden, kernel_goldens.corpus_outputs(corpora))
    assert errors and " triples #" in errors[0]


@pytest.mark.skipif(
    not os.path.isdir(REFERENCE), reason=f"reference checkout absent: no {REFERENCE}"
)
def test_differential_pr_gate():
    # run in a subprocess so the spaCy shim never pollutes this interpreter
    res = subprocess.run(
        [sys.executable, differential.__file__],
        capture_output=True,
        text=True,
        timeout=280,
    )
    assert res.returncode == 0, res.stdout + res.stderr
    assert '"pass": true' in res.stdout
