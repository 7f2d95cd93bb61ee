"""Property test: random trees through our kernel vs the reference's outputs.

Every run compares the kernel with its committed goldens on the 2,000
random trees x 6 option sets of the recorded full fuzz run
(tests/goldens/kernel.jsonl, tools/kernel_goldens.py). The live slice runs
both kernels on 150 of those trees and skips when the reference checkout
is absent.

Full run: `python tools/fuzz_differential.py 2000` (12,000 comparisons;
recorded result: 11,999 exact key matches + 1 matched modulo the
reference's PYTHONHASHSEED-dependent combine-adj group choice).
"""

import os
import subprocess
import sys

import pytest

from tools import differential, kernel_goldens

REFERENCE = os.path.dirname(differential.REF_SRC)


def test_fuzz_trees_match_goldens():
    current = kernel_goldens.fuzz_outputs(kernel_goldens.fuzz_trees())
    errors = kernel_goldens.mismatches(kernel_goldens.load(), current)
    assert not errors, "\n".join(errors)


@pytest.mark.skipif(
    not os.path.isdir(REFERENCE), reason=f"reference checkout absent: no {REFERENCE}"
)
def test_fuzz_differential_slice():
    res = subprocess.run(
        [
            sys.executable,
            os.path.join(os.path.dirname(differential.__file__), "fuzz_differential.py"),
            "150",
        ],
        capture_output=True,
        text=True,
        timeout=280,
    )
    assert res.returncode == 0, res.stdout + res.stderr
    assert '"pass": true' in res.stdout
