"""Every git-tracked Python file compiles with warnings as errors.

Compiling (not importing) surfaces what the compiler warns about, such as
an invalid escape sequence in a non-raw string literal, in every script,
tool and test of the checkout, imported or not."""

import os
import subprocess
import warnings

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tracked_python_files():
    try:
        out = subprocess.run(
            ["git", "ls-files", "-z", "--", "*.py"],
            cwd=ROOT,
            capture_output=True,
            check=True,
        ).stdout
    except (OSError, subprocess.CalledProcessError) as e:
        pytest.skip(f"not a git checkout: {e}")
    return [p for p in out.decode().split("\0") if p]


def test_tracked_python_compiles_without_warnings():
    files = _tracked_python_files()
    assert files
    failures = []
    for rel in files:
        with open(os.path.join(ROOT, rel), "rb") as f:
            source = f.read()
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            try:
                compile(source, rel, "exec", dont_inherit=True)
            except (SyntaxError, Warning) as e:
                failures.append(f"{rel}: {e!r}")
    assert not failures, "\n".join(failures)
