"""The query contract is pinned to ``tests/goldens/contract.json``.

The golden holds, in order, the names of ``queries()`` and
``extra_queries()``, each name's build function, and the sha256 of each
``oracle_sql()`` string. So a changed character in one oracle, a row moved
across the 50-row export cap, or a name bound to another build function fails
here. A change made on purpose re-records the golden:

  python tests/test_contract_golden.py --write
"""

import hashlib
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLDEN = os.path.join(ROOT, "tests", "goldens", "contract.json")


def contract() -> dict[str, list[dict[str, str]]]:
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import __spark_entry__ as em

    oracles = em.oracle_sql()

    def rows(qs):
        return [
            {
                "name": name,
                "build": fn.__name__,
                "oracle_sha256": hashlib.sha256(oracles[name].encode()).hexdigest(),
            }
            for name, fn in qs.items()
        ]

    return {"queries": rows(em.queries()), "extra_queries": rows(em.extra_queries())}


def test_contract_matches_golden():
    with open(GOLDEN) as f:
        golden = json.load(f)
    got = contract()
    for part in ("queries", "extra_queries"):
        assert [r["name"] for r in got[part]] == [r["name"] for r in golden[part]], part
        assert got[part] == golden[part], part


def test_import_builds_no_sql():
    """Importing the entry module imports no library module, so it builds
    no oracle SQL: every oracle is built when ``oracle_sql()`` runs."""
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "import sys, __spark_entry__; "
            "print(sorted(m for m in sys.modules if m.startswith('posextract_spark')))",
        ],
        cwd=ROOT,
        capture_output=True,
        text=True,
        check=True,
    )
    assert out.stdout.strip() == "[]"


if __name__ == "__main__":
    if sys.argv[1:] != ["--write"]:
        sys.exit("usage: python tests/test_contract_golden.py --write")
    parts = contract()
    with open(GOLDEN, "w") as f:
        f.write("{\n")
        for i, part in enumerate(("queries", "extra_queries")):
            lines = ",\n".join("  " + json.dumps(r) for r in parts[part])
            f.write(f' "{part}": [\n{lines}\n ]' + (",\n" if i == 0 else "\n"))
        f.write("}\n")
