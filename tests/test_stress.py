"""tools/stress.py runs registry queries by name: each reported count is
the build function's own count, and a table the directory lacks is named."""

import pytest

SF = "/root/testdata/sf0.001"


def test_run_counts_match_build_counts(spark):
    import __spark_entry__ as em
    from tools.stress import run

    names = ["token_count", "exact_dedup"]
    report = run(spark, SF, names)
    assert list(report["queries"]) == names
    builds = {q.name: q.build for q in em.REGISTRY}
    for name in names:
        got = report["queries"][name]
        assert got["rows"] == builds[name](spark, SF).count()
        assert got["jobs"] >= 1 and got["stages"] >= got["jobs"]


def test_missing_table_is_named(spark, tmp_path):
    from tools.stress import MissingTable, run

    with pytest.raises(MissingTable, match="'documents'"):
        run(spark, str(tmp_path), ["token_count"])
