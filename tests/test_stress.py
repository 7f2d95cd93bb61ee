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


def test_stage_rows_name_the_query_of_each_stage():
    from tools.stress import stage_rows

    rest = [
        {"stageId": 0, "name": "count at NativeMethodAccessorImpl.java:0\nline 2",
         "numCompleteTasks": 64},
        {"stageId": 3, "name": "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768",
         "numCompleteTasks": 4, "shuffleReadBytes": 2_500_000, "shuffleWriteBytes": 1_000_000,
         "memoryBytesSpilled": 0, "diskBytesSpilled": 0, "executorRunTime": 1500},
        {"stageId": 5, "name": "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768",
         "numCompleteTasks": 2, "inputBytes": 3_000_000},
    ]
    rows = stage_rows(rest, {3: "token_count", 5: "exact_dedup"})
    assert [(r["stage"], r["query"]) for r in rows] == [
        (0, None), (3, "token_count"), (5, "exact_dedup")
    ]
    assert rows[0]["name"] == "count at NativeMethodAccessorImpl.java:0"
    assert rows[1]["shuffle_read_mb"] == 2.5 and rows[1]["shuffle_write_mb"] == 1.0
    assert rows[1]["runtime_s"] == 1.5 and rows[2]["input_mb"] == 3.0
    assert rows[2]["shuffle_read_mb"] == 0.0 and rows[2]["tasks"] == 2
