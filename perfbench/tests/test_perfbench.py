"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import inputs  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
with open(os.path.join(BENCH, "config.json")) as f:
    CFG = json.load(f)


def _kg(seed, n=60):
    pages = inputs.kg_html_pages(seed, n)
    aliases = {"acme": "acme", "acmecorp": "acme", "zorin": "zorin"}
    return pages, oracle.kg_html(pages, aliases)


def _curation(seed, n=120):
    docs, ev = inputs.curation_inputs(seed, n, 0.15, 30, 0.5)
    table = lambda rows: pa.Table.from_pylist(rows, schema=inputs.DOCS_SCHEMA)  # noqa: E731
    return docs, ev, oracle.curation_docs(table(docs), table(ev))


def test_same_seed_same_inputs_and_outputs():
    pages_a, out_a = _kg(5)
    pages_b, out_b = _kg(5)
    assert inputs.input_digest({"p": pages_a}) == inputs.input_digest({"p": pages_b})
    assert oracle.digests(out_a) == oracle.digests(out_b)
    pages_c, out_c = _kg(6)
    assert inputs.input_digest({"p": pages_a}) != inputs.input_digest({"p": pages_c})
    assert oracle.digests(out_a) != oracle.digests(out_c)

    docs_a, ev_a, cur_a = _curation(5)
    docs_b, ev_b, cur_b = _curation(5)
    assert inputs.input_digest({"d": docs_a, "e": ev_a}) == inputs.input_digest({"d": docs_b, "e": ev_b})
    assert oracle.digests(cur_a) == oracle.digests(cur_b)
    assert cur_a["scores"] and cur_a["contam"], "the chain must produce both outputs"


def test_pages_are_the_stock_corpus():
    """The generator replays ``gen_page`` row for row; its sentence-built
    text is what the library's html extractor gives today."""
    from posextract_spark.sources.pages import gen_page

    pages = inputs.kg_html_pages(9, 40)
    assert pages == [gen_page(i, 9) for i in range(40)]


def test_kg_counts_match_outputs():
    pages, out = _kg(4)
    counts = oracle.kg_html_counts(pages)
    assert counts["triples.rows"] == sum(e[3] for e in out["edges"]) > 0
    assert counts["sentences.rows"] > 0


def test_dedup_oracle_matches_library_mirror():
    """Union-find over the band pairs gives the library's recursive-closure
    survivors."""
    import duckdb

    from posextract_spark.operators.dedup import MINHASH_DEDUP_SURVIVORS_SQL

    docs, _, _ = _curation(3, n=150)
    table = pa.Table.from_pylist(docs, schema=inputs.DOCS_SCHEMA)
    con = duckdb.connect()
    con.register("documents", table)
    mirror = con.execute(MINHASH_DEDUP_SURVIVORS_SQL).fetchall()
    ours = oracle.dedup_survivors(table)
    assert sorted(ours) == sorted(mirror)
    assert sum(r[2] for r in ours) < len(ours), "the docs must hold near-duplicates"


def test_digest_ignores_row_order():
    rows = [(1, "a", (2, 3)), (0, "b", ())]
    assert inputs.digest_rows(rows) == inputs.digest_rows(list(reversed(rows)))


def test_result_line_matches_benchmark_spec():
    for key, trace in (("end_to_end", 0), ("per_layer", 1)):
        spec = SPEC[key]
        line = run.result({m["name"]: 1.5 for m in spec[:2]}, spec, attempted=3, failed=0)
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert [(k, v["unit"]) for k, v in line["metrics"].items()] == [
            (m["name"], m["unit"]) for m in spec
        ]
        assert all(isinstance(v["value"], float) for v in line["metrics"].values())
    assert run.result({}, SPEC["end_to_end"], 2, 1)["correct"] is False


def test_spec_and_config_agree():
    names = [w["name"] for w in SPEC["workloads"]]
    assert sorted(names) == sorted(workloads.WORKLOADS) == sorted(CFG["workloads"])
    assert sorted(CFG["layer_map"]) == sorted(m["name"] for m in SPEC["per_layer"])
    e2e = {m["name"] for m in SPEC["end_to_end"]}
    assert {"rows_per_s", "cpu_s", "setup_s", "peak_pss_mb"} == e2e
    for entry in CFG["layer_map"].values():
        assert set(entry["moves"]) <= e2e
        assert set(entry["on"]) | set(entry["flat_on"]) <= set(names)


def _write_outputs(out_dir, columns, outputs):
    for name, rows in outputs.items():
        os.makedirs(os.path.join(out_dir, name), exist_ok=True)
        cols = list(zip(*rows))
        table = pa.table({c: [list(v) if isinstance(v, tuple) else v for v in col]
                          for c, col in zip(columns[name], cols)})
        pq.write_table(table, os.path.join(out_dir, name, "part-0.parquet"))


@pytest.mark.parametrize("corrupt", [False, True])
def test_check_rejects_corrupted_output(tmp_path, corrupt):
    pages, outputs = _kg(7)
    w = workloads.KgHtml(CFG["workloads"]["kg_html"], str(tmp_path), 7)
    w.expected = {"full": oracle.digests(outputs)}
    if corrupt:
        src, pred, dst, weight, sources, bucket = outputs["edges"][0]
        outputs["edges"][0] = (src, pred, dst, weight + 1, sources, bucket)
    _write_outputs(w.out_dir, w.COLUMNS, outputs)
    assert w.check() is (not corrupt)


def test_curation_check_rejects_dropped_row(tmp_path):
    _, _, outputs = _curation(8)
    w = workloads.CurationDocs(CFG["workloads"]["curation_docs"], str(tmp_path), 8)
    w.expected = {"full": oracle.digests(outputs)}
    outputs["contam"] = outputs["contam"][1:]
    _write_outputs(w.out_dir, w.COLUMNS, outputs)
    assert w.check() is False


def test_missing_library_exits_nonzero(tmp_path):
    """In a directory holding only the benchmark, the run fails fast."""
    import shutil
    import subprocess

    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "kg_html", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
