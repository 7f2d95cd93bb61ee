"""resolve_canonical_cc on the alias dictionary + CLI end-to-end
(subprocess) tests."""

import csv
import glob
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_resolve_canonical_cc_groups_aliases(spark):
    from pyspark.sql import functions as F

    from posextract_spark.operators.canonicalize import resolve_canonical_cc
    from posextract_spark.sources.pages import alias_table

    aliases = alias_table(spark)
    clusters = {
        r.surface_norm: r.canonical
        for r in resolve_canonical_cc(
            aliases.select(F.col("surface_norm").alias("surface")), aliases
        ).collect()
    }
    # all acme surfaces share one canonical; zorin's differ from acme's
    assert clusters["acme"] == clusters["acmecorp"] == clusters["acmeinc"]
    assert clusters["zorin"] == clusters["zorinltd"] == clusters["zorin holdings"]
    assert clusters["acme"] != clusters["zorin"]


def test_cli_triples_subprocess(tmp_path):
    inp = tmp_path / "in.csv"
    inp.write_text(
        'id,text\n1,"Acme acquired Zorin."\n2,"Acme did not acquire Zorin."\n'
    )
    out_dir = tmp_path / "out"
    res = subprocess.run(
        [
            sys.executable,
            "-m",
            "posextract_spark.cli",
            "triples",
            "--input-file",
            str(inp),
            "--data-column",
            "text",
            "--id-column",
            "id",
            "--output",
            str(out_dir),
            "--parser",
            "template",
            "--master",
            "local[2]",
        ],
        capture_output=True,
        text=True,
        timeout=280,
        cwd=ROOT,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    rows = []
    for part in glob.glob(str(out_dir / "part-*.csv")):
        with open(part) as f:
            rows.extend(csv.DictReader(f))
    got = {(r["sentence_id"], r["subject"], r["verb"], r["object"]) for r in rows}
    assert ("1", "Acme", "acquired", "Zorin") in got
    assert ("2", "Acme", "acquire", "Zorin") in got
    neg = [r for r in rows if r["sentence_id"] == "2"]
    assert neg[0]["neg_adverb"] == "not"
