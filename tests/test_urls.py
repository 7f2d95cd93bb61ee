"""Golden cases for the URL canonicalization rules (operators/urls.py)."""

import pytest


CASES = [
    # (raw, host, port, url_norm)
    ("HTTP://WWW.Example.COM:80//a/b/?utm_source=x&b=2&a=1#frag",
     "example.com", "", "http://example.com/a/b?a=1&b=2"),
    ("https://Sub.Example.com:443/Path/", "sub.example.com", "", "https://sub.example.com/Path"),
    ("https://example.com/p?z=1&utm_campaign=c&y=2&fbclid=q",
     "example.com", "", "https://example.com/p?y=2&z=1"),
    ("http://example.com:8080/p//q?q=1#x", "example.com", "8080", "http://example.com:8080/p/q?q=1"),
    ("https://WWW.example.com", "example.com", "", "https://example.com/"),
    ("https://example.com/", "example.com", "", "https://example.com/"),
    ("http://example.com/?utm_source=only", "example.com", "", "http://example.com/"),
    # '?' first appearing INSIDE the fragment must not become query params
    # (r3 shipped 'https://example.com/p?a=1' here — fragment leak)
    ("https://example.com/p#sec?a=1", "example.com", "", "https://example.com/p"),
]


def test_url_normalize_goldens(spark):
    from posextract_spark.operators.urls import url_normalize

    df = spark.createDataFrame(
        [(i, raw) for i, (raw, _, _, _) in enumerate(CASES)], "doc_id long, url string"
    )
    rows = {r.doc_id: r for r in url_normalize(df).collect()}
    for i, (raw, host, port, norm) in enumerate(CASES):
        r = rows[i]
        assert (r.host, r.port, r.url_norm) == (host, port, norm), raw


def test_url_normalize_duckdb_mirror_matches_goldens():
    import duckdb

    from posextract_spark.operators.urls import URL_NORMALIZE_EXPR_SQL

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW urls_in AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{raw}')" for i, (raw, _, _, _) in enumerate(CASES))
        + ") AS t(doc_id, url)"
    )
    got = {r[0]: r for r in con.execute(URL_NORMALIZE_EXPR_SQL).fetchall()}
    for i, (raw, host, port, norm) in enumerate(CASES):
        doc_id, _url, g_host, g_port, g_norm = got[i]
        assert (g_host, g_port, g_norm) == (host, port, norm), raw


def test_cap_per_domain_exact_hash_threshold_sample(spark):
    """One hot domain (40 docs) + one small (3): the survivors are exactly
    the Python md5-threshold mirror for the hot domain and ALL of the
    small one; deterministic across runs; no Window in the plan."""
    import hashlib

    from pyspark.sql import functions as F

    from posextract_spark.operators.urls import cap_per_domain

    rows = [(i, "hot.example.com") for i in range(40)] + [
        (100 + i, "small.example.com") for i in range(3)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, host string")
    out = cap_per_domain(df, cap=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    got = {(r.doc_id, r.host) for r in out.collect()}
    expected_hot = {
        i
        for i in range(40)
        if int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % 40 < 5
    }
    assert got == {(i, "hot.example.com") for i in expected_hot} | {
        (100 + i, "small.example.com") for i in range(3)
    }
    assert got == {(r.doc_id, r.host) for r in cap_per_domain(df, cap=5).collect()}
