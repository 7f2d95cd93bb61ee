"""The benchmark's workloads.

Each workload generates its seeded inputs and their expected output
digests (``prepare``), runs one pass through the library's public
functions (``run_pass``), checks the written outputs (``check``), and, for
the traced run, times the cumulative prefix plans that isolate each layer
(``trace``) and the in-process per-item costs (``micro``).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import nullcontext
from typing import Callable, Dict, List

import pyarrow.parquet as pq

import inputs
import oracle


def noop(df) -> None:
    """Execute ``df`` fully and discard the rows."""
    df.write.format("noop").mode("overwrite").save()


def observed(df, **aggs):
    """(df with an observation attached, observation). Counts arrive with
    the action that runs ``df``; no extra pass."""
    from pyspark.sql import Observation

    obs = Observation()
    return df.observe(obs, *[a.alias(k) for k, a in aggs.items()]), obs


def read_rows(path: str, cols: List[str]) -> List[tuple]:
    table = pq.read_table(path, columns=cols)
    return [
        tuple(tuple(v) if isinstance(v, list) else v for v in row)
        for row in zip(*(table.column(c).to_pylist() for c in cols))
    ]


def dir_mb(path: str) -> float:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total / (1 << 20)


def _median_us(fn: Callable[[], int], reps: int = 5) -> float:
    """Median over ``reps`` of (seconds of ``fn()`` / items it processed), in us."""
    out = []
    for _ in range(reps):
        t = time.perf_counter()
        n = fn()
        out.append((time.perf_counter() - t) / max(n, 1) * 1e6)
    return statistics.median(out)


class Workload:
    name = ""

    def __init__(self, cfg: dict, work: str, seed: int):
        self.cfg = cfg
        self.work = work
        self.seed = seed
        self.in_dir = os.path.join(work, "in")
        self.out_dir = os.path.join(work, "out")
        self.rows = 0  # input rows per pass
        # the passes read the whole input ("full") or, for the cold warm-up
        # pass, only its first file ("first")
        self.part = "full"
        self.frames = {}  # part -> input DataFrame
        self.expected: Dict[str, Dict[str, str]] = {}  # part -> {output: digest}
        self.trace_errors: List[str] = []  # traced-run outputs that were wrong
        self.last: Dict[str, float] = {}  # counts from the last checked pass

    def outputs(self) -> Dict[str, str]:
        """{output name: digest} of the last pass's written outputs."""
        raise NotImplementedError

    def check(self) -> bool:
        return self.outputs() == self.expected[self.part]

    def read(self, spark, schema, path: str) -> Dict[str, object]:
        """{part: DataFrame} of the parquet input at ``path``."""
        reader = spark.read.schema(inputs.spark_schema(schema))
        return {"full": reader.parquet(path), "first": reader.parquet(f"{path}/part-000.parquet")}


class KgHtml(Workload):
    """Stock crawl pages -> pipeline.kg_from_pages (exact alias link) ->
    partitioned edges/nodes parquet."""

    name = "kg_html"

    def prepare(self, trace: bool = False) -> None:
        from posextract_spark.sources.pages import ENTITY_ALIASES

        pages = inputs.kg_html_pages(self.seed, self.cfg["pages"])
        inputs.write_files(pages, inputs.PAGES_SCHEMA, self.in_dir, self.cfg["files"])
        aliases = {
            s.lower(): canonical for canonical, surfs in ENTITY_ALIASES.items() for s in surfs
        }
        self.rows = len(pages)
        self.sample_html = [p["html"].decode("utf-8") for p in pages[: self.cfg["micro_sample"]]]
        self.expected = {
            part: oracle.digests(oracle.kg_html(rows, aliases))
            for part, rows in (("full", pages), ("first", inputs.first_file(pages, self.cfg["files"])))
        }
        self.expected_counts = oracle.kg_html_counts(pages)

    def open(self, spark) -> None:
        from posextract_spark.sources.pages import alias_table

        self.frames = self.read(spark, inputs.PAGES_SCHEMA, self.in_dir)
        self.alias = alias_table(spark)

    def run_pass(self, spark) -> None:
        from posextract_spark.pipeline import kg_from_pages

        kg_from_pages(self.frames[self.part], self.alias, out_dir=self.out_dir, provider="template")

    COLUMNS = {
        "edges": ["src", "predicate", "dst", "weight", "sources", "bucket"],
        "nodes": ["entity_id", "canonical", "surface_forms", "n_mentions", "bucket"],
    }

    def outputs(self) -> Dict[str, str]:
        rows = {k: read_rows(os.path.join(self.out_dir, k), c) for k, c in self.COLUMNS.items()}
        self.last = {"graph.edges": len(rows["edges"]), "graph.nodes": len(rows["nodes"])}
        return oracle.digests(rows)

    def trace(self, spark, timed) -> Dict[str, float]:
        """Noop-sink time of each cumulative prefix of the kg_from_pages
        composition: a layer's self time is the time to build its plan plus
        its prefix's run time minus the run time of the prefix before it.
        The triples are cached at the fan-out point as kg_from_pages does,
        so the linking and graph prefixes start from the cache."""
        from pyspark.sql import functions as F

        from posextract_spark.operators.graph import build_edges, build_nodes, link_triples
        from posextract_spark.operators.html_text import extract_text
        from posextract_spark.operators.linking import link_entities, mentions_from_triples
        from posextract_spark.operators.sentences import split_sentences
        from posextract_spark.operators.triples import extract_triples

        one = F.count(F.lit(1))
        out = os.path.join(self.out_dir, "trace")
        plan, run = {}, {}

        def layer(name, build, execute):
            plan[name], frames = timed(f"{name}.plan", build)
            run[name], _ = timed(name, lambda: execute(frames))
            return frames

        pages = self.frames["full"]
        scan = layer("sources", lambda: pages.filter(F.col("lang") == "en"), noop)
        text = layer(
            "html_text", lambda: extract_text(scan.drop("text"), html_col="html", out_col="text"), noop
        )
        sents, sent_obs = layer(
            "sentences",
            lambda: observed(
                split_sentences(text.select("url", "text"), text_col="text", remove_quotes=False),
                n=one,
            ),
            lambda f: noop(f[0]),
        )

        def triples_plan():
            t = extract_triples(
                sents.select("url", "sent_pos", "sentence"),
                text_col="sentence",
                id_cols=["url", "sent_pos"],
                provider="template",
            ).persist()
            return (t,) + observed(t, n=one)

        triples, _, trip_obs = layer("triples", triples_plan, lambda f: noop(f[1]))
        try:
            def link():
                linked = link_triples(triples, self.alias)
                mentions = mentions_from_triples(triples, id_cols=("url", "sent_id"))
                return (linked,) + observed(
                    link_entities(mentions, self.alias),
                    n=one,
                    linked=F.sum(F.col("linked").cast("long")),
                )

            linked, _, link_obs = layer("linking", link, lambda f: (noop(f[0]), noop(f[1])))

            def graph():
                edges = build_edges(linked, source_col="url")
                nodes = build_nodes(link_entities(mentions_from_triples(triples), self.alias))
                return (
                    edges.withColumn("bucket", F.pmod(F.col("src"), F.lit(oracle.N_BUCKETS))),
                    nodes.withColumn("bucket", F.pmod(F.col("entity_id"), F.lit(oracle.N_BUCKETS))),
                )

            def write(frames):
                for name, df in zip(("edges", "nodes"), frames):
                    df.write.mode("overwrite").partitionBy("bucket").parquet(f"{out}/{name}")

            layer("graph", graph, write)
        finally:
            triples.unpersist()
        prev = {"html_text": "sources", "sentences": "html_text", "triples": "sentences", "graph": "linking"}
        self_s = {k: plan[k] + run[k] - run[prev[k]] if k in prev else plan[k] + run[k] for k in plan}
        links = link_obs.get
        values = {
            "sources.scan_s": self_s["sources"],
            **{f"{k}.self_s": v for k, v in self_s.items() if k != "sources"},
            "sentences.rows": sent_obs.get["n"],
            "triples.rows": trip_obs.get["n"],
            "linking.linked_frac": links["linked"] / max(links["n"], 1),
            "graph.write_mb": dir_mb(out),
        }
        for k, v in self.expected_counts.items():
            if values[k] != v:
                self.trace_errors.append(f"{k}: {values[k]} rows, expected {v}")
        return values

    def trace_extra(self, spark, timed) -> Dict[str, float]:
        """The ``canonicalize=True`` node path, which the timed pass does
        not run: ``resolve_canonical_cc`` (scored linking, co-reference
        blocks, connected components) over the mentions of the cached
        triples, timed from plan building to its surface and cluster
        counts."""
        from pyspark.sql import functions as F

        from posextract_spark.operators.canonicalize import resolve_canonical_cc
        from posextract_spark.operators.linking import mentions_from_triples
        from posextract_spark.pipeline import pages_to_triples

        triples = pages_to_triples(self.frames["full"], provider="template").persist()
        try:
            noop(triples)

            def canonicalize():
                mapping = resolve_canonical_cc(
                    mentions_from_triples(triples, id_cols=("url", "sent_id")), self.alias
                )
                return mapping.agg(
                    F.count(F.lit(1)).alias("surfaces"),
                    F.countDistinct("entity_id").alias("clusters"),
                ).first()

            self_s, counts = timed("canonicalize", canonicalize)
        finally:
            triples.unpersist()
        return {
            "canonicalize.self_s": self_s,
            "canonicalize.surfaces": counts["surfaces"],
            "canonicalize.clusters": counts["clusters"],
        }

    def micro(self) -> Dict[str, float]:
        """Per-item cost of the UDF bodies, called in this process on a
        fixed sample of the pages."""
        from posextract_spark.kernel.extract import extract_triples_one
        from posextract_spark.kernel.quotes import split_quotes_list
        from posextract_spark.operators.html_text import extract_text_pure
        from posextract_spark.options import TripleExtractorOptions
        from posextract_spark.parse.provider import get_provider

        texts = [extract_text_pure(h)[1] for h in self.sample_html]
        segs = [
            seg for t in texts for s in oracle.split_sentences(t) for seg in split_quotes_list(s)
        ]
        prov = get_provider("template")
        opts = TripleExtractorOptions()
        parsed = prov.parse_lazy_batch(segs)

        def html():
            for h in self.sample_html:
                extract_text_pure(h)
            return len(self.sample_html)

        def parse():
            prov.parse_lazy_batch(segs)
            return len(segs)

        def kernel():
            for p in parsed:
                list(extract_triples_one(p, options=opts))
            return len(parsed)

        return {
            "html_text.us_per_page": _median_us(html),
            "parse.us_per_sentence": _median_us(parse),
            "kernel.us_per_sentence": _median_us(kernel),
        }


class CurationDocs(Workload):
    """corpus_quality_filter keep ids -> quality_classifier_scores of every
    doc -> contaminated_token_fraction of the kept docs against a fixed
    eval slice."""

    name = "curation_docs"

    def prepare(self, trace: bool = False) -> None:
        import pyarrow as pa

        c = self.cfg
        docs, ev = inputs.curation_inputs(
            self.seed, c["docs"], c["dup_frac"], c["eval_docs"], c["leak_frac"]
        )
        inputs.write_files(docs, inputs.DOCS_SCHEMA, self.in_dir, c["files"])
        inputs.write_files(ev, inputs.DOCS_SCHEMA, os.path.join(self.work, "eval"), 1)
        self.rows = len(docs)
        ev = pa.Table.from_pylist(ev, schema=inputs.DOCS_SCHEMA)
        self.expected = {
            part: oracle.digests(
                oracle.curation_docs(pa.Table.from_pylist(rows, schema=inputs.DOCS_SCHEMA), ev)
            )
            for part, rows in (("full", docs), ("first", inputs.first_file(docs, c["files"])))
        }
        docs = pa.Table.from_pylist(docs, schema=inputs.DOCS_SCHEMA)
        if trace:
            self.expected_dedup = inputs.digest_rows(oracle.dedup_survivors(docs))

    def open(self, spark) -> None:
        self.frames = self.read(spark, inputs.DOCS_SCHEMA, self.in_dir)
        self.eval = self.read(spark, inputs.DOCS_SCHEMA, os.path.join(self.work, "eval"))["full"]

    def run_pass(self, spark, span=None) -> None:
        from pyspark.sql import functions as F

        from posextract_spark.operators.classifier import quality_classifier_scores
        from posextract_spark.operators.mldata import contaminated_token_fraction
        from posextract_spark.operators.textops import corpus_quality_filter

        span = span or (lambda name: nullcontext())
        docs = self.frames[self.part]
        out = self.out_dir
        with span("textops"):
            self.kept_ids = (
                corpus_quality_filter(docs)
                .filter(F.col("keep") == 1)
                .select("doc_id")
                .localCheckpoint(eager=True)
            )
        with span("classifier"):
            quality_classifier_scores(docs).write.mode("overwrite").parquet(f"{out}/scores")
        with span("mldata"):
            kept = docs.join(self.kept_ids, "doc_id")
            contaminated_token_fraction(kept, self.eval).write.mode("overwrite").parquet(
                f"{out}/contam"
            )

    COLUMNS = {
        "scores": ["doc_id", "n_tokens", "score_e6", "pred_keep"],
        "contam": ["doc_id", "n_words", "covered_tokens", "frac_e6"],
    }

    def outputs(self) -> Dict[str, str]:
        rows = {k: read_rows(os.path.join(self.out_dir, k), c) for k, c in self.COLUMNS.items()}
        self.n_contaminated = len(rows["contam"])
        return oracle.digests(rows)

    def trace(self, spark, timed) -> Dict[str, float]:
        """The chain's stages are sequential eager materializations, so each
        stage's span is its self time; the scan prefix is split off the
        first stage by its own noop-sink time."""
        docs = self.frames["full"]
        t_scan, _ = timed("sources", lambda: noop(docs))
        spans: Dict[str, float] = {}
        self.run_pass(spark, lambda name: _Span(timed, name, spans))
        n_kept = self.kept_ids.count()
        self.outputs()
        values = {
            "sources.scan_s": t_scan,
            "textops.self_s": spans["textops"] - t_scan,
            "textops.keep_frac": n_kept / self.rows,
            "classifier.self_s": spans["classifier"],
            "mldata.self_s": spans["mldata"],
            "mldata.contaminated_frac": self.n_contaminated / max(n_kept, 1),
        }
        return values

    def trace_extra(self, spark, timed) -> Dict[str, float]:
        """``minhash_dedup_survivors`` over every doc, which the timed pass
        does not run, written and checked against the oracle's survivors."""
        from pyspark.sql import functions as F

        from posextract_spark.operators.dedup import minhash_dedup_survivors

        path = os.path.join(self.out_dir, "dedup")

        def dedup():
            df, obs = observed(
                minhash_dedup_survivors(self.frames["full"]),
                n=F.count(F.lit(1)),
                survivors=F.sum("is_survivor"),
            )
            df.write.mode("overwrite").parquet(path)
            return obs.get

        self_s, counts = timed("dedup", dedup)
        rows = read_rows(path, ["doc_id", "cluster_id", "is_survivor"])
        if inputs.digest_rows(rows) != self.expected_dedup:
            self.trace_errors.append("dedup survivors differ from the oracle's")
        return {"dedup.self_s": self_s, "dedup.survivor_frac": counts["survivors"] / max(counts["n"], 1)}

    def micro(self) -> Dict[str, float]:
        return {}


class _Span:
    """Context manager that records one named span through ``timed``."""

    def __init__(self, timed, name: str, sink: Dict[str, float]):
        self.timed, self.name, self.sink = timed, name, sink

    def __enter__(self):
        self.handle = self.timed.open(self.name)
        return self

    def __exit__(self, *exc):
        self.sink[self.name] = self.timed.close(self.handle)
        return False


WORKLOADS = {w.name: w for w in (KgHtml, CurationDocs)}


def clean_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
