"""Training-data export operators: deterministic splits, sequence packing,
eval-set decontamination.

These close the loop from corpus curation (textops/dedup/similarity) to
what a training run actually consumes. All three are deterministic in the
DATA (portable md5 hash of stable ids — no rand(), no
monotonically_increasing_id), so cluster-side stage retries reproduce the
same assignment and every operator is value-hash-checkable in DuckDB.

Scale notes (the 100 TB design point):
- hash_split is a pure scan-side projection: zero shuffle, zero state;
  the split assignment of a document never depends on any other document,
  so it is stable under re-partitioning, appends, and backfills (the
  property rand()-based splits famously lack).
- pack_sequences needs a sequential decision (running token offset), which
  cannot be shuffle-free; it bounds the sequential scope to a hash BUCKET:
  one shuffle on (bucket), one in-partition sort + running sum per bucket.
  Size n_buckets so one bucket ~= one comfortable task (e.g. 2-8k buckets
  per TB of text); packing quality is unaffected by bucket count since
  budget-quantization happens per bucket by construction.
- decontaminate broadcasts the EVAL shingle set (eval suites are tiny
  next to training corpora) so the train side never shuffles: scan ->
  shingle explode -> broadcast semi-ish join -> per-doc count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from posextract_spark.functions.boundary import checkpoint, materialize
from posextract_spark.functions.hashing import (
    WORD_ARRAY_SQL,
    portable_hash64,
    portable_hash64_sql,
    word_array,
)
from posextract_spark.sources.local import local_frame


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 90,
    val_pct: int = 5,
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: bucket = md5-hash of the
    id mod 100; [0, train_pct) -> train, [train_pct, train_pct+val_pct)
    -> val, rest -> test. Integer percents keep the contract exact in any
    engine (no float thresholds)."""
    if not (0 <= train_pct and 0 <= val_pct and train_pct + val_pct <= 100):
        raise ValueError(f"invalid split percents: train={train_pct} val={val_pct}")
    h = F.pmod(portable_hash64(F.col(id_col).cast("string")), F.lit(100))
    split = (
        F.when(h < train_pct, F.lit("train"))
        .when(h < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return df.withColumn(split_col, split)


def pack_sequences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    budget: int = 512,
    n_buckets: int = 32,
) -> DataFrame:
    """Assign each document a (bucket, seq_bin, bin_offset) for fixed-
    token-budget training-sequence packing.

    Semantics (deterministic, engine-exact): documents are hash-assigned
    to ``n_buckets`` buckets, ordered by id within the bucket, and binned
    by their STARTING token offset in the bucket's running concatenation:
    ``seq_bin = floor(exclusive_cumsum(n_tokens) / budget)``. A document
    whose tokens straddle a budget boundary stays in its starting bin and
    carries over — the export step that writes actual training sequences
    consumes bins in order and handles the straddle; this operator's job
    is the scalable deterministic ASSIGNMENT, not byte layout.

    The per-bucket window is the honest sequential core of packing; the
    bucket hash bounds it (one sort + running sum per bucket, no global
    order). n_tokens is the whitespace token count (textops token_count
    semantics)."""
    n_tokens = F.size(word_array(F.col(text_col))).cast("bigint")
    return _pack_assignment(
        df.select(F.col(id_col), n_tokens.alias("n_tokens")), id_col, budget, n_buckets
    )


def _pack_assignment(
    counts: DataFrame, id_col: str, budget: int, n_buckets: int
) -> DataFrame:
    """The packing core over a precomputed (id, n_tokens) frame — shared by
    the whitespace path (pack_sequences) and the BPE-tokenizer path
    (pack_bpe_sequence_spans); the token-counting policy is the only
    difference between them."""
    from pyspark.sql import Window

    with_meta = counts.select(
        F.col(id_col),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.pmod(portable_hash64(F.col(id_col).cast("string")), F.lit(n_buckets)).alias(
            "bucket"
        ),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return with_meta.select(
        id_col,
        "bucket",
        "n_tokens",
        (cum - F.col("n_tokens")).alias("bin_offset"),
        F.floor((cum - F.col("n_tokens")) / F.lit(budget)).cast("bigint").alias("seq_bin"),
    )


def pack_sequence_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    budget: int = 512,
    n_buckets: int = 32,
) -> DataFrame:
    """The EXPORT step over pack_sequences (VERDICT r5 item 4): one row per
    (document, training sequence) span — the layout a sequence writer
    consumes directly. A document starting at token ``bin_offset`` in its
    bucket's running concatenation occupies bins
    floor(bin_offset/budget) .. floor((bin_offset + n_tokens - 1)/budget);
    a straddling document carries over into the next bin(s) with the split
    points made explicit:

      (bucket, seq_bin, doc_id,
       tok_start, tok_end,   -- token slice OF THE DOCUMENT in this bin
       seq_offset)           -- where the slice begins INSIDE the sequence

    Every ``seq_bin`` is exactly ``budget`` tokens (the last bin of a
    bucket may be short), zero-token documents emit no span, and
    sum(tok_end - tok_start) per (bucket, seq_bin) == budget for all full
    bins — pinned by tests.

    Scale shape: a pure projection + explode over the pack_sequences
    assignment — the ONLY shuffle remains the assignment's per-bucket
    window; the explode fan-out per document is ceil(n_tokens/budget)+1
    spans, scan-side. Deterministic in the data like the assignment, so
    the export is value-hash-checkable and retry-stable."""
    packed = pack_sequences(
        df, text_col=text_col, id_col=id_col, budget=budget, n_buckets=n_buckets
    )
    return _spans_of(packed, id_col, budget)


def _spans_of(packed: DataFrame, id_col: str, budget: int) -> DataFrame:
    """Span export over a _pack_assignment frame (see pack_sequence_spans
    for the span semantics)."""
    first_bin = F.col("seq_bin")  # floor(bin_offset / budget) by construction
    last_bin = F.floor((F.col("bin_offset") + F.col("n_tokens") - 1) / F.lit(budget)).cast(
        "bigint"
    )
    spans = (
        packed.filter(F.col("n_tokens") > 0)
        .withColumn("_bin", F.explode(F.sequence(first_bin, last_bin)))
    )
    b0 = F.col("_bin") * F.lit(budget)
    return spans.select(
        id_col,
        "bucket",
        F.col("_bin").alias("seq_bin"),
        F.greatest(F.lit(0).cast("bigint"), b0 - F.col("bin_offset")).alias("tok_start"),
        F.least(F.col("n_tokens"), b0 + F.lit(budget) - F.col("bin_offset")).alias("tok_end"),
        F.greatest(F.lit(0).cast("bigint"), F.col("bin_offset") - b0).alias("seq_offset"),
    )


def bpe_doc_token_counts(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
) -> DataFrame:
    """(id, n_tokens) — PER-DOCUMENT token counts under a fixed BPE merge
    list: the real tokenizer's length, not the whitespace proxy
    (bpe_encode_token_counts gives the corpus-wide frequency table; this
    gives the per-doc sizes a packer needs).

    Scale shape: the merge chain runs once per DISTINCT word (vocabulary-
    bounded, the bpe_encode_token_counts argument), never per occurrence —
    (doc, word) occurrence counts are one map-side-combinable shuffle,
    then an equi-join on the word against the vocab-sized token-length
    table (broadcast at contract scale, AQE's call in general) and a
    per-doc re-aggregation. The vocab arm re-scans the input absent
    plan-level reuse (BENCH/PLANS.md shows the two scans) — persist the
    occurrence frame in a production run to make it one scan.
    Whitespace-empty documents drop out of the explode; callers that need
    their zero rows left-join (the span export filters n_tokens > 0
    anyway)."""
    words = word_array(F.lower(F.col(text_col)) if lowercase else F.col(text_col))
    occ = (
        docs.select(F.col(id_col), F.explode(words).alias("w"))
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).cast("long").alias("occ"))
    )
    sym = F.concat(
        F.lit(_BPE_L),
        F.concat_ws(_BPE_R + _BPE_L, F.split(F.col("w"), "")),
        F.lit(_BPE_R),
    )
    for a, b in merges:
        sym = F.replace(sym, F.lit(_bpe_wrap(a) + _bpe_wrap(b)), F.lit(_bpe_wrap(a + b)))
    spaced = F.replace(sym, F.lit(_BPE_R + _BPE_L), F.lit(" "))
    tokn = F.size(
        F.split(
            F.replace(
                F.replace(spaced, F.lit(_BPE_L), F.lit("")), F.lit(_BPE_R), F.lit("")
            ),
            " ",
        )
    ).cast("long")
    vocab = occ.select("w").distinct().select("w", tokn.alias("tokn"))
    return (
        occ.join(vocab, "w")
        .groupBy(id_col)
        .agg(F.sum(F.col("occ") * F.col("tokn")).cast("long").alias("n_tokens"))
    )


def pack_bpe_sequence_spans(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    budget: int = 512,
    n_buckets: int = 32,
    lowercase: bool = True,
) -> DataFrame:
    """pack_sequence_spans, but budgeted by the REAL BPE tokenizer's
    per-document token counts instead of the whitespace proxy (VERDICT r6
    item 4: the composition a pretraining pipeline actually packs by —
    bpe_doc_token_counts feeding the _pack_assignment/_spans_of core).
    Same output contract as pack_sequence_spans: every full (bucket,
    seq_bin) sums to exactly ``budget`` BPE tokens.

    Scale shape = bpe_doc_token_counts (vocab-bounded merge chain + two
    combinable shuffles) + the per-bucket packing window + the scan-side
    span explode."""
    counts = bpe_doc_token_counts(
        docs, merges, text_col=text_col, id_col=id_col, lowercase=lowercase
    )
    return _spans_of(_pack_assignment(counts, id_col, budget, n_buckets), id_col, budget)


def decontaminate(
    train_df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_broadcast_limit: int | None = 10_000_000,
    eval_shingles: DataFrame | None = None,
) -> DataFrame:
    """Per-train-document eval-contamination count: how many DISTINCT
    eval-set 5-gram shingles the document contains. Emits only
    contaminated documents (callers anti-join or filter on the result;
    absence of a row means clean). The eval shingle set is broadcast —
    the train side stays partitioned as scanned.

    Broadcast guard (VERDICT r5 item 5): eval suites are tiny by
    assumption, but nothing used to enforce it — a large eval frame would
    OOM the driver collecting the broadcast. The distinct eval shingle
    set is now counted first (one cheap job on the SMALL side only) and,
    above ``eval_broadcast_limit`` shingles, the join falls back to a
    plain shuffle hash join on ``shingle`` — both sides exchange once,
    which is the correct plan when the 'small' side isn't. Pass ``None``
    to skip the count and unconditionally broadcast (the pre-r6
    behavior, for callers that know their eval set).

    ``eval_shingles`` (r8): a PRECOMPUTED guarded eval-shingle frame
    (``prepare_eval_shingles``) for callers that decontaminate many
    inputs against the SAME fixed eval suite — e.g. the streaming
    pipeline, which otherwise re-shingled, re-checkpointed and
    re-counted the unchanged suite in EVERY micro-batch."""
    ev = (
        eval_shingles
        if eval_shingles is not None
        else _guarded_eval_shingles(
            _shingle_rows(eval_df, text_col, id_col), eval_broadcast_limit
        )
    )
    tr = _shingle_rows(train_df, text_col, id_col)
    return (
        tr.join(ev, "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )


def _shingle_rows(frame: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, shingle) — one row per DISTINCT 5-gram shingle per document
    (docs with < SHINGLE_N words emit none). The shared shingling front
    of decontaminate / contamination_report / contaminated_token_fraction;
    word array materialized once behind the Generate boundary."""
    from posextract_spark.operators.dedup import SHINGLE_N, _shingles

    g = materialize(
        frame.select(F.col(id_col), F.col(text_col)),
        __dw=word_array(F.col(text_col)),
    )
    return g.filter(F.size(F.col("__dw")) >= SHINGLE_N).select(
        F.col(id_col), F.explode(_shingles(F.col("__dw"))).alias("shingle")
    )


def prepare_eval_shingles(
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_broadcast_limit: int | None = 10_000_000,
) -> DataFrame:
    """Precompute the guarded distinct eval-shingle frame ONCE for reuse
    across many decontaminate() calls against the same eval suite (pass
    the result as ``eval_shingles=``). The streaming curation pipeline
    uses this so a fixed eval suite is shingled and counted once per
    stream, not once per micro-batch (ADVICE r7)."""
    return _guarded_eval_shingles(
        _shingle_rows(eval_df, text_col, id_col), eval_broadcast_limit
    )


def _guarded_eval_shingles(eval_rows: DataFrame, limit: int | None) -> DataFrame:
    """Distinct eval shingle frame, broadcast-hinted only when safe: the
    count-first guard of VERDICT r5 item 5 (see decontaminate's docstring).
    ``limit=None`` broadcasts unconditionally; otherwise the distinct set
    is checkpointed once, its count observed by that same job (the join
    reads the materialized blocks), and sets above ``limit`` shingles fall
    back to a plain shuffle join — the correct plan when the 'small' side
    isn't."""
    ev = eval_rows.select("shingle").distinct()
    if limit is None:
        return F.broadcast(ev)
    ev, seen = checkpoint(ev, n=F.count(F.lit(1)))
    if seen["n"] > limit:
        return ev
    return F.broadcast(ev)


# --- DuckDB mirrors --------------------------------------------------------

def hash_split_sql(rel: str = "documents") -> str:
    """DuckDB mirror of hash_split() (default 90/5/5), relation-
    parameterized so the training-corpus pipeline oracle can apply it to
    its final CTE."""
    return f"""
SELECT doc_id,
       CASE WHEN h < 90 THEN 'train'
            WHEN h < 95 THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id,
         (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT) % 100 AS h
  FROM {rel}
)
"""


HASH_SPLIT_SQL = hash_split_sql()

PACK_SEQUENCES_SQL = """
WITH meta AS (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_tokens,
         (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT) % 32 AS bucket
  FROM documents
),
packed AS (
  SELECT doc_id, bucket, n_tokens,
         sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS bin_offset
  FROM meta
)
SELECT doc_id, bucket, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(bin_offset AS BIGINT) AS bin_offset,
       CAST(floor(bin_offset / 512.0) AS BIGINT) AS seq_bin
FROM packed
"""

PACK_SEQUENCE_SPANS_SQL = """
WITH meta AS (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_tokens,
         (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT) % 32 AS bucket
  FROM documents
),
packed AS (
  SELECT doc_id, bucket, n_tokens,
         sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS bin_offset
  FROM meta
),
spans AS (
  SELECT doc_id, bucket, n_tokens, bin_offset,
         unnest(generate_series(CAST(floor(bin_offset / 512.0) AS BIGINT),
                                CAST(floor((bin_offset + n_tokens - 1) / 512.0) AS BIGINT)))
           AS seq_bin
  FROM packed WHERE n_tokens > 0
)
SELECT doc_id, bucket, CAST(seq_bin AS BIGINT) AS seq_bin,
       CAST(greatest(0, seq_bin * 512 - bin_offset) AS BIGINT) AS tok_start,
       CAST(least(n_tokens, seq_bin * 512 + 512 - bin_offset) AS BIGINT) AS tok_end,
       CAST(greatest(0, bin_offset - seq_bin * 512) AS BIGINT) AS seq_offset
FROM spans
"""

def pack_bpe_sequence_spans_sql(
    merges: list[tuple[str, str]],
    budget: int = 512,
    n_buckets: int = 32,
    docs_rel: str = "documents",
    lowercase: bool = True,
) -> str:
    """DuckDB mirror of pack_bpe_sequence_spans(): the
    bpe_encode_token_counts_sql replace chain computes per-distinct-word
    token lengths, re-aggregated per doc, feeding the
    PACK_SEQUENCE_SPANS_SQL window + generate_series span export."""
    src = "lower(text)" if lowercase else "text"
    words = WORD_ARRAY_SQL.format(col=src)

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    sym = (
        f"{q(_BPE_L)} || array_to_string(string_split(w, ''), "
        f"{q(_BPE_R + _BPE_L)}) || {q(_BPE_R)}"
    )
    for a, b in merges:
        sym = f"replace({sym}, {q(_bpe_wrap(a) + _bpe_wrap(b))}, {q(_bpe_wrap(a + b))})"
    spaced = f"replace({sym}, {q(_BPE_R + _BPE_L)}, ' ')"
    cleaned = f"replace(replace({spaced}, {q(_BPE_L)}, ''), {q(_BPE_R)}, '')"
    return f"""
WITH occ AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS occ
  FROM (SELECT doc_id, unnest({words}) AS w FROM {docs_rel})
  GROUP BY doc_id, w),
vt AS (
  SELECT w, CAST(len(string_split({cleaned}, ' ')) AS BIGINT) AS tokn
  FROM (SELECT DISTINCT w FROM occ)),
meta AS (
  SELECT o.doc_id, CAST(sum(o.occ * v.tokn) AS BIGINT) AS n_tokens,
         (('0x' || substring(md5(CAST(o.doc_id AS VARCHAR)), 1, 15))::BIGINT) % {n_buckets} AS bucket
  FROM occ o JOIN vt v USING (w)
  GROUP BY o.doc_id),
packed AS (
  SELECT doc_id, bucket, n_tokens,
         sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS bin_offset
  FROM meta),
spans AS (
  SELECT doc_id, bucket, n_tokens, bin_offset,
         unnest(generate_series(CAST(floor(bin_offset / {budget}.0) AS BIGINT),
                                CAST(floor((bin_offset + n_tokens - 1) / {budget}.0) AS BIGINT)))
           AS seq_bin
  FROM packed WHERE n_tokens > 0)
SELECT doc_id, bucket, CAST(seq_bin AS BIGINT) AS seq_bin,
       CAST(greatest(0, seq_bin * {budget} - bin_offset) AS BIGINT) AS tok_start,
       CAST(least(n_tokens, seq_bin * {budget} + {budget} - bin_offset) AS BIGINT) AS tok_end,
       CAST(greatest(0, bin_offset - seq_bin * {budget}) AS BIGINT) AS seq_offset
FROM spans
"""


DECONTAMINATE_SQL = """
WITH words AS (
  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
  FROM documents
),
sh AS (
  SELECT doc_id, unnest(
    list_distinct(CASE WHEN len(ws) >= 5 THEN
      list_transform(generate_series(1, len(ws) - 4),
                     i -> array_to_string(ws[i:i+4], ' '))
      ELSE [] END)) AS shingle
  FROM words
),
ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 29 = 0)
SELECT s.doc_id, count(*) AS n_contaminated
FROM sh s JOIN ev USING (shingle)
GROUP BY s.doc_id
"""


def shuffle_shards(
    df: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 32,
    seed: int = 0,
) -> DataFrame:
    """Deterministic corpus shuffle for training order: assign every
    document a (shard, pos) so that reading shards in order yields a
    seed-keyed pseudorandom permutation of the corpus — the step between
    curation and pack_sequences. No rand(): both the shard and the
    within-shard order are md5 hashes of (seed, id), so the permutation
    is reproducible across engines, partitionings, retries, and appends
    (a new document splices into its hash position without moving any
    existing (shard, pos > insert) assignment in other shards).

    Scale shape: identical to pack_sequences — one shuffle on (shard) and
    one per-shard sort window; n_shards bounds the sequential scope (size
    it so one shard ~= one comfortable task). A GLOBAL total-order sort
    would be a range-partitioned full-sort shuffle for no benefit: shard
    files are what a data loader actually consumes.

    Output: (id, shard, pos) with pos dense from 0 per shard."""
    from pyspark.sql import Window

    sid = F.col(id_col).cast("string")
    shard = F.pmod(
        portable_hash64(F.concat(F.lit(f"{seed}:"), sid)), F.lit(n_shards)
    )
    order_key = portable_hash64(F.concat(F.lit(f"{seed}#"), sid))
    w = Window.partitionBy("shard").orderBy("_ord", id_col)
    return (
        df.select(F.col(id_col), shard.alias("shard"), order_key.alias("_ord"))
        .withColumn("pos", F.row_number().over(w) - 1)
        .select(id_col, "shard", F.col("pos").cast("bigint").alias("pos"))
    )


SHUFFLE_SHARDS_SQL = """
WITH m AS (
  SELECT doc_id,
         (('0x' || substring(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT) % 32 AS shard,
         (('0x' || substring(md5('0#' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT) AS ord
  FROM documents
)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id) - 1 AS BIGINT) AS pos
FROM m
"""


def sample_mixture(
    df: DataFrame,
    rates_e6: dict[str, int],
    source_col: str = "source",
    id_col: str = "doc_id",
    default_rate_e6: int = 0,
) -> DataFrame:
    """Deterministic per-source mixture sampling — the curation step that
    turns raw per-source volumes into a target training mixture ("keep 100%
    of wiki, 12% of CC"): a doc survives iff
    ``pmod(hash64(id), 1e6) < rates_e6[source]`` (integer parts-per-million,
    engine-exact; unknown sources get ``default_rate_e6``).

    Scan-side projection + filter: zero shuffle, zero state, and the SAME
    stability properties as hash_split (a doc's fate never depends on any
    other doc, so the sample is reproducible under repartitioning, appends,
    retries, and incremental re-runs — rand()-based mixtures resample on
    every run). The rates map is baked into the plan as a literal CASE
    chain: fine for the dozens-of-sources regime mixtures live in; join a
    broadcast rates dim instead if sources number in the millions."""
    h = F.pmod(portable_hash64(F.col(id_col).cast("string")), F.lit(1_000_000))
    rate = F.lit(default_rate_e6)
    for src_name, r in sorted(rates_e6.items()):
        rate = F.when(F.col(source_col) == src_name, F.lit(int(r))).otherwise(rate)
    return df.filter(h < rate)


def sample_mixture_sql(rates_e6: dict[str, int], default_rate_e6: int = 0) -> str:
    cases = " ".join(
        f"WHEN source = '{s}' THEN {int(r)}" for s, r in sorted(rates_e6.items())
    )
    return f"""
SELECT doc_id, source
FROM documents
WHERE (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT) % 1000000
      < (CASE {cases} ELSE {default_rate_e6} END)
"""


def kg_negative_samples(
    triples: DataFrame,
    n_negatives: int = 2,
    n_buckets: int = 64,
    seed: int = 42,
    src: str = "src",
    predicate: str = "predicate",
    dst: str = "dst",
) -> DataFrame:
    """Deterministic filtered negative sampling for KG-embedding training
    (TransE-family): for each distinct triple (s, p, d) and negative slot
    i < ``n_negatives``, corrupt the object to a pseudo-random entity and
    drop corruptions that are themselves known positives (the standard
    "filtered" setting, Bordes et al. NeurIPS'13).

    The corrupt entity for (s, p, d, i) is chosen in two deterministic
    hash steps so the result is a pure function of (data, seed) — stage
    retries reproduce it and the DuckDB mirror
    (``kg_negative_samples_sql``) is engine-exact:

    1. bucket: the entity vocabulary (distinct src ∪ dst) is hashed into
       ``n_buckets`` groups; slot i of triple t draws from bucket
       ``portable_hash64(seed|s|p|d|i) % n_buckets``.
    2. pick: within that bucket, the entity minimizing
       ``md5(seed|s|p|d|i|e)`` (ties by minimum e).

    A slot whose bucket is empty, or whose pick equals the true object or
    collides with any known (s, p, ·) positive, emits nothing — expected
    loss is |positives per (s,p)| / (|vocab| / n_buckets), negligible at
    corpus scale and deterministic at any scale.

    Returns (src, predicate, dst, neg_idx BIGINT, neg_dst).

    Scale shape: candidate generation is ONE equi-join on bucket id —
    each of the k·|triples| requests meets expected |vocab|/n_buckets
    candidate entities, so ``n_buckets`` is the knob that bounds join
    fan-out (size it ~|vocab|/64); the argmin is a map-side-combinable
    struct-min groupBy (no Window), and the filtered-positive check is a
    broadcast-or-shuffle left_anti equi-join on (s, p, candidate). The
    vocabulary frame is checkpointed once and never re-derived.
    """
    if n_negatives < 1 or n_buckets < 1:
        raise ValueError("n_negatives and n_buckets must be >= 1")
    trip, _ = checkpoint(
        triples.select(
            F.col(src).alias("src"),
            F.col(predicate).alias("predicate"),
            F.col(dst).alias("dst"),
        ).distinct()
    )
    vocab, _ = checkpoint(
        trip.select(F.col("src").alias("e"))
        .unionAll(trip.select(F.col("dst").alias("e")))
        .distinct()
        .select("e", F.pmod(portable_hash64(F.col("e")), F.lit(n_buckets)).alias("bkt"))
    )
    req = trip.select(
        "src",
        "predicate",
        "dst",
        F.explode(F.sequence(F.lit(0), F.lit(n_negatives - 1))).alias("neg_idx"),
    ).select(
        "src",
        "predicate",
        "dst",
        F.col("neg_idx").cast("long").alias("neg_idx"),
        F.pmod(
            portable_hash64(
                F.concat_ws(
                    "|",
                    F.lit(str(seed)),
                    F.col("src"),
                    F.col("predicate"),
                    F.col("dst"),
                    F.col("neg_idx").cast("string"),
                )
            ),
            F.lit(n_buckets),
        ).alias("bkt"),
    )
    pick_hash = F.md5(
        F.concat_ws(
            "|",
            F.lit(str(seed)),
            F.col("src"),
            F.col("predicate"),
            F.col("dst"),
            F.col("neg_idx").cast("string"),
            F.col("e"),
        )
    )
    negs = (
        req.join(vocab, "bkt")
        .groupBy("src", "predicate", "dst", "neg_idx")
        .agg(F.min(F.struct(pick_hash.alias("h"), F.col("e").alias("c"))).alias("m"))
        .select("src", "predicate", "dst", "neg_idx", F.col("m.c").alias("neg_dst"))
    )
    known = trip.select(
        "src", "predicate", F.col("dst").alias("neg_dst")
    )
    return negs.join(known, ["src", "predicate", "neg_dst"], "left_anti").select(
        "src", "predicate", "dst", "neg_idx", "neg_dst"
    )


def kg_negative_samples_sql(
    triples_rel: str,
    n_negatives: int = 2,
    n_buckets: int = 64,
    seed: int = 42,
    src: str = "src",
    predicate: str = "predicate",
    dst: str = "dst",
) -> str:
    """SQL suffix mirroring kg_negative_samples() (DuckDB dialect)."""
    req_hash = portable_hash64_sql(
        f"concat_ws('|', '{seed}', t.src, t.predicate, t.dst, "
        "CAST(i.neg_idx AS VARCHAR))"
    )
    idx_vals = ", ".join(f"({i})" for i in range(n_negatives))
    return f"""
, _ns_trip AS MATERIALIZED (
  SELECT DISTINCT {src} AS src, {predicate} AS predicate, {dst} AS dst
  FROM {triples_rel}),
_ns_vocab AS MATERIALIZED (
  SELECT e, ({portable_hash64_sql('e')} % {n_buckets}) AS bkt FROM (
    SELECT DISTINCT src AS e FROM _ns_trip
    UNION SELECT DISTINCT dst AS e FROM _ns_trip)),
_ns_req AS MATERIALIZED (
  SELECT t.src, t.predicate, t.dst, CAST(i.neg_idx AS BIGINT) AS neg_idx,
         ({req_hash} % {n_buckets}) AS bkt
  FROM _ns_trip t CROSS JOIN (VALUES {idx_vals}) i(neg_idx)),
_ns_pick AS MATERIALIZED (
  SELECT src, predicate, dst, neg_idx, e AS neg_dst FROM (
    SELECT r.src, r.predicate, r.dst, r.neg_idx, v.e,
           row_number() OVER (
             PARTITION BY r.src, r.predicate, r.dst, r.neg_idx
             ORDER BY md5(concat_ws('|', '{seed}', r.src, r.predicate,
                                    r.dst, CAST(r.neg_idx AS VARCHAR), v.e)),
                      v.e) AS rn
    FROM _ns_req r JOIN _ns_vocab v USING (bkt)) WHERE rn = 1)
SELECT p.src, p.predicate, p.dst, p.neg_idx, p.neg_dst
FROM _ns_pick p
WHERE NOT EXISTS (
  SELECT 1 FROM _ns_trip k
  WHERE k.src = p.src AND k.predicate = p.predicate AND k.dst = p.neg_dst)"""


def bpe_pair_counts(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
    lowercase: bool = True,
) -> DataFrame:
    """The first step of BPE tokenizer training: adjacent character-pair
    frequencies over the corpus, weighted by word frequency (words =
    single-SPACE split, the repo-wide word_array contract; the counts
    the first merge rule is chosen from; iterate externally after each
    merge — the merge loop is inherently sequential and vocabulary-sized,
    not a distributed job).

    Returns (pair STRING len 2, n BIGINT) with n = sum over distinct
    words of (occurrences of the pair in the word) * word count; pairs
    below ``min_count`` are dropped.

    Scale shape: word counts are one shuffle with map-side partials
    (Zipf-safe, counters only); the pair explosion then runs over the
    DISTINCT word vocabulary — 10^7-ish even for 10^12 documents — so the
    quadratic-looking per-word work is bounded by vocabulary size, not
    corpus size; the final pair aggregation is alphabet^2-sized.
    """
    words = word_array(
        F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    )
    wc = (
        docs.select(F.explode(words).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("wn"))
    )
    # single-char words MUST be filtered before the sequence: Spark's
    # sequence(1, 0) infers a DESCENDING step and yields [1, 0], turning
    # every 1-char word into two phantom pairs (DuckDB's generate_series
    # is empty there — a silent engine divergence)
    pairs = wc.filter(F.length("w") >= 2).select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))")
        ).alias("pair"),
        "wn",
    )
    out = pairs.groupBy("pair").agg(F.sum("wn").cast("long").alias("n"))
    if min_count > 1:
        out = out.filter(F.col("n") >= F.lit(min_count))
    return out


def bpe_pair_counts_sql(
    docs_rel: str = "documents",
    text_col: str = "text",
    min_count: int = 1,
    lowercase: bool = True,
) -> str:
    """DuckDB mirror of bpe_pair_counts()."""
    src = f"lower({text_col})" if lowercase else text_col
    words = WORD_ARRAY_SQL.format(col=src)
    having = f"HAVING CAST(sum(wn) AS BIGINT) >= {min_count}" if min_count > 1 else ""
    return f"""
, _bp_wc AS MATERIALIZED (
  SELECT w, CAST(count(*) AS BIGINT) AS wn
  FROM (SELECT unnest({words}) AS w FROM {docs_rel})
  GROUP BY w)
SELECT substr(w, CAST(i AS INT), 2) AS pair, CAST(sum(wn) AS BIGINT) AS n
FROM _bp_wc, unnest(generate_series(1, length(w) - 1)) AS g(i)
GROUP BY 1 {having}"""


#: BPE symbol wrappers — every symbol is rendered "\x01sym\x02" so a merge
#: pattern "\x01a\x02\x01b\x02" (a) can never match inside a multi-char
#: symbol and (b) never shares a delimiter with an adjacent match (the
#: naive space-delimited form " a b " DOES share its boundary space, so
#: left-to-right replace() missed every second merge in "a a a a").
_BPE_L = "\x01"
_BPE_R = "\x02"


def _bpe_wrap(sym: str) -> str:
    return _BPE_L + sym + _BPE_R


def bpe_encode_token_counts(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    min_count: int = 1,
    lowercase: bool = True,
) -> DataFrame:
    """(token, n) — corpus token frequencies after ENCODING with a fixed
    BPE merge list: the apply step complementing bpe_pair_counts (the
    train step). n = occurrences of the token across the corpus (word
    occurrences x token occurrences within the word). The table a
    tokenizer-coverage / bits-per-byte analysis reads.

    Merges apply in list order, later merges seeing earlier merges'
    output (("e","r") then ("er","e") works on the merged symbol) —
    standard BPE encode semantics via left-to-right non-overlapping
    ``replace`` over the wrapped symbol string, identical in Spark and
    DuckDB (verified: both scan past the replacement). Input text must
    not contain the \\x01/\\x02 wrapper bytes (clean_text strips control
    characters; garbage bytes would only mis-tokenize their own word).

    Scale shape (same argument as bpe_pair_counts): word counts are one
    map-side-combinable shuffle; the merge chain — len(merges) native
    string replaces — runs over the DISTINCT word vocabulary (~10^7 even
    at 10^12 docs), so per-merge cost is vocabulary-bounded, not
    corpus-bounded; the final token aggregation is one more shuffle over
    vocab-sized input.
    """
    words = word_array(
        F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    )
    wc = (
        docs.select(F.explode(words).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("wn"))
    )
    sym = F.concat(
        F.lit(_BPE_L),
        F.concat_ws(_BPE_R + _BPE_L, F.split(F.col("w"), "")),
        F.lit(_BPE_R),
    )
    for a, b in merges:
        sym = F.replace(sym, F.lit(_bpe_wrap(a) + _bpe_wrap(b)), F.lit(_bpe_wrap(a + b)))
    # "\x01t\x02\x01he\x02" -> "t he" -> ["t", "he"]
    spaced = F.replace(sym, F.lit(_BPE_R + _BPE_L), F.lit(" "))
    tokens = F.split(
        F.replace(
            F.replace(spaced, F.lit(_BPE_L), F.lit("")), F.lit(_BPE_R), F.lit("")
        ),
        " ",
    )
    out = (
        wc.select(F.explode(tokens).alias("token"), "wn")
        .groupBy("token")
        .agg(F.sum("wn").cast("long").alias("n"))
    )
    if min_count > 1:
        out = out.filter(F.col("n") >= F.lit(min_count))
    return out


def bpe_encode_token_counts_sql(
    merges: list[tuple[str, str]],
    docs_rel: str = "documents",
    text_col: str = "text",
    min_count: int = 1,
    lowercase: bool = True,
) -> str:
    """DuckDB mirror of bpe_encode_token_counts() (the same replace chain;
    wrapper bytes embedded literally in the SQL string)."""
    src = f"lower({text_col})" if lowercase else text_col
    words = WORD_ARRAY_SQL.format(col=src)

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    sym = (
        f"{q(_BPE_L)} || array_to_string(string_split(w, ''), "
        f"{q(_BPE_R + _BPE_L)}) || {q(_BPE_R)}"
    )
    for a, b in merges:
        sym = f"replace({sym}, {q(_bpe_wrap(a) + _bpe_wrap(b))}, {q(_bpe_wrap(a + b))})"
    spaced = f"replace({sym}, {q(_BPE_R + _BPE_L)}, ' ')"
    cleaned = f"replace(replace({spaced}, {q(_BPE_L)}, ''), {q(_BPE_R)}, '')"
    having = f"HAVING CAST(sum(wn) AS BIGINT) >= {min_count}" if min_count > 1 else ""
    return f"""
, _be_wc AS MATERIALIZED (
  SELECT w, CAST(count(*) AS BIGINT) AS wn
  FROM (SELECT unnest({words}) AS w FROM {docs_rel})
  GROUP BY w)
SELECT token, CAST(sum(wn) AS BIGINT) AS n
FROM (SELECT unnest(string_split({cleaned}, ' ')) AS token, wn FROM _be_wc)
GROUP BY token {having}"""


def bpe_train(
    docs: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    lowercase: bool = True,
    checkpoint_every: int = 8,
) -> DataFrame:
    """(rank, a, b, n) — TRAIN a BPE tokenizer: the full sequential merge
    loop (Sennrich-style word-level BPE), closing the train half that
    bpe_pair_counts (one iteration's counts) and bpe_encode_token_counts
    (the apply step) bracket. rank t is the t-th merge chosen; (a, b) are
    the symbols merged; n the pair's corpus frequency when chosen.

    Each iteration: adjacent-SYMBOL pair counts over the current encoding
    of the distinct-word vocabulary, weighted by word frequency; the
    winner is the max-n pair with (a, b) lexicographic tie-break (binary
    collation in both engines — deterministic, partition-independent);
    the merge applies as one native left-to-right ``replace`` over the
    wrapped symbol string (the \\x01sym\\x02 framing — see _bpe_wrap).

    Scale shape: ONE corpus-sized shuffle total (the word count, which is
    checkpointed — every iteration reads the materialized blocks,
    never the corpus); each iteration is then a vocabulary-bounded job
    (pair explode + alphabet^2 aggregate) plus a SINGLE collected row —
    the loop ships O(n_merges) values to the driver, same contract as the
    k-means centroid loop. The replace chain grows one native string op
    per merge; ``checkpoint_every`` re-materializes the encoded vocab so
    executed chain depth stays bounded for 10^4-merge production runs.

    Early stop: if no pair remains (every word fused to one symbol), the
    merge list is returned short — callers see rank < n_merges. The SQL
    mirror (bpe_train_sql) unrolls fixed levels and assumes n_merges
    productive iterations, which the contract corpus satisfies.
    """
    spark = docs.sparkSession
    src = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    wc = (
        docs.select(F.explode(word_array(src)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("wn"))
    )
    sym0 = F.concat(
        F.lit(_BPE_L),
        F.concat_ws(_BPE_R + _BPE_L, F.split(F.col("w"), "")),
        F.lit(_BPE_R),
    )
    cur, _ = checkpoint(wc.select("wn", sym0.alias("s")))
    merges: list[tuple[int, str, str, int]] = []
    for t in range(n_merges):
        g = materialize(cur, __bt_syms=F.split(
            F.expr("substring(s, 2, length(s) - 2)"), _BPE_R + _BPE_L
        ))
        syms = F.col("__bt_syms")
        # single-symbol words carry no pairs; they must be filtered BEFORE
        # sequence() (sequence(1, 0) DESCENDS and fabricates indices)
        pairs = g.filter(F.size(syms) >= 2).select(
            "wn",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(syms) - 1),
                    lambda i: F.struct(
                        F.element_at(syms, i).alias("a"),
                        F.element_at(syms, i + 1).alias("b"),
                    ),
                )
            ).alias("p"),
        )
        best = (
            pairs.groupBy("p.a", "p.b")
            .agg(F.sum("wn").cast("long").alias("n"))
            .orderBy(F.col("n").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b, n = best[0]["a"], best[0]["b"], best[0]["n"]
        merges.append((t, a, b, n))
        cur = cur.withColumn(
            "s",
            F.replace(
                F.col("s"), F.lit(_bpe_wrap(a) + _bpe_wrap(b)), F.lit(_bpe_wrap(a + b))
            ),
        )
        if (t + 1) % checkpoint_every == 0 and t + 1 < n_merges:
            cur, _ = checkpoint(cur)
    return local_frame(spark, merges, "rank int, a string, b string, n long")


def _bpe_train_ctes(
    n_merges: int,
    docs_rel: str,
    text_col: str,
    lowercase: bool,
    with_final_encoding: bool = False,
) -> tuple[str, str]:
    """(ctes, last_rel) — the unrolled merge-loop CTE chain shared by
    bpe_train_sql and bpe_trained_vocab_sql. With ``with_final_encoding``
    the chain also applies the LAST winner, so ``last_rel`` holds the
    fully-encoded vocabulary."""
    src = f"lower({text_col})" if lowercase else text_col
    words = WORD_ARRAY_SQL.format(col=src)

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    L, R, RL = q(_BPE_L), q(_BPE_R), q(_BPE_R + _BPE_L)
    parts = [
        f"""
_bt_wc AS MATERIALIZED (
  SELECT CAST(count(*) AS BIGINT) AS wn,
         {L} || array_to_string(string_split(w, ''), {RL}) || {R} AS s
  FROM (SELECT unnest({words}) AS w FROM {docs_rel})
  GROUP BY w)"""
    ]
    prev = "_bt_wc"
    for t in range(n_merges):
        parts.append(
            f"""
_bt_p{t} AS (
  SELECT syms[CAST(i AS INT)] AS a, syms[CAST(i AS INT) + 1] AS b,
         CAST(sum(wn) AS BIGINT) AS n
  FROM (SELECT wn,
               string_split(substring(s, 2, length(s) - 2), {RL}) AS syms
        FROM {prev}) t,
       unnest(generate_series(1, len(syms) - 1)) AS g(i)
  WHERE len(syms) >= 2
  GROUP BY 1, 2),
_bt_b{t} AS (SELECT a, b, n FROM _bt_p{t} ORDER BY n DESC, a ASC, b ASC LIMIT 1)"""
        )
        if t + 1 < n_merges or with_final_encoding:
            parts.append(
                f"""
_bt_w{t + 1} AS (
  SELECT wn, replace(s, {L} || m.a || {R} || {L} || m.b || {R},
                        {L} || m.a || m.b || {R}) AS s
  FROM {prev} CROSS JOIN _bt_b{t} m)"""
            )
            prev = f"_bt_w{t + 1}"
    return ",".join(parts), prev


def bpe_train_sql(
    n_merges: int = 8,
    docs_rel: str = "documents",
    text_col: str = "text",
    lowercase: bool = True,
) -> str:
    """DuckDB mirror of bpe_train(): the merge loop unrolled as CTE
    levels — level t computes pair counts over the level-t encoding,
    picks the winner (same n DESC, a, b ASC order), and the next level's
    encoding CROSS JOINs the winner into the replace. Assumes every
    level is productive (the contract corpus at sf0.01 is)."""
    ctes, _ = _bpe_train_ctes(n_merges, docs_rel, text_col, lowercase)
    union = "\nUNION ALL\n".join(
        f"SELECT {t} AS rank, a, b, n FROM _bt_b{t}" for t in range(n_merges)
    )
    return ctes + "\n" + union


def bpe_trained_vocab_sql(
    n_merges: int = 8,
    docs_rel: str = "documents",
    text_col: str = "text",
    min_count: int = 1,
    lowercase: bool = True,
) -> str:
    """Mirror of the train->apply composition: corpus token frequencies
    after encoding with the merges bpe_train just learned (the final
    level's encoding IS the applied tokenizer — no separate replay)."""

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    ctes, last = _bpe_train_ctes(
        n_merges, docs_rel, text_col, lowercase, with_final_encoding=True
    )
    spaced = f"replace(s, {q(_BPE_R + _BPE_L)}, ' ')"
    cleaned = (
        f"replace(replace({spaced}, {q(_BPE_L)}, ''), {q(_BPE_R)}, '')"
    )
    having = f"HAVING CAST(sum(wn) AS BIGINT) >= {min_count}" if min_count > 1 else ""
    return f"""{ctes}
SELECT token, CAST(sum(wn) AS BIGINT) AS n
FROM (SELECT unnest(string_split({cleaned}, ' ')) AS token, wn FROM {last})
GROUP BY token {having}"""


def leakage_safe_split(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_pct: int = 90,
    val_pct: int = 5,
    n_seeds: int | None = None,
    band_size: int = 2,
    split_col: str = "split",
) -> DataFrame:
    """Train/val/test split that cannot leak near-duplicates across the
    boundary: documents are first clustered by minhash-LSH connected
    components (minhash_dedup_survivors — the same clusters the dedup
    pass uses), then the split bucket is the md5 hash of the CLUSTER id,
    so every member of a near-dup cluster lands on the same side. Plain
    hash_split hashes the DOC id and routinely puts a training doc's
    near-copy into eval (tests/test_leakage_split.py demonstrates the
    leak and its absence here; DEDUP_QUALITY.md measures how completely
    the clusters capture true near-dups at each J threshold).

    Output: (id, cluster_id, is_survivor, split) — downstream typically
    trains on ``split = 'train' AND is_survivor = 1`` and evaluates on
    the val/test SURVIVORS, keeping eval near-dup-free too.

    Scale shape: exactly the survivors path (star edges -> leaf-contracted
    CC, no Window, no pair listing) plus one scan-side hash; the split
    adds NO shuffle. Same integer-percent contract as hash_split.
    """
    from posextract_spark.operators.dedup import (
        MINHASH_SEEDS,
        minhash_dedup_survivors,
    )

    if not (0 <= train_pct and 0 <= val_pct and train_pct + val_pct <= 100):
        raise ValueError(f"invalid split percents: train={train_pct} val={val_pct}")
    clusters = minhash_dedup_survivors(
        df,
        text_col=text_col,
        id_col=id_col,
        n_seeds=MINHASH_SEEDS if n_seeds is None else n_seeds,
        band_size=band_size,
    )
    h = F.pmod(portable_hash64(F.col("cluster_id").cast("string")), F.lit(100))
    split = (
        F.when(h < train_pct, F.lit("train"))
        .when(h < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return clusters.withColumn(split_col, split)


def leakage_safe_split_sql(
    rel: str = "documents", train_pct: int = 90, val_pct: int = 5
) -> str:
    """Oracle: the survivors closure CTEs (recursive opener) + the
    cluster-id-keyed md5 split."""
    from posextract_spark.operators.dedup import minhash_dedup_survivors_ctes

    return (
        "WITH RECURSIVE "
        + minhash_dedup_survivors_ctes(rel)
        + f"""
SELECT doc_id, cluster_id, is_survivor,
       CASE WHEN h < {train_pct} THEN 'train'
            WHEN h < {train_pct + val_pct} THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id, cluster_id, is_survivor,
         (('0x' || substring(md5(CAST(cluster_id AS VARCHAR)), 1, 15))::BIGINT) % 100 AS h
  FROM surv
)"""
    )


def pack_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    budget: int = 512,
    n_buckets: int = 32,
) -> DataFrame:
    """Packing-efficiency report over the pack_sequences assignment — the
    observability numbers a pretraining export job tracks per shard:

      (bucket, n_docs, total_tokens,
       n_bins,          -- training sequences this bucket yields
       waste_tokens,    -- padding in the bucket's (single) short tail bin
       n_straddling,    -- docs split across a sequence boundary
       n_spans)         -- total (doc, bin) spans = what the writer writes

    Everything is integer arithmetic over the assignment columns, one
    map-side-combinable groupBy(bucket) on top of the assignment's
    per-bucket window — no new shuffle, n_buckets output rows. Waste
    lives ONLY in tail bins by construction (full bins sum to exactly
    ``budget``; tests pin this), so corpus padding overhead is
    sum(waste_tokens) / (sum(n_bins) * budget) — with doc-boundary
    fragmentation visible separately via n_straddling / n_spans.
    """
    packed = pack_sequences(
        df, text_col=text_col, id_col=id_col, budget=budget, n_buckets=n_buckets
    )
    last_bin = F.floor(
        (F.col("bin_offset") + F.col("n_tokens") - 1) / F.lit(budget)
    ).cast("bigint")
    nonzero = F.col("n_tokens") > 0
    agg = packed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum(F.when(nonzero & (last_bin > F.col("seq_bin")), 1).otherwise(0))
        .cast("long")
        .alias("n_straddling"),
        F.sum(F.when(nonzero, last_bin - F.col("seq_bin") + 1).otherwise(0))
        .cast("long")
        .alias("n_spans"),
    )
    n_bins = F.when(
        F.col("total_tokens") > 0,
        (F.col("total_tokens") - 1) / F.lit(budget) + 1,
    ).otherwise(F.lit(0))
    n_bins = F.floor(n_bins).cast("long")
    return agg.select(
        "bucket",
        "n_docs",
        "total_tokens",
        n_bins.alias("n_bins"),
        (n_bins * F.lit(budget) - F.col("total_tokens")).cast("long").alias("waste_tokens"),
        "n_straddling",
        "n_spans",
    )


def pack_stats_sql(rel: str = "documents", budget: int = 512, n_buckets: int = 32) -> str:
    """Oracle: the PACK_SEQUENCES window CTE + one GROUP BY bucket."""
    return f"""
WITH meta AS (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_tokens,
         (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT) % {n_buckets} AS bucket
  FROM {rel}
),
packed AS (
  SELECT doc_id, bucket, n_tokens,
         sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS bin_offset
  FROM meta
),
st AS (
  SELECT bucket,
         count(*) AS n_docs,
         sum(n_tokens) AS total_tokens,
         sum(CASE WHEN n_tokens > 0 AND
                       floor((bin_offset + n_tokens - 1) / {budget}.0) > floor(bin_offset / {budget}.0)
                  THEN 1 ELSE 0 END) AS n_straddling,
         sum(CASE WHEN n_tokens > 0
                  THEN floor((bin_offset + n_tokens - 1) / {budget}.0) - floor(bin_offset / {budget}.0) + 1
                  ELSE 0 END) AS n_spans
  FROM packed GROUP BY bucket
)
SELECT bucket, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(total_tokens AS BIGINT) AS total_tokens,
       CAST(CASE WHEN total_tokens > 0 THEN (total_tokens - 1) // {budget} + 1 ELSE 0 END AS BIGINT) AS n_bins,
       CAST(CASE WHEN total_tokens > 0 THEN ((total_tokens - 1) // {budget} + 1) * {budget} - total_tokens ELSE 0 END AS BIGINT) AS waste_tokens,
       CAST(n_straddling AS BIGINT) AS n_straddling,
       CAST(n_spans AS BIGINT) AS n_spans
FROM st
"""


#: contamination_report severity bands: (label, inclusive hit bounds).
CONTAMINATION_BANDS = (("1", 1, 1), ("2-4", 2, 4), ("5-16", 5, 16), ("17+", 17, None))


def contamination_report(
    train_df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_broadcast_limit: int | None = 10_000_000,
) -> DataFrame:
    """Corpus-level contamination dashboard over decontaminate()'s
    per-doc hits — the one-page answer to "how leaked is this corpus
    against this eval suite":

      (band, n_docs, total_hits) with band in
      'clean' | '1' | '2-4' | '5-16' | '17+' | 'short'

    'short' = train docs with < SHINGLE_N words (unmeasurable — they
    contain no 5-gram, reported separately instead of silently counted
    clean). Shape: decontaminate's broadcast-guarded join, then ONE
    scan-side band classification + a 6-group combinable aggregate on
    top of the per-doc counts; no new shuffle beyond decontaminate's
    own groupBy.
    """
    from posextract_spark.operators.dedup import SHINGLE_N

    hits = decontaminate(
        train_df,
        eval_df,
        text_col=text_col,
        id_col=id_col,
        eval_broadcast_limit=eval_broadcast_limit,
    )
    n_words = F.size(word_array(F.col(text_col)))
    base = train_df.select(
        F.col(id_col), (n_words < SHINGLE_N).alias("_short")
    ).join(hits, id_col, "left")
    h = F.coalesce(F.col("n_contaminated"), F.lit(0))
    band = F.when(F.col("_short"), F.lit("short")).when(h == 0, F.lit("clean"))
    for label, lo, hi in CONTAMINATION_BANDS:
        cond = h >= lo if hi is None else (h >= lo) & (h <= hi)
        band = band.when(cond, F.lit(label))
    return (
        base.select(band.alias("band"), h.alias("_h"))
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_h").cast("long").alias("total_hits"),
        )
    )


def contamination_report_sql(rel: str = "documents", eval_mod: int = 29) -> str:
    """Oracle: DECONTAMINATE_SQL's shingle chain + the same band CASE."""
    bands = []
    for label, lo, hi in CONTAMINATION_BANDS:
        cond = f"h >= {lo}" if hi is None else f"h BETWEEN {lo} AND {hi}"
        bands.append(f"WHEN {cond} THEN '{label}'")
    band_case = "\n            ".join(bands)
    return f"""
WITH words AS (
  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
  FROM {rel}
),
sh AS (
  SELECT doc_id, unnest(
    list_distinct(CASE WHEN len(ws) >= 5 THEN
      list_transform(generate_series(1, len(ws) - 4),
                     i -> array_to_string(ws[i:i+4], ' '))
      ELSE [] END)) AS shingle
  FROM words
),
ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {eval_mod} = 0),
hits AS (
  SELECT s.doc_id, count(*) AS n_contaminated
  FROM sh s JOIN ev USING (shingle) GROUP BY s.doc_id
),
perdoc AS (
  SELECT w.doc_id, len(w.ws) < 5 AS short,
         coalesce(h.n_contaminated, 0) AS h
  FROM words w LEFT JOIN hits h USING (doc_id)
)
SELECT CASE WHEN short THEN 'short'
            WHEN h = 0 THEN 'clean'
            {band_case}
       END AS band,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(h) AS BIGINT) AS total_hits
FROM perdoc GROUP BY 1
"""


def contaminated_token_fraction(
    train_df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_broadcast_limit: int | None = 10_000_000,
) -> DataFrame:
    """Per-train-document FUZZY contamination: the fraction of the
    document's tokens covered by at least one eval-matching 5-gram
    occurrence — the GPT-3/Llama-style token-overlap measure (Brown et
    al. 2020 app. C uses 13-gram spans; same construction), where
    decontaminate() counts distinct leaked shingles, this answers "how
    much OF THE DOCUMENT is leaked", which is what a removal threshold
    should key on (one quoted sentence in a long article is not the same
    contamination as a wholesale copy).

    Output (contaminated docs only, like decontaminate):
      (id, n_words, covered_tokens, frac_e6)
    with frac_e6 = floor(covered_tokens * 1e6 / n_words) — integer
    fixed-point, engine-exact.

    Shape: positional (non-distinct) shingles on the train side
    [posexplode over the materialized gram array], the broadcast-guarded
    distinct eval shingle set on the other, then each matched occurrence
    at position i marks tokens [i, i+4] covered; covered_tokens =
    COUNT(DISTINCT position) per doc — overlapping matches never double
    count. One shuffle total (the per-doc distinct-count aggregate),
    bounded by MATCHED occurrences x SHINGLE_N, not by the corpus; the
    interval explode is scan-side and linear in matches.
    """
    from posextract_spark.functions.hashing import ngram_array
    from posextract_spark.operators.dedup import SHINGLE_N

    ev = _guarded_eval_shingles(
        _shingle_rows(eval_df, text_col, id_col), eval_broadcast_limit
    )
    g = materialize(
        train_df.select(F.col(id_col), F.col(text_col)),
        __fw=word_array(F.col(text_col)),
    )
    grams = g.filter(F.size(F.col("__fw")) >= SHINGLE_N).select(
        F.col(id_col),
        F.size(F.col("__fw")).cast("long").alias("n_words"),
        ngram_array(F.col("__fw"), SHINGLE_N).alias("__grams"),
    )
    # generator split from the lambda projection (CollapseProject trips
    # FIELD_NOT_FOUND when both share a select — see memory of r6)
    pos = grams.select(
        id_col, "n_words", F.posexplode(F.col("__grams")).alias("pos", "shingle")
    )
    # Interval-union via a sorted-positions fold (r8): the first
    # formulation exploded every match into its SHINGLE_N covered token
    # indices (5x the matched rows) and count_distinct'ed them — a
    # two-phase distinct aggregate over 50M rows at bench scale. Matched
    # positions are already unique per doc (posexplode), so
    # |union of [p, p+SHINGLE_N-1]| folds exactly over the sorted
    # position list: each position contributes min(SHINGLE_N, gap to its
    # predecessor). Same integers, one narrow shuffle, no distinct pass
    # (measured 1.7s -> 0.6s of the query tail at 200k docs).
    covered = pos.join(ev, "shingle").select(id_col, "n_words", "pos")
    union_len = F.aggregate(
        F.sort_array(F.collect_list("pos")),
        F.struct(
            F.lit(-(SHINGLE_N + 1)).cast("int").alias("last"),
            F.lit(0).cast("long").alias("tot"),
        ),
        lambda acc, p: F.struct(
            p.alias("last"),
            (
                acc["tot"]
                + F.least(F.lit(SHINGLE_N), p - acc["last"]).cast("long")
            ).alias("tot"),
        ),
        lambda acc: acc["tot"],
    )
    return (
        covered.groupBy(id_col, "n_words")
        .agg(union_len.alias("covered_tokens"))
        .select(
            id_col,
            "n_words",
            "covered_tokens",
            F.expr("covered_tokens * CAST(1000000 AS BIGINT) div n_words")
            .cast("long")
            .alias("frac_e6"),
        )
    )


def decontaminate_fuzzy(
    train_df: DataFrame,
    eval_df: DataFrame,
    max_frac_e6: int = 100_000,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_broadcast_limit: int | None = 10_000_000,
) -> DataFrame:
    """Corpus filter on the fuzzy measure: keep train docs whose
    contaminated-token fraction is UNDER ``max_frac_e6`` (default 10%).
    Docs with no matched shingle (no report row) and short docs are kept
    — use decontaminate()'s exact-hit policy when any leak must drop the
    doc. Left-anti join against the over-threshold id set; the train
    payload never reshuffles."""
    bad = (
        contaminated_token_fraction(
            train_df,
            eval_df,
            text_col=text_col,
            id_col=id_col,
            eval_broadcast_limit=eval_broadcast_limit,
        )
        .filter(F.col("frac_e6") >= max_frac_e6)
        .select(id_col)
    )
    return train_df.join(bad, id_col, "left_anti")


def contaminated_token_fraction_ctes(
    train_rel: str = "documents",
    eval_rel: str = "documents",
    eval_mod: int = 29,
) -> str:
    """CTE-fragment mirror of contaminated_token_fraction, ending in
    ``ctf_hits(doc_id, n_words, covered_tokens, frac_e6)`` — composable
    into pipeline oracles (the bloom_decontaminate_ctes pattern); eval =
    ``eval_rel`` rows with doc_id % eval_mod = 0, train = ``train_rel``.
    Intermediate names _ctf-prefixed to dodge collisions."""
    return f"""_ctf_tw AS (
  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
  FROM {train_rel}
),
_ctf_ew AS (
  SELECT list_filter(string_split(text, ' '), w -> w <> '') AS ws
  FROM {eval_rel} WHERE doc_id % {eval_mod} = 0
),
_ctf_ev AS (
  SELECT DISTINCT array_to_string(ws[t.i:t.i+4], ' ') AS shingle
  FROM _ctf_ew, UNNEST(generate_series(1, len(ws) - 4)) AS t(i)
  WHERE len(ws) >= 5
),
_ctf_pos AS (
  SELECT doc_id, len(ws) AS n_words, t.i AS pos,
         array_to_string(ws[t.i:t.i+4], ' ') AS shingle
  FROM _ctf_tw, UNNEST(generate_series(1, len(ws) - 4)) AS t(i)
  WHERE len(ws) >= 5
),
_ctf_cov AS (
  SELECT s.doc_id, s.n_words, u.p
  FROM _ctf_pos s JOIN _ctf_ev USING (shingle),
       UNNEST(generate_series(s.pos, s.pos + 4)) AS u(p)
),
ctf_hits AS (
  SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
         CAST(count(DISTINCT p) AS BIGINT) AS covered_tokens,
         CAST((count(DISTINCT p) * 1000000) // n_words AS BIGINT) AS frac_e6
  FROM _ctf_cov GROUP BY doc_id, n_words
)"""


def contaminated_token_fraction_sql(rel: str = "documents", eval_mod: int = 29) -> str:
    """DuckDB mirror of contaminated_token_fraction with the contract's
    deterministic eval split (doc_id % eval_mod = 0): positional shingles
    via a lateral generate_series, the same distinct-eval join, the same
    [i, i+4] coverage union counted per doc (fragment shared with the
    pipeline composition via contaminated_token_fraction_ctes)."""
    return (
        "WITH "
        + contaminated_token_fraction_ctes(rel, rel, eval_mod)
        + "\nSELECT doc_id, n_words, covered_tokens, frac_e6 FROM ctf_hits"
    )


def bpe_fertility_stats(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    lowercase: bool = True,
) -> DataFrame:
    """Tokenizer fertility report per corpus slice: for each ``group_col``
    value, (n_docs, ws_tokens, bpe_tokens, n_chars, fertility_e6,
    chars_per_bpe_e6) where fertility = BPE tokens per whitespace word
    and chars_per_bpe = compression ratio — the two numbers a tokenizer
    evaluation reads per domain/language (fertility >> 1e6 on a slice
    means the merge table serves it badly and its effective context
    shrinks).

    Shape: bpe_doc_token_counts' vocabulary-bounded merge chain sizes
    each doc; one slim (id, group, ws, chars) projection joins it and
    re-aggregates to GROUP cardinality (domains/languages — tiny). Docs
    with no words carry bpe_tokens=0 via the left join. Integer
    fixed-point ratios (x1e6 then integer div, zero-guarded); the e6
    scaling leaves ~3 orders of headroom over a 10^12-token group sum in
    int64 — beyond that, lift the two products to DECIMAL(38,0)."""
    per_doc = bpe_doc_token_counts(
        docs, merges, text_col=text_col, id_col=id_col, lowercase=lowercase
    )
    base = docs.select(
        F.col(id_col),
        F.col(group_col),
        F.size(word_array(F.col(text_col))).cast("long").alias("_ws"),
        F.length(F.col(text_col)).cast("long").alias("_ch"),
    )
    j = base.join(per_doc, id_col, "left")
    return (
        j.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_ws").cast("long").alias("ws_tokens"),
            F.sum(F.coalesce(F.col("n_tokens"), F.lit(0))).cast("long").alias("bpe_tokens"),
            F.sum("_ch").cast("long").alias("n_chars"),
        )
        .select(
            group_col,
            "n_docs",
            "ws_tokens",
            "bpe_tokens",
            "n_chars",
            F.expr(
                "bpe_tokens * CAST(1000000 AS BIGINT)"
                " div greatest(ws_tokens, CAST(1 AS BIGINT))"
            ).cast("long").alias("fertility_e6"),
            F.expr(
                "n_chars * CAST(1000000 AS BIGINT)"
                " div greatest(bpe_tokens, CAST(1 AS BIGINT))"
            ).cast("long").alias("chars_per_bpe_e6"),
        )
    )


def bpe_fertility_stats_sql(
    merges: list[tuple[str, str]],
    docs_rel: str = "documents",
    group_col: str = "source",
    lowercase: bool = True,
) -> str:
    """DuckDB mirror of bpe_fertility_stats: the pack_bpe occ/vt
    per-distinct-word chain re-aggregated per doc, joined to the slim
    base projection, grouped on ``group_col`` with the same integer
    fixed-point ratios."""
    src = "lower(text)" if lowercase else "text"
    words = WORD_ARRAY_SQL.format(col=src)
    base_words = WORD_ARRAY_SQL.format(col="text")

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    sym = (
        f"{q(_BPE_L)} || array_to_string(string_split(w, ''), "
        f"{q(_BPE_R + _BPE_L)}) || {q(_BPE_R)}"
    )
    for a, b in merges:
        sym = f"replace({sym}, {q(_bpe_wrap(a) + _bpe_wrap(b))}, {q(_bpe_wrap(a + b))})"
    spaced = f"replace({sym}, {q(_BPE_R + _BPE_L)}, ' ')"
    cleaned = f"replace(replace({spaced}, {q(_BPE_L)}, ''), {q(_BPE_R)}, '')"
    return f"""
WITH occ AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS occ
  FROM (SELECT doc_id, unnest({words}) AS w FROM {docs_rel})
  GROUP BY doc_id, w),
vt AS (
  SELECT w, CAST(len(string_split({cleaned}, ' ')) AS BIGINT) AS tokn
  FROM (SELECT DISTINCT w FROM occ)),
bpe AS (
  SELECT o.doc_id, CAST(sum(o.occ * v.tokn) AS BIGINT) AS bpe_tokens
  FROM occ o JOIN vt v USING (w) GROUP BY o.doc_id),
base AS (
  SELECT doc_id, {group_col}, len({base_words}) AS ws, length(text) AS ch
  FROM {docs_rel})
SELECT {group_col},
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(b.ws) AS BIGINT) AS ws_tokens,
       CAST(sum(coalesce(p.bpe_tokens, 0)) AS BIGINT) AS bpe_tokens,
       CAST(sum(b.ch) AS BIGINT) AS n_chars,
       CAST((sum(coalesce(p.bpe_tokens, 0)) * 1000000)
            // greatest(sum(b.ws), 1) AS BIGINT) AS fertility_e6,
       CAST((sum(b.ch) * 1000000)
            // greatest(sum(coalesce(p.bpe_tokens, 0)), 1) AS BIGINT) AS chars_per_bpe_e6
FROM base b LEFT JOIN bpe p USING (doc_id)
GROUP BY {group_col}
"""


#: DSIR hashed-feature space (the paper uses 10^4; a power of two keeps
#: the bucket a cheap mask-equivalent pmod in both engines)
DSIR_BUCKETS = 8192


def _flog2(x) -> F.Column:
    """floor(log2(x)) for a non-negative integer Column, computed EXACTLY
    as length(bin(x)) - 1 — a string-length op, not a transcendental, so
    Spark and DuckDB agree bit-for-bit (bin(0) = '0' gives 0 in both)."""
    return (F.length(F.bin(x)) - F.lit(1)).cast("long")


def dsir_scores(
    raw_df: DataFrame,
    target_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023, arXiv
    2302.03169), the hashed-n-gram flavor, in ENGINE-EXACT integer
    arithmetic: score each raw-corpus document by how target-like its
    hashed word-bigram distribution is,

      dsir_score = sum over bigram occurrences b of
          [flog2(ct_b + 1) + flog2(Nr)] - [flog2(cr_b + 1) + flog2(Nt)]

    where ct/cr are the bucket's bigram counts in the target/raw corpus,
    Nt/Nr the total bigram counts, and flog2 = floor(log2) via binary-
    string length (_flog2 — no transcendentals, so the DuckDB mirror
    hash-matches). This is the paper's add-one log-likelihood ratio with
    logs quantized to whole bits and the normalizers folded per term to
    stay overflow-free at any corpus size (no count products are ever
    formed). Factor-of-2 ratio resolution is the deliberate trade for
    determinism; the paper's Gumbel-noise resampling step becomes a
    caller-side deterministic top-k / threshold on the score.

    Output: (id, n_features, dsir_score) per raw doc with >= 2 words
    (higher = more target-like). Rank or threshold to select.

    Scale shape: two map-side-combinable bucket-count aggregations (the
    feature space is n_buckets ~ 10^4 regardless of corpus size), two
    1-row total frames crossJoined in (broadcast), ONE broadcast join of
    the n_buckets-row score map onto the scan-side bigram stream, one
    per-doc sum. The raw bigram stream is checkpointed once, so the raw
    corpus text is scanned once for both the count pass and the score
    pass (Catalyst has no plan-level CTE reuse)."""
    from posextract_spark.functions.hashing import ngram_array

    def bigram_buckets(frame: DataFrame, with_id: bool) -> DataFrame:
        g = materialize(
            frame.select(F.col(id_col), F.col(text_col)),
            __dg=word_array(F.col(text_col)),
        )
        grams = g.filter(F.size(F.col("__dg")) >= 2).select(
            F.col(id_col), ngram_array(F.col("__dg"), 2).alias("__grams")
        )
        cols = [F.col(id_col)] if with_id else []
        exploded = grams.select(*cols, F.explode(F.col("__grams")).alias("__gram"))
        return exploded.select(
            *cols,
            F.pmod(portable_hash64(F.col("__gram")), F.lit(n_buckets)).alias("bucket"),
        )

    tc = (
        bigram_buckets(target_df, with_id=False)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("ct"))
    )
    # The bucketed bigram stream has TWO consumers (the raw-count
    # aggregate feeding the score map, and the final score join), and
    # Catalyst has no plan-level CTE reuse, so without materialization
    # the raw corpus was scanned + tokenized + hashed twice (VERDICT r7
    # item 4). The checkpointed frame is two narrow columns (id, bucket)
    # per bigram occurrence — far smaller than re-reading the text.
    raw_grams, _ = checkpoint(bigram_buckets(raw_df, with_id=True))
    rc = raw_grams.groupBy("bucket").agg(F.count(F.lit(1)).cast("long").alias("cr"))
    nt = tc.agg(F.coalesce(F.sum("ct"), F.lit(0)).cast("long").alias("nt"))
    nr = rc.agg(F.coalesce(F.sum("cr"), F.lit(0)).cast("long").alias("nr"))
    ct = F.coalesce(F.col("ct"), F.lit(0))
    cr = F.coalesce(F.col("cr"), F.lit(0))
    smap = (
        rc.join(tc, "bucket", "full_outer")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nr))
        .select(
            "bucket",
            (
                (_flog2(ct + F.lit(1)) + _flog2(F.col("nr")))
                - (_flog2(cr + F.lit(1)) + _flog2(F.col("nt")))
            ).alias("s"),
        )
    )
    return (
        raw_grams.join(F.broadcast(smap), "bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_features"),
            F.sum("s").cast("long").alias("dsir_score"),
        )
    )


def dsir_scores_sql(
    rel: str = "documents", target_mod: int = 29, n_buckets: int = DSIR_BUCKETS
) -> str:
    """DuckDB mirror of dsir_scores with the contract's deterministic
    target split (doc_id % target_mod = 0): same md5 bucket hash, same
    flog2-via-bin quantization, same per-term normalizer folding."""
    h = portable_hash64_sql("array_to_string(ws[t.i:t.i+1], ' ')")
    return f"""
WITH dwords AS (
  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
  FROM {rel}
),
grams AS (
  SELECT doc_id, {h} % {n_buckets} AS bucket
  FROM dwords, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
  WHERE len(ws) >= 2
),
tc AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS ct
  FROM grams WHERE doc_id % {target_mod} = 0 GROUP BY bucket
),
rc AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS cr FROM grams GROUP BY bucket
),
tot AS (
  SELECT (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) FROM tc) AS nt,
         (SELECT CAST(coalesce(sum(cr), 0) AS BIGINT) FROM rc) AS nr
),
smap AS (
  SELECT coalesce(r.bucket, t.bucket) AS bucket,
         ((length(bin(coalesce(t.ct, 0) + 1)) - 1 + length(bin(tot.nr)) - 1)
          - (length(bin(coalesce(r.cr, 0) + 1)) - 1 + length(bin(tot.nt)) - 1)) AS s
  FROM rc r FULL OUTER JOIN tc t ON r.bucket = t.bucket CROSS JOIN tot
)
SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_features,
       CAST(sum(m.s) AS BIGINT) AS dsir_score
FROM grams g JOIN smap m USING (bucket)
GROUP BY g.doc_id
"""


#: funnel stage names in pipeline order
FUNNEL_STAGES = ("raw", "quality_kept", "dedup_survivors", "decontaminated")


def curation_funnel_report(
    docs: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-stage survivor counts through the standard curation chain —
    the funnel dashboard a production run watches to see WHERE documents
    die: (stage_idx, stage, n_docs) for raw -> quality_kept ->
    dedup_survivors -> decontaminated. A stage collapsing to ~0 (e.g.
    dedup on a template-replicated crawl, decontamination against a
    leaky eval suite — both observed in the sf1 stress) is the signal
    this report exists to surface before a training run consumes the
    output.

    Composition of the already-oracle-checked stages
    (textops.corpus_quality_filter, dedup.minhash_dedup_survivors,
    decontaminate); counts are 1-row aggregates unioned in stage order.
    The per-stage ID frames (one narrow column each) are materialized
    with eager checkpoints (r8): without them each later stage's
    count re-derived its whole prefix — the quality filter executed 3x
    and the dedup chain 2x inside one report (Catalyst has no plan-level
    CTE reuse). This is also the production shape: the id frames are
    exactly what the data path materializes anyway."""
    from posextract_spark.operators.dedup import minhash_dedup_survivors
    from posextract_spark.operators.textops import corpus_quality_filter

    kept_ids, _ = checkpoint(
        corpus_quality_filter(docs, text_col=text_col)
        .filter(F.col("keep") == 1)
        .select(id_col)
    )
    kept_docs = docs.join(kept_ids, id_col)
    surv_ids, _ = checkpoint(
        minhash_dedup_survivors(kept_docs, text_col=text_col, id_col=id_col)
        .filter(F.col("is_survivor") == 1)
        .select(id_col)
    )
    clean_docs = kept_docs.join(surv_ids, id_col)
    contaminated = decontaminate(
        clean_docs, eval_df, text_col=text_col, id_col=id_col
    ).select(id_col)
    final = clean_docs.join(contaminated, id_col, "left_anti")

    def stage(idx: int, name: str, frame: DataFrame) -> DataFrame:
        return frame.agg(F.count(F.lit(1)).cast("long").alias("n_docs")).select(
            F.lit(idx).cast("int").alias("stage_idx"),
            F.lit(name).alias("stage"),
            "n_docs",
        )

    frames = [docs, kept_docs, clean_docs, final]
    out = stage(0, FUNNEL_STAGES[0], frames[0])
    for i in range(1, len(frames)):
        out = out.unionAll(stage(i, FUNNEL_STAGES[i], frames[i]))
    return out


def curation_funnel_report_sql(rel: str = "documents", eval_mod: int = 29) -> str:
    """Mirror: the training_corpus_pipeline CTE chain with per-stage
    COUNT selects unioned in order."""
    from posextract_spark.operators.dedup import minhash_dedup_survivors_ctes
    from posextract_spark.operators.textops import CORPUS_QUALITY_FILTER_SQL

    return (
        "WITH RECURSIVE "
        + f"kept AS (SELECT doc_id FROM ({CORPUS_QUALITY_FILTER_SQL}) WHERE keep = 1),\n"
        + "kept_docs AS (SELECT d.doc_id, d.text FROM documents d JOIN kept USING (doc_id)),\n"
        + minhash_dedup_survivors_ctes("kept_docs")
        + ",\nclean AS (SELECT kd.doc_id FROM kept_docs kd JOIN surv USING (doc_id) "
        + "WHERE surv.is_survivor = 1),\n"
        + "clean_docs AS (SELECT d.doc_id, d.text FROM documents d JOIN clean USING (doc_id)),\n"
        + contaminated_token_fraction_ctes("clean_docs", rel, eval_mod)
        + f""",
_fn_final AS (
  SELECT doc_id FROM clean WHERE doc_id NOT IN (SELECT doc_id FROM ctf_hits)
)
SELECT * FROM (
  SELECT CAST(0 AS INT) AS stage_idx, 'raw' AS stage,
         CAST((SELECT count(*) FROM {rel}) AS BIGINT) AS n_docs
  UNION ALL
  SELECT 1, 'quality_kept', CAST((SELECT count(*) FROM kept) AS BIGINT)
  UNION ALL
  SELECT 2, 'dedup_survivors', CAST((SELECT count(*) FROM clean) AS BIGINT)
  UNION ALL
  SELECT 3, 'decontaminated', CAST((SELECT count(*) FROM _fn_final) AS BIGINT)
) ORDER BY stage_idx
"""
    )


def curriculum_order(
    df: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    n_buckets: int = 10,
) -> DataFrame:
    """(id, bucket, pos) — curriculum-learning training order: documents
    bucketed by score quantile (bucket 0 = lowest-score decile, read in
    ascending bucket order for an easy-to-hard curriculum; reverse for
    hard-first), hash-shuffled WITHIN each bucket (pos — same md5 rule
    as shuffle_shards, so the order is retry/append-stable).

    The bucket thresholds come from the HDR quantile sketch
    (sketches.hdr_quantiles): n_buckets-1 driver ints off a bounded
    aggregate — no global sort, no ntile Window over the corpus — with
    the sketch's 2^-5 relative-error contract on the cut points (a doc
    within one slot of a cut may land one bucket over; curriculum
    schedules are insensitive to that). Assignment is then one
    scan-side comparison chain."""
    from posextract_spark.functions.hashing import portable_hash64
    from posextract_spark.operators.sketches import HDR_PRECISION, hdr_histogram

    # cuts computed python-side off the collected histogram (<= 64 * 2^p
    # rows — model-artifact-sized driver traffic, like k-means partials);
    # the arithmetic replicates hdr_quantiles exactly (integer-ceil rank,
    # min slot with cum >= rank, slot lower bound), which is what the SQL
    # mirror runs — one Spark job instead of hdr_quantiles' join cascade
    p = HDR_PRECISION
    hist = sorted((r.slot, r.n) for r in hdr_histogram(df, score_col).collect())
    total = sum(n for _, n in hist)
    qs = tuple(i * 1_000_000 // n_buckets for i in range(1, n_buckets))

    def slot_lo(slot: int) -> int:
        if slot < 1 << (p + 1):
            return slot
        return ((1 << p) + slot % (1 << p)) << (slot // (1 << p) - 1)

    cuts = []
    for q in qs:
        rank = max((q * total + 999_999) // 1_000_000, 1)
        cum = 0
        for slot, n in hist:
            cum += n
            if cum >= rank:
                cuts.append(slot_lo(slot))
                break
    v = F.col(score_col).cast("long")
    bucket = F.lit(0).cast("long")
    for c in cuts:
        bucket = bucket + (v >= F.lit(c)).cast("long")
    # >= on every cut: equal-threshold scores all land in the same bucket
    return df.select(
        F.col(id_col),
        bucket.alias("bucket"),
        portable_hash64(F.col(id_col).cast("string")).alias("pos"),
    )


def curriculum_order_sql(
    rel: str = "documents",
    score_expr: str = "n_chars",
    n_buckets: int = 10,
) -> str:
    """Mirror: the hdr_quantiles_sql chain computes the same cut points;
    each row's bucket = count of cuts at or below its score."""
    from posextract_spark.functions.hashing import portable_hash64_sql
    from posextract_spark.operators.sketches import hdr_quantiles_sql

    qs = tuple(i * 1_000_000 // n_buckets for i in range(1, n_buckets))
    cuts_q = hdr_quantiles_sql(rel, score_expr, quantiles_e6=qs)
    h = portable_hash64_sql("CAST(doc_id AS VARCHAR)")
    return f"""
WITH _cu_cuts AS (SELECT est_value FROM ({cuts_q})),
_cu_rows AS (SELECT doc_id, CAST({score_expr} AS BIGINT) AS s FROM {rel})
SELECT r.doc_id,
       CAST((SELECT count(*) FROM _cu_cuts c WHERE r.s >= c.est_value) AS BIGINT)
         AS bucket,
       {h} AS pos
FROM _cu_rows r
"""


def mixture_plan(
    docs: DataFrame,
    target_ppm: dict[str, int],
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """(source, n_tokens, target_ppm, planned_tokens, rate_ppm) — the
    deterministic mixture-planning step (the input DoReMi/data-mixing
    recipes consume): given target corpus shares per source (ppm) and
    the measured per-source token counts, the largest corpus honoring
    every share without oversampling is capacity = min over sources of
    n_s * 1e6 div w_s; each source then contributes planned =
    capacity * w_s div 1e6 tokens at sampling rate planned * 1e6 div
    n_s ppm (feed the rates to sample_mixture). Sources absent from
    ``target_ppm`` get rate 0 — excluded by plan, visibly.

    Shape: one map-side-combinable per-source token count (group
    cardinality = #sources), the ppm table broadcast, a 1-row capacity
    aggregate crossJoined back. Integer arithmetic; n_s * 1e6 wants
    DECIMAL(38,0) past ~9e12 tokens per source."""
    w = local_frame(
        docs.sparkSession,
        [(s, int(p)) for s, p in sorted(target_ppm.items())],
        f"{source_col} string, target_ppm long",
    )
    counts = (
        docs.select(
            F.col(source_col),
            F.size(word_array(F.col(text_col))).cast("long").alias("_nt"),
        )
        .groupBy(source_col)
        .agg(F.sum("_nt").cast("long").alias("n_tokens"))
    )
    j = counts.join(F.broadcast(w), source_col, "left").select(
        source_col,
        "n_tokens",
        F.coalesce(F.col("target_ppm"), F.lit(0)).cast("long").alias("target_ppm"),
    )
    cap = (
        j.filter(F.col("target_ppm") > 0)
        .select(
            F.expr("n_tokens * CAST(1000000 AS BIGINT) div target_ppm").alias("_c")
        )
        .agg(F.min("_c").cast("long").alias("_capacity"))
    )
    return j.crossJoin(F.broadcast(cap)).select(
        source_col,
        "n_tokens",
        "target_ppm",
        F.expr("_capacity * target_ppm div CAST(1000000 AS BIGINT)")
        .cast("long")
        .alias("planned_tokens"),
        F.expr(
            "CASE WHEN n_tokens > 0 THEN (_capacity * target_ppm"
            " div CAST(1000000 AS BIGINT)) * CAST(1000000 AS BIGINT)"
            " div n_tokens ELSE CAST(0 AS BIGINT) END"
        )
        .cast("long")
        .alias("rate_ppm"),
    )


def mixture_plan_sql(
    target_ppm: dict[str, int],
    rel: str = "documents",
    source_col: str = "source",
) -> str:
    """Mirror: same counts, broadcast-equivalent VALUES table, same
    integer capacity/rate arithmetic."""
    vals = ", ".join(
        f"('{s}', {int(p)})" for s, p in sorted(target_ppm.items())
    )
    words = "list_filter(string_split(text, ' '), w -> w <> '')"
    return f"""
WITH _mx_c AS (
  SELECT {source_col}, CAST(sum(len({words})) AS BIGINT) AS n_tokens
  FROM {rel} GROUP BY {source_col}
),
_mx_w AS (SELECT s AS {source_col}, CAST(p AS BIGINT) AS target_ppm
          FROM (VALUES {vals}) t(s, p)),
_mx_j AS (
  SELECT c.{source_col}, c.n_tokens,
         CAST(coalesce(w.target_ppm, 0) AS BIGINT) AS target_ppm
  FROM _mx_c c LEFT JOIN _mx_w w USING ({source_col})
),
_mx_cap AS (
  SELECT CAST(min(n_tokens * 1000000 // target_ppm) AS BIGINT) AS capacity
  FROM _mx_j WHERE target_ppm > 0
)
SELECT {source_col}, n_tokens, target_ppm,
       CAST(capacity * target_ppm // 1000000 AS BIGINT) AS planned_tokens,
       CAST(CASE WHEN n_tokens > 0
            THEN (capacity * target_ppm // 1000000) * 1000000 // n_tokens
            ELSE 0 END AS BIGINT) AS rate_ppm
FROM _mx_j CROSS JOIN _mx_cap
"""
