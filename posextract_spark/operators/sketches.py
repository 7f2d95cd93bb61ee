"""Sketch aggregations — fixed-memory approximate statistics.

At the 10^12-document design point, per-group ``countDistinct`` over a
high-cardinality value (distinct URLs per host, distinct hosts per
n-gram) shuffles every distinct value to its reducer. A sketch caps the
per-group state at a constant, turning the aggregation into plain
map-side-combinable ``min``s — the same shuffle shape as a ``sum``.

The sketch here is KMV with stochastic averaging (Bar-Yossef et al.'s
k-minimum-values family, bucketed like Flajolet's PCSA/HLL): the hash
space is split into ``k`` substreams by ``hash mod k``; each substream
keeps only MIN(hash). Unlike classic bottom-k (which needs a k-smallest
aggregate Spark lacks natively — a ranking window would serialize hot
groups), per-bucket min is a plain aggregate: deterministic in the data,
partition-independent, mergeable (min of mins), and exactly mirrorable
in SQL. Everything is integer arithmetic on the md5-derived 60-bit hash
(functions/hashing.portable_hash64 — the engine-portable hash used by
exact dedup), so the DuckDB oracle hash-matches bit-for-bit, the same
hard signal pattern as integer PageRank / k-means.

Estimator: Giroire's inverse-sum. With b hit buckets each holding the
min of ~n/k uniform hashes on [0, M), each min is ≈ Exponential with
mean M·k/n, so S = sum of mins ≈ Gamma(b, M·k/n) and the bias-corrected
inverse n̂ = (b-1)·b·M / S is unbiased for n ≫ k (measured rel. err.
0.5-8% for n ≥ 4k at k ∈ {64, 256} — ~1/sqrt(k)). (Summing per-bucket
M/min instead is the tempting-but-wrong estimator: 1/min is
heavy-tailed, E[M/min] diverges, measured 4.6× overestimate.) Below
n ≈ k the estimate degrades toward ~2n; that regime is visible to the
caller as n_buckets < k, and a group small enough to leave buckets
empty is small enough for exact countDistinct anyway — the sketch
exists for the groups that are NOT.

Duplicate values hash identically, so duplicates never inflate the
estimate — that's the whole point of hashing first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from posextract_spark.functions.hashing import portable_hash64, portable_hash64_sql
from posextract_spark.sources.local import local_frame

#: hash domain: portable_hash64 yields 15 hex chars = 60 bits
HASH_M = 1 << 60


def distinct_kmv(
    df: DataFrame,
    key_col: str,
    value_col: str,
    k: int = 256,
) -> DataFrame:
    """(key, n_buckets, est_distinct) — approximate distinct ``value_col``
    per ``key_col`` in constant memory per group.

    n_buckets = substreams actually hit (< k flags the small-cardinality
    regime where the caller should trust exact counting instead);
    est_distinct = (n_buckets - 1) * n_buckets * M div sum(bucket mins),
    floor-integer so the result is exact given the input. NULL values
    are ignored (they are not a distinct value).

    Scale shape: ONE shuffle on (key, bucket) with map-side partial mins
    — per-group reducer state is ≤ k longs regardless of group size, so
    a host with 10^9 URLs costs the same as one with 10^2. The second
    groupBy(key) aggregates ≤ k rows per key. No window, no collect_set,
    no unbounded state anywhere.
    """
    h = portable_hash64(F.col(value_col))
    per_bucket = (
        df.filter(F.col(value_col).isNotNull())
        .select(F.col(key_col).alias("key"), h.alias("_h"))
        .groupBy("key", F.pmod(F.col("_h"), F.lit(k)).alias("_b"))
        .agg(F.min("_h").alias("_m"))
    )
    return (
        per_bucket.groupBy("key")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            # DECIMAL(38,0): S can reach k*2^60 ≈ 2^68 and the numerator
            # (b-1)*b*M ≈ 2^76 — both past BIGINT. Spark's decimal `div`
            # is an exact integral divide returning BIGINT (the quotient
            # ≈ the cardinality, which fits); DuckDB mirrors the same
            # arithmetic in native HUGEINT.
            F.sum(F.col("_m").cast("decimal(38,0)")).alias("_s"),
        )
        .select(
            F.col("key").alias(key_col),
            "n_buckets",
            F.expr(
                f"(CAST(n_buckets - 1 AS DECIMAL(38,0)) * n_buckets "
                f"* {HASH_M}) div _s"
            ).alias("est_distinct"),
        )
    )


def distinct_kmv_sql(
    rel: str,
    key_col: str,
    value_col: str,
    k: int = 256,
) -> str:
    """DuckDB mirror of distinct_kmv() (same integer recurrence, HUGEINT
    in place of Spark's DECIMAL(38,0)); the hash is hoisted into one
    subquery column so md5 runs once per row like the Spark side."""
    h = portable_hash64_sql(value_col)
    return f"""
, _kmvh AS (
  SELECT {key_col} AS key, {h} AS h
  FROM {rel} WHERE {value_col} IS NOT NULL),
_kmv AS MATERIALIZED (
  SELECT key, h % {k} AS b, min(h) AS m
  FROM _kmvh GROUP BY 1, 2)
SELECT key AS {key_col}, CAST(count(*) AS BIGINT) AS n_buckets,
       CAST((count(*)::HUGEINT - 1) * count(*) * {HASH_M}
            // sum(m::HUGEINT) AS BIGINT) AS est_distinct
FROM _kmv GROUP BY key"""


def cms_build(
    docs: DataFrame,
    text_col: str = "text",
    width: int = 1024,
    depth: int = 4,
    lowercase: bool = True,
) -> DataFrame:
    """(row INT, idx BIGINT, c BIGINT) — a Count-Min sketch of corpus
    token frequencies (Cormode & Muthukrishnan): depth hash rows of
    width counters; every token occurrence increments one counter per
    row; a point estimate is the MIN over rows (cms_estimate below).
    The heavy-hitter companion to the KMV distinct sketch: fixed
    width*depth memory for frequency queries over an unbounded
    vocabulary, one-sided error (never underestimates — collisions only
    ADD), overestimate <= 2e/width * total with prob 1 - e^-depth.

    Scale shape: token counting is the ONE corpus-sized shuffle
    (map-side combinable); the depth hash evaluations then run over the
    DISTINCT-word frame weighted by count (vocabulary-bounded, the
    bpe_pair_counts argument), and the final (row, idx) aggregation has
    at most width*depth groups. The sketch is mergeable across
    partitions/corpora by summing counters — a plain sum groupBy.
    """
    from posextract_spark.functions.hashing import word_array

    src = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    wc = (
        docs.select(F.explode(word_array(src)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("wn"))
    )
    # ONE explode over per-row (row, idx) structs instead of a depth-way
    # unionAll of selects over wc (r8): each union branch embedded its own
    # copy of the corpus explode + word groupBy subtree, so the token
    # count aggregation ran ``depth`` times (Catalyst has no plan-level
    # CTE reuse). Same (row, idx, wn) rows, one counting pass.
    entries = F.array(
        *[
            F.struct(
                F.lit(r).cast("int").alias("row"),
                F.pmod(
                    portable_hash64(F.concat(F.lit(f"cms{r}#"), F.col("w"))),
                    F.lit(width),
                ).alias("idx"),
            )
            for r in range(depth)
        ]
    )
    u = wc.select(F.explode(entries).alias("_e"), F.col("wn")).select(
        F.col("_e.row").alias("row"), F.col("_e.idx").alias("idx"), "wn"
    )
    return u.groupBy("row", "idx").agg(F.sum("wn").cast("long").alias("c"))


def cms_estimate(
    tokens: DataFrame,
    sketch: DataFrame,
    token_col: str = "token",
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """(token, n_est) — point-estimate each token's corpus frequency from
    a cms_build sketch: min over the depth rows of the addressed
    counter. The sketch is width*depth rows — broadcast; the token frame
    explodes to depth probe rows and min-combines back (token-keyed
    groupBy over depth*|tokens| rows; for a handful of query tokens this
    is all driver-trivial, for a full-vocab scoring pass it is one
    bounded shuffle). Missing counters read 0 (token never seen)."""
    # one explode, not a depth-way unionAll: each union branch embedded an
    # independent copy of the ``tokens`` plan — expensive whenever the
    # token frame is itself derived (q_cms_top_tokens probes a corpus
    # top-k), see cms_build (r8)
    entries = F.array(
        *[
            F.struct(
                F.lit(r).cast("int").alias("row"),
                F.pmod(
                    portable_hash64(F.concat(F.lit(f"cms{r}#"), F.col(token_col))),
                    F.lit(width),
                ).alias("idx"),
            )
            for r in range(depth)
        ]
    )
    probes = tokens.select(
        F.col(token_col).alias("token"), F.explode(entries).alias("_e")
    ).select("token", F.col("_e.row").alias("row"), F.col("_e.idx").alias("idx"))
    return (
        probes.join(F.broadcast(sketch), ["row", "idx"], "left")
        .groupBy("token")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).cast("long").alias("n_est"))
    )


def cms_top_tokens_sql(
    docs_rel: str = "documents",
    text_col: str = "text",
    width: int = 1024,
    depth: int = 4,
    k: int = 20,
) -> str:
    """Mirror of the composed contract query: build the sketch, take the
    top-k exact tokens (count DESC, token ASC), emit
    (token, n_exact, n_est) — n_est >= n_exact is the CMS guarantee the
    gate then value-checks."""
    words = f"list_filter(string_split(lower({text_col}), ' '), w -> w <> '')"
    h_w = [portable_hash64_sql(f"('cms{r}#' || w)") for r in range(depth)]
    h_tw = [portable_hash64_sql(f"('cms{r}#' || t.w)") for r in range(depth)]
    row_selects = "\n  UNION ALL\n".join(
        f"  SELECT {r} AS row, ({h_w[r]} % {width}) AS idx, wn FROM _cms_wc"
        for r in range(depth)
    )
    est_terms = ",\n    ".join(
        f"(SELECT coalesce(min(c), 0) FROM _cms_sk s WHERE s.row = {r} AND "
        f"s.idx = ({h_tw[r]} % {width}))"
        for r in range(depth)
    )
    return f"""
WITH _cms_wc AS MATERIALIZED (
  SELECT w, CAST(count(*) AS BIGINT) AS wn
  FROM (SELECT unnest({words}) AS w FROM {docs_rel})
  GROUP BY w),
_cms_sk AS MATERIALIZED (
  SELECT row, idx, CAST(sum(wn) AS BIGINT) AS c FROM (
{row_selects}
  ) GROUP BY row, idx),
_cms_top AS (SELECT w, wn FROM _cms_wc ORDER BY wn DESC, w ASC LIMIT {k})
SELECT t.w AS token, t.wn AS n_exact,
       CAST(least({est_terms}) AS BIGINT) AS n_est
FROM _cms_top t"""

# --- HDR-style log-bucketed quantile sketch ----------------------------------

HDR_PRECISION = 5


def _hdr_slot_expr(v, p: int, name: str = "__hdr_v") -> F.Column:
    """Monotone HdrHistogram slot for a non-negative BIGINT column:
    values below 2^(p+1) are exact (slot = value); above, with
    shift = flog2(v) - p >= 1,

        slot = shift * 2^p + (v >> shift)

    where v >> shift lands in [2^p, 2^(p+1)) — the top p+1 bits index a
    linearly-subdivided power-of-two bucket, giving relative error
    < 2^-p. Continuous at the boundary (v = 2^(p+1) -> slot = v). Pure
    integer: flog2 via binary-string length; the column-amount shift
    via the SQL operator (only the python F.shiftleft/shiftright
    wrappers are literal-only).

    ``name`` must be the RESOLVABLE column name behind ``v`` — the
    variable-amount shift is built via expr() string interpolation, so a
    caller whose column is not named ``name`` would silently compute the
    slot from the wrong column (ADVICE r7: the default previously
    hardcoded __hdr_v regardless of ``v``)."""
    shift = (F.length(F.bin(v)) - F.lit(1 + p)).cast("int")
    return F.when(v < F.lit(1 << (p + 1)), v).otherwise(
        shift.cast("long") * F.lit(1 << p)
        + F.expr(f"shiftrightunsigned(CAST(`{name}` AS BIGINT), "
                 f"length(bin(CAST(`{name}` AS BIGINT))) - {1 + p})")
    )


def hdr_histogram(
    df: DataFrame, value_col: str, precision: int = HDR_PRECISION
) -> DataFrame:
    """(slot, n) — mergeable log-bucketed histogram of a non-negative
    integer column: the quantile member of the sketch family (CMS =
    frequencies, KMV = cardinality, this = distribution), with bounded
    RELATIVE error 2^-precision per slot (the HdrHistogram bucketing).

    One scan-side slot projection + one combinable groupBy whose output
    is bounded by O(64 * 2^precision) rows REGARDLESS of input size —
    a 100-TB length distribution aggregates with a word-count's shuffle
    shape, and daily partial histograms fold into weekly ones by union +
    re-sum (exact corpus_length_quantiles, by contrast, needs the full
    value multiset)."""
    g = df.select(F.col(value_col).cast("long").alias("__hdr_v"))
    slot = _hdr_slot_expr(F.col("__hdr_v"), precision)
    return (
        g.select(slot.cast("long").alias("slot"))
        .groupBy("slot")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def hdr_quantiles(
    df: DataFrame,
    value_col: str,
    quantiles_e6: tuple[int, ...] = (500000, 900000, 990000),
    precision: int = HDR_PRECISION,
) -> DataFrame:
    """(q_e6, est_value) — nearest-rank quantiles read off the HDR
    histogram: est_value is the LOWER BOUND of the slot holding rank
    (q_e6 * N + 999999) div 1e6 (integer ceil — no double rounding at
    any N), so est_value <= true quantile < est_value * (1 + 2^-p).
    The cumulative window and quantile join run over the BOUNDED
    histogram (<= 64 * 2^precision rows — driver-small, not the banned
    unbounded ranking kind); all data-sized work is hdr_histogram's one
    combinable aggregate."""
    from pyspark.sql import Window

    p = precision
    hist = hdr_histogram(df, value_col, p)
    total = hist.agg(F.sum("n").cast("long").alias("__hdr_total"))
    w = Window.orderBy("slot").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = hist.select("slot", F.sum("n").over(w).cast("long").alias("cum"))
    qs = local_frame(df.sparkSession, [(int(q),) for q in quantiles_e6], "q_e6 long")
    rank = F.expr(
        "greatest((q_e6 * __hdr_total + CAST(999999 AS BIGINT))"
        " div CAST(1000000 AS BIGINT), CAST(1 AS BIGINT))"
    )
    best = (
        qs.crossJoin(F.broadcast(total))
        .join(F.broadcast(cum), cum["cum"] >= rank)
        .groupBy("q_e6")
        .agg(F.min("slot").alias("slot"))
    )
    est = F.when(F.col("slot") < F.lit(1 << (p + 1)), F.col("slot")).otherwise(
        F.expr(
            f"shiftleft(CAST({1 << p} AS BIGINT) + pmod(slot, {1 << p}), "
            f"CAST(slot div {1 << p} AS INT) - 1)"
        )
    )
    return best.select("q_e6", est.cast("long").alias("est_value")).orderBy("q_e6")


def hdr_quantiles_sql(
    rel: str = "documents",
    value_expr: str = "n_chars",
    quantiles_e6: tuple[int, ...] = (500000, 900000, 990000),
    precision: int = HDR_PRECISION,
) -> str:
    """DuckDB mirror: same slot scheme with native << / >>, same
    integer-ceil rank, same slot lower-bound estimate."""
    p = precision
    lo, sub = 1 << (p + 1), 1 << p
    qvals = ", ".join(f"({int(q)})" for q in quantiles_e6)
    return f"""
WITH _hq_v AS (
  SELECT CAST({value_expr} AS BIGINT) AS v FROM {rel}
),
_hq_s AS (
  SELECT CASE WHEN v < {lo} THEN v
              ELSE (length(bin(v)) - {1 + p}) * {sub}
                   + (v >> (length(bin(v)) - {1 + p}))
         END AS slot
  FROM _hq_v
),
_hq_h AS (SELECT slot, CAST(count(*) AS BIGINT) AS n FROM _hq_s GROUP BY slot),
_hq_t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM _hq_h),
_hq_c AS (
  SELECT slot, CAST(sum(n) OVER (ORDER BY slot
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM _hq_h
),
_hq_q AS (SELECT CAST(q AS BIGINT) AS q_e6 FROM (VALUES {qvals}) t(q)),
_hq_b AS (
  SELECT q.q_e6, min(c.slot) AS slot
  FROM _hq_q q CROSS JOIN _hq_t t
  JOIN _hq_c c ON c.cum >= greatest((q.q_e6 * t.total + 999999) // 1000000, 1)
  GROUP BY q.q_e6
)
SELECT q_e6,
       CAST(CASE WHEN slot < {lo} THEN slot
                 ELSE ({sub} + slot % {sub}) << (slot // {sub} - 1)
            END AS BIGINT) AS est_value
FROM _hq_b ORDER BY q_e6
"""
