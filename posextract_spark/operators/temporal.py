"""Temporal operators over multi-capture web corpora.

A Common-Crawl-style corpus (BASELINE.json input_hint: url, warc_ts,
html, text, lang) captures the same url many times across crawls. The
reference pipeline has no notion of time — it extracts from whatever
rows it is given — so feeding it a raw multi-crawl corpus double-counts
every re-captured page. These operators are the standard pre-extraction
stage that fixes that: pick one capture per url (newest, or as-of a
crawl window), measure content churn, and diff two crawl windows.

Scale shape (all three): the only shuffle is a single groupBy on the
url — the corpus' natural, collision-free key (10^12 distinct urls,
no hot keys, AQE coalesces). Selection uses struct-max, which is
map-side combinable (partial max per partition, one small struct per
url crosses the wire — never the html payload), and a total order over
(ts, fingerprint, payload...) so ties are deterministic engine-wide.
No Window operator anywhere (a Window over url would sort whole
partitions and cannot partial-aggregate; see round-5 survivors work).
`snapshot_diff` joins two as-of frames on the SAME key their groupBys
just partitioned by, so the join is exchange-free under AQE.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from posextract_spark.functions.boundary import checkpoint


def with_fingerprint(pages: DataFrame, col: str = "text", out: str = "fp") -> DataFrame:
    """md5 content fingerprint — the unit of 'did this page change'.

    Computed scan-side (JVM codegen, no Python) so downstream temporal
    ops never carry the page payload through a shuffle."""
    return pages.withColumn(out, F.md5(F.col(col)))


def latest_capture(
    df: DataFrame,
    key: str = "url",
    ts: str = "warc_ts",
    payload: Sequence[str] = ("fp", "lang"),
) -> DataFrame:
    """Newest row per ``key``: deterministic max_by.

    Output: key, ts, *payload, n_captures. Selection is
    ``max(struct(ts, *payload))`` — a total order, so equal-timestamp
    captures resolve identically on every executor and every run
    (F.max_by is nondeterministic under ties; a Window would kill
    partial aggregation). One shuffle, map-side combined.
    """
    s = F.max(F.struct(F.col(ts), *[F.col(c) for c in payload])).alias("_s")
    agg = df.groupBy(key).agg(s, F.count(F.lit(1)).cast("long").alias("n_captures"))
    cols = [F.col(key), F.col(f"_s.{ts}").alias(ts)]
    cols += [F.col(f"_s.{c}").alias(c) for c in payload]
    return agg.select(*cols, "n_captures")


def crawl_window_snapshot(
    df: DataFrame,
    ts_start: Optional[str],
    ts_end: str,
    key: str = "url",
    ts: str = "warc_ts",
    payload: Sequence[str] = ("fp", "lang"),
) -> DataFrame:
    """State of the web in one crawl window: latest capture per url with
    ``ts_start < warc_ts <= ts_end`` (ts_start None = as-of ts_end, i.e.
    cumulative). The filter is a plain predicate on the scan — at real
    scale warc_ts is the Iceberg partition column and this becomes
    partition pruning, reading only the window's files."""
    cond: Column = F.col(ts) <= F.lit(ts_end).cast("timestamp")
    if ts_start is not None:
        cond = cond & (F.col(ts) > F.lit(ts_start).cast("timestamp"))
    return latest_capture(df.filter(cond), key=key, ts=ts, payload=payload)


def crawl_churn(
    df: DataFrame,
    key: str = "url",
    ts: str = "warc_ts",
    fingerprint: str = "fp",
) -> DataFrame:
    """Per-url capture/content-churn profile across all crawls.

    Output: key, n_captures, n_versions (distinct fingerprints),
    first_ts, last_ts, changed (n_versions > 1). Churn is defined on
    content bytes, not crawl bookkeeping: a re-capture with identical
    text is not a change. Single groupBy; count(DISTINCT fp) partials
    as a per-partition distinct-set, fine because fingerprints per url
    are tiny (<= captures per url)."""
    return (
        df.groupBy(key)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_captures"),
            F.countDistinct(fingerprint).cast("long").alias("n_versions"),
            F.min(ts).alias("first_ts"),
            F.max(ts).alias("last_ts"),
        )
        .withColumn("changed", F.col("n_versions") > F.lit(1))
    )


def snapshot_diff(
    df: DataFrame,
    old_window: tuple,
    new_window: tuple,
    key: str = "url",
    ts: str = "warc_ts",
    fingerprint: str = "fp",
) -> DataFrame:
    """Diff two crawl windows: which urls were added / removed / changed
    / stable between crawl A and crawl B.

    ``old_window`` / ``new_window`` are (ts_start | None, ts_end)
    bounds, each resolved to its latest-capture snapshot. Output: key,
    status, old_fp, new_fp. Both snapshots hash-partition on the key
    before the full-outer join, so the join itself reuses that
    partitioning (no third shuffle); the url key is collision-free, so
    there is no skew to salt."""
    old = crawl_window_snapshot(
        df, old_window[0], old_window[1], key=key, ts=ts, payload=(fingerprint,)
    ).select(F.col(key), F.col(fingerprint).alias("old_fp"))
    new = crawl_window_snapshot(
        df, new_window[0], new_window[1], key=key, ts=ts, payload=(fingerprint,)
    ).select(F.col(key), F.col(fingerprint).alias("new_fp"))
    return old.join(new, key, "full_outer").select(
        F.col(key),
        F.when(F.col("old_fp").isNull(), F.lit("added"))
        .when(F.col("new_fp").isNull(), F.lit("removed"))
        .when(F.col("old_fp") != F.col("new_fp"), F.lit("changed"))
        .otherwise(F.lit("stable"))
        .alias("status"),
        "old_fp",
        "new_fp",
    )


def incremental_triples(
    pages: DataFrame,
    ts_old: str,
    ts_new: str,
    base_triples: Optional[DataFrame] = None,
    **extract_kwargs,
) -> DataFrame:
    """Per-url triples as-of ``ts_new``, re-extracting ONLY urls whose
    content appeared or changed since ``ts_old`` — the incremental KG
    build the north rule's crawl cadence implies (extraction is the
    expensive stage; a weekly crawl changes a small fraction of 10^12
    urls, so re-running it corpus-wide would waste almost all the work).

    Correctness contract: the result is row-equivalent to extracting
    from scratch over the as-of-``ts_new`` snapshot. Re-captures with
    identical bytes are NOT dirty (fingerprint comparison, not
    timestamps), and a changed url's OLD triples are retracted by the
    anti-join — an additive edge merge (graph.merge_edge_deltas) cannot
    express updates, which is exactly why this operator exists beside it.

    ``base_triples``: the previous build's per-url triple table (what a
    production pipeline has materialized already). When None, it is
    computed from the old snapshot — the contract-scale stand-in.

    Scale shape: snapshots are one struct-max shuffle each (payload
    rides inside the max struct — one full row per url crosses the
    wire, never the capture history); the dirty set is a same-key join
    on url; extraction (the Python stage) runs over dirty urls only.
    """
    from posextract_spark.pipeline import pages_to_triples

    # the corpus and the old snapshot are both multi-consumed subtrees
    # (old -> base extraction + fp comparison; corpus -> both snapshots);
    # Catalyst does not dedupe identical subtrees within one plan, so
    # without a persist the source scan + md5 runs once PER REFERENCE
    # (~4x; same lesson as kg_from_pages' triple fan-out)
    fp = with_fingerprint(pages).persist()
    payload = ("fp", "lang", "text", "html")
    new = crawl_window_snapshot(fp, None, ts_new, payload=payload)
    if base_triples is None:
        old_snap = crawl_window_snapshot(fp, None, ts_old, payload=payload).persist()
        base_triples = pages_to_triples(
            old_snap.select("url", "warc_ts", "html", "text", "lang"),
            **extract_kwargs,
        )
        old_fp = old_snap.select("url", F.col("fp").alias("old_fp"))
    else:
        old_fp = crawl_window_snapshot(fp, None, ts_old, payload=("fp",)).select(
            "url", F.col("fp").alias("old_fp")
        )
    dirty = (
        new.join(old_fp, "url", "left")
        .filter(F.col("old_fp").isNull() | (F.col("old_fp") != F.col("fp")))
        .select("url", "warc_ts", "html", "text", "lang")
    )
    kept = base_triples.join(dirty.select("url"), "url", "anti")
    return kept.unionAll(pages_to_triples(dirty, **extract_kwargs))


# --- DuckDB mirrors (oracle side; never fed to Spark) -----------------


def _captures_cte(values_sql: str) -> str:
    """Input relation for the mirrors: one row per capture."""
    return f"WITH caps(url, ts, fp, lang) AS ({values_sql})"


def latest_capture_sql(values_sql: str) -> str:
    """Mirror of latest_capture over a (url, ts, fp, lang) VALUES body.

    Struct-max == ORDER BY every struct field DESC, take first — the
    mirror pins the same (ts, fp, lang) tie order via row_number (the
    no-Window rule binds the Spark side only; in DuckDB the window IS
    the independent formulation)."""
    return (
        _captures_cte(values_sql)
        + """
, ranked AS (
  SELECT url, CAST(ts AS TIMESTAMP) AS warc_ts, fp AS text_md5, lang,
         row_number() OVER (PARTITION BY url ORDER BY ts DESC, fp DESC, lang DESC) AS rn,
         CAST(count(*) OVER (PARTITION BY url) AS BIGINT) AS n_captures
  FROM caps)
SELECT url, strftime(warc_ts, '%Y-%m-%d %H:%M:%S') AS ts_str, text_md5, lang, n_captures
FROM ranked WHERE rn = 1"""
    )


def crawl_churn_sql(values_sql: str) -> str:
    """Mirror of crawl_churn: plain GROUP BY (counts CAST to BIGINT —
    DuckDB HUGEINT pandas-ifies to float64 and fails the driver hash)."""
    return (
        _captures_cte(values_sql)
        + """
SELECT url,
       CAST(count(*) AS BIGINT) AS n_captures,
       CAST(count(DISTINCT fp) AS BIGINT) AS n_versions,
       strftime(min(CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS first_ts,
       strftime(max(CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS last_ts,
       count(DISTINCT fp) > 1 AS changed
FROM caps GROUP BY url"""
    )


def snapshot_diff_sql(
    values_sql: str, old_window: tuple, new_window: tuple
) -> str:
    """Mirror of snapshot_diff: two windowed as-of CTEs + FULL OUTER
    JOIN + the same CASE ladder."""

    def snap(name: str, window: tuple) -> str:
        start, end = window
        lower = f"AND CAST(ts AS TIMESTAMP) > TIMESTAMP '{start}'" if start else ""
        return f"""
{name} AS (
  SELECT url, fp FROM (
    SELECT url, fp,
           row_number() OVER (PARTITION BY url ORDER BY ts DESC, fp DESC, lang DESC) AS rn
    FROM caps
    WHERE CAST(ts AS TIMESTAMP) <= TIMESTAMP '{end}' {lower}) t
  WHERE rn = 1)"""

    return (
        _captures_cte(values_sql)
        + ","
        + snap("old_s", old_window)
        + ","
        + snap("new_s", new_window)
        + """
SELECT COALESCE(o.url, n.url) AS url,
       CASE WHEN o.url IS NULL THEN 'added'
            WHEN n.url IS NULL THEN 'removed'
            WHEN o.fp <> n.fp THEN 'changed'
            ELSE 'stable' END AS status,
       o.fp AS old_fp, n.fp AS new_fp
FROM old_s o FULL OUTER JOIN new_s n ON o.url = n.url"""
    )


def fact_history(
    claims: DataFrame,
    epoch: str = "epoch",
    src: str = "src",
    predicate: str = "predicate",
    dst: str = "dst",
) -> DataFrame:
    """Temporal fact versioning: the winning object per (src, predicate)
    in each epoch, with change detection against the previous epoch the
    fact was observed in — the slowly-changing-dimension view of a KG
    built from weekly recrawls ("who is CEO of X *as of* crawl k, and
    when did it change").

    ``claims``: one row per extracted assertion with an orderable
    ``epoch`` column (string cutoff label, date, crawl id — anything with
    a total order). Winner per (src, predicate, epoch) is majority
    support with minimum-dst tie-break (same rule as fusion, so the
    result is a pure function of the input). ``prev_dst`` is the winner
    at the LATEST EARLIER epoch where the same (src, predicate) was
    observed (facts may skip epochs); ``changed`` is true on first
    appearance and on any winner flip.

    Returns (src, predicate, epoch, dst, support, prev_dst, changed).

    Scale shape: one (src, predicate, epoch, dst) count shuffle + one
    struct-min per (src, predicate, epoch) — both map-side combinable, no
    Window. Predecessor lookup self-joins the WINNERS frame (already
    collapsed to one row per fact per epoch) on (src, predicate) with an
    epoch inequality — per-fact work is O(epochs^2) with epochs = crawl
    count (dozens), never data-sized; the winners frame is
    checkpointed so its lineage is evaluated once, not three times.
    """
    from posextract_spark.functions.selection import argmax_min_tie

    counts = claims.groupBy(
        F.col(src).alias("src"),
        F.col(predicate).alias("predicate"),
        F.col(epoch).alias("epoch"),
        F.col(dst).alias("dst"),
    ).agg(F.count(F.lit(1)).cast("long").alias("support"))
    winners, _ = checkpoint(
        counts.groupBy("src", "predicate", "epoch")
        .agg(argmax_min_tie(F.col("support"), F.col("dst")).alias("m"))
        .select(
            "src",
            "predicate",
            "epoch",
            F.col("m.v").alias("dst"),
            (-F.col("m.neg")).cast("long").alias("support"),
        )
    )
    prev = (
        winners.alias("cur")
        .join(
            winners.select(
                F.col("src").alias("p_src"),
                F.col("predicate").alias("p_predicate"),
                F.col("epoch").alias("p_epoch"),
                F.col("dst").alias("p_dst"),
            ),
            (F.col("cur.src") == F.col("p_src"))
            & (F.col("cur.predicate") == F.col("p_predicate"))
            & (F.col("p_epoch") < F.col("cur.epoch")),
        )
        .groupBy(
            F.col("cur.src").alias("src"),
            F.col("cur.predicate").alias("predicate"),
            F.col("cur.epoch").alias("epoch"),
        )
        # (epoch, dst) unique per (src, predicate): dst is tie-free payload
        .agg(F.max(F.struct(F.col("p_epoch"), F.col("p_dst"))).alias("pm"))
        .select("src", "predicate", "epoch", F.col("pm.p_dst").alias("prev_dst"))
    )
    return (
        winners.join(prev, ["src", "predicate", "epoch"], "left")
        .withColumn(
            "changed",
            F.col("prev_dst").isNull() | (F.col("prev_dst") != F.col("dst")),
        )
        .select(
            "src", "predicate", "epoch", "dst", "support", "prev_dst", "changed"
        )
    )


def fact_history_sql(
    claims_rel: str,
    epoch: str = "epoch",
    src: str = "src",
    predicate: str = "predicate",
    dst: str = "dst",
) -> str:
    """SQL suffix mirroring fact_history() (DuckDB dialect; lag window —
    mirror only, the Spark side stays Window-free)."""
    return f"""
, _fh_cnt AS MATERIALIZED (
  SELECT {src} AS src, {predicate} AS predicate, {epoch} AS epoch,
         {dst} AS dst, CAST(count(*) AS BIGINT) AS support
  FROM {claims_rel} GROUP BY 1, 2, 3, 4),
_fh_w AS MATERIALIZED (
  SELECT src, predicate, epoch, dst, support FROM (
    SELECT src, predicate, epoch, dst, support,
           row_number() OVER (PARTITION BY src, predicate, epoch
                              ORDER BY support DESC, dst ASC) AS rn
    FROM _fh_cnt) WHERE rn = 1)
SELECT src, predicate, epoch, dst, support, prev_dst,
       (prev_dst IS NULL OR prev_dst <> dst) AS changed
FROM (
  SELECT src, predicate, epoch, dst, support,
         lag(dst) OVER (PARTITION BY src, predicate ORDER BY epoch) AS prev_dst
  FROM _fh_w)"""


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    payload: dict,
    left_ts: str = "ts",
    right_ts: str = "ts",
) -> DataFrame:
    """Point-in-time (as-of) join, which Spark lacks natively: for every
    left row, attach columns from the right row with the same ``key`` and
    the GREATEST ``right_ts`` <= ``left_ts`` — "the state of the
    dimension when the event happened" (feature lookup at event time,
    crawl state at query time). Left rows with no prior right row keep
    NULL payload.

    ``payload``: {right_col: output_col} — the right columns to carry.
    Equal-timestamp semantics: a right row AT the left timestamp matches
    (at-or-before); duplicate right rows on (key, ts) resolve to the
    maximum payload tuple, so the result is a pure function of the input.
    NULL keys follow SQL equality: they match NOTHING (a NULL-key left
    row keeps NULL payload; a NULL-key right row is inert). NULL
    timestamps sort first (a null-ts right row acts as "since forever";
    a null-ts left row can only see those). The payload is the matched
    right ROW's values verbatim — a NULL field in the matched row stays
    NULL; it is never backfilled from an older right row.

    Implementation (the scalable shape, not the quadratic one): both
    sides are tagged and unioned, hash-repartitioned on key, sorted
    within partitions on (key, ts, side, payload) with right-before-left
    at equal ts, then ONE Arrow pass per batch resolves each left row's
    matched right-row index with a vectorized segment cummax (numpy) and
    gathers payload struct children with Arrow take — no per-row Python,
    and no pandas anywhere: 64-bit ints in any null-bearing column
    pandas-ify through masked float64 and silently round past 2^53
    (entity-id territory); Arrow take/filter are exact. O(1) state (the
    boundary key's last right row) carries across record batches. Cost is
    one shuffle + one in-partition sort over |left| + |right| rows —
    O(n log n) per partition, NEVER the O(|left_k| * |right_k|) of the
    naive range-join-then-argmax, which a hot key (10^6 events x 10^6
    captures) turns quadratic. No Window node; AQE handles residual
    partition skew.
    """
    if not payload:
        raise ValueError("payload must name at least one right column")
    lcols = left.columns
    out_cols = list(payload.values())
    clash = set(out_cols) & set(lcols)
    if clash:
        raise ValueError(f"payload output columns collide with left: {sorted(clash)}")
    from pyspark.sql.types import StructField, StructType

    right_fields = {f.name: f for f in right.schema.fields}
    # cast with DataType OBJECTS, not simpleString DDL — column names that
    # are not plain identifiers ('view count', 'page-rank') break the DDL
    # parser but are legal StructField names
    payload_type = StructType(
        [StructField(oc, right_fields[rc].dataType, True) for rc, oc in payload.items()]
    )
    left_type = StructType([StructField(f.name, f.dataType, True) for f in left.schema.fields])
    l2 = left.select(
        F.col(key).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_alt"),
        F.struct(*[F.col(c) for c in lcols]).alias("_l"),
        F.lit(None).cast(payload_type).alias("_p"),
    )
    r2 = right.select(
        F.col(key).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_alt"),
        F.lit(None).cast(left_type).alias("_l"),
        F.struct(*[F.col(rc).alias(oc) for rc, oc in payload.items()]).alias("_p"),
    )
    u = (
        l2.unionAll(r2)
        .repartition(F.col("_k"))
        .sortWithinPartitions("_k", "_ts", "_alt", "_p")
    )

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from pyspark.sql.pandas.types import to_arrow_schema

    out_schema = StructType(
        list(left.schema.fields)
        + [StructField(oc, right_fields[rc].dataType, True) for rc, oc in payload.items()]
    )
    arrow_schema = to_arrow_schema(out_schema)
    arrow_p_type = to_arrow_schema(StructType([StructField("_p", payload_type, True)])).field(0).type
    n_left = len(lcols)

    def fill(batches):
        state_key = None       # non-null key whose last right row is carried
        state_p = None         # that row's payload, a 1-row pa struct array
        for batch in batches:
            if batch.num_rows == 0:
                continue
            k_arr = batch.column("_k")
            alt_arr = batch.column("_alt")
            p_arr = batch.column("_p")
            l_arr = batch.column("_l")
            # seed: prepend the carried right row so the cummax sees it
            seeded = (
                state_key is not None
                and k_arr[0].as_py() == state_key
            )
            if seeded:
                k_arr = pa.concat_arrays([pa.array([state_key], type=k_arr.type), k_arr.combine_chunks() if isinstance(k_arr, pa.ChunkedArray) else k_arr])
                alt_arr = pa.concat_arrays([pa.array([0], type=alt_arr.type), alt_arr.combine_chunks() if isinstance(alt_arr, pa.ChunkedArray) else alt_arr])
                p_arr = pa.concat_arrays([state_p, p_arr.combine_chunks() if isinstance(p_arr, pa.ChunkedArray) else p_arr])
                flat = l_arr.combine_chunks() if isinstance(l_arr, pa.ChunkedArray) else l_arr
                l_arr = pa.concat_arrays([pa.nulls(1, type=flat.type), flat])
            n = len(k_arr)
            keys = np.asarray(k_arr.to_pylist(), dtype=object)
            alt = np.asarray(alt_arr.to_pylist(), dtype=np.int64)
            idx = np.arange(n, dtype=np.int64)
            # segment starts: key change OR any NULL key (SQL equality:
            # NULL matches nothing, so every NULL-key row is its own
            # segment and can neither give nor receive a fill)
            is_null = keys == None  # noqa: E711  (elementwise on object array)
            if n > 1:
                change = keys[1:] != keys[:-1]
                seg_start = np.concatenate(([True], change | is_null[1:] | is_null[:-1]))
            else:
                seg_start = np.array([True])
            seg_id = np.cumsum(seg_start) - 1
            # within-segment cummax of right-row indices: lift each
            # segment by a strictly increasing offset so earlier segments
            # can never dominate, take ONE global cummax, then un-lift
            lift = seg_id * (n + 1)
            r = np.where(alt == 0, idx, np.int64(-1)) + lift
            match = np.maximum.accumulate(r) - lift  # -1 = no right row yet
            left_mask = alt == 1
            if seeded:
                left_mask[0] = False  # the synthetic seed row
            m_left = match[left_mask]
            take_idx = pa.array(
                np.where(m_left >= 0, m_left, 0), mask=(m_left < 0)
            )
            left_mask_pa = pa.array(left_mask)
            out_arrays = []
            flat_l = l_arr.combine_chunks() if isinstance(l_arr, pa.ChunkedArray) else l_arr
            flat_p = p_arr.combine_chunks() if isinstance(p_arr, pa.ChunkedArray) else p_arr
            for i in range(n_left):
                out_arrays.append(pc.filter(flat_l.field(i), left_mask_pa))
            for j in range(len(out_cols)):
                out_arrays.append(pc.take(flat_p.field(j), take_idx))
            # carry state: the final key's last right row (non-null keys only)
            tail_key = keys[-1]
            if tail_key is not None and match[-1] >= 0:
                state_key = tail_key
                state_p = flat_p.slice(int(match[-1]), 1)
            elif tail_key is None or not (seeded and tail_key == state_key):
                state_key, state_p = None, None
            yield pa.RecordBatch.from_arrays(
                [a.cast(arrow_schema.field(i).type) for i, a in enumerate(out_arrays)],
                schema=arrow_schema,
            )

    return u.mapInArrow(fill, out_schema)


def sessionize(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Gap-based sessionization: assign each event a per-key
    ``session_id`` (0-based), incremented whenever the time since the
    key's previous event exceeds ``gap_seconds`` — the classic batch
    sessionization a clickstream/crawl-log pipeline needs.

    Equal-timestamp events can never open a session (their gap is zero),
    so the event->session mapping is a pure function of the input with no
    tie-break needed. Timestamp columns use wall-clock seconds; numeric
    ts columns treat ``gap_seconds`` in their own units.

    Scale shape: same as asof_join — hash-repartition on key, ONE
    in-partition sort on (key, ts), one vectorized Arrow pass
    (groupby.shift + cumsum, no per-row Python) with O(1) cross-batch
    state. No Window node; a hot key costs one sort, not a rank.
    """
    ecols = events.columns
    if "session_id" in ecols:
        raise ValueError("events already has a session_id column")
    u = events.repartition(F.col(key)).sortWithinPartitions(key, ts)

    import pandas as pd  # noqa: F811
    import numpy as np

    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        list(events.schema.fields) + [StructField("session_id", LongType(), False)]
    )

    def assign(batches):
        last = {}  # one entry: key -> (last_ts, last_session); keys are
        # contiguous after the sort, so this only ever holds the boundary key
        for pdf in batches:
            if len(pdf) == 0:
                continue
            gap = (
                pd.Timedelta(seconds=gap_seconds)
                if np.issubdtype(pdf[ts].dtype, np.datetime64)
                else gap_seconds
            )
            prev = pdf.groupby(key, sort=False)[ts].shift()
            brk = prev.isna() | ((pdf[ts] - prev) > gap)
            sess = brk.groupby(pdf[key], sort=False).cumsum().astype("int64") - 1
            # splice the carried state for the batch-boundary key
            first_key = pdf[key].iloc[0]
            if first_key in last:
                last_ts, last_sess = last[first_key]
                mask = pdf[key] == first_key
                head_brk = bool((pdf[ts].iloc[0] - last_ts) > gap)
                # the boundary key's first in-batch row was force-numbered 0
                # (NaN shift); its true id is last_sess, +1 if the boundary
                # gap itself breaks — shift every row of that key by that
                sess = sess + mask.astype("int64") * (last_sess + (1 if head_brk else 0))
            tail = pdf.iloc[-1]
            tkey = tail[key]
            last = {tkey: (tail[ts], int(sess.iloc[-1]))}
            out = pdf.copy()
            out["session_id"] = sess
            yield out
    return u.mapInPandas(assign, out_schema)


def session_stats(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Per-session profile over sessionize(): (key, session_id, n_events,
    start_epoch, end_epoch, duration_sec) with epoch seconds as BIGINT
    (engine-portable, no timestamp pandas-ification hazards). One
    map-side-combinable groupBy on top of the sessionization pass."""
    s = sessionize(events, key=key, ts=ts, gap_seconds=gap_seconds)
    epoch = F.unix_timestamp(F.col(ts)).cast("long")
    return (
        s.groupBy(F.col(key), F.col("session_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min(epoch).alias("start_epoch"),
            F.max(epoch).alias("end_epoch"),
        )
        .withColumn(
            "duration_sec", (F.col("end_epoch") - F.col("start_epoch")).cast("long")
        )
    )
