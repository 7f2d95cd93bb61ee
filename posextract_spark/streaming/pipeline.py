"""Streaming KG construction: readStream -> (identical batch stages) -> sink.

Design choices:
- ``foreachBatch`` reuses the *exact* batch composition
  (pipeline.pages_to_triples -> graph stages), so streaming and batch can
  never drift semantically; the native streaming surfaces extract through
  the same pages_to_triples;
- watermark on ``warc_ts`` bounds state for any windowed aggregation a
  caller adds downstream (edge weights per day, etc.);
- checkpointLocation gives exactly-once sink semantics for file sinks —
  the streaming analog of plans/lineage.py's manifest resume;
- five surfaces: foreachBatch reuse (stream_pages_to_triples), a NATIVE
  watermarked windowed aggregation (streaming_edge_weights), a custom
  stateful operator via applyInPandasWithState with checkpoint state
  recovery (streaming_entity_profiles), watermark-bounded streaming
  dedup (streaming_dedup), and native session windows
  (streaming_user_sessions — equivalence-gated against the batch
  sessionizer).
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_pages_to_triples(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    provider: str = "template",
    trigger_once: bool = True,
    batch_hook: Optional[Callable[[DataFrame, int], None]] = None,
    schema=None,
):
    """File-source streaming job: new parquet files under ``source_dir``
    flow through the batch pipeline into parquet parts under ``out_dir``.
    ``schema`` defaults to the pages schema so the query can START before
    the first file lands (probing an empty source_dir would throw).

    Returns the StreamingQuery (caller awaits/stops it).

    Exactly-once: each micro-batch OVERWRITES its own batch_id-deterministic
    partition (out_dir/batch_id=N). A crash between the parquet write and
    the checkpoint commit replays batch N into the same path instead of
    appending a duplicate copy — blind append would be at-least-once."""
    from posextract_spark.pipeline import pages_to_triples

    stream = (
        spark.readStream.schema(schema or _pages_schema())
        .option("maxFilesPerTrigger", 8)
        .parquet(source_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        triples = pages_to_triples(batch_df, provider=provider, use_stored_text=False)
        triples.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")
        if batch_hook is not None:
            batch_hook(triples, batch_id)

    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _pages_schema():
    """Static pages schema (sources.pages.PAGES_SCHEMA as a StructType) —
    used instead of probing source_dir with a batch read, which throws when
    the stream is deployed before the first file lands."""
    from pyspark.sql.types import _parse_datatype_string

    from posextract_spark.sources.pages import PAGES_SCHEMA

    return _parse_datatype_string(PAGES_SCHEMA)


def streaming_entity_profiles(
    spark: SparkSession,
    source_dir: str,
    provider: str = "template",
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    a rolling per-entity mention profile (cumulative mention count +
    subject-role count) maintained in the state store across micro-batches
    AND across query restarts (state recovers from the checkpoint — the
    streaming analog of plans/lineage resume).

    This is the API for aggregations Spark's built-in windowed aggs cannot
    express (arbitrary per-key state transitions); the profile count is
    deliberately simple so tests can verify exact state recovery. Update
    output mode: each batch emits one row per entity TOUCHED in that batch,
    carrying the all-time totals from state.
    """
    from posextract_spark.operators.linking import normalize_surface
    from posextract_spark.pipeline import pages_to_triples

    stream = (
        spark.readStream.schema(_pages_schema())
        .option("maxFilesPerTrigger", 8)
        .parquet(source_dir)
    )
    triples = pages_to_triples(stream, use_stored_text=True, provider=provider)
    # ONE pass: a union of two selects would run the whole scan+parse
    # lineage twice per micro-batch (streaming cannot persist the triples —
    # the same fan-out cost the batch path fixes with persist())
    mentions = triples.select(
        F.explode(
            F.array(
                F.struct(
                    normalize_surface(F.col("subject")).alias("surface_norm"),
                    F.lit(1).alias("is_subject"),
                ),
                F.struct(
                    normalize_surface(F.col("object")).alias("surface_norm"),
                    F.lit(0).alias("is_subject"),
                ),
            )
        ).alias("m")
    ).select("m.*")

    def update_profile(key, pdfs, state):
        import pandas as pd

        n, n_subj = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            n_subj += int(pdf["is_subject"].sum())
        state.update((n, n_subj))
        yield pd.DataFrame(
            {"surface_norm": [key[0]], "n_mentions": [n], "n_subject_mentions": [n_subj]}
        )

    return mentions.groupBy("surface_norm").applyInPandasWithState(
        update_profile,
        outputStructType="surface_norm string, n_mentions long, n_subject_mentions long",
        stateStructType="n long, n_subj long",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def streaming_edge_weights(
    spark: SparkSession,
    source_dir: str,
    provider: str = "template",
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """NATIVE stateful streaming aggregation (not foreachBatch): pages
    stream -> fused extraction UDF -> event-time-windowed edge weights.

    Returns the unstarted streaming DataFrame
    (window, subject, verb, object, weight); the caller picks sink and
    output mode. The watermark on ``warc_ts`` bounds aggregation state —
    windows older than (max event time - watermark) are finalized and
    evicted, so state size is O(active windows x distinct edges), not
    O(stream length); late pages beyond the watermark are dropped (append
    mode) by Spark's standard semantics. ``withWatermark`` is applied to
    the post-UDF frame: mapInPandas is a stateless streaming operator and
    the event-time column passes through it as data.
    """
    from posextract_spark.pipeline import pages_to_triples

    stream = (
        spark.readStream.schema(_pages_schema())
        .option("maxFilesPerTrigger", 8)
        .parquet(source_dir)
    )
    triples = pages_to_triples(
        stream, use_stored_text=True, provider=provider, id_cols=("url", "warc_ts")
    )
    return (
        triples.withWatermark("warc_ts", watermark)
        .groupBy(
            F.window("warc_ts", window_duration).alias("window"),
            "subject",
            "verb",
            "object",
        )
        .agg(F.count(F.lit(1)).alias("weight"))
    )


def streaming_dedup(
    spark: SparkSession,
    source_dir: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup over the page firehose: portable text hash +
    ``dropDuplicatesWithinWatermark`` — dedup state is EVICTED once the
    watermark passes (bounded by the late-data window), unlike plain
    dropDuplicates whose state grows with the whole stream history. Returns
    the unstarted deduplicated stream (first occurrence per text hash
    within the watermark window)."""
    from posextract_spark.functions.hashing import portable_hash64
    from posextract_spark.operators.dedup import portable_hash64b

    stream = (
        spark.readStream.schema(_pages_schema())
        .option("maxFilesPerTrigger", 8)
        .parquet(source_dir)
        .withWatermark("warc_ts", watermark)
        .withColumn("text_hash", portable_hash64(F.col("text")))
        # 120-bit dual key: a single 60-bit hash hits 50% collision odds
        # near 1.3e9 docs — 'exact' dedup would silently drop distinct pages
        .withColumn("text_hash2", portable_hash64b(F.col("text")))
    )
    return stream.dropDuplicatesWithinWatermark(["text_hash", "text_hash2"])


def _events_schema():
    return (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )


def streaming_user_sessions(
    spark: SparkSession,
    source_dir: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """NATIVE streaming sessionization: ``F.session_window`` over the
    event firehose — the streaming counterpart of
    operators/temporal.sessionize, with merge-on-overlap session state
    instead of a batch sort.

    Returns the unstarted stream (user_id, session_start, session_end,
    n_events). The watermark bounds session state: a session whose
    [last_event + gap) horizon falls behind the watermark is finalized
    and evicted, so state is O(open sessions), not O(stream history).

    Boundary semantics vs the batch operator (document, don't paper
    over): session_window treats an event at EXACTLY last_ts + gap as a
    NEW session (windows [t, t+gap) and [t+gap, ...) don't overlap),
    while batch sessionize keeps diff == gap in the same session (it
    breaks on diff > gap). Real event streams with sub-second timestamps
    hit exact-gap diffs with probability ~0; the equivalence test
    asserts the corpus has none before comparing. ``session_end`` here is
    Spark's horizon (last event + gap), so batch end_epoch =
    session_end - gap.
    """
    stream = (
        spark.readStream.schema(_events_schema())
        .option("maxFilesPerTrigger", 4)
        .parquet(source_dir)
        .withWatermark("ts", watermark)
    )
    return (
        stream.groupBy(
            F.session_window(F.col("ts"), gap).alias("s"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
        )
    )


def _docs_schema():
    return "doc_id long, text string, lang string, source string, n_chars long"


def curate_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    out_dir: str,
    eval_df: DataFrame | None = None,
    eval_shingles: DataFrame | None = None,
) -> None:
    """One micro-batch of incremental corpus curation (module-level so the
    replay test can drive it directly): quality filter -> in-batch
    near-dup survivors -> near-dup check against every PREVIOUSLY
    admitted document -> optional eval decontamination (``eval_df``:
    any exact eval-shingle hit drops the doc — a STATELESS per-batch
    filter, so it composes with the exactly-once replay contract
    unchanged) -> admitted rows overwrite out_dir/batch_id=N.

    ``eval_shingles``: a precomputed guarded eval-shingle frame
    (mldata.prepare_eval_shingles); the streaming driver passes this so
    the FIXED eval suite is shingled/checkpointed/counted once per
    stream instead of once per micro-batch (ADVICE r7). Identical drop
    decisions either way.

    Exactly-once on crash replay: the base read filters batch_id <
    batch_id, so a batch replayed AFTER its own parquet write but before
    the checkpoint commit never collides with its own earlier output
    (without the filter every replayed doc would look like a near-dup of
    itself and be silently dropped); the overwrite of the deterministic
    batch_id partition then replaces rather than duplicates.

    Dedup contract is FIRST-ARRIVAL-WINS across batches (arrival order =
    micro-batch order; within a batch, the batch-survivors rule = min
    doc_id per cluster), matching what a daily crawl ingest wants: the
    corpus never retroactively swaps an admitted doc for a later
    lower-id near-duplicate.
    """
    import os

    from pyspark.sql import functions as F

    from posextract_spark.operators.dedup import (
        minhash_dedup_against_base,
        minhash_dedup_survivors,
    )
    from posextract_spark.operators.textops import corpus_quality_filter

    kept = batch_df.join(
        corpus_quality_filter(batch_df).filter(F.col("keep") == 1).select("doc_id"),
        "doc_id",
    )
    surv = kept.join(
        minhash_dedup_survivors(kept)
        .filter(F.col("is_survivor") == 1)
        .select("doc_id"),
        "doc_id",
    )
    prior = [
        d for d in (os.listdir(out_dir) if os.path.isdir(out_dir) else [])
        if d.startswith("batch_id=") and int(d.split("=")[1]) < batch_id
    ]
    admitted = surv
    if prior:
        base = (
            spark.read.option("basePath", out_dir)
            .parquet(*[os.path.join(out_dir, d) for d in prior])
            .select("doc_id", "text")
        )
        flags = minhash_dedup_against_base(surv, base)
        # docs shorter than SHINGLE_N words emit no flag row — they cannot
        # minhash-collide, so they are admitted (LEFT join, default new)
        admitted = surv.join(
            flags.select("doc_id", "is_new"), "doc_id", "left"
        ).filter(F.coalesce(F.col("is_new"), F.lit(1)) == 1).drop("is_new")
    if eval_df is not None or eval_shingles is not None:
        from posextract_spark.operators.mldata import decontaminate

        contaminated = decontaminate(
            admitted, eval_df, eval_shingles=eval_shingles
        ).select("doc_id")
        admitted = admitted.join(contaminated, "doc_id", "left_anti")
    admitted.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")


def streaming_corpus_curation(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    trigger_once: bool = True,
    max_files_per_trigger: int = 8,
    eval_df: DataFrame | None = None,
):
    """Incremental corpus curation on crawl arrival — the streaming form
    of the batch `training_corpus_pipeline` front half: each micro-batch
    of new documents is quality-filtered, deduped within itself, deduped
    against EVERYTHING already admitted, optionally eval-decontaminated
    (``eval_df`` — the eval suite is a fixed small frame, broadcast per
    batch exactly as in the batch pipeline), and appended as its own
    batch_id partition (see curate_batch for the exactly-once and
    first-arrival-wins contracts).

    Scale shape: per batch, the base side enters the against-base join as
    ONE ROW PER BAND BUCKET (minhash_dedup_against_base's summary), so
    the accumulated corpus never meets the new batch quadratically; in
    production that bucket summary is a persisted table maintained
    incrementally instead of re-aggregated from out_dir each batch (the
    merge is an associative groupBy-min, same as the graph deltas).
    Returns the started StreamingQuery.
    """
    stream = (
        spark.readStream.schema(_docs_schema())
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    # precompute the eval shingle frame ONCE for the whole stream — the
    # suite is fixed, so re-shingling it per micro-batch was pure waste
    ev_shingles = None
    if eval_df is not None:
        from posextract_spark.operators.mldata import prepare_eval_shingles

        ev_shingles = prepare_eval_shingles(eval_df)
    writer = stream.writeStream.foreachBatch(
        lambda df, bid: curate_batch(
            spark, df, bid, out_dir, eval_shingles=ev_shingles
        )
    ).option("checkpointLocation", checkpoint_dir)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
