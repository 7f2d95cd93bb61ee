"""Bootstrapped corpus-quality classifier (the GPT-3 / CCNet / DCLM
curation pattern): train a linear bag-of-words classifier on cheap
pseudo-labels (here: corpus_quality_filter's keep/drop decision), then
score EVERY document with it — the learned score generalizes the
hand-set thresholds and gives the pipeline a rankable quality signal
instead of a binary gate.

The reference has no corpus filtering at all (its eval corpus was
hand-curated — reference: eval/generate-datasets/select_sentences.py);
this module is part of the LLM-training-data operator set the engine
adds on top, composing with operators/textops.py's heuristic filter.

Why not logistic regression / log-odds Naive Bayes: this repo's
correctness gate value-hashes Spark vs DuckDB, so every operator keeps
EXACT integer arithmetic (see seed_relevance_topk's binary-length idf).
Transcendentals (ln/exp) are not IEEE-correctly-rounded and differ
across engines in the last ulp. We therefore weight each token by its
smoothed class-probability POLARITY instead of its log-odds:

    weight_e6(t) = (1e6 * a) div (a + b)                in [0, 1e6]
      a = (n_pos(t) + 1) * (T_neg + V)     # ~ P(t|pos), add-1 smoothed,
      b = (n_neg(t) + 1) * (T_pos + V)     #   cleared of denominators

which is the Naive-Bayes posterior P(pos | t) under equal priors —
a monotone transform of the log-odds (sigmoid), computed from exact
integer products (DECIMAL(38,0) Spark-side, HUGEINT in the mirror; both
operands positive so `div` and `//` agree). A document's score is the
SUM of centered weights over its token occurrences:

    score_e6(d) = sum over occurrences t in d of (weight_e6(t) - 500000)

i.e. evidence-vote aggregation (each occurrence votes its polarity with
its confidence) — the same family as fasttext's mean-of-embeddings
linear head, exactly representable, partition-order independent.

Scale shape (100 TB): training is ONE explode + token groupBy (the
shuffle is vocabulary-keyed, so map-side partial aggregation collapses
each partition to its local vocab first); the totals row is a
3-column scalar crossJoin-broadcast; the weight table is
vocabulary-sized and BROADCAST for scoring, so scoring is scan-side —
one explode, one broadcast hash join, one doc-keyed groupBy. For
vocabularies beyond broadcast reach, pre-hash tokens into a bounded
feature space upstream (fasttext's hashing trick) or switch the score
join to a shuffle join on token; the groupBy-back on doc_id is
unavoidable either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from posextract_spark.functions.boundary import checkpoint, materialize
from posextract_spark.functions.hashing import WORD_ARRAY_SQL, word_array

NEUTRAL_E6 = 500000  # weight of a token carrying zero class evidence

# exact-integer posterior weight; both operands positive (div == floor)
_WEIGHT_EXPR = (
    "CAST((CAST(1000000 AS DECIMAL(38,0)) * (CAST(n_pos AS DECIMAL(38,0)) + 1) * (t_neg + vocab)) div "
    "((CAST(n_pos AS DECIMAL(38,0)) + 1) * (t_neg + vocab) "
    " + (CAST(n_neg AS DECIMAL(38,0)) + 1) * (t_pos + vocab)) AS BIGINT)"
)


def nb_token_weights(
    labeled: DataFrame,
    text_col: str = "text",
    label_col: str = "keep",
    lowercase: bool = True,
) -> DataFrame:
    """(token, n_pos, n_neg, weight_e6) from a labeled corpus.

    ``labeled`` carries ``label_col`` in {0, 1} per document (e.g.
    corpus_quality_filter(docs, carry=(text_col,)) — one scan, no join).
    Multinomial counting: every occurrence counts, not just presence.
    """
    txt = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    g = materialize(
        labeled.select(F.col(label_col).alias("_nb_lab"), txt.alias("_nb_t")),
        __nb_ws=word_array(F.col("_nb_t")),
    )
    occ = g.select("_nb_lab", F.explode("__nb_ws").alias("token"))
    counts = occ.groupBy("token").agg(
        F.sum(F.col("_nb_lab").cast("long")).alias("n_pos"),
        F.sum((F.lit(1) - F.col("_nb_lab")).cast("long")).alias("n_neg"),
    )
    totals = counts.agg(
        F.sum("n_pos").cast("long").alias("t_pos"),
        F.sum("n_neg").cast("long").alias("t_neg"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
    )
    return counts.crossJoin(F.broadcast(totals)).select(
        "token", "n_pos", "n_neg", F.expr(_WEIGHT_EXPR).alias("weight_e6")
    )


def nb_score_documents(
    docs: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
) -> DataFrame:
    """(id, n_tokens, score_e6, pred_keep) — score every document with a
    trained weight table. Unseen tokens get the zero-count smoothed
    weight (derived from the table's own totals — no extra input);
    empty documents score 0 and predict keep (no evidence either way).
    pred_keep = (score_e6 >= 0): the occurrence-weighted evidence leans
    toward the positive class.
    """
    totals = weights.agg(
        F.sum("n_pos").cast("long").alias("t_pos"),
        F.sum("n_neg").cast("long").alias("t_neg"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
    )
    txt = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    g = materialize(
        docs.select(F.col(id_col).alias("id"), txt.alias("_nb_t")),
        __nb_ws=word_array(F.col("_nb_t")),
    )
    # explode_OUTER: an empty document keeps one NULL-token row, so every
    # doc survives the groupBy and no doc-list join-back is needed (the
    # first formulation's left join-back was the plan's only
    # SortMergeJoin — a second corpus scan + a doc-keyed shuffle for
    # nothing but the empty docs)
    occ = g.select("id", F.explode_outer("__nb_ws").alias("token"))
    default_w = F.expr(
        "CAST((CAST(1000000 AS DECIMAL(38,0)) * (t_neg + vocab)) div "
        "(CAST(t_neg AS DECIMAL(38,0)) + t_pos + vocab + vocab) AS BIGINT)"
    )
    contrib = F.when(
        F.col("token").isNotNull(),
        F.coalesce(F.col("weight_e6"), default_w) - F.lit(NEUTRAL_E6),
    ).otherwise(F.lit(0))
    return (
        occ.join(F.broadcast(weights.select("token", "weight_e6")), "token", "left")
        .crossJoin(F.broadcast(totals))
        .groupBy("id")
        .agg(
            F.count(F.col("token")).cast("long").alias("n_tokens"),
            F.sum(contrib).cast("long").alias("score_e6"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            "score_e6",
            (F.col("score_e6") >= 0).cast("int").alias("pred_keep"),
        )
    )


def quality_classifier_weights(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """End-to-end weight training bootstrapped from the heuristic filter:
    corpus_quality_filter's keep decision is the pseudo-label (computed
    in the SAME scan via carry=, no doc_id join back)."""
    from posextract_spark.operators.textops import corpus_quality_filter

    labeled = corpus_quality_filter(docs, text_col=text_col, carry=(text_col,))
    return nb_token_weights(labeled, text_col=text_col, label_col="keep")


def quality_classifier_scores(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """End-to-end bootstrap: heuristic pseudo-labels -> NB weights ->
    score the full corpus. Two passes over the corpus (label+count,
    score) plus the vocabulary-sized aggregate in between.

    The weight table is materialized (eager ``checkpoint``) between the
    passes — it is vocabulary-sized and it has TWO consumers inside
    nb_score_documents (the totals aggregate and the broadcast weight
    join). Without the checkpoint each consumer's broadcast build
    re-executed the ENTIRE training DAG (label scan + tokenize + token
    groupBy), so the corpus was scanned and tokenized twice more than
    necessary (measured r8: the duplicated training pass alone is ~4.3s
    at bench scale, and both copies contend for the same cores). This is
    also the production shape: the weight table is a reusable model
    artifact — scoring a NEW crawl costs one pass."""
    w, _ = checkpoint(quality_classifier_weights(docs, text_col=text_col))
    return nb_score_documents(docs, w, text_col=text_col, id_col=id_col)


# --- DuckDB mirrors ----------------------------------------------------------

_WEIGHT_SQL = (
    "CAST((1000000::HUGEINT * ((n_pos + 1)::HUGEINT * (t_neg + vocab))) // "
    "((n_pos + 1)::HUGEINT * (t_neg + vocab) "
    " + (n_neg + 1)::HUGEINT * (t_pos + vocab)) AS BIGINT)"
)

_DEFAULT_W_SQL = (
    "CAST((1000000::HUGEINT * (t_neg + vocab)) // "
    "((t_neg)::HUGEINT + t_pos + vocab + vocab) AS BIGINT)"
)


def _nb_train_ctes(labeled_rel: str, text_col: str = "text") -> str:
    """CTE chain (no WITH keyword) from a labeled relation
    (doc_id, keep, text) to _nbw(token, n_pos, n_neg, weight_e6)."""
    words = WORD_ARRAY_SQL.format(col=f"lower({text_col})")
    return f"""
_nbocc AS (
  SELECT keep, unnest({words}) AS token FROM {labeled_rel}),
_nbcnt AS (
  SELECT token, CAST(sum(keep) AS BIGINT) AS n_pos,
         CAST(sum(1 - keep) AS BIGINT) AS n_neg
  FROM _nbocc GROUP BY token),
_nbtot AS (
  SELECT CAST(sum(n_pos) AS BIGINT) AS t_pos,
         CAST(sum(n_neg) AS BIGINT) AS t_neg,
         CAST(count(*) AS BIGINT) AS vocab FROM _nbcnt),
_nbw AS (
  SELECT token, n_pos, n_neg, {_WEIGHT_SQL} AS weight_e6
  FROM _nbcnt CROSS JOIN _nbtot)"""


def _labeled_ctes(filter_sql: str, docs_rel: str = "documents") -> str:
    """CTE chain producing _nblab(doc_id, keep, text) from the heuristic
    filter's composed mirror (embedded as a derived table — it opens with
    its own WITH)."""
    return f"""
_nblab AS (
  SELECT d.doc_id, f.keep, d.text
  FROM {docs_rel} d JOIN ({filter_sql}) f USING (doc_id))"""


def quality_classifier_weights_sql(docs_rel: str = "documents") -> str:
    from posextract_spark.operators.textops import CORPUS_QUALITY_FILTER_SQL

    return (
        "WITH "
        + _labeled_ctes(CORPUS_QUALITY_FILTER_SQL, docs_rel)
        + ","
        + _nb_train_ctes("_nblab")
        + "\nSELECT token, n_pos, n_neg, weight_e6 FROM _nbw"
    )


def quality_classifier_scores_sql(docs_rel: str = "documents") -> str:
    from posextract_spark.operators.textops import CORPUS_QUALITY_FILTER_SQL

    words = WORD_ARRAY_SQL.format(col="lower(d.text)")
    return (
        "WITH "
        + _labeled_ctes(CORPUS_QUALITY_FILTER_SQL, docs_rel)
        + ","
        + _nb_train_ctes("_nblab")
        + f""",
_nbdocc AS (
  SELECT doc_id, unnest({words}) AS token FROM {docs_rel} d),
_nbper AS (
  SELECT o.doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(coalesce(w.weight_e6, {_DEFAULT_W_SQL}) - {NEUTRAL_E6})
              AS BIGINT) AS score_e6
  FROM _nbdocc o
  LEFT JOIN _nbw w USING (token)
  CROSS JOIN _nbtot
  GROUP BY o.doc_id)
SELECT d.doc_id,
       coalesce(p.n_tokens, 0) AS n_tokens,
       coalesce(p.score_e6, 0) AS score_e6,
       CAST(coalesce(p.score_e6, 0) >= 0 AS INT) AS pred_keep
FROM {docs_rel} d LEFT JOIN _nbper p USING (doc_id)"""
    )


def source_quality_report(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(source, n_docs, n_keep, keep_rate_e4, total_score_e6) — the
    per-source curation dashboard: how each ingestion source scores
    under the bootstrapped classifier. keep_rate_e4 = floor(1e4 *
    n_keep / n_docs); the score is reported as a TOTAL, not a mean —
    score sums can be negative, and integer division of negatives
    truncates toward zero in Spark but floors in DuckDB, so a mean
    column would silently diverge the mirror (consumers divide however
    they like).

    Shape: the classifier's two corpus passes plus ONE doc-keyed
    equi-join to attach the source dimension (AQE-splittable; source
    could instead ride through the scoring groupBy as a carry column if
    this join ever mattered), then a source-keyed aggregate — source
    cardinality is tiny, so the final shuffle is trivial.
    """
    scores = quality_classifier_scores(docs, text_col=text_col, id_col=id_col)
    dims = docs.select(F.col(id_col), F.col("source"))
    j = scores.join(dims, id_col)
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("pred_keep").cast("long").alias("n_keep"),
            F.sum("score_e6").cast("long").alias("total_score_e6"),
        )
        .select(
            "source",
            "n_docs",
            "n_keep",
            F.expr("10000 * n_keep div n_docs").cast("long").alias("keep_rate_e4"),
            "total_score_e6",
        )
    )


def source_quality_report_sql(docs_rel: str = "documents") -> str:
    """Mirror: the scores mirror nested as a derived table + the same
    source rollup."""
    return f"""
WITH _sqr AS (
  SELECT d.source, s.pred_keep, s.score_e6
  FROM ({quality_classifier_scores_sql(docs_rel)}) s
  JOIN {docs_rel} d USING (doc_id))
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(pred_keep) AS BIGINT) AS n_keep,
       CAST(10000 * sum(pred_keep) // count(*) AS BIGINT) AS keep_rate_e4,
       CAST(sum(score_e6) AS BIGINT) AS total_score_e6
FROM _sqr GROUP BY source"""
