"""Materialization boundaries: the one place a frame is materialized.

Two kinds, one module:

- ``materialize`` is a *row-wise* boundary inside one plan, for
  multi-referenced expensive expressions. The trap (measured twice in this
  repo: minhash in r1, corpus_quality_filter in r3): building several
  output Columns from the same Python ``Column`` object pastes an
  independent COPY of its expression tree into every use site, and nothing
  downstream merges them. Catalyst has no optimizer-level CSE, and
  higher-order-function lambdas force interpreted projection evaluation
  where codegen subexpression elimination never runs. The r3
  ``corpus_quality_filter`` plan evaluated ``split(text)`` 32x per row
  (28.6s vs ~3s at 200k docs); ``simhash`` evaluated md5-per-word 32x. A
  plain ``withColumn`` barrier is NOT a guarantee: CollapseProject inlines
  project-over-project (it keeps non-cheap multi-referenced aliases apart
  only by a config-dependent heuristic, ``collapseProjectAlwaysInline``).
  A Generate IS a hard boundary: its generator expression is evaluated
  exactly once per input row. ``explode`` of a 1-element array preserves
  cardinality exactly, so the boundary is free row-wise. Used by
  operators/textops.py (word array) and operators/dedup.py (per-word hash
  array); tests/test_plan_shape.py pins the resulting expression counts.

- ``checkpoint`` and ``cached`` are *frame* boundaries between jobs, for
  a frame with several consumers or a loop whose lineage must not grow.
  ``checkpoint`` is an eager ``localCheckpoint``: it cuts the lineage and
  runs the frame's plan once. Its ``probes`` (a count, a checksum, ...)
  ride that same run through an ``Observation``, so an iterative operator reads its
  convergence test without a second action over the frame. ``cached`` is
  the lazy ``persist`` whose release is tied to a ``with`` block, for a
  frame read by several consumers inside one operator that ends in a
  checkpoint. Every library materialization goes through these two (the
  three persists that must outlive their operator, because it returns a
  lazy frame, are pinned by tests/test_materialization.py).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def materialize(df: DataFrame, **cols: Column) -> DataFrame:
    """Append ``cols`` computed ONCE per row behind a Generate boundary.

    All expressions are packed into a single one-element-array explode so
    one Generate materializes every column; each output column is then a
    cheap struct-field reference that downstream Columns (and CollapseProject)
    may duplicate freely.
    """
    tmp = "__mat"
    clash = ({tmp} | set(cols)) & set(df.columns)
    if clash:
        raise ValueError(
            f"materialize: output name(s) {sorted(clash)} already exist on the "
            "input DataFrame — pick unused names (duplicate columns would "
            "make every downstream reference ambiguous)"
        )
    packed = F.explode(F.array(F.struct(*[c.alias(n) for n, c in cols.items()])))
    g = df.select("*", packed.alias(tmp))
    return g.select("*", *[F.col(f"{tmp}.{n}").alias(n) for n in cols]).drop(tmp)


def checkpoint(df: DataFrame, **probes: Column) -> tuple[DataFrame, dict]:
    """Eagerly ``localCheckpoint`` ``df``; return ``(frame, values)``.

    ``probes`` are aggregate Columns (``n=F.count(F.lit(1))``) filled by
    the checkpoint's own job through an ``Observation``, so reading them
    costs no second job; ``values`` maps each probe name to its value
    (``{}`` without probes: ``observe`` needs at least one expression).
    An empty frame still yields its probes (a count of 0, a null sum).
    """
    if not probes:
        return df.localCheckpoint(eager=True), {}
    obs = Observation()
    df = df.observe(obs, *[c.alias(n) for n, c in probes.items()])
    return df.localCheckpoint(eager=True), obs.get


@contextmanager
def cached(*dfs: DataFrame):
    """Persist ``dfs`` (in order) for the ``with`` block; unpersist them
    on exit, also when the block raises. Materialize whatever must
    outlive the block (``checkpoint``) before leaving it."""
    for df in dfs:
        df.persist()
    try:
        yield
    finally:
        for df in dfs:
            df.unpersist()
