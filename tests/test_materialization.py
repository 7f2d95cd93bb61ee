"""The one materialization module (functions/boundary.py): ``checkpoint``
probes ride the checkpoint's own job, ``cached`` releases its frames, the
iterative operators keep their output on frames that probe empty, and no
library code materializes outside the module."""

import ast
import pathlib
from collections import Counter

import pandas as pd
import pytest
from pyspark.sql import functions as F

from posextract_spark.functions.boundary import cached, checkpoint
from posextract_spark.operators import graph_analytics as ga
from posextract_spark.operators.canonicalize import connected_components_star
from tools.stress import in_job_group

PKG = pathlib.Path(__file__).resolve().parent.parent / "posextract_spark"

#: every persist call: ``cached``'s own, and the three whose frame must
#: outlive its function, because each returns (or writes from) a lazy frame
#: that reads the cache after the call returns
PERSISTS = Counter({
    ("functions/boundary.py", "cached"): 1,
    ("pipeline.py", "kg_from_pages"): 1,
    ("cli.py", "main"): 1,
    ("operators/temporal.py", "incremental_triples"): 2,
})


def _edges(spark, rows, cols=("src", "dst")):
    return spark.createDataFrame(pd.DataFrame(rows, columns=list(cols)))


def _ids(spark, ids, name="node"):
    return spark.createDataFrame(pd.DataFrame({name: ids}))


# --- the two boundaries ------------------------------------------------------


def test_checkpoint_observes_probes_in_the_checkpoint_job(spark):
    df = spark.range(10).select((F.col("id") % 3).alias("k"))
    (out, seen), _, jobs, _ = in_job_group(
        spark,
        "probe",
        lambda: checkpoint(df.distinct(), n=F.count(F.lit(1)), s=F.sum("k")),
    )
    assert seen == {"n": 3, "s": 3}
    assert sorted(r.k for r in out.collect()) == [0, 1, 2]
    # reading the probes ran no job of its own beyond the checkpoint's
    (_, again), _, jobs2, _ = in_job_group(
        spark, "probe2", lambda: checkpoint(df.distinct())
    )
    assert again == {}
    assert len(jobs) == len(jobs2)


def test_checkpoint_probes_an_empty_frame(spark):
    empty = spark.range(10).filter(F.col("id") < 0).groupBy("id").count()
    out, seen = checkpoint(empty, n=F.count(F.lit(1)), s=F.sum("id"))
    assert seen == {"n": 0, "s": None}
    assert out.collect() == []


def _is_cached(df) -> bool:
    # the cache manager's own state for this plan (tests/test_entry_caches.py)
    lvl = df.storageLevel
    return lvl.useMemory or lvl.useDisk


def test_cached_unpersists_when_the_body_raises(spark):
    a = spark.range(5)
    b = spark.range(7)
    with pytest.raises(RuntimeError, match="boom"):
        with cached(a, b):
            assert _is_cached(a) and _is_cached(b)
            raise RuntimeError("boom")
    assert not _is_cached(a) and not _is_cached(b)


# --- iterative operators on frames that probe empty --------------------------


def test_khop_seeds_outside_the_graph_stay_at_hop_zero(spark):
    e = _edges(spark, [(1, 2), (2, 3)])
    got = {r["node"]: r["hop"] for r in ga.khop_nodes(e, _ids(spark, [77, 88]), k=3).collect()}
    assert got == {77: 0, 88: 0}


def test_shortest_paths_seeds_outside_the_graph_stay_at_zero(spark):
    e = _edges(spark, [("a", "b", 1), ("b", "c", 2)], ("src", "dst", "weight"))
    got = {
        r["node"]: r["dist"]
        for r in ga.shortest_paths(e, _ids(spark, ["x", "y"]), max_iters=4).collect()
    }
    assert got == {"x": 0, "y": 0}


def test_kcore_peels_a_path_to_nothing(spark):
    e = _edges(spark, [(i, i + 1) for i in range(6)])
    out = ga.kcore(e, k=2)
    assert out.columns == ["node", "core_degree"]
    assert out.collect() == []


def test_star_cc_on_self_loops_only_is_empty(spark):
    e = _edges(spark, [(1, 1), (2, 2), (3, 3)])
    labels, rounds = connected_components_star(e, return_rounds=True)
    assert labels.columns == ["node", "component"]
    assert labels.collect() == []
    assert rounds == 1


# --- the job count of one cheap iterative case --------------------------------

#: jobs of connected_components_star + collect on the fixture below
#: (local[4], 4 shuffle partitions, 4 rounds): the checkpoints and AQE's
#: query-stage jobs, the same in repeated runs. A separate checksum probe
#: before the loop and after every round (two jobs each under AQE) made it
#: 46; an added probe or count trips this pin.
CC_JOBS = 36


def test_connected_components_star_job_count(spark):
    # a chain, a triangle and an edge: three components
    rows = [(i, i + 1) for i in range(1, 9)] + [(20, 21), (21, 22), (22, 20), (30, 31)]
    e = _edges(spark, rows)
    e.collect()  # the local relation itself runs no job inside the group

    def run():
        labels, rounds = connected_components_star(e, return_rounds=True)
        return labels.collect(), rounds

    (labels, rounds), _, jobs, _ = in_job_group(spark, "cc-pin", run)
    comp = {r["node"]: r["component"] for r in labels}
    assert comp == {
        **{i: 1 for i in range(1, 10)},
        20: 20, 21: 20, 22: 20,
        30: 30, 31: 30,
    }
    assert len(jobs) <= CC_JOBS, f"{len(jobs)} jobs over {rounds} rounds"


# --- the guard: materialization lives in functions/boundary.py ----------------


def _materializing_calls():
    """(path, enclosing function, method) of every localCheckpoint /
    checkpoint / persist / cache call in the library."""
    found = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        tree = ast.parse(path.read_text(), filename=str(path))

        def visit(node, fn):
            for child in ast.iter_child_nodes(node):
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    visit(child, child.name if fn is None else fn)
                    continue
                if (
                    isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr in {"localCheckpoint", "checkpoint", "persist", "cache"}
                ):
                    found.append((rel, fn, child.func.attr))
                visit(child, fn)

        visit(tree, None)
    return found


def test_materialization_goes_through_the_boundary_module():
    calls = _materializing_calls()
    local = {(p, f) for p, f, m in calls if m in {"localCheckpoint", "checkpoint"}}
    assert local == {("functions/boundary.py", "checkpoint")}
    persists = Counter((p, f) for p, f, m in calls if m in {"persist", "cache"})
    assert persists == PERSISTS
