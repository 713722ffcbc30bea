"""The fixed-point loop driver (``operators.fixed_point.iterate``): cadence
is value-neutral, bad cadences are rejected, no cut outlives a failed or
finished loop except the one returned, and ``fixed_point.py`` stays the
only module that frees blocks by RDD id."""

from __future__ import annotations

import ast
import gc

import pytest
from pyspark.sql import functions as F

from logistream_data_pipeline_aws_spark.operators import fixed_point as FP
from logistream_data_pipeline_aws_spark.plans import extensions as X
from tests.conftest import SF_SMALL
from tests.test_extensions import _CHAIN, _with_graph_tables
from tests.test_staging import _modules


def _toy_step(df):
    # a non-linear map, so a skipped or repeated round changes the state
    return df.select("id", ((F.col("x") * F.col("x") + F.col("id")) % 97).alias("x"))


def _toy(spark):
    return spark.range(50).select("id", (F.col("id") % 13).alias("x"))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_checkpoint_cadence_is_value_neutral(spark):
    """The cut cadence is physical only: cadence 1, 2 and 3 give the same
    state, for a toy step and for ``graph_kcore``'s h-index round."""
    results = []
    for every in (1, 2, 3):
        state, converged = FP.iterate(
            _toy(spark), _toy_step, 7, checkpoint_every=every
        )
        results.append(_rows(state))
        FP.release(state)
        assert not converged
    assert results[0] == results[1] == results[2] and results[0]

    c0, und, step, coreness = X._kcore_parts(spark, SF_SMALL, 256)
    try:
        every1, _ = FP.iterate(c0, step, 20, checkpoint_every=1)
        every2, _ = FP.iterate(c0, step, 20, checkpoint_every=2)
        assert _rows(coreness(every1)) == _rows(coreness(every2))
        FP.release(every1)
        FP.release(every2)
    finally:
        und.unpersist()


def test_iterate_validates_checkpoint_every(spark):
    """0 would divide by zero on the cadence and a negative value would
    silently never cut — both are rejected before any round runs."""
    for bad in (0, -2):
        with pytest.raises(ValueError, match="checkpoint_every"):
            FP.iterate(_toy(spark), _toy_step, 3, checkpoint_every=bad)


@pytest.mark.parametrize("where", ["step", "done"])
def test_exception_mid_loop_leaves_no_cut_persisted(spark, where):
    """A failure in the third round's step, or in ``done`` while two cuts
    are live, frees every cut the loop made before it propagates."""
    calls = {"n": 0}

    def boom(df):
        calls["n"] += 1
        if where == "step" and calls["n"] == 3:
            raise RuntimeError("simulated mid-loop failure")
        return _toy_step(df)

    def done(_prev, _cur):
        if where == "done" and calls["n"] == 3:
            raise RuntimeError("simulated mid-loop failure")
        return False

    seed = _toy(spark)
    gc.collect()
    before = FP._persistent_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="mid-loop"):
        FP.iterate(seed, boom, 10, done=done)
    assert calls["n"] == 3
    assert FP._persistent_rdd_ids(spark) - before == set()


def test_converged_only_when_done_stops_the_loop(spark):
    """``converged`` is False when ``max_rounds`` runs out (with or
    without ``done``), True when ``done`` stops the loop; ``release``
    frees the returned cut."""
    before = FP._persistent_rdd_ids(spark)
    state, converged = FP.iterate(
        _toy(spark), _toy_step, 4, done=lambda _p, _c: False
    )
    assert not converged
    FP.release(state)
    state, converged = FP.iterate(_toy(spark), _toy_step, 4)
    assert not converged
    FP.release(state)
    rounds = {"n": 0}

    def count_rounds(df):
        rounds["n"] += 1
        return _toy_step(df)

    state, converged = FP.iterate(
        _toy(spark), count_rounds, 4, done=lambda _p, _c: rounds["n"] == 2
    )
    assert converged and rounds["n"] == 2
    FP.release(state)
    assert FP._persistent_rdd_ids(spark) - before == set()


def test_supplier_pagerank_converged_keeps_only_its_final_cut(spark):
    """One delta-terminated PageRank run to a tight tolerance on the
    chain graph leaves at most the final cut's RDDs persisted — not one
    score vector per round."""
    gc.collect()
    before = FP._persistent_rdd_ids(spark)

    def run():
        return _rows(X.supplier_pagerank_converged(spark, "unused", tol=1e-10))

    assert _with_graph_tables(spark, _CHAIN, run)
    gc.collect()
    leaked = FP._persistent_rdd_ids(spark) - before
    assert len(leaked) <= 2, f"{len(leaked)} RDDs left persisted"


def test_block_release_helpers_live_in_fixed_point_only():
    """``fixed_point.py`` is the only package module that frees blocks by
    RDD id: no other module names its private helpers."""
    private = {"_release_rdds", "_own_checkpoint_rdd_ids", "_persistent_rdd_ids"}
    found = set()
    for mod, tree in _modules():
        if mod == "operators.fixed_point":
            continue
        for node in ast.walk(tree):
            name = (
                node.id
                if isinstance(node, ast.Name)
                else node.attr
                if isinstance(node, ast.Attribute)
                else node.name
                if isinstance(node, ast.alias)
                else None
            )
            if name in private:
                found.add(f"{mod}:{name}")
    assert not found, found
