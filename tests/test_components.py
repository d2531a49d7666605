"""Union-find fixpoint on known graphs (SURVEY.md section 5)."""

import pytest

from arabicner_spark.operators.components import connected_components


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "a string, b string")
    return {
        (r.node, r.component) for r in connected_components(df).collect()
    }


def test_two_components(spark):
    got = _cc(spark, [("b", "a"), ("b", "c"), ("x", "y")])
    assert got == {("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")}


def test_chain_collapses(spark):
    # long path: worst case for naive propagation; large/small-star
    # must still converge within the iteration cap
    n = 40
    edges = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(n)]
    got = _cc(spark, edges)
    assert got == {(f"n{i:02d}", "n00") for i in range(n + 1)}


def test_self_loops_and_dups_ignored(spark):
    got = _cc(spark, [("a", "a"), ("a", "b"), ("b", "a"), ("a", "b")])
    assert got == {("a", "a"), ("b", "a")}


def test_cycle(spark):
    got = _cc(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    assert got == {("a", "a"), ("b", "a"), ("c", "a")}


def test_adaptive_matches_distributed(spark):
    from arabicner_spark.operators.components import connected_components_adaptive

    # ("", "a"): a real empty-string node must survive the driver path
    edges = [("b", "a"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "r"), ("r", "p"), ("", "a")]
    df = spark.createDataFrame(edges, "a string, b string")
    dist = {(r.node, r.component) for r in connected_components(df).collect()}
    # driver path (threshold above edge count) and forced distributed
    # path (threshold 0) must agree exactly
    drv = {(r.node, r.component)
           for r in connected_components_adaptive(df, driver_threshold=10**6).collect()}
    forced = {(r.node, r.component)
              for r in connected_components_adaptive(df, driver_threshold=0).collect()}
    assert drv == dist == forced


def test_adaptive_empty_edges(spark):
    from arabicner_spark.operators.components import connected_components_adaptive

    df = spark.createDataFrame([], "a string, b string")
    assert connected_components_adaptive(df).count() == 0


def test_non_convergence_raises(spark):
    """A cap too low for the graph is an error, not a partial fixpoint;
    the default cap converges on the same 8-node path."""
    df = spark.createDataFrame([(f"n{i}", f"n{i + 1}") for i in range(7)], "a string, b string")
    with pytest.raises(RuntimeError, match=r"max_iter=1\b.*all 1 iterations"):
        connected_components(df, max_iter=1)
    got = {(r.node, r.component) for r in connected_components(df).collect()}
    assert got == {(f"n{i}", "n0") for i in range(8)}
