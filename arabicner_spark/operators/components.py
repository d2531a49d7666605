"""Connected components on a DataFrame edge list — the canonicalization
fixpoint the north rule requires (the reference has nothing iterative;
SURVEY.md section 2.B).

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond") — O(log n) rounds, each
round two shuffles, vs O(diameter) for naive min-propagation.  Node ids
are strings; "min" is lexicographic, deterministic.

Scale notes:
  * each iteration ends in ``localCheckpoint(eager=True)`` to truncate
    lineage — without it the plan doubles per round and the driver OOMs
    compiling it long before data is the problem;
  * convergence test = (edge count, sum of per-edge md5-prefix
    checksums): one cheap agg, no collect of edges;
  * star-shaped output means the final "component of node" lookup is a
    single groupBy(min), no further joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canon(edges: DataFrame) -> DataFrame:
    """Undirected canonical form: (u < v), deduped, no self-loops."""
    return (
        edges.select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _checksum(edges: DataFrame) -> tuple:
    row = edges.select(
        F.count("*").alias("n"),
        F.sum(
            F.conv(F.substring(F.md5(F.encode(F.concat_ws("|", "a", "b"), "UTF-8")), 1, 12), 16, 10).cast("decimal(20,0)")
        ).alias("s"),
    ).collect()[0]
    return (row["n"], row["s"])


def _large_star(edges: DataFrame) -> DataFrame:
    sym = edges.select("a", "b").union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    mins = sym.groupBy("a").agg(F.min("b").alias("mb"))
    mins = mins.select("a", F.least("mb", F.col("a")).alias("m"))
    return (
        sym.join(mins, "a")
        .where(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    directed = edges.select(
        F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
    ).where(F.col("u") != F.col("v"))
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    nbr_edges = directed.join(mins, "u").select(F.col("v").alias("a"), F.col("m").alias("b"))
    self_edges = mins.select(F.col("u").alias("a"), F.col("m").alias("b"))
    return nbr_edges.union(self_edges)


def union_find(pairs: list) -> dict:
    """(a, b) pairs -> {node: min node id of its component}, for every
    node that appears in a pair.  Union by min id keeps the
    canonical-min invariant of the distributed path, so either side
    can stand in for the other."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: find(x) for pair in pairs for x in pair}


def connected_components_adaptive(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    driver_threshold: int = 200_000,
) -> DataFrame:
    """Strategy pick from runtime stats (the AQE philosophy applied to
    the CC fixpoint): a vocabulary-sized edge set is solved with a
    driver-side union-find in one collect instead of O(log n) iterative
    shuffle rounds — each distributed round costs 2 shuffles + a
    checkpoint + a checksum job, pure scheduler overhead when the data
    fits in one task.  Big edge sets take the distributed
    large-star/small-star path.  Both produce component = min node id,
    so results are interchangeable (asserted in tests)."""
    e = _canon(edges.select(F.col(src).alias("a"), F.col(dst).alias("b")))
    e = e.localCheckpoint(eager=True)
    n = e.count()
    if n > driver_threshold:
        return connected_components(e)
    out = sorted(union_find([(r["a"], r["b"]) for r in e.collect()]).items())
    # node is never NULL (_canon drops NULL endpoints); the filter puts
    # that fact in the plan's constraints, which consumers' plans use
    return one_slice_df(edges.sparkSession, out, "node string, component string").where(
        F.col("node").isNotNull()
    )


def one_slice_df(session, rows, schema) -> DataFrame:
    """Materialize a small local result as a DataFrame via a
    SINGLE-slice RDD: the default createDataFrame path parallelizes
    the list over defaultParallelism slices, paying ~cores empty
    scheduler tasks for a dimension-sized result (measured
    0.34 -> 0.21 s per materialization at local[32]).  The explicit
    schema also covers an empty ``rows``."""
    return session.createDataFrame(session.sparkContext.parallelize(rows, 1), schema)


def connected_components(
    edges: DataFrame, src: str = "a", dst: str = "b", max_iter: int = 25
) -> DataFrame:
    """edge list -> (node, component) where component = min node id of
    the component.  Nodes absent from ``edges`` are the caller's to add
    back as singletons (component = self).  Raises RuntimeError when
    ``max_iter`` rounds pass without reaching the fixpoint."""
    e = _canon(edges.select(F.col(src).alias("a"), F.col(dst).alias("b")))
    e = e.localCheckpoint(eager=True)
    prev = _checksum(e)
    for _ in range(max_iter):
        e = _canon(_small_star(_large_star(e))).localCheckpoint(eager=True)
        cur = _checksum(e)
        if cur == prev:
            break
        prev = cur
    else:
        # a partial fixpoint is not a component labelling: say so
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter}: "
            f"all {max_iter} iterations ran and the last still changed the edge set"
        )
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    return (
        sym.groupBy("a")
        .agg(F.min("b").alias("mb"))
        .select(
            F.col("a").alias("node"),
            F.least(F.col("mb"), F.col("a")).alias("component"),
        )
    )
