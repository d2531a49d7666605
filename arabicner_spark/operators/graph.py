"""Graph analytics over the materialized KG — PageRank, triangles,
neighborhood similarity, bounded BFS.

The reference has no graph algorithms (it is an NER trainer); the
north-star KG (nodes/edges tables) naturally wants them, and PageRank
is the canonical representative of the ITERATIVE dataflow class the
connected-components operator (operators/components.py) also belongs
to: a driver loop of joins/aggregations with ``localCheckpoint`` per
round to cut lineage (SURVEY.md section 4: iterative fixpoints are
orchestration, not planning — no custom Catalyst rule needed).

``triangle_count`` / ``neighbor_jaccard`` / ``bfs_depths`` are the
non-iterative (or depth-bounded) join-dataflow complements: triangle
enumeration via degree-ordered edge orientation (the standard trick
that bounds wedge fan-out by arboricity instead of max degree — a hub
of degree D contributes O(D) oriented out-edges only if D is on the
low side of its neighbors, so the wedge self-join never explodes on
skewed degree distributions), Jaccard link prediction via one
adjacency self-join + one aggregate, and BFS as a frontier loop with
anti-join dedup.

Scale shape per iteration: one join (ranks x edges, both keyed on the
node id — at scale both sides shuffle on src once and AQE handles the
rest) + one groupBy(dst) aggregation.  State is one (node, rank) row
per node — never collected to the driver.

Semantics (classic power iteration):
  pr_0(v)   = 1/N
  pr_t+1(v) = (1-d)/N + d * sum_{(u,v) in E} pr_t(u) / out_degree(u)
over the DISTINCT edge set; dangling mass (nodes with no out-edges) is
dropped, matching the unrolled SQL oracle exactly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from arabicner_spark.operators.components import one_slice_df


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """-> (node, rank) after ``iterations`` power steps.

    ``edges`` may carry duplicates (multi-edges collapse to the
    distinct (src, dst) set).  Node set = union of endpoints.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    e = e.localCheckpoint(eager=True)  # reused every iteration
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    out_deg = e.groupBy("src").agg(F.count("*").alias("out"))
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    base = (1.0 - damping) / n
    for _ in range(iterations):
        contribs = (
            ranks.join(e, ranks["node"] == e["src"])
            .join(out_deg, "src")
            .select(F.col("dst").alias("node"), (F.col("rank") / F.col("out")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (F.lit(base) + F.lit(damping) * F.coalesce("inflow", F.lit(0.0))).alias(
                    "rank"
                ),
            )
            .localCheckpoint(eager=True)  # cut lineage per round
        )
    return ranks


PR_SCALE = 10**9  # fixed-point unit for pagerank_exact: 1 rank = 1e9


def pagerank_exact(
    edges: DataFrame,
    iterations: int = 5,
    damping_pct: int = 85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """PageRank in FIXED-POINT integer arithmetic: (node, rank_i) with
    rank_i in units of 1/PR_SCALE.

    Same power iteration as ``pagerank``, but every quantity is a
    BIGINT and every division is integral (``div``), so the result is
    bit-identical regardless of partitioning, engine, or accumulation
    order — float ``sum(double)`` depends on reduction order and can
    land on a rounding boundary, flipping a value-hash gate (the exact
    drift mode the suite elsewhere avoids via integer cents).  The
    per-step floor loses < 1e-9 of mass per edge — far below any
    ranking-relevant signal — and buys cross-engine exactness, which is
    what a correctness GATE needs; production ranking keeps the float
    ``pagerank`` above.

    ``damping_pct`` is the damping factor in percent (85 = 0.85) so the
    damping multiply stays integral: inflow*85 div 100.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    e = e.localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    out_deg = e.groupBy("src").agg(F.count("*").alias("out"))
    ranks = nodes.select("node", F.lit(PR_SCALE // n).cast("long").alias("rank_i"))
    base = (PR_SCALE * (100 - damping_pct)) // (100 * n)
    for _ in range(iterations):
        contribs = (
            ranks.join(e, ranks["node"] == e["src"])
            .join(out_deg, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("rank_i div out").cast("long").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").cast("long").alias("inflow"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(f"(coalesce(inflow, 0) * {damping_pct}) div 100")
                ).cast("long").alias("rank_i"),
            )
            .localCheckpoint(eager=True)  # cut lineage per round
        )
    return ranks


def pagerank_personalized_exact(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 5,
    damping_pct: int = 85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """PERSONALIZED PageRank in the same fixed-point algebra as
    :func:`pagerank_exact`: the teleport mass returns to the ``seeds``
    node set instead of spreading uniformly, so ranks measure
    relevance TO the seeds — the entity-neighborhood relevance query a
    KG serves ("which entities matter around these seeds"), vs global
    importance.  seeds = DataFrame with a ``node`` column; initial
    mass and the per-step (1-d) teleport both split integrally over
    the seed count.  Same per-round shape: one join + one
    map-side-combinable sum + localCheckpoint."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    e = e.localCheckpoint(eager=True)
    # r7: adaptive local branch (the kcore/LPA pattern).  The whole
    # loop is FIXED-POINT INTEGER algebra — div/floor over BIGINTs,
    # order-independent sums — so a vectorized in-memory simulation of
    # the same ``iterations`` rounds returns the bit-identical rank
    # table without 5x (two joins + agg + localCheckpoint) scheduler
    # rounds; on the dimension-sized KG (13 entities) the round
    # latency IS the wall.  Node ids are only ever KEYS here (rank_i
    # carries the numbers), so string ids — the KG's entity ids —
    # take the local branch too (object arrays, the kcore-local
    # fallback convention); mixed-kind src/dst/seed columns or a
    # graph past the collect limit take the distributed loop.
    if e.count() <= KCORE_LOCAL_EDGE_LIMIT:
        tbl = e.toArrow()
        sd_tbl = seeds.select("node").distinct().toArrow()
        try:
            # NULL keys take the distributed loop (SQL null-join
            # semantics; Python-object sorting would raise on None)
            if any(
                c.null_count
                for c in (tbl.column("src"), tbl.column("dst"), sd_tbl.column("node"))
            ):
                raise ValueError("null keys")
            s_arr = _np_col(tbl.column("src"))
            d_arr = _np_col(tbl.column("dst"))
            seed_arr = _np_col(sd_tbl.column("node"))
        except Exception:
            s_arr = d_arr = seed_arr = None
        if (
            s_arr is not None
            and s_arr.dtype.kind in "iuOU"
            and d_arr.dtype.kind == s_arr.dtype.kind
            and (seed_arr.dtype.kind == s_arr.dtype.kind or seed_arr.size == 0)
        ):
            rows = _ppr_local_sim(s_arr, d_arr, seed_arr, iterations, damping_pct)
            from pyspark.sql.types import LongType, StructField, StructType

            node_type = edges.schema[src].dataType
            schema = StructType(
                [StructField("node", node_type), StructField("rank_i", LongType())]
            )
            return one_slice_df(edges.sparkSession, rows, schema).select(
                "node", F.col("rank_i").cast("long").alias("rank_i")
            )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # seeds absent from the edge set would silently leak their share
    # of teleport/initial mass (mass splits over the seed COUNT but
    # only in-graph seeds receive it) — intersect first (ADVICE r6)
    sd = (
        seeds.select("node")
        .distinct()
        .join(nodes, "node", "left_semi")
        .localCheckpoint(eager=True)
    )
    n_seeds = sd.count()
    if n_seeds < 1:
        raise ValueError(
            "personalized pagerank needs a non-empty seed set intersecting the graph"
        )
    out_deg = e.groupBy("src").agg(F.count("*").alias("out"))
    base_s = (PR_SCALE * (100 - damping_pct)) // (100 * n_seeds)
    # fold the per-node teleport base into the (checkpointed) node
    # table ONCE — the loop then pays the same single join+agg per
    # round as the uniform variant
    nodes_b = nodes.join(sd.withColumn("is_seed", F.lit(1)), "node", "left").select(
        "node",
        F.when(F.col("is_seed") == 1, F.lit(base_s))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("base_i"),
        F.when(F.col("is_seed") == 1, F.lit(PR_SCALE // n_seeds))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("init_i"),
    ).localCheckpoint(eager=True)
    ranks = nodes_b.select("node", F.col("init_i").alias("rank_i"))
    for _ in range(iterations):
        contribs = (
            ranks.join(e, ranks["node"] == e["src"])
            .join(out_deg, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("rank_i div out").cast("long").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").cast("long").alias("inflow"))
        )
        ranks = (
            nodes_b.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.col("base_i")
                    + F.expr(f"(coalesce(inflow, 0) * {damping_pct}) div 100")
                ).cast("long").alias("rank_i"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def _np_col(col):
    """Arrow column -> numpy array; non-numeric columns land as object
    arrays (the kcore-local fallback convention) so string node ids
    can be np.unique-factorized like integer ones."""
    import numpy as np

    try:
        return col.to_numpy(zero_copy_only=False)
    except Exception:
        return np.asarray(col.to_pylist(), dtype=object)


def _ppr_local_sim(s_arr, d_arr, seed_arr, iterations: int, damping_pct: int) -> list:
    """In-memory replay of pagerank_personalized_exact's fixed-point
    loop over a collected DISTINCT edge list: same integer init/base
    per seed, same per-edge ``rank_i div out``, same
    ``(inflow * d) div 100`` — every quantity an int64 and every
    division a floor over non-negative values, so the result is
    bit-identical to the distributed loop by construction (integer
    sums are order-independent).  Returns [(node, rank_i)] for every
    node of the edge set; raises like the distributed path when no
    seed intersects the graph."""
    import numpy as np

    nodes, inv = np.unique(np.concatenate([s_arr, d_arr]), return_inverse=True)
    m = len(s_arr)
    si, di = inv[:m], inv[m:]
    n = len(nodes)
    seed_vals = np.unique(seed_arr)
    pos = np.searchsorted(nodes, seed_vals)
    in_range = pos < n
    pos = pos[in_range]
    seed_idx = pos[nodes[pos] == seed_vals[in_range]]
    n_seeds = int(seed_idx.size)
    if n_seeds < 1:
        raise ValueError(
            "personalized pagerank needs a non-empty seed set intersecting the graph"
        )
    base_s = (PR_SCALE * (100 - damping_pct)) // (100 * n_seeds)
    base_i = np.zeros(n, dtype=np.int64)
    base_i[seed_idx] = base_s
    out = np.bincount(si, minlength=n).astype(np.int64)
    rank = np.zeros(n, dtype=np.int64)
    rank[seed_idx] = PR_SCALE // n_seeds
    dp = int(damping_pct)
    for _ in range(iterations):
        c = rank[si] // out[si]  # out[si] >= 1: si indexes edge sources
        inflow = np.zeros(n, dtype=np.int64)
        np.add.at(inflow, di, c)
        rank = base_i + (inflow * dp) // 100
    return list(zip(nodes.tolist(), rank.tolist()))


def temporal_reach(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
    ts: str = "ts_epoch",
) -> DataFrame:
    """Time-respecting reachability: (node, first_reach) — the
    earliest arrival time at each node reachable from the ``seeds``
    within ``rounds`` hops, where an edge may only be traversed at or
    AFTER the time you arrived at its source (the defining constraint
    of temporal graphs: a path must move forward in time — static
    reachability overcounts by following edges that happened before
    you got there).  Seeds start at time 0.  Per round: one
    frontier-edge equi-join with the time filter + one min agg —
    map-side combinable, state one row per reached node,
    localCheckpoint per round; bounded rounds = deterministic +
    unrolled-CTE-exact (the bfs_depths convention)."""
    if rounds < 1:
        raise ValueError(f"temporal_reach needs rounds >= 1, got {rounds}")
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), F.col(ts).alias("t")
    ).distinct().localCheckpoint(eager=True)
    # r7: adaptive local branch (the kcore/LPA pattern).  Each round
    # is a pure min-fold over BIGINTs — deterministic and
    # order-independent — so the in-memory frontier simulation of the
    # same ``rounds`` returns the identical arrival table without
    # 3x (join + min agg + localCheckpoint) scheduler rounds.
    if e.count() <= KCORE_LOCAL_EDGE_LIMIT:
        tbl = e.toArrow()
        sd_tbl = seeds.select("node").distinct().toArrow()
        try:
            # NULL keys/timestamps take the distributed loop (SQL
            # null-join/comparison semantics; object sorting and the
            # int64 cast would raise on None)
            if any(
                c.null_count
                for c in (
                    tbl.column("src"),
                    tbl.column("dst"),
                    tbl.column("t"),
                    sd_tbl.column("node"),
                )
            ):
                raise ValueError("null keys")
            s_arr = _np_col(tbl.column("src"))
            d_arr = _np_col(tbl.column("dst"))
            t_arr = _np_col(tbl.column("t"))
            seed_arr = _np_col(sd_tbl.column("node"))
        except Exception:
            s_arr = d_arr = t_arr = seed_arr = None
        if (
            s_arr is not None
            and s_arr.dtype.kind in "iuOU"
            and d_arr.dtype.kind == s_arr.dtype.kind
            and t_arr.dtype.kind in "iu"
            and (seed_arr.dtype.kind == s_arr.dtype.kind or seed_arr.size == 0)
        ):
            rows = _treach_local_sim(s_arr, d_arr, t_arr, seed_arr, rounds)
            from pyspark.sql.types import LongType, StructField, StructType

            node_type = edges.schema[src].dataType
            schema = StructType(
                [
                    StructField("node", node_type),
                    StructField("first_reach", LongType()),
                ]
            )
            return one_slice_df(edges.sparkSession, rows, schema).select(
                "node", F.col("first_reach").cast("long").alias("first_reach")
            )
    arr = seeds.select("node").distinct().select(
        "node", F.lit(0).cast("long").alias("first_reach")
    )
    for _ in range(rounds):
        step = (
            arr.join(e, arr["node"] == e["src"])
            .where(F.col("t") >= F.col("first_reach"))
            .select(F.col("dst").alias("node"), F.col("t").alias("first_reach"))
        )
        arr = (
            arr.unionByName(step)
            .groupBy("node")
            .agg(F.min("first_reach").cast("long").alias("first_reach"))
            .localCheckpoint(eager=True)
        )
    return arr


def _treach_local_sim(s_arr, d_arr, t_arr, seed_arr, rounds: int) -> list:
    """In-memory replay of temporal_reach's frontier loop over a
    collected DISTINCT (src, dst, t) edge list: per round every edge
    whose source is reached and whose t >= the source's arrival
    relaxes its destination with min(t) — the same min-fold as the
    distributed groupBy, so results are identical (min over int64 is
    order-independent).  Seeds start at 0 and stay in the output even
    when absent from the edge set (the distributed union semantics).
    Returns [(node, first_reach)] for every reached node."""
    import numpy as np

    seed_vals = np.unique(seed_arr)
    nodes, inv = np.unique(
        np.concatenate([s_arr, d_arr, seed_vals]), return_inverse=True
    )
    m = len(s_arr)
    si, di, sdi = inv[:m], inv[m : 2 * m], inv[2 * m :]
    n = len(nodes)
    inf = np.iinfo(np.int64).max
    fr = np.full(n, inf, dtype=np.int64)
    fr[sdi] = 0
    t64 = t_arr.astype(np.int64)
    for _ in range(rounds):
        reach = fr[si]
        valid = (reach != inf) & (t64 >= reach)
        if not valid.any():
            break  # empty frontier step: further rounds are no-ops
        upd = fr.copy()
        np.minimum.at(upd, di[valid], t64[valid])
        fr = upd
    reached = np.flatnonzero(fr != inf)
    return list(zip(nodes[reached].tolist(), fr[reached].tolist()))


def undirected_edges(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Distinct undirected edge set as (a, b) with a < b, self-loops dropped.

    Works for any orderable node id type (string entity ids, bigint
    user ids) — ``least``/``greatest`` use the column's native order.
    """
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """-> (node, n_triangles) for every node in >=1 triangle.

    Degree-ordered orientation: every undirected edge is directed from
    its lower-(degree, id) endpoint to the higher one, so each triangle
    {x < y < z} (in that total order) is counted exactly once as the
    wedge y<-x->z closed by oriented edge y->z.  The wedge self-join
    fans out per node only over its ORIENTED out-neighbors — bounded by
    graph arboricity, not raw degree, which is what keeps hub nodes
    from exploding the shuffle at scale.  Three joins + one aggregate;
    no CartesianProduct anywhere (plan-pinned in tests).
    """
    # und feeds deg AND the orientation join; oriented feeds the wedge
    # self-join twice plus the closure join.  DataFrame DAGs have no
    # common-subexpression reuse, so without materialization the
    # upstream build (a self-join over the raw edges) would replay once
    # per reference — localCheckpoint makes each diamond input compute
    # exactly once (the pagerank pattern).
    und = undirected_edges(edges, src, dst).localCheckpoint(eager=True)
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    d2 = und.join(
        deg.select(F.col("node").alias("a"), F.col("deg").alias("da")), "a"
    ).join(deg.select(F.col("node").alias("b"), F.col("deg").alias("db")), "b")
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = d2.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    ).localCheckpoint(eager=True)  # referenced 3x (two wedge arms + closure)
    o1 = oriented.select(
        F.col("u"), F.col("v").alias("y"), F.col("dv").alias("dy")
    )
    o2 = oriented.select(
        F.col("u"), F.col("v").alias("z"), F.col("dv").alias("dz")
    )
    wedges = o1.join(o2, "u").where(
        (F.col("dy") < F.col("dz"))
        | ((F.col("dy") == F.col("dz")) & (F.col("y") < F.col("z")))
    )
    closer = oriented.select(F.col("u").alias("y"), F.col("v").alias("z"))
    tris = wedges.join(closer, ["y", "z"]).select("u", "y", "z")
    corners = (
        tris.select(F.col("u").alias("node"))
        .unionByName(tris.select(F.col("y").alias("node")))
        .unionByName(tris.select(F.col("z").alias("node")))
    )
    return corners.groupBy("node").agg(F.count("*").cast("bigint").alias("n_triangles"))


def neighbor_jaccard(
    edges: DataFrame, src: str = "src", dst: str = "dst", min_common: int = 2
) -> DataFrame:
    """Link prediction: -> (node_a, node_b, common, jaccard) for node
    pairs sharing >= ``min_common`` neighbors (pair itself need not be
    an edge).  jaccard = |N(a) & N(b)| / |N(a) | N(b)| over DISTINCT
    neighborhoods.  One adjacency self-join keyed on the shared
    neighbor (the shuffle key is the wedge center, so AQE's skew split
    handles hub centers) + one aggregate + a vocabulary-sized degree
    join.  Single IEEE divide per row — deterministic across engines.
    """
    und = undirected_edges(edges, src, dst)
    # adj feeds the degree agg and BOTH self-join arms — materialize so
    # the undirected-edge build (often itself a self-join upstream) runs
    # once, not once per reference.
    adj = und.select(F.col("a").alias("node"), F.col("b").alias("peer")).unionByName(
        und.select(F.col("b").alias("node"), F.col("a").alias("peer"))
    ).localCheckpoint(eager=True)
    deg = adj.groupBy("node").agg(F.count("*").alias("deg"))  # adj is distinct
    x = adj.select(F.col("node").alias("node_a"), "peer")
    y = adj.select(F.col("node").alias("node_b"), "peer")
    pairs = (
        x.join(y, "peer")
        .where(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(F.count("*").cast("bigint").alias("common"))
        .where(F.col("common") >= min_common)
    )
    return (
        pairs.join(deg.select(F.col("node").alias("node_a"), F.col("deg").alias("da")), "node_a")
        .join(deg.select(F.col("node").alias("node_b"), F.col("deg").alias("db")), "node_b")
        .select(
            "node_a",
            "node_b",
            "common",
            F.round(
                F.col("common").cast("double")
                / (F.col("da") + F.col("db") - F.col("common")).cast("double"),
                4,
            ).alias("jaccard"),
        )
    )


def bfs_depths(
    edges: DataFrame,
    sources: list,
    max_depth: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Bounded-depth BFS over the undirected graph: -> (node, depth)
    with the MINIMUM hop count from any source, depth <= max_depth;
    sources appear at depth 0 even if isolated.

    The iterative frontier loop: each round is one join (frontier x
    adjacency) + one anti-join against the visited set + distinct,
    with ``localCheckpoint`` cutting lineage.  State is one row per
    reached node — never collected to the driver.  Depth is bounded,
    so the unrolled-CTE SQL oracle stays exact.
    """
    spark = edges.sparkSession
    node_type = edges.schema[src].dataType
    und = undirected_edges(edges, src, dst)
    adj = und.select(F.col("a").alias("node"), F.col("b").alias("peer")).unionByName(
        und.select(F.col("b").alias("node"), F.col("a").alias("peer"))
    ).localCheckpoint(eager=True)
    from pyspark.sql.types import StructField, StructType

    seed_df = spark.createDataFrame(
        [(s,) for s in sources], StructType([StructField("node", node_type)])
    ).distinct()
    visited = seed_df.withColumn("depth", F.lit(0).cast("int")).localCheckpoint(
        eager=True
    )
    frontier = visited.select("node")
    for d in range(1, max_depth + 1):
        nxt = (
            frontier.join(adj, "node")
            .select(F.col("peer").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("depth", F.lit(d).cast("int"))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():  # one-boolean convergence action, like components.py
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt.select("node")
    return visited


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Community detection via SYNCHRONOUS label propagation, made
    deterministic: labels start as the node id; each round every node
    adopts the most frequent label among its neighbors, ties broken by
    the SMALLEST label.  Classic async LPA breaks ties randomly and
    depends on visit order — useless under a value-hash gate; the
    synchronous variant with a total tie order is a pure function of
    the edge set, so the unrolled-CTE SQL oracle matches exactly.
    Fixed round count (synchronous LPA can 2-cycle on bipartite
    structures, so "until stable" is not well-defined anyway).

    Scale shape per round: one join (adjacency x labels, keyed on the
    node id) + one (node, label) count agg (map-side combinable) + one
    max_by arg-max agg — no window, no per-node sort.  State is one
    (node, label) row per node; localCheckpoint cuts lineage per round
    like pagerank/components.
    """
    und = undirected_edges(edges, src, dst).localCheckpoint(eager=True)
    # r7: adaptive local branch (the kcore/components pattern).  The
    # synchronous LPA round is a pure integer function of the edge set
    # — vote counts + (max count, min label) arg-max — so a vectorized
    # in-memory simulation of the SAME fixed rounds returns the
    # identical label table without 3x (join + two aggs +
    # localCheckpoint) scheduler rounds.  Integer node ids only (label
    # = node id cast long); anything else takes the distributed loop.
    if und.count() <= KCORE_LOCAL_EDGE_LIMIT:
        import numpy as np

        tbl = und.toArrow()
        try:
            a_arr = tbl.column("a").to_numpy(zero_copy_only=False)
            b_arr = tbl.column("b").to_numpy(zero_copy_only=False)
        except Exception:
            a_arr = b_arr = None
        if (
            a_arr is not None
            and a_arr.dtype.kind in "iu"
            and b_arr.dtype.kind in "iu"
        ):
            out_rows = _lpa_local(a_arr, b_arr, rounds)
            from pyspark.sql.types import LongType, StructField, StructType

            node_type = edges.schema[src].dataType
            schema = StructType(
                [StructField("node", node_type), StructField("label", LongType())]
            )
            return one_slice_df(edges.sparkSession, out_rows, schema).select(
                "node", F.col("label").cast("long").alias("label")
            )
    adj = (
        und.select(F.col("a").alias("node"), F.col("b").alias("peer"))
        .unionByName(und.select(F.col("b").alias("node"), F.col("a").alias("peer")))
        .localCheckpoint(eager=True)
    )
    labels = adj.select("node").distinct().select(
        "node", F.col("node").cast("long").alias("label")
    )
    for _ in range(rounds):
        labels = _lpa_round(adj, labels).localCheckpoint(eager=True)
    return labels.select("node", F.col("label").cast("long").alias("label"))


def _lpa_local(a_arr, b_arr, rounds: int) -> list:
    """Vectorized synchronous LPA over an in-memory undirected edge
    list: per round each node adopts the most frequent neighbor label,
    ties to the SMALLEST label — exactly _lpa_round's
    max_by(label, (n, -label)) arg-max.  Labels are node ids; nodes
    are compacted to sorted indices, so index order == label order and
    the tie-break carries over.  Returns [(node, label_long)]."""
    import numpy as np

    nodes, inv = np.unique(np.concatenate([a_arr, b_arr]), return_inverse=True)
    m = len(a_arr)
    ai, bi = inv[:m], inv[m:]
    n = len(nodes)
    if n >= (1 << 31):
        raise ValueError("graph too large for local LPA simulation")
    node_side = np.concatenate([ai, bi]).astype(np.int64)
    peer_side = np.concatenate([bi, ai]).astype(np.int64)
    label = np.arange(n, dtype=np.int64)  # index == sorted-id order
    for _ in range(rounds):
        pl = label[peer_side]
        key = node_side * n + pl
        uk, cnt = np.unique(key, return_counts=True)
        un = uk // n
        ul = uk % n
        order = np.lexsort((ul, -cnt, un))
        _, first = np.unique(un[order], return_index=True)
        chosen = order[first]
        new_label = label.copy()
        new_label[un[chosen]] = ul[chosen]
        label = new_label
    return list(zip(nodes.tolist(), nodes[label].astype(np.int64).tolist()))


def _lpa_round(adj: DataFrame, labels: DataFrame) -> DataFrame:
    """One synchronous LPA step: vote counts + deterministic arg-max.
    The arg-max is a max_by AGGREGATE over (n, -label) — map-side
    combinable — not a per-node Window sort (plan-pinned in
    tests/test_plans.py)."""
    votes = (
        adj.join(labels.select(F.col("node").alias("peer"), "label"), "peer")
        .groupBy("node", "label")
        .agg(F.count("*").alias("n"))
    )
    return votes.groupBy("node").agg(
        F.max_by(
            "label", F.struct(F.col("n"), (-F.col("label")).alias("negl"))
        ).alias("label")
    )


def kcore(
    edges: DataFrame,
    k: int = 2,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Bounded k-core peeling: ``rounds`` rounds of dropping nodes
    whose degree in the CURRENT induced subgraph is < k; returns the
    survivors with their final-round degree.  The full k-core is the
    fixpoint of this peel; a fixed round count keeps the run
    deterministic and the unrolled SQL oracle exact (the same
    bounded-iteration convention as bfs_depths).

    Scale shape per round: two semi-joins of the adjacency against the
    survivor set (both keyed on a node id) + one count agg — map-side
    combinable, state one row per surviving node, localCheckpoint per
    round."""
    if rounds < 1:
        raise ValueError(f"kcore needs rounds >= 1, got {rounds}")
    und = undirected_edges(edges, src, dst).localCheckpoint(eager=True)
    # r7: same adaptive local branch as kcore_fixpoint — the bounded
    # peel is the identical wave process capped at ``rounds`` (waves
    # past stabilization are no-ops, so early-stop == fixed-depth), so
    # the vectorized simulation returns the identical survivor set and
    # degrees without 3 full-graph join+agg rounds.
    if und.count() <= KCORE_LOCAL_EDGE_LIMIT:
        tbl = und.toArrow()
        import numpy as np

        def _col(name):
            col = tbl.column(name)
            try:
                return col.to_numpy(zero_copy_only=False)
            except Exception:
                return np.asarray(col.to_pylist(), dtype=object)

        surv, _w = _kcore_peel_local(_col("a"), _col("b"), k, rounds)
        from pyspark.sql.types import IntegerType, StructField, StructType

        node_type = edges.schema[src].dataType
        schema = StructType(
            [StructField("node", node_type), StructField("deg", IntegerType())]
        )
        return one_slice_df(
            edges.sparkSession, [(n, int(d)) for n, d in surv], schema
        ).select("node", F.col("deg").cast("int").alias("deg"))
    adj = (
        und.select(F.col("a").alias("node"), F.col("b").alias("peer"))
        .unionByName(und.select(F.col("b").alias("node"), F.col("a").alias("peer")))
        .localCheckpoint(eager=True)
    )
    nodes = adj.select("node").distinct()
    surv = None
    for _ in range(rounds):
        e = adj.join(nodes, "node").join(
            nodes.select(F.col("node").alias("peer")), "peer"
        )
        deg = e.groupBy("node").agg(F.count("*").alias("deg"))
        surv = deg.where(F.col("deg") >= k).localCheckpoint(eager=True)
        nodes = surv.select("node")
    return surv.select("node", F.col("deg").cast("int").alias("deg"))


KCORE_LOCAL_EDGE_LIMIT = int(
    os.environ.get("ARABICNER_KCORE_LOCAL_EDGE_LIMIT", "8000000")
)


def _kcore_peel_local(a_arr, b_arr, k: int, max_rounds: int) -> tuple[list, int]:
    """Exact wave-by-wave peel over an in-memory undirected distinct
    edge list, fully vectorized (numpy CSR) — the same waves the
    distributed loop would run (wave w removes every node whose degree
    induced by wave w-1's survivors is < k; decrements from wave w's
    removals land at the START of wave w+1, so a max_rounds cap leaves
    degrees exactly where the distributed peel would).
    Returns ([(node, deg)], rounds_run)."""
    import numpy as np

    nodes, inv = np.unique(np.concatenate([a_arr, b_arr]), return_inverse=True)
    m = len(a_arr)
    ai, bi = inv[:m], inv[m:]
    n = len(nodes)
    src = np.concatenate([ai, bi])
    dst = np.concatenate([bi, ai])
    order = np.argsort(src, kind="stable")
    dst_s = dst[order]
    counts = np.bincount(src, minlength=n).astype(np.int64)
    indptr = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(counts, out=indptr[1:])
    deg = counts.copy()
    alive = np.ones(n, dtype=bool)
    rounds_run = 0
    pending = None
    for _ in range(max_rounds):
        rounds_run += 1
        if pending is not None and pending.size:
            cnt = indptr[pending + 1] - indptr[pending]
            total = int(cnt.sum())
            if total:
                rows = np.repeat(indptr[pending], cnt) + (
                    np.arange(total) - np.repeat(np.cumsum(cnt) - cnt, cnt)
                )
                nbr = dst_s[rows]
                nbr = nbr[alive[nbr]]
                if nbr.size:
                    deg = deg - np.bincount(nbr, minlength=n)
        removed = np.flatnonzero(alive & (deg < k))
        if removed.size == 0:
            break
        alive[removed] = False
        pending = removed
    surv = np.flatnonzero(alive)
    node_list = nodes[surv].tolist()
    deg_list = deg[surv].tolist()
    return list(zip(node_list, deg_list)), rounds_run


def kcore_fixpoint(
    edges: DataFrame,
    k: int = 2,
    max_rounds: int = 50,
    src: str = "src",
    dst: str = "dst",
) -> tuple[DataFrame, int]:
    """TRUE k-core: peel until the survivor set is stable — the
    fixpoint the bounded :func:`kcore` approximates from above (a
    fixed 3-round peel returns a superset on deep peeling chains,
    e.g. a path graph where each round only erodes the two ends).

    -> (survivors (node, deg int), rounds_run).  The k-core fixpoint
    is peel-order independent, so any correct peel yields the same
    survivor set and induced degrees; rounds_run keeps the wave
    semantics of the original loop (waves executed including the
    empty confirming wave, capped by ``max_rounds``).

    r7 restructure (guide sections 1.2/2.4 — the round COUNT was the
    wall clock: ~21 sequential full-graph rounds on the deep-peel
    fixture):

      * DELTA peeling: degrees are computed over the full adjacency
        ONCE; each wave subtracts only the edges incident to the
        just-removed nodes (adjacency joined against the wave's small
        removal set) instead of re-aggregating the whole induced
        subgraph.  Per-wave shuffle bytes are proportional to the
        removal wave, not the graph.
      * ADAPTIVE LOCAL FINISH (the components.py
        connected_components_adaptive pattern): below
        ``KCORE_LOCAL_EDGE_LIMIT`` distinct undirected edges
        (env-overridable; 8M edges ~ 128 MB Arrow — driver-trivial,
        same class as components.py's adaptive union-find) the peel
        runs as a vectorized in-memory wave simulation, replacing
        O(rounds) scheduler latency with one Arrow collect.  At 100-TB
        scale the distributed delta branch carries the load.
    """
    if max_rounds < 1:
        raise ValueError(f"kcore_fixpoint needs max_rounds >= 1, got {max_rounds}")
    und = undirected_edges(edges, src, dst).localCheckpoint(eager=True)
    n_edges = und.count()
    node_type = edges.schema[src].dataType
    spark = edges.sparkSession
    if n_edges <= KCORE_LOCAL_EDGE_LIMIT:
        tbl = und.toArrow()
        import numpy as np

        def _col(name):
            col = tbl.column(name)
            try:
                return col.to_numpy(zero_copy_only=False)
            except Exception:
                return np.asarray(col.to_pylist(), dtype=object)

        surv, rounds_run = _kcore_peel_local(_col("a"), _col("b"), k, max_rounds)
        from pyspark.sql.types import IntegerType, StructField, StructType

        schema = StructType(
            [StructField("node", node_type), StructField("deg", IntegerType())]
        )
        out = one_slice_df(spark, [(n, int(d)) for n, d in surv], schema)
        return out.select("node", F.col("deg").cast("int").alias("deg")), rounds_run

    adj = (
        und.select(F.col("a").alias("node"), F.col("b").alias("peer"))
        .unionByName(und.select(F.col("b").alias("node"), F.col("a").alias("peer")))
        .localCheckpoint(eager=True)
    )
    # full degrees once; every later wave only applies decrements from
    # the previous wave's removals (landing at the START of the next
    # wave, so wave w's degrees are exactly those induced by wave
    # w-1's survivors — the original loop's semantics, cap included)
    state = adj.groupBy("node").agg(F.count("*").alias("deg")).localCheckpoint(
        eager=True
    )
    rounds_run = 0
    pending = None
    for _ in range(max_rounds):
        rounds_run += 1
        if pending is not None:
            dec = (
                adj.join(pending, "node")
                .groupBy(F.col("peer").alias("node"))
                .agg(F.count("*").alias("dec"))
            )
            state = (
                state.where(F.col("deg") >= k)
                .join(dec, "node", "left")
                .select(
                    "node", (F.col("deg") - F.coalesce("dec", F.lit(0))).alias("deg")
                )
                .localCheckpoint(eager=True)
            )
        removed = state.where(F.col("deg") < k).select("node").localCheckpoint(
            eager=True
        )
        if removed.isEmpty():
            break
        pending = removed
    return state.where(F.col("deg") >= k).select(
        "node", F.col("deg").cast("int").alias("deg")
    ), rounds_run
