"""Entity linking + canonicalization (north-rule operators; the
reference has no linking stage — SURVEY.md section 2.B).

Pipeline:
  1. DIRECT: normalized mention surface -> alias dictionary via
     broadcast hash join (dimension is small; zero shuffle).  Ties on a
     shared alias break by (weight desc, entity_id asc) — one window
     over the TINY alias dict, not over mentions.
  2. LSH: surfaces that miss the dictionary are blocked against it (and
     against each other) with char-3gram MinHash-LSH; candidate pairs
     are verified with exact shingle Jaccard >= threshold.
  3. CC: verified similarity edges -> connected components
     (large-star/small-star); the canonical id of a component is the
     best entity among its alias members, else "S:" + min surface.

All of it runs on DISTINCT surfaces, not raw mentions: at 10^12 turns
the mention table is enormous but the distinct-surface table is
vocabulary-sized, so every expensive step downstream of the first
``.distinct()`` touches the small table.  The final surface->canonical
map joins back to mentions/triples as a broadcast (or salted) join.

Local branch.  When the distinct surfaces and the alias rows both fit
under ``LOCAL_LIMIT`` (200k rows each), steps 1-3 run in the driver on
two bounded collects and the map comes back as one single-task
DataFrame.  At vocabulary size the distributed plan is nearly all
per-job scheduling (~45 Spark jobs of 1-task stages for ~2.7k
surfaces).  Measured on 4 cores (local[4], 2 GB driver JVM, kgbench
entity phrases with a quarter typo variants, surfaces:aliases = 5:4),
link plus map write, one run per size, local vs distributed: 3k
surfaces 0.7 vs 5.3 s, 30k 2.5 vs 13.2 s, 100k 8.1 vs 33.0 s, 200k
18.5 vs 68.9 s, 400k 59.0 vs 252.5 s.  The Python driver's resident
memory rose by 0.36 GB at 100k, 0.74 GB at 200k and 1.8 GB at 400k.
The driver pass won at every size, so memory, not a crossover, sets
the limit.  The driver pass replays every step bit-identically:
the same tie-break, shingles, md5-based MinHash with the same affine
constants, band keys, exact Jaccard test in double precision, min-id
components and canonical rule.  NULLs in the alias rows are outside
the local domain and take the distributed plan.  That plan stays: it is
the only path above the limit, and the parity reference the tests run
the local branch against (``LOCAL_LIMIT`` = 0 forces it).
"""

from __future__ import annotations

import hashlib
import sys
from itertools import combinations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from arabicner_spark.functions import hashing
from arabicner_spark.functions.normalize import normalize_col
from arabicner_spark.operators.components import connected_components_adaptive, union_find

DEFAULT_JACCARD = 0.5

# rows per collected side (distinct surfaces, alias rows) up to which
# link_surfaces runs in the driver; set by driver memory, not by a
# crossover (module docstring)
LOCAL_LIMIT = 200_000

_MAP_COLUMNS = ["surface", "canonical_id", "link_kind"]


def best_alias(alias_df: DataFrame) -> DataFrame:
    """One row per alias: highest weight wins, then lexicographic
    entity_id (deterministic tie-break, mirrored in oracle + SQL)."""
    w = Window.partitionBy("alias").orderBy(
        F.col("weight").desc(), F.col("entity_id").asc()
    )
    return (
        alias_df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def link_surfaces(
    mentions: DataFrame,
    alias_df: DataFrame,
    jaccard_threshold: float = DEFAULT_JACCARD,
    n_hashes: int = 16,
    bands: int = 8,
    broadcast_alias_limit: int = 5_000_000,
) -> DataFrame:
    """mentions -> (surface, canonical_id, link_kind) map.

    link_kind: 'alias' (direct dictionary hit), 'lsh' (reached via
    MinHash-LSH + components to an alias), 'lsh_cluster' (a component
    of surfaces only), 'self' (novel surface, canonical is itself).

    Vocabularies within ``LOCAL_LIMIT`` take the driver branch
    (``_link_local``); one stderr line names the branch taken, the
    observed surface and alias row counts and the limit.

    The dictionary join broadcasts while the alias table is below
    ``broadcast_alias_limit`` rows; above it, the join switches to the
    deterministic salted shuffle join (functions/joins.py) — hot
    aliases (one surface matched by millions of mentions upstream
    collapses here to ONE distinct surface, so the dictionary side is
    the only realistic skew carrier at this stage).
    """
    # vocabulary-sized and reused by the gate and every branch below ->
    # checkpoint once; without this the whole upstream plan (incl. the
    # NER stage) re-executes per branch of the final union.  Lazy: the
    # gate's collect materializes it, where eager would add a count job.
    surfaces = (
        mentions.select(normalize_col(F.col("text")).alias("surface"))
        .where(F.length("surface") > 0)
        .distinct()
        .localCheckpoint(eager=False)
    )
    limit = LOCAL_LIMIT
    surf_tbl = surfaces.limit(limit + 1).toArrow()
    alias_tbl = alias_df.select("alias", "entity_id", "weight").limit(limit + 1).toArrow()
    fits = surf_tbl.num_rows <= limit and alias_tbl.num_rows <= limit
    has_null = any(c.null_count for c in alias_tbl.columns)
    branch = "local" if fits and not has_null else "distributed"

    def seen(n):
        return f">{limit}" if n > limit else str(n)

    print(
        f"[linking {branch}] surfaces={seen(surf_tbl.num_rows)} "
        f"aliases={seen(alias_tbl.num_rows)} limit={limit}"
        + (" null_alias_rows" if has_null else ""),
        file=sys.stderr,
    )
    if branch == "local":
        rows = _link_local(
            surf_tbl.column("surface").to_pylist(),
            zip(*(alias_tbl.column(c).to_pylist() for c in ("alias", "entity_id", "weight"))),
            jaccard_threshold,
            n_hashes,
            bands,
        )
        # from Arrow, not components.one_slice_df: the JVM decodes the
        # LocalRelation itself, where one_slice_df's Python RDD starts
        # a second Python worker daemon (~100 MB resident) in a build
        # that has no other Python RDD; coalesce(1) keeps one task
        cols = list(zip(*rows)) or [[]] * len(_MAP_COLUMNS)
        table = pa.table([pa.array(c, pa.string()) for c in cols], names=_MAP_COLUMNS)
        return mentions.sparkSession.createDataFrame(table).coalesce(1)

    dict_best = best_alias(alias_df)
    use_broadcast = alias_df.count() <= broadcast_alias_limit

    if use_broadcast:
        direct = surfaces.join(
            F.broadcast(dict_best), surfaces["surface"] == dict_best["alias"], "inner"
        ).select("surface", F.col("entity_id").alias("canonical_id"))
        unlinked = surfaces.join(
            F.broadcast(dict_best.select("alias")),
            surfaces["surface"] == F.col("alias"),
            "left_anti",
        ).localCheckpoint(eager=True)
    else:
        # surfaces is DISTINCT — every join key appears exactly once on
        # the fact side, so no key can be hot and salting would only pay
        # S-fold dict replication for nothing (a salt derived from the
        # lone key column would be a pure function of it anyway).  A
        # plain shuffle join is the right plan; AQE splits any residual
        # partition imbalance.  salted_join remains the tool for joins
        # whose FACT side repeats hot keys (e.g. raw mentions -> dict).
        joined = (
            surfaces.withColumnRenamed("surface", "alias")
            .join(dict_best, "alias", "left")
            .withColumnRenamed("alias", "surface")
            .localCheckpoint(eager=True)
        )
        direct = joined.where(F.col("entity_id").isNotNull()).select(
            "surface", F.col("entity_id").alias("canonical_id")
        )
        unlinked = joined.where(F.col("entity_id").isNull()).select("surface")

    if unlinked.isEmpty():
        # nothing to block — LSH exists to rescue dictionary misses
        return direct.withColumn("link_kind", F.lit("alias"))

    # --- LSH blocking over unlinked surfaces + dictionary aliases
    s_nodes = unlinked.select(
        F.concat(F.lit("S:"), "surface").alias("id"), F.col("surface").alias("t")
    )
    a_nodes = dict_best.select(
        F.concat(F.lit("A:"), "alias").alias("id"), F.col("alias").alias("t")
    ).distinct()
    nodes = s_nodes.union(a_nodes)
    # reused 3x (signatures, pair verification x2, sizes)
    shingles = hashing.char_shingles(nodes, ["id"], "t", n=3).localCheckpoint(eager=True)
    sigs = hashing.minhash_signatures(shingles, ["id"], n_hashes=n_hashes)
    pairs = hashing.lsh_candidate_pairs(
        hashing.lsh_bands(sigs, ["id"], bands=bands, rows_per_band=n_hashes // bands),
        "id",
    )
    # exact Jaccard verification on candidate pairs only
    sh_a = shingles.select(F.col("id").alias("a"), "shingle")
    sh_b = shingles.select(F.col("id").alias("b"), "shingle")
    inter = (
        pairs.join(sh_a, "a").join(sh_b, ["b", "shingle"]).groupBy("a", "b").count()
    )
    sizes = shingles.groupBy("id").agg(F.count("*").alias("sz"))
    verified = (
        inter.join(sizes.withColumnRenamed("id", "a").withColumnRenamed("sz", "sza"), "a")
        .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("sz", "szb"), "b")
        .where(
            F.col("count")
            >= F.lit(jaccard_threshold) * (F.col("sza") + F.col("szb") - F.col("count"))
        )
        .select("a", "b")
    )

    comp = connected_components_adaptive(verified).localCheckpoint(eager=True)

    # canonical per component: best entity among alias members, else
    # "S:" + min surface member.
    members = comp.withColumn(
        "kind", F.substring("node", 1, 2)
    ).withColumn("t", F.expr("substring(node, 3)"))
    alias_members = (
        members.where(F.col("kind") == "A:")
        .join(F.broadcast(dict_best), F.col("t") == dict_best["alias"])
        .groupBy("component")
        .agg(F.min("entity_id").alias("ent"))
    )
    surf_min = (
        members.where(F.col("kind") == "S:")
        .groupBy("component")
        .agg(F.min("t").alias("min_surface"))
    )
    comp_canon = surf_min.join(alias_members, "component", "left").select(
        "component",
        F.coalesce(F.col("ent"), F.concat(F.lit("S:"), "min_surface")).alias(
            "canonical_id"
        ),
        F.col("ent").isNotNull().alias("via_alias"),
    )
    lsh_linked = (
        members.where(F.col("kind") == "S:")
        .join(comp_canon, "component")
        .select(
            F.col("t").alias("surface"),
            "canonical_id",
            F.when(F.col("via_alias"), F.lit("lsh")).otherwise(F.lit("lsh_cluster")).alias(
                "link_kind"
            ),
        )
    )

    singles = (
        unlinked.join(
            lsh_linked.select("surface").distinct(), "surface", "left_anti"
        ).select(
            "surface",
            F.concat(F.lit("S:"), "surface").alias("canonical_id"),
            F.lit("self").alias("link_kind"),
        )
    )

    return (
        direct.withColumn("link_kind", F.lit("alias"))
        .unionByName(lsh_linked)
        .unionByName(singles)
    )


def _alias_rank(row):
    """Sort key of an (alias, entity_id, weight) row: weight desc, then
    entity_id asc; NaN ranks above every weight, as in Spark."""
    alias, eid, w = row
    return (alias, w == w, -w if w == w else 0.0, eid)


def _char_shingles(t: str, n: int = 3) -> frozenset:
    """hashing.char_shingles for one text: substring(t, i, n) for i in
    1..max(len - n + 1, 1), so a text shorter than n is one shingle."""
    return frozenset(t[i : i + n] for i in range(max(len(t) - (n - 1), 1)))


def _minhash(shingle_sets: list, n_hashes: int) -> np.ndarray:
    """hashing.minhash_signatures for every set -> (len, n_hashes) int64.
    The mul-mod is exact in int64: base < 2^32, A < 2^30, B < 2^32."""
    vocab: dict = {}
    codes = [vocab.setdefault(s, len(vocab)) for sh in shingle_sets for s in sh]
    base = np.fromiter(
        (int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16) for s in vocab),
        dtype=np.int64,
        count=len(vocab),
    )
    consts = np.array(hashing.minhash_affine_consts(n_hashes), dtype=np.int64).reshape(-1, 2)
    h = (base[:, None] * consts[:, 0] + consts[:, 1]) % hashing.MINHASH_P
    starts = np.cumsum([0] + [len(sh) for sh in shingle_sets[:-1]])
    return np.minimum.reduceat(h[codes], starts, axis=0)


def _link_local(surfaces, alias_rows, jaccard_threshold, n_hashes, bands) -> list:
    """The distributed plan of link_surfaces replayed in the driver on
    the collected distinct surfaces and alias rows (no NULLs) ->
    [(surface, canonical_id, link_kind)]."""
    best: dict = {}
    for alias, eid, _ in sorted(alias_rows, key=_alias_rank):
        best.setdefault(alias, eid)
    out = [(s, best[s], "alias") for s in surfaces if s in best]
    unlinked = [s for s in surfaces if s not in best]
    if not unlinked:
        return out

    # node ids sorted, so index order is the plan's (a < b) order
    ids = sorted(["S:" + s for s in unlinked] + ["A:" + a for a in best])
    shingles = [_char_shingles(i[2:]) for i in ids]
    sigs = _minhash(shingles, n_hashes)
    rows_per_band = n_hashes // bands
    pairs: set = set()
    for band in range(bands):
        # equal band sigs <=> equal "#"-joined sig strings of the plan
        band_sigs = sigs[:, band * rows_per_band : (band + 1) * rows_per_band]
        order = np.lexsort(band_sigs.T) if rows_per_band else np.arange(len(ids))
        srt = band_sigs[order]
        starts = np.flatnonzero(np.r_[True, (srt[1:] != srt[:-1]).any(axis=1)])
        ends = np.r_[starts[1:], len(ids)]
        for lo, hi in zip(starts[ends - starts > 1], ends[ends - starts > 1]):
            pairs.update(combinations(sorted(order[lo:hi].tolist()), 2))
    verified = []
    for i, j in pairs:
        inter = len(shingles[i] & shingles[j])
        # a pair sharing no shingle has no intersection row in the plan
        if inter and inter >= jaccard_threshold * (len(shingles[i]) + len(shingles[j]) - inter):
            verified.append((ids[i], ids[j]))

    comp = union_find(verified)
    ent: dict = {}
    first_s: dict = {}
    for node, root in comp.items():
        if node.startswith("A:"):
            e = best[node[2:]]
            ent[root] = min(ent.get(root, e), e)
        else:
            first_s[root] = min(first_s.get(root, node), node)
    for node, root in comp.items():
        if node.startswith("S:"):
            if root in ent:
                out.append((node[2:], ent[root], "lsh"))
            else:
                out.append((node[2:], first_s[root], "lsh_cluster"))
    out.extend((s, "S:" + s, "self") for s in unlinked if "S:" + s not in comp)
    return out


def canonicalize_triples(triples: DataFrame, surface_map: DataFrame) -> DataFrame:
    """Rewrite triple subj/obj to canonical ids via the surface map.

    The map is vocabulary-sized -> broadcast both joins; unmapped
    surfaces (shouldn't happen, but belt-and-braces) stay as "S:" +
    normalized surface.
    """
    m = F.broadcast(surface_map.select("surface", "canonical_id"))
    t = triples.withColumn("_ns", normalize_col(F.col("subj"))).withColumn(
        "_no", normalize_col(F.col("obj"))
    )
    t = (
        t.join(m.withColumnRenamed("surface", "_ns").withColumnRenamed("canonical_id", "subj_id"), "_ns", "left")
        .join(m.withColumnRenamed("surface", "_no").withColumnRenamed("canonical_id", "obj_id"), "_no", "left")
    )
    return t.select(
        F.coalesce("subj_id", F.concat(F.lit("S:"), "_ns")).alias("src"),
        "pred",
        F.coalesce("obj_id", F.concat(F.lit("S:"), "_no")).alias("dst"),
        "conv_id",
        "turn_idx",
        "subj",
        "obj",
        "subj_type",
        "obj_type",
    )
