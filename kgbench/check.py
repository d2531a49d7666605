"""Output check for the KG-build benchmark.

Every table is reduced to an order-free content hash: the row count and
the sum, over rows, of the first 60 bits of md5(columns joined by 0x1f).
The tables the program wrote are read back from their parquet files, so
one comparison covers

  * mentions, triples and direct alias links against the serial oracle
    (``arabicner_spark.oracle``), and
  * edges, nodes and surface_map against the first operation of the run
    (every build and resume must produce identical content).
"""

from __future__ import annotations

import hashlib
import multiprocessing
import os
from concurrent.futures import ProcessPoolExecutor
from typing import Dict, Iterable, List, Sequence, Tuple

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

SEP = "\x1f"
NULL = "\x00"

# table -> columns hashed, in order; alias_links is surface_map filtered
# to direct dictionary hits
COLUMNS = {
    "mentions": ["conv_id", "turn_idx", "level", "type", "start_tok", "end_tok", "text"],
    "triples": ["subj", "pred", "obj", "conv_id", "turn_idx", "subj_type", "obj_type"],
    "alias_links": ["surface", "canonical_id"],
    "surface_map": ["surface", "canonical_id", "link_kind"],
    "edges": ["src", "pred", "dst", "conv_id", "turn_idx", "ts"],
    "nodes": ["node_id", "canonical_text", "type", "n_mentions", "first_ts"],
}
ORACLE_TABLES = ("mentions", "triples", "alias_links")
STABLE_TABLES = ("surface_map", "edges", "nodes")

Digest = Tuple[int, int]  # (rows, hash sum)


def _digest_keys(keys: Iterable[str]) -> Digest:
    n = s = 0
    for key in keys:
        s += int(hashlib.md5(key.encode("utf-8")).hexdigest()[:15], 16)
        n += 1
    return n, s


def py_digest(rows: Iterable[Sequence]) -> Digest:
    """Digest of Python rows (ints and strings render as ``str`` does)."""
    return _digest_keys(SEP.join(NULL if v is None else str(v) for v in r) for r in rows)


def root_digests(root: str) -> Dict[str, Digest]:
    """Digests of every checked table the program wrote under ``root``
    (partitioned parquet directories), read back with pyarrow.  Row keys
    are built column-wise; an int or string column renders exactly as
    ``py_digest`` renders it."""
    out = {}
    for name, cols in COLUMNS.items():
        path = os.path.join(root, "surface_map" if name == "alias_links" else name)
        t = ds.dataset(path, format="parquet", partitioning="hive").to_table()
        if name == "alias_links":
            t = t.filter(pc.field("link_kind") == "alias")
        parts = [pc.fill_null(pc.cast(t.column(c), pa.string()), NULL) for c in cols]
        out[name] = _digest_keys(pc.binary_join_element_wise(*parts, SEP).to_pylist())
    return out


def _oracle_part(rows: List[tuple], gazetteer: Dict[str, set], alias_rows) -> Tuple[Digest, Digest, dict]:
    from arabicner_spark import oracle

    mentions = oracle.oracle_mentions(rows, gazetteer)
    return (
        py_digest(mentions),
        py_digest(oracle.oracle_triples(mentions)),
        oracle.oracle_link(mentions, alias_rows),
    )


def oracle_digests(rows: List[tuple], gazetteer: Dict[str, set], alias_rows, workers: int = 1) -> Dict[str, Digest]:
    """Digests of the serial oracle's mentions, triples and alias links.

    Mentions and triples are per turn and digests add up, so the rows
    are split into ``workers`` slices run in spawned processes; the
    alias links of the slices merge into one map.
    """
    step = -(-len(rows) // workers) if rows else 1
    parts = [rows[i : i + step] for i in range(0, len(rows), step)] or [[]]
    if len(parts) == 1:
        results = [_oracle_part(parts[0], gazetteer, alias_rows)]
    else:
        ctx = multiprocessing.get_context("spawn")
        with ProcessPoolExecutor(len(parts), mp_context=ctx) as pool:
            futures = [pool.submit(_oracle_part, p, gazetteer, alias_rows) for p in parts]
            results = [f.result() for f in futures]
    links: dict = {}
    for _m, _t, lk in results:
        links.update(lk)
    return {
        "mentions": tuple(map(sum, zip(*(r[0] for r in results)))),
        "triples": tuple(map(sum, zip(*(r[1] for r in results)))),
        "alias_links": py_digest(links.items()),
    }


def mismatches(got: Dict[str, Digest], oracle: Dict[str, Digest], first: Dict[str, Digest]) -> List[str]:
    """Names of the tables of one operation that fail the check."""
    bad = [t for t in ORACLE_TABLES if got.get(t) != oracle[t]]
    bad += [t for t in STABLE_TABLES if got.get(t) != first.get(t)]
    return bad
