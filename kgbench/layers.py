"""Traced run: per-layer spans and Spark task metrics.

The layers are measured from outside the program.  Each call into a
layer's public function (plus the ``TableIO.write`` that materializes
its output) runs under its own Spark job group and inside one span; the
event log then gives the task, shuffle, spill and GC totals per group.

    layer    program code                              job group
    scan     sources.io TableIO.read + an aggregate    scan
    ner      operators.ner.extract_mentions            ner
    triples  operators.triples.extract_triples         triples
    linking  operators.linking.link_surfaces           linking
    edges    plans.pipeline edge builder               edges
    nodes    plans.pipeline node builder               nodes
    build    plans.pipeline.run_pipeline, whole        build
    lineage  build minus the five pipeline layers      -

Spans live in memory and are written to ``.kgbench_work/traces/`` when
the run ends.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
import uuid
from collections import Counter
from contextlib import contextmanager
from typing import Dict, List, Optional

import pyarrow.compute as pc
import pyarrow.dataset as ds

import eventlog
from harness import NPROC, WORK, Job, Ops, check_roots, dir_bytes, emit, emit_failure, setup

# the pipeline's layers, in the order run_pipeline runs them
PIPELINE_LAYERS = ("ner", "triples", "linking", "edges", "nodes")
LAYERS = ("scan",) + PIPELINE_LAYERS
LSH_KINDS = ("lsh", "lsh_cluster")
# the transcript columns the pipeline reads
SCAN_COLUMNS = ("conv_id", "turn_idx", "text", "ts")


class Tracer:
    """Spans (name, start, end, parent) kept in memory; the spans of one
    trace share its id."""

    def __init__(self):
        self.spans: List[dict] = []
        self._stack: List[dict] = []

    @contextmanager
    def span(self, name: str, group: Optional[str] = None, sc=None):
        parent = self._stack[-1] if self._stack else None
        s = {
            "trace": parent["trace"] if parent else uuid.uuid4().hex[:16],
            "id": uuid.uuid4().hex[:16],
            "parent": parent["id"] if parent else None,
            "name": name,
            "start": time.time(),
        }
        self._stack.append(s)
        if group:
            sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            self.spans.append(s)

    def busy(self, name: str) -> float:
        (s,) = [s for s in self.spans if s["name"] == name]
        return s["end"] - s["start"]


def layer_pass(job: Job, root: str, tracer: Tracer) -> None:
    """Call each layer's public function the way run_pipeline does, and
    write its output through TableIO, one job group and span per layer."""
    from pyspark.sql import functions as F

    from arabicner_spark import schemas
    from arabicner_spark.operators import ner
    from arabicner_spark.operators.linking import link_surfaces
    from arabicner_spark.operators.triples import extract_triples
    from arabicner_spark.plans import pipeline
    from arabicner_spark.sources.io import TableIO

    spark, cfg = job.spark, job.cfg
    sc = spark.sparkContext
    out = TableIO(spark, root)
    alias_df = spark.createDataFrame(cfg.alias_rows, schemas.ALIAS_DICT)
    # the width run_pipeline pins for the triples aggregate
    pin_width = max(sc.defaultParallelism, int(spark.conf.get("spark.sql.shuffle.partitions")))
    with tracer.span("layers"):
        with tracer.span("scan", "scan", sc):
            t = job.transcripts()
            # touch every column the pipeline reads (a no-op sink would
            # let the scan prune them all)
            t.agg(*[F.count(c) for c in SCAN_COLUMNS], F.sum(F.length("text"))).collect()
        with tracer.span("ner", "ner", sc):
            out.write(
                ner.extract_mentions(t, cfg.gazetteer, cfg.max_seq_len, cfg.salt_partitions),
                "mentions", ["type"],
            )
        mentions = out.read("mentions")
        with tracer.span("triples", "triples", sc):
            out.write(extract_triples(mentions, cfg.predicates, cfg.window, width=pin_width), "triples")
        triples = out.read("triples")
        with tracer.span("linking", "linking", sc):
            out.write(link_surfaces(mentions, alias_df, cfg.jaccard_threshold), "surface_map")
        smap = out.read("surface_map")
        with tracer.span("edges", "edges", sc):
            out.write(pipeline._edges(triples, smap, t), "edges", ["pred"])
        with tracer.span("nodes", "nodes", sc):
            out.write(pipeline._nodes(mentions, smap, t), "nodes", ["type"])


def column_bytes(table_dir: str, columns) -> int:
    """Compressed bytes of the given columns' chunks, from the parquet
    footers.  (Spark 4.1's task input metric counts only footer reads for
    local parquet files, so the event log cannot give this.)"""
    import pyarrow.parquet as pq

    n = 0
    for f in sorted(os.listdir(table_dir)):
        if f.endswith(".parquet"):
            md = pq.ParquetFile(os.path.join(table_dir, f)).metadata
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                n += sum(
                    rg.column(c).total_compressed_size
                    for c in range(rg.num_columns)
                    if rg.column(c).path_in_schema in columns
                )
    return n


def dir_files(path: str) -> int:
    """Data files under ``path`` (no checksums or markers)."""
    return sum(1 for _d, _s, files in os.walk(path) for f in files if not f.startswith((".", "_")))


def _ratio(num: float, den: float) -> float:
    """A ratio whose base is empty reads 1.0: nothing was missed."""
    return num / den if den else 1.0


def layer_metrics(
    inputs, in_dir: str, root: str, rows: Dict[str, int], tracer: Tracer, totals: Dict[str, eventlog.GroupTotals]
) -> Dict[str, float]:
    """``root`` holds the layer pass's tables, ``rows`` their row counts."""
    n_turns = inputs.transcripts.num_rows
    m: Dict[str, float] = {}
    for layer in LAYERS:
        g = totals.get(layer, eventlog.GroupTotals())
        busy = tracer.busy(layer)
        m.update({
            f"{layer}.busy_s": busy,
            f"{layer}.jobs": g.jobs,
            f"{layer}.tasks": g.tasks,
            f"{layer}.task_s": g.task_ms / 1e3,
            f"{layer}.cpu_s": g.cpu_ns / 1e9,
            f"{layer}.gc_s": g.gc_ms / 1e3,
            f"{layer}.shuffle_read_bytes": g.shuffle_read_bytes,
            f"{layer}.shuffle_write_bytes": g.shuffle_write_bytes,
            f"{layer}.spill_bytes": g.spill_bytes,
            f"{layer}.core_util": g.task_ms / 1e3 / (busy * NPROC),
        })
    smap = ds.dataset(os.path.join(root, "surface_map"), format="parquet").to_table()
    kinds = Counter(smap.column("link_kind").to_pylist())
    canonical = dict(zip(smap.column("surface").to_pylist(), smap.column("canonical_id").to_pylist()))
    surfaces = sum(kinds.values())
    alias_hits = kinds["alias"]
    lsh = sum(kinds[k] for k in LSH_KINDS)
    present = [v for v in inputs.truth if v in canonical]
    recalled = [v for v in present if canonical[v] == inputs.truth[v]]
    m.update({
        "scan.rows": n_turns,
        "scan.bytes_in": column_bytes(in_dir, SCAN_COLUMNS),
        "ner.tokens": pc.sum(pc.list_value_length(pc.split_pattern(inputs.transcripts.column("text"), " "))).as_py(),
        "ner.arrow_in_bytes": totals["ner"].python_in_bytes,
        "ner.mentions_per_turn": rows["mentions"] / n_turns,
        "triples.rows": rows["triples"],
        "triples.triples_per_mention": _ratio(rows["triples"], rows["mentions"]),
        "linking.surfaces": surfaces,
        "linking.unlinked": surfaces - alias_hits,
        "linking.alias_hits": alias_hits,
        "linking.lsh_linked": lsh,
        "linking.self": kinds["self"],
        "linking.rescue_ratio": _ratio(lsh, surfaces - alias_hits),
        "linking.variant_recall": _ratio(len(recalled), len(present)),
    })
    for layer in ("edges", "nodes"):
        path = os.path.join(root, layer)
        m.update({
            f"{layer}.rows": rows[layer],
            f"{layer}.bytes_written": dir_bytes(path),
            f"{layer}.files_written": dir_files(path),
        })
    b = totals["build"]
    build_s = tracer.busy("build")
    m.update({
        "build.wall_s": build_s,
        "build.jobs": b.jobs,
        "build.stages": len(b.stages),
        "build.tasks": b.tasks,
        "lineage.overhead_s": build_s - sum(tracer.busy(x) for x in PIPELINE_LAYERS),
        "lineage.jobs": b.jobs - sum(totals[x].jobs for x in PIPELINE_LAYERS if x in totals),
    })
    return m


def traced_run(session, args, work: str) -> int:
    spark = session.spark
    sc = spark.sparkContext
    inputs, _ = setup(args.workload, args.seed, args.scale, os.path.join(work, "input"), 1)
    job = Job(spark, os.path.join(work, "input"))
    ops = Ops(job, os.path.join(work, "out"))
    tracer = Tracer()

    # pay worker start-up and JIT warm-up outside the traced build
    sc.setJobGroup("warmup", "cold build")
    ops.run("build")
    with tracer.span("build", "build", sc):
        ops.run("build")
    layer_root = os.path.join(work, "out", "layers")
    roots = list(ops.roots)
    failed = ops.failed
    try:
        layer_pass(job, layer_root, tracer)
        roots.append(layer_root)
    except Exception:
        traceback.print_exc()
        failed += 1
    digests, bad = check_roots(job, inputs, roots)
    attempted = len(roots) + failed
    failed += bad
    session.stop()  # flushes the event log
    if failed:
        emit_failure(attempted, failed)
        return 1

    totals = eventlog.totals_by_group(eventlog.find_log(os.path.join(work, "eventlog")))
    rows = {t: n for t, (n, _) in digests[-1].items()}
    metrics = layer_metrics(inputs, os.path.join(job.in_dir, "transcripts"), layer_root, rows, tracer, totals)
    traces = os.path.join(WORK, "traces")
    os.makedirs(traces, exist_ok=True)
    with open(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"), "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "spans": tracer.spans}, f, indent=1)
    print(
        "layer shares: "
        + ", ".join(f"{x}={metrics[x + '.busy_s']:.2f}s" for x in LAYERS)
        + f", build={metrics['build.wall_s']:.2f}s",
        file=sys.stderr,
    )
    emit(metrics, "per_layer", attempted)
    return 0
