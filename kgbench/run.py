"""KG-build benchmark: builds the knowledge graph over and over on one
workload and prints every metric by name and unit.

    python3 kgbench/run.py --workload bulk_turns --seed 1 --seconds 10 --trace 0

Paths derive from this file's location, so any current directory works.
One Spark session (``local[nproc]``) serves the whole run; a single
client drives it in a closed loop.  The last line of standard output is
one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}

``--trace 0`` times the operations with tracing off and reports the
end-to-end metrics of ``BENCHMARK.json``.  ``--trace 1`` turns on the
Spark event log, runs one traced ``run_pipeline`` build and one
layer-by-layer pass, and reports the per-layer metrics.  Any output that
fails the check (check.py) makes the command exit 1.

Before it exits, on every path, the command waits until each process it
started has ended: the JVM and the Python workers the JVM forked.

Everything the run writes goes under ``.kgbench_work/`` in the
repository root; the per-run directory is removed at the end, except for
the span file of a traced run (``.kgbench_work/traces/``).
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import statistics
import sys
import time
from typing import List

from harness import (
    HERE, ROOT, WORK, Job, Ops, PeakRss, Session, adopt_orphans, check_roots, dir_bytes, emit, emit_failure, log,
    reap_descendants, setup,
)

SETUP_REPEATS = 3


def timed_run(session: Session, session_s: float, args, work: str) -> int:
    spark = session.spark
    in_dir = os.path.join(work, "input")
    inputs, gen_s = setup(args.workload, args.seed, args.scale, in_dir, SETUP_REPEATS)
    log(f"set up: session {session_s:.2f}s, inputs {gen_s:.2f}s")
    job = Job(spark, in_dir)
    ops = Ops(job, os.path.join(work, "out"))
    rss = PeakRss(session.jvm_pid)
    rss.start()

    first = ops.run("build")
    builds: List[float] = []
    resumes: List[float] = []
    t0 = time.perf_counter()
    k = 0
    log(f"cold build {first}")
    # closed loop: builds alternate with resumes until the time is up and,
    # unless an operation failed, each kind has at least one sample
    while time.perf_counter() - t0 < args.seconds or not (builds and resumes or ops.failed):
        kind = "build" if k % 2 == 0 else "resume"
        k += 1
        if kind == "resume" and ops.last_build is None:
            ops.failed += 1
            continue
        wall = ops.run(kind)
        log(f"{kind} {wall}")
        if wall is not None:
            (builds if kind == "build" else resumes).append(wall)
    peak = rss.stop()

    digests, bad = check_roots(job, inputs, ops.roots)
    log("checked")
    attempted = len(ops.roots) + ops.failed
    failed = ops.failed + bad
    if failed:
        emit_failure(attempted, failed)
        return 1
    build_s = statistics.median(builds)
    edges = digests[0]["edges"][0]
    emit(
        {
            "setup_s": session_s + gen_s,
            "first_build_s": first,
            "build_s": build_s,
            "turns_per_s": inputs.transcripts.num_rows / build_s,
            "triples_per_s": edges / build_s,
            "resume_s": statistics.median(resumes),
            "peak_rss_mb": peak / 2**20,
            "out_bytes_per_in_byte": dir_bytes(ops.roots[0]) / job.in_bytes,
            "op_ok_rate": 1.0 - failed / attempted,
        },
        "end_to_end",
        attempted,
    )
    return 0


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through main's clean-up


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=int, default=None, help="input size override (self-tests)")
    args = p.parse_args(argv)

    # fail before starting anything unless the program is importable
    # from this checkout
    sys.path[:0] = [d for d in (HERE, ROOT) if d not in sys.path]
    import arabicner_spark.plans.pipeline
    import gen

    if not os.path.abspath(arabicner_spark.plans.pipeline.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"arabicner_spark is not under {ROOT}")

    if args.workload not in gen.WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; choose from {sorted(gen.WORKLOADS)}")

    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    adopt_orphans()
    signal.signal(signal.SIGTERM, _terminate)
    session = None
    try:
        t0 = time.perf_counter()
        if args.trace:
            import layers

            session = Session(work, event_log=os.path.join(work, "eventlog"))
            rc = layers.traced_run(session, args, work)
        else:
            session = Session(work)
            rc = timed_run(session, time.perf_counter() - t0, args, work)
    finally:
        try:
            if session is not None:
                session.stop()
                log("spark stopped")
        finally:
            # the JVM is gone; wait for the processes it left behind too
            reap_descendants()
            shutil.rmtree(work, ignore_errors=True)
            log("stopped")
    return rc


if __name__ == "__main__":
    sys.exit(main())
