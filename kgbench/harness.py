"""Shared pieces of the KG-build benchmark: the Spark session, the
program's inputs, the build and resume operations, the output check and
the result line.  ``run.py`` (timed runs) and ``layers.py`` (traced runs)
are built from these."""

from __future__ import annotations

import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from collections import deque
from typing import Dict, List, Optional

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".kgbench_work")
NPROC = len(os.sched_getaffinity(0))
# the stages a resume re-runs: every stage after mentions
DOWNSTREAM = ("triples", "linking", "edges", "nodes")
T0 = time.perf_counter()
PR_SET_CHILD_SUBREAPER = 36


def log(msg: str) -> None:
    print(f"[kgbench {time.perf_counter() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------ session


class Session:
    """One local Spark session whose files all stay under ``work``.
    Workers import the package from the repository root via PYTHONPATH,
    whatever the current directory.  ``stop`` waits for the JVM (and with
    it the Python workers) to exit; calling it again does nothing."""

    def __init__(self, work: str, event_log: Optional[str] = None):
        os.environ["PYTHONPATH"] = os.pathsep.join(x for x in (ROOT, os.environ.get("PYTHONPATH")) if x)
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
        from pyspark.sql import SparkSession

        b = (
            SparkSession.builder.master(f"local[{NPROC}]")
            .appName("kgbench")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.shuffle.partitions", str(2 * NPROC))
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.driver.memory", "2g")
            .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
            .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        )
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            b = (
                b.config("spark.eventLog.enabled", "true")
                .config("spark.eventLog.dir", event_log)
                .config("spark.eventLog.compress", "false")
            )
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid

    def stop(self) -> None:
        if self.spark is None:
            return
        spark, self.spark = self.spark, None
        gateway = spark.sparkContext._gateway
        try:
            spark.stop()
            gateway.shutdown()
        finally:
            # also when an interrupted call left the gateway unusable
            gateway.proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                gateway.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()


# ------------------------------------------------------------ processes


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants.  The
    JVM forks the Python worker daemon, which outlives the JVM by a moment
    and would otherwise be re-parented outside this process, beyond
    ``reap_descendants``.  Call it before the JVM starts."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def descendants(pid: int) -> List[int]:
    """``pid`` and every process below it."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            pass  # the process ended while we looked
    return out


def reap_descendants(grace: float = 30.0) -> None:
    """Wait until every process this one started, directly or not, has
    ended and been reaped; kill whatever is still running after
    ``grace`` seconds."""
    tracker = sys.modules.get("multiprocessing.resource_tracker")
    if tracker is not None:
        # the spawned oracle workers (check.py) leave this helper, which
        # would otherwise live until this process exits
        tracker._resource_tracker._stop()
    deadline = time.monotonic() + grace
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no children left, not even zombies
        if pid:
            continue
        if time.monotonic() > deadline:
            for p in descendants(os.getpid())[1:]:
                try:
                    with open(f"/proc/{p}/cmdline", "rb") as f:
                        log(f"killing {p}: {f.read().replace(bytes(1), b' ')[:200].decode(errors='replace')}")
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.02)


class PeakRss(threading.Thread):
    """Peak memory of a process and all its descendants (the driver JVM
    and the Python workers it forks).

    Each sample sums the proportional set size (PSS) of the tree, so
    pages a forked worker shares with its parent count once.  The peak
    is the highest level the sum held for a whole second (``hold``
    consecutive samples), so a momentary spike does not decide it.
    """

    def __init__(self, pid: int, period: float = 0.25, hold: int = 4):
        super().__init__(daemon=True)
        self.pid, self.period, self.peak = pid, period, 0
        self._recent: deque = deque(maxlen=hold)
        self._halt = threading.Event()

    @staticmethod
    def _pss(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except OSError:
            pass  # the process ended while we looked
        return 0

    def run(self) -> None:
        while not self._halt.wait(self.period):
            self._recent.append(sum(self._pss(p) for p in descendants(self.pid)))
            if len(self._recent) == self._recent.maxlen:
                self.peak = max(self.peak, min(self._recent))

    def stop(self) -> int:
        self._halt.set()
        self.join()
        return self.peak


# -------------------------------------------------------------- inputs


class Job:
    """The program's inputs for one run, read back from the files the
    generator wrote; the program sees nothing else."""

    def __init__(self, spark, in_dir: str):
        import pyarrow.parquet as pq
        from arabicner_spark.functions.normalize import normalize_py
        from arabicner_spark.plans.pipeline import PipelineConfig
        from arabicner_spark.sources.io import TableIO

        self.spark, self.in_dir = spark, in_dir
        gaz: Dict[str, set] = {}
        for r in pq.read_table(os.path.join(in_dir, "gazetteer.parquet")).to_pylist():
            gaz.setdefault(r["type"], set()).add(tuple(normalize_py(r["phrase"]).split()))
        alias = [
            (r["alias"], r["entity_id"], r["entity_type"], r["weight"])
            for r in pq.read_table(os.path.join(in_dir, "alias.parquet")).to_pylist()
        ]
        self.cfg = PipelineConfig(gazetteer=gaz, alias_rows=alias)
        self.io = TableIO(spark, in_dir)
        self.snapshot = self.io.snapshot_id("transcripts")
        self.in_bytes = dir_bytes(os.path.join(in_dir, "transcripts"))

    def transcripts(self):
        return self.io.read("transcripts")

    def build(self, root: str, run_id: str):
        from arabicner_spark.plans.pipeline import run_pipeline

        return run_pipeline(self.spark, self.transcripts(), self.cfg, root, run_id, self.snapshot)


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (no checksums, markers or
    manifests)."""
    n = 0
    for d, dirs, files in os.walk(path):
        dirs[:] = [x for x in dirs if x != "_manifests"]
        n += sum(os.path.getsize(os.path.join(d, f)) for f in files if not f.startswith((".", "_")))
    return n


def setup(workload: str, seed: int, scale: Optional[int], in_dir: str, repeats: int):
    """Generate and write the inputs ``repeats`` times; returns the
    generated inputs and the median generate+write time."""
    import gen

    times = []
    for _ in range(repeats):
        shutil.rmtree(in_dir, ignore_errors=True)
        t0 = time.perf_counter()
        inputs = gen.generate(workload, seed, scale)
        gen.write(inputs, in_dir)
        times.append(time.perf_counter() - t0)
    return inputs, statistics.median(times)


# ---------------------------------------------------------- operations


class Ops:
    """Runs builds and resumes, each into its own output root, and
    remembers which root each one wrote."""

    def __init__(self, job: Job, out_dir: str):
        self.job, self.out_dir = job, out_dir
        self.roots: List[str] = []
        self.failed = 0
        self.last_build: Optional[str] = None

    def _root(self) -> str:
        return os.path.join(self.out_dir, f"op{len(self.roots) + self.failed:03d}")

    def run(self, kind: str) -> Optional[float]:
        """One operation; returns its wall time, or None if it raised."""
        root = self._root()
        try:
            if kind == "resume":
                # a simulated kill after mentions: copy the last build and
                # drop the manifests of every later stage (untimed)
                shutil.copytree(self.last_build, root)
                for stage in DOWNSTREAM:
                    os.remove(os.path.join(root, "_manifests", f"{stage}.json"))
            t0 = time.perf_counter()
            self.job.build(root, os.path.basename(root))
            wall = time.perf_counter() - t0
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        self.roots.append(root)
        if kind == "build":
            self.last_build = root
        return wall


def check_roots(job: Job, inputs, roots: List[str]):
    """(digests per root, number of roots that fail the check)."""
    import check

    want = check.oracle_digests(inputs.rows(), job.cfg.gazetteer, job.cfg.alias_rows, NPROC)
    log("oracle done")
    digests = [check.root_digests(r) for r in roots]
    bad = 0
    for r, d in zip(roots, digests):
        miss = check.mismatches(d, want, digests[0])
        if miss:
            print(f"check failed for {r}: {', '.join(miss)}", file=sys.stderr)
            bad += 1
    return digests, bad


# ------------------------------------------------------------- metrics


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def emit(values: Dict[str, float], section: str, attempted: int) -> None:
    """Print the result line of a run in which every operation passed."""
    units = {m["name"]: m["unit"] for m in load_spec()[section]}
    if set(values) != set(units):
        raise RuntimeError(f"metric set differs from BENCHMARK.json {section}: {sorted(set(values) ^ set(units))}")
    metrics = {k: {"value": float(values[k]), "unit": units[k]} for k in units}
    print(json.dumps({"correct": True, "attempted": attempted, "failed": 0, "metrics": metrics}))


def emit_failure(attempted: int, failed: int) -> None:
    print(json.dumps({"correct": False, "attempted": max(attempted, 1), "failed": max(failed, 1), "metrics": {}}))
