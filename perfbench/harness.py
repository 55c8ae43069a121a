"""Process, Spark and measurement plumbing shared by the workloads.

Everything the benchmark writes lives under ``perfbench/_work`` in the
checkout (Spark local dirs, JVM temp files, corpora and indexes), and the
run's trace spans go to ``perfbench/_traces``. ``Bench`` owns the Spark
session and stops it, and the JVM it launched, when the run ends.
"""

from __future__ import annotations

import gc
import json
import os
import shutil
import subprocess
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", "_work")
TRACES = os.path.join(ROOT, "perfbench", "_traces")

# local[k]: k Spark task slots on the driver host, capped by the host's
# cores. Recorded in DESIGN.md; every workload runs with the same k.
LOCAL_CORES = 4
DRIVER_MEMORY = "2g"

_INDEX_TABLES = ("segments", "docs", "term_stats", "lexicon",
                 "term_sketches", "tombstones")


def configure_env(run_dir: str) -> None:
    """Point every temp and scratch location of the Python driver, the
    JVM and the Python workers at ``run_dir`` before Spark starts."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.enabled=false",
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.local.dir={local}",
        f"--driver-java-options -Djava.io.tmpdir={tmp}",
        "pyspark-shell",
    ])


def local_cores() -> int:
    return max(1, min(LOCAL_CORES, os.cpu_count() or 1))


class Tracer:
    """The run's one timing mechanism: spans around the benchmark's calls
    into each engine layer. Each span is a dict with its name, start,
    end, parent span and attributes, kept in memory and, in a traced run,
    written out by ``dump`` when the run ends. Every metric is read from
    these spans.

    ``counting`` (traced runs) adds the Spark job-group counters of a call
    through ``jobs``; untraced, ``jobs`` runs the body only: no job
    groups, no listener-bus waits.
    """

    def __init__(self, spark, counting: bool):
        self.counting = counting
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._groups = 0

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "id": len(self.spans),
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def named(self, name: str, **attrs) -> list[dict]:
        """Finished spans called ``name`` whose attributes match."""
        return [r for r in self.spans if r["name"] == name and "end" in r
                and all(r.get(k) == v for k, v in attrs.items())]

    def children(self, rec: dict) -> dict[str, dict]:
        """The direct child spans of ``rec`` by name."""
        return {r["name"]: r for r in self.spans
                if r["parent"] == rec["id"]}

    @contextmanager
    def jobs(self):
        """Tag the Spark jobs the body runs with a fresh job group; the
        yielded dict gets their exact counts (jobs, tasks, input and
        shuffle bytes, executor CPU) when the body ends. Enter it outside
        the span it counts for, so the listener wait is not timed."""
        counts: dict = {}
        if not self.counting:
            yield counts
            return
        sc = self.spark.sparkContext
        self._groups += 1
        group = f"perfbench-{self._groups}"
        sc.setJobGroup(group, group)
        try:
            yield counts
        finally:
            sc.setJobGroup("perfbench-idle", "perfbench-idle")
            counts.update(self._group_counts(group))

    def _group_counts(self, group: str) -> dict:
        from py4j.protocol import Py4JJavaError

        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        # the status store is fed by the listener bus; drain it so the
        # counts of jobs that just finished are complete
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        job_ids = sorted(tracker.getJobIdsForGroup(group))
        out = {"jobs": len(job_ids), "tasks": 0, "input_bytes": 0,
               "shuffle_bytes": 0, "executor_cpu_s": 0.0}
        stages = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        for sid in sorted(stages):
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped stage: never attempted
                continue
            if str(st.status()) == "SKIPPED":
                continue
            out["tasks"] += int(st.numCompleteTasks())
            out["input_bytes"] += int(st.inputBytes())
            out["shuffle_bytes"] += int(st.shuffleReadBytes())
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec, default=str) + "\n")


class Bench:
    """One benchmark run: the Spark session, the run directory, the
    tracer, and the op tallies behind ``attempted``/``failed``."""

    def __init__(self, workload: str, seed: int, seconds: int,
                 trace: bool, t_start: float):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.run_dir = os.path.join(WORK, f"{workload}-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.info: dict = {"phases": {}}
        self.t_start = t_start  # process start: set-up time counts from it
        self.spark = None
        self._gateway_proc = None
        self.tracer = Tracer(None, trace)

    def start(self) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)
        configure_env(self.run_dir)
        from open_source_search_engine_spark.session import get_spark

        k = local_cores()
        with self.tracer.span("session.start", cores=k):
            self.spark = get_spark(app=f"perfbench-{self.workload}",
                                   master=f"local[{k}]",
                                   shuffle_partitions=k)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.spark = self.spark
        self._gateway_proc = getattr(
            self.spark.sparkContext._gateway, "proc", None)

    def mark(self, phase: str) -> None:
        """Record the seconds since the run started at the end of
        ``phase`` (run details, not a metric)."""
        self.info["phases"][phase] = round(
            time.perf_counter() - self.t_start, 2)

    def path(self, name: str) -> str:
        return os.path.join(self.run_dir, name)

    def close(self) -> None:
        """Stop Spark and wait for the JVM it launched to exit, then
        remove the run directory."""
        try:
            if self.spark is not None:
                from pyspark import SparkContext

                self.spark.stop()
                gw = SparkContext._gateway
                if gw is not None:
                    gw.shutdown()
                    SparkContext._gateway = None
                    SparkContext._jvm = None
        finally:
            proc = self._gateway_proc
            if proc is not None and proc.poll() is None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            shutil.rmtree(self.run_dir, ignore_errors=True)

    def _pids(self) -> dict[str, int]:
        return {"python": os.getpid(), "jvm": self._gateway_proc.pid}

    def rss_reset(self) -> None:
        """Collect garbage in the Python driver and the JVM it launched,
        then restart their peak-RSS counts from the current RSS (Linux
        ``clear_refs``), so the peaks read later are those of the phase
        that follows."""
        gc.collect()
        self.spark._jvm.System.gc()
        for pid in self._pids().values():
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")

    def rss_peak_mb(self) -> dict[str, float]:
        """Peak RSS (``VmHWM``) since the last ``rss_reset``, in MB, of the
        Python driver and of the JVM."""
        out = {}
        for name, pid in self._pids().items():
            with open(f"/proc/{pid}/status") as f:
                out[name] = next(int(line.split()[1]) for line in f
                                 if line.startswith("VmHWM:")) / 1024.0
        return out


def tree_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (Spark's checksum and
    marker files excluded)."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for fn in files:
            if fn.startswith(".") or fn.startswith("_"):
                continue
            total += os.path.getsize(os.path.join(dirpath, fn))
    return total


def index_bytes(index_dir: str) -> int:
    """On-disk bytes of the tables a reader serves from (the build's
    ``parsed`` checkpoint and manifests are not index)."""
    return sum(tree_bytes(os.path.join(index_dir, t)) for t in _INDEX_TABLES)


def gen_bytes(index_dir: str, gen: int) -> int:
    return sum(tree_bytes(os.path.join(index_dir, t, f"gen={gen}"))
               for t in _INDEX_TABLES)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}
