"""One Spark driver process of a benchmark run (started by run.py).

Usage: python3 perfbench/worker.py SPEC.json

Reads the spec, starts a session through ``session.get_spark`` and runs
the workload closed-loop, one job at a time, in that session: first a
cold job (the warm-up: code generation, JIT and Python worker start),
then warm jobs until the spec's measuring time is spent, at least one.
Every job's (url, cluster_id) result is written out for run.py to
check; timings go to the spec's ``out`` file as JSON.

With ``traced`` set (the session then has the Spark event log on), one
more job runs with the public operator functions that ``run_dedup`` and
``dedup_increment`` call wrapped, so each call sets a Spark job group
naming its layer and opens that layer's time window; run.py folds the
event log over those windows (perfbench/trace.py).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import pandas as pd


class Tracer:
    """Layer windows and job groups around wrapped calls.

    A window runs from a layer's call to the next layer's call, because
    the operators are lazy: their jobs run when a later call forces
    them. On return from an ``eager`` layer, which does its work inside
    the call, the window goes back to the enclosing call's layer; on
    return from a ``transparent`` one (a lazy read), it goes back to
    the layer that was current at the call."""

    def __init__(self, sc):
        self.sc = sc
        self.windows: list[list] = []
        self.stack: list[str] = []
        self.current: str | None = None

    def enter(self, layer: str | None) -> None:
        now = time.time() * 1000.0
        if self.windows and self.windows[-1][2] is None:
            self.windows[-1][2] = now
        self.current = layer
        if layer is not None:
            self.windows.append([layer, now, None])
            self.sc.setJobGroup(layer, layer)

    def wrap(self, fn, layer: str, mode: str):
        def traced(*args, **kwargs):
            before = self.current
            self.stack.append(layer)
            self.enter(layer)
            try:
                return fn(*args, **kwargs)
            finally:
                self.stack.pop()
                if mode == "eager":
                    self.enter(self.stack[-1] if self.stack else None)
                elif mode == "transparent":
                    self.enter(before)
        return traced


def _instrument(tracer: Tracer) -> None:
    """Wrap the operator names as bound inside the two entry modules,
    so calls made inside an operator (e.g. substring's own
    candidate_pairs) stay in the caller's layer."""
    from lsh_apg_spark import pipeline
    from lsh_apg_spark.streaming import incremental

    lazy = {"compute_signatures": "signatures", "explode_buckets": "banding",
            "bucket_arrays": "banding", "candidate_pairs": "pairs",
            "verify_edges": "verify", "substring_edges": "substring"}
    for mod in (pipeline, incremental):
        for name, layer in lazy.items():
            if hasattr(mod, name):
                setattr(mod, name, tracer.wrap(getattr(mod, name), layer, "lazy"))
        mod.connected_components = tracer.wrap(
            mod.connected_components, "components", "eager")


def _timed_store_class(tracer: Tracer):
    from lsh_apg_spark.sources.checkpoints import CheckpointStore

    class TimedStore(CheckpointStore):
        """CheckpointStore whose reads and writes are the checkpoints layer."""

        def read(self, name):
            return tracer.wrap(super().read, "checkpoints", "transparent")(name)

        def write_many(self, named):
            return tracer.wrap(super().write_many, "checkpoints", "eager")(named)

    return TimedStore


def steal_s() -> float:
    """Hypervisor steal so far, summed over CPUs (/proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _frame(spark, pages: pd.DataFrame):
    """The input frame: pages spread over the shuffle partitions and
    materialized, so timing starts from data already in Spark."""
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return spark.createDataFrame(pages, "url string, text string") \
        .repartition(n).localCheckpoint(eager=True)


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM, so this process reaps it instead
    of leaving it to whatever adopts orphans."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def build_state(spec: dict) -> None:
    """Seed a checkpoint store with the base corpus (one cold increment)."""
    from lsh_apg_spark.config import DedupConfig
    from lsh_apg_spark.session import get_spark
    from lsh_apg_spark.sources.checkpoints import CheckpointStore
    from lsh_apg_spark.streaming.incremental import dedup_increment
    spark = get_spark("perfbench-state", master=f"local[{spec['cores']}]")
    cfg = DedupConfig()
    base = _frame(spark, pd.read_parquet(spec["base"]))
    dedup_increment(spark, base, CheckpointStore(spark, spec["state"], cfg),
                    cfg).count()
    stop_session(spark)
    with open(spec["out"], "w") as f:
        json.dump({"built": spec["state"]}, f)


def main(spec_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    if spec.get("build_state"):
        build_state(spec)
        return
    t0 = time.monotonic()
    from lsh_apg_spark.config import DedupConfig
    from lsh_apg_spark.pipeline import run_dedup
    from lsh_apg_spark.session import get_spark
    from lsh_apg_spark.sources.checkpoints import CheckpointStore
    from lsh_apg_spark.streaming.incremental import dedup_increment
    spark = get_spark("perfbench", master=f"local[{spec['cores']}]")
    start_s = time.monotonic() - t0
    sc = spark.sparkContext
    cfg = DedupConfig()
    incremental = spec["workload"] == "incremental"
    run_state = os.path.join(spec["work"], "state_run")
    sc.setJobGroup("setup", "setup")
    frame = _frame(spark, pd.read_parquet(spec["pages"]))

    def dedup_job(store_cls=CheckpointStore):
        """-> (rows, the program's stage metrics, increment metrics)."""
        if incremental:
            inc: dict = {}
            out = dedup_increment(spark, frame, store_cls(spark, run_state, cfg),
                                  cfg, metrics=inc)
            return out.select("url", "cluster_id").collect(), [], inc
        res = run_dedup(spark, frame, cfg,
                        include_substring=spec["include_substring"])
        return res.clusters.select("url", "cluster_id").collect(), res.metrics, {}

    jobs: list[dict] = []

    def timed(kind: str, fn) -> list[dict]:
        """Run one job, record it and return its stage metrics."""
        if incremental:
            shutil.rmtree(run_state, ignore_errors=True)
            shutil.copytree(spec["state"], run_state)
        sc.setJobGroup("job", "job")
        steal0 = steal_s()
        ts = time.time() * 1000.0
        t = time.monotonic()
        rows, stage_metrics, inc = fn()
        wall = time.monotonic() - t
        te = time.time() * 1000.0
        path = os.path.join(spec["work"], f"result_{len(jobs)}.json")
        with open(path, "w") as f:
            json.dump([[r[0], r[1]] for r in rows], f)
        jobs.append({"kind": kind, "result": path, "rows": len(rows),
                     "start_ms": ts, "end_ms": te, "wall_s": wall,
                     "steal_s": steal_s() - steal0, "incremental": inc})
        return stage_metrics

    # the session's first job pays code generation, JIT and Python
    # worker start: it is the warm-up, and the warm jobs are measured
    timed("cold", dedup_job)
    measure_start = time.monotonic()
    while True:
        timed("warm", dedup_job)
        if time.monotonic() - measure_start >= spec["seconds"]:
            break

    stage_metrics, windows = [], []
    if spec["traced"]:
        tracer = Tracer(sc)
        _instrument(tracer)
        store_cls = _timed_store_class(tracer)
        stage_metrics = timed("traced", tracer.wrap(
            lambda: dedup_job(store_cls),
            "incremental" if incremental else "pipeline", "eager"))
        windows = tracer.windows

    out = {"start_s": start_s, "jobs": jobs,
           "stage_metrics": stage_metrics, "windows": windows}
    stop_session(spark)
    with open(spec["out"], "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main(sys.argv[1])
