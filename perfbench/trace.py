"""Fold a Spark event log into per-layer metrics.

Jobs are attributed to layers by their job group (set by the wrappers in
worker.py); tasks and their metrics follow their stage's job. Wall time
and idle time come from the layer windows: ``no_task_s`` is window time
during which no task of any layer was running (planning, scheduling,
driver-side collects and Python on the driver).

Python UDF metrics are the exception: they are attributed to the layer
that owns the UDF (``UDF_LAYER``), whichever window forced the work, so
a lazily recomputed signature UDF still counts against ``signatures``.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
from collections import defaultdict

SPARK_LAYERS = ("pipeline", "signatures", "banding", "pairs", "verify",
                "substring", "components", "checkpoints", "incremental")
SPARK_METRICS = ("wall_s", "no_task_s", "jobs", "tasks", "run_s", "gc_s",
                 "shuffle_write_mb", "spill_mb", "task_skew", "rows_out")
PY_METRICS = ("py_run_s", "py_mb_in", "py_mb_out", "udf_rows_per_doc")
UDF_LAYER = {"signature_udf": "signatures", "winnow_udf": "substring",
             "lcs_udf": "substring"}
# the doc-level UDF whose rows per document each Python layer reports
LAYER_UDF = {"signatures": "signature_udf", "substring": "winnow_udf"}
MB = float(1 << 20)
# Python-worker SQL metrics of an ArrowEvalPython node -> (key, scale)
_PY_ACC = {"time to run Python workers": ("py_run_s", 1e-3),
           "data sent to Python workers": ("py_mb_in", 1 / MB),
           "data returned from Python workers": ("py_mb_out", 1 / MB),
           "number of output rows": ("rows", 1.0)}

_UDF_NODE = re.compile(r"ArrowEvalPython \[(\w+)\(")
_CC_ROUND = re.compile(r"cc_round_\d+")


def _event_file(log_dir: str) -> str:
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")) \
        + glob.glob(os.path.join(log_dir, "local-*"))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return files[0]


def _plan_nodes(node: dict):
    yield node
    for child in node.get("children", []):
        yield from _plan_nodes(child)


def _acc(task_info: dict) -> list[tuple[int, float]]:
    out = []
    for a in task_info.get("Accumulables", []):
        try:
            out.append((a["ID"], float(a["Update"])))
        except (KeyError, TypeError, ValueError):
            continue
    return out


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi) covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_hi is None or s > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = s, e
        else:
            cur_hi = max(cur_hi, e)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def fold(log_dir: str, windows: list, span: tuple[float, float]) -> dict:
    """-> {"layers": {layer: {metric: value}}, "jobs": n,
    "unattributed_jobs": n, "udf": {udf: {"rows"|py metric: value}}}.

    Only jobs submitted inside ``span`` (the traced iteration, epoch ms)
    are counted."""
    job_group: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    exec_of_job: dict[int, int] = {}
    udf_acc: dict[int, tuple[str, str, float]] = {}
    cc_execs: set[int] = set()
    tasks = []
    with open(_event_file(log_dir)) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                if not span[0] <= e["Submission Time"] <= span[1]:
                    continue
                props = e.get("Properties") or {}
                job_group[e["Job ID"]] = props.get("spark.jobGroup.id") or ""
                exec_id = props.get("spark.sql.execution.id")
                if exec_id is not None:
                    exec_of_job[e["Job ID"]] = int(exec_id)
                for sid in e["Stage IDs"]:
                    stage_job.setdefault(sid, e["Job ID"])
            elif ev == "SparkListenerTaskEnd":
                tasks.append(e)
            elif ev.endswith("SQLExecutionStart") \
                    or ev.endswith("SQLAdaptiveExecutionUpdate"):
                for node in _plan_nodes(e["sparkPlanInfo"]):
                    m = _UDF_NODE.match(node.get("simpleString", ""))
                    if m:
                        for metric in node.get("metrics", []):
                            if metric["name"] in _PY_ACC:
                                udf_acc[metric["accumulatorId"]] = \
                                    (m.group(1), *_PY_ACC[metric["name"]])
                    if node.get("nodeName") == "CollectMetrics" \
                            and _CC_ROUND.search(node.get("simpleString", "")):
                        cc_execs.add(e["executionId"])

    layers = {name: defaultdict(float) for name in SPARK_LAYERS}
    durations: dict[str, list[float]] = defaultdict(list)
    udf: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    intervals = []
    for t in tasks:
        job = stage_job.get(t["Stage ID"])
        if job is None:
            continue
        info, tm = t["Task Info"], t.get("Task Metrics") or {}
        intervals.append((info["Launch Time"], info["Finish Time"]))
        layer = layers.get(job_group[job])
        if layer is None:
            continue
        name = job_group[job]
        layer["tasks"] += 1
        layer["run_s"] += tm.get("Executor Run Time", 0) / 1000.0
        layer["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
        sw = tm.get("Shuffle Write Metrics") or {}
        layer["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
        layer["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / MB
        om = tm.get("Output Metrics") or {}
        layer["write_mb"] += om.get("Bytes Written", 0) / MB
        layer["rows_written"] += om.get("Records Written", 0)
        durations[name].append(info["Finish Time"] - info["Launch Time"])
        for acc_id, update in _acc(info):
            if acc_id in udf_acc:
                fn, key, scale = udf_acc[acc_id]
                udf[fn][key] += update * scale

    rounds: dict[str, set[int]] = defaultdict(set)
    for job, group in job_group.items():
        if group in layers:
            layers[group]["jobs"] += 1
            if exec_of_job.get(job) in cc_execs:
                rounds[group].add(exec_of_job[job])
    for name, execs in rounds.items():
        layers[name]["cc_rounds"] = len(execs)
    for name, lo, hi in windows:
        if name in layers:
            layers[name]["wall_s"] += (hi - lo) / 1000.0
            layers[name]["no_task_s"] += \
                ((hi - lo) - _covered(intervals, lo, hi)) / 1000.0
    for name, ds in durations.items():
        med = statistics.median(ds)
        layers[name]["task_skew"] = max(ds) / med if med > 0 else 1.0
    unattributed = sum(1 for g in job_group.values() if g not in layers)
    for fn, vals in udf.items():
        layer = layers[UDF_LAYER.get(fn, "pipeline")]
        for key in PY_METRICS[:3]:
            layer[key] += vals.get(key, 0.0)
    return {"layers": {k: dict(v) for k, v in layers.items()},
            "jobs": len(job_group), "unattributed_jobs": unattributed,
            "udf": {k: dict(v) for k, v in udf.items()}}
