"""Dedup benchmark: one workload, one seed, one measured run.

    python3 perfbench/run.py --workload web-mix --seed 1 --seconds 5 --trace 0

Run from the repository root. The script generates the workload's pages
from the seed, checks them against the pinned digests, solves the exact
oracle (perfbench/oracle.py), then starts one Spark driver process
(perfbench/worker.py) on local[nproc] with a heap derived from
MemTotal. The driver runs a cold warm-up job, then warm jobs for
``--seconds`` (at least one). The script samples the resident memory of
that process tree, checks every job's (url, cluster_id) result against
the oracle, and prints records as JSON lines; the last line is the
result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns the
Spark event log on for the driver, adds one job with the operator calls
wrapped per layer, and reports the per-layer metrics
(perfbench/trace.py). ``--pin-seeds N`` rewrites perfbench/pins.json
for seeds 0..N-1 instead of running. perfbench/DESIGN.md explains the
workloads, metrics and timing model.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from lsh_apg_spark.config import DedupConfig  # noqa: E402
from perfbench import oracle, trace  # noqa: E402
from perfbench.workloads import WORKLOADS, pages_digest, store_base  # noqa: E402

PINS = os.path.join(HERE, "pins.json")
MB = trace.MB
WORK = os.path.join(ROOT, ".perfbench_work")
# the driver's share of the 180 s an invocation may take, leaving room
# for start-up, teardown and checking
RUN_BUDGET_S = 150.0
STATE_BUILD_TIMEOUT_S = 600.0
CANARY_SEED = 0
EXPECTED_LAYERS = {
    "web-mix": ("pipeline", "signatures", "banding", "pairs", "verify",
                "substring", "components"),
    "incremental": ("incremental", "signatures", "banding", "pairs",
                    "verify", "components", "checkpoints"),
}


def emit(record: dict) -> None:
    print(json.dumps(record), flush=True)


# --- host-derived deployment -------------------------------------------------

def _meminfo_kib(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise RuntimeError(f"{key} not in /proc/meminfo")


def deployment(work: str) -> dict:
    """Cores from the affinity mask (what nproc reports), heap as 40% of
    MemTotal capped to [1, 16] GiB (6g on a 15.7 GB host; a 16g heap is
    OOM-killed there), spill under the checkout on disk, never
    /dev/shm, whose pages come out of the same RAM as the heap."""
    cores = len(os.sched_getaffinity(0))
    mem_gib = _meminfo_kib("MemTotal") / (1 << 20)
    heap_gib = max(1, min(16, int(mem_gib * 0.4)))
    return {
        "cores": cores,
        "mem_total_gib": round(mem_gib, 2),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gib}g",
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": os.path.join(work, "tmp"),
        # keep the JVM's scratch files inside the checkout too
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                             "-XX:-UsePerfData",
    }


# --- per-run noise record ----------------------------------------------------

def noise_sample() -> dict:
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8])
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {"steal_s": steal / os.sysconf("SC_CLK_TCK"), "load_1m": load1}


# --- process-tree memory -----------------------------------------------------

def _proc_table() -> dict[int, tuple[str, str, int, int]]:
    """pid -> (command name, state, ppid, process group) for every process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                data = f.read()
        except OSError:
            continue
        state, ppid, pgrp = data[data.rindex(")") + 2:].split()[:3]
        table[int(name)] = (data[data.index("(") + 1:data.rindex(")")],
                            state, int(ppid), int(pgrp))
    return table


def tree_rss(root_pid: int) -> dict[str, int]:
    """Resident bytes of a process tree: total, the JVM alone, and the
    number of processes."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (_, _, ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    page = os.sysconf("SC_PAGE_SIZE")
    out = {"total": 0, "jvm": 0, "procs": 0}
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
        except OSError:
            continue
        out["total"] += rss
        out["procs"] += 1
        if pid in table and table[pid][0] == "java":
            out["jvm"] += rss
    return out


class PeakRss(threading.Thread):
    """Samples the driver process tree's resident memory every 50 ms and
    keeps the sample with the largest total."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid = pid
        self.peak = {"total": 0, "jvm": 0, "procs": 0}
        self._stop_event = threading.Event()

    def run(self) -> None:
        while not self._stop_event.wait(0.05):
            sample = tree_rss(self.pid)
            if sample["total"] > self.peak["total"]:
                self.peak = sample

    def stop(self) -> dict[str, int]:
        self._stop_event.set()
        self.join()
        return self.peak


# --- inputs and oracle -------------------------------------------------------

def check_pins(name: str, seed: int, digest: str, config_id: str) -> bool:
    """Fail loudly when the config or a pinned workload input changed.
    The canary seed is always regenerated, so an edit to the generators
    shows even for a seed that is not pinned. Returns whether ``seed``
    itself is pinned."""
    with open(PINS) as f:
        pins = json.load(f)
    if pins["config_id"] != config_id:
        raise SystemExit(f"DedupConfig().config_id() changed:\n"
                         f"  pinned {pins['config_id']}\n  now    {config_id}")
    pinned = pins["digests"][name]
    checks = {str(seed): digest}
    if str(CANARY_SEED) not in checks:
        checks[str(CANARY_SEED)] = WORKLOADS[name](CANARY_SEED).digest()
    for s, d in checks.items():
        if s in pinned and pinned[s] != d:
            raise SystemExit(f"{name} seed {s}: generated pages changed "
                             f"(pinned {pinned[s]}, now {d})")
    return str(seed) in pinned


def write_pins(n: int) -> None:
    digests = {name: {str(s): gen(s).digest() for s in range(n)}
               for name, gen in WORKLOADS.items()}
    with open(PINS, "w") as f:
        json.dump({"config_id": DedupConfig().config_id(), "digests": digests},
                  f, indent=1, sort_keys=True)
        f.write("\n")


def cached_oracle(w, cfg) -> dict:
    """Oracle solved once per (workload, seed, input digest)."""
    path = os.path.join(WORK, "oracle", f"{w.name}-{w.seed}-{w.digest()[:16]}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    result = oracle.solve(w.oracle_docs(), cfg, w.include_substring)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(result, f)
    os.replace(path + ".tmp", path)
    return result


def write_pages(pages: list[tuple[str, str]], path: str) -> None:
    import pandas as pd
    pd.DataFrame(pages, columns=["url", "text"]).to_parquet(path, index=False)


def program_digest() -> str:
    """sha256 over the program's Python sources."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "lsh_apg_spark")
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def seed_state(cfg, dep: dict, env: dict, run_dir: str) -> str:
    """The incremental workload's seeded checkpoint store, built by the
    code under test in its own driver process and kept per checkout,
    keyed by the stored corpus, the config and the program sources.
    Every workload's run makes sure it exists before its clock starts,
    so only the first run in a checkout, which may take long, builds it."""
    base = store_base()
    key = hashlib.sha256("|".join(
        (pages_digest(base), cfg.config_id(), program_digest())).encode()
    ).hexdigest()[:16]
    state = os.path.join(WORK, "state", key)
    if os.path.isdir(state):
        return state
    work = os.path.join(run_dir, "build")
    os.makedirs(work)
    spec = {"build_state": True, "cores": dep["cores"],
            "base": os.path.join(work, "base.parquet"),
            "state": state + ".tmp", "work": work,
            "out": os.path.join(work, "out.json")}
    write_pages(base, spec["base"])
    shutil.rmtree(spec["state"], ignore_errors=True)
    out, _, tail = run_driver(spec, env, STATE_BUILD_TIMEOUT_S)
    if out is None:
        sys.stderr.write(tail)
        raise SystemExit("building the incremental store failed")
    os.replace(spec["state"], state)
    return state


# --- one driver process ------------------------------------------------------

def _stop_group(pgid: int) -> None:
    """Terminate every process left in the driver's process group (JVM,
    Python workers) and wait until all have ended."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + grace
        while time.monotonic() < end:
            if not any(pgrp == pgid and state != "Z"
                       for _, state, _, pgrp in _proc_table().values()):
                return
            time.sleep(0.1)
    raise RuntimeError(f"processes of group {pgid} did not exit")


def run_driver(spec: dict, env: dict, timeout: float) -> tuple[dict | None, dict, str]:
    """-> (worker output or None, peak tree RSS sample, log tail)."""
    os.makedirs(spec["work"], exist_ok=True)
    spec_path = os.path.join(spec["work"], "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    log_path = os.path.join(spec["work"], "driver.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), spec_path],
            cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True)
        rss = PeakRss(proc.pid)
        rss.start()
        try:
            proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            pass
        finally:
            peak = rss.stop()
            _stop_group(proc.pid)
            proc.wait()
    with open(log_path, errors="replace") as f:
        tail = "".join(f.readlines()[-30:])
    if proc.returncode != 0 or not os.path.exists(spec["out"]):
        return None, peak, tail
    with open(spec["out"]) as f:
        return json.load(f), peak, tail


def score(out: dict | None, orc: dict) -> dict:
    """Check every job's result. A driver that died counts as one
    attempted and failed job."""
    if out is None:
        return {"attempted": 1, "failed": 1, "recall": [], "agreement": [],
                "errors": ["driver process failed"]}
    failed, recall, agreement, errors = 0, [], [], []
    for job in out["jobs"]:
        with open(job["result"]) as f:
            res = oracle.check([tuple(r) for r in json.load(f)], orc)
        if res["structure_errors"]:
            failed += 1
            errors += res["structure_errors"][:3]
        recall.append(res["pair_recall"])
        agreement.append(res["cluster_agreement"])
    return {"attempted": len(out["jobs"]), "failed": failed,
            "recall": recall, "agreement": agreement, "errors": errors}


def walls(out: dict, kind: str) -> list[float]:
    return [j["wall_s"] for j in out["jobs"] if j["kind"] == kind]


# --- per-layer metrics -------------------------------------------------------

def _stage_rows(stage_metrics: list[dict], stage: str) -> float:
    for m in stage_metrics:
        if m["stage"] == stage and m.get("rows") is not None:
            return float(m["rows"])
    return 0.0


def layer_metrics(out: dict, folded: dict, w, peak: dict) -> dict:
    """Per-layer metrics of a traced driver. On ``incremental`` the
    program exposes no stage metrics and no bucket stats, so the
    ``rows_out`` of the operator layers, ``verify.yield`` and the
    ``banding`` bucket figures read 0 there."""
    layers = folded["layers"]
    sm = out["stage_metrics"]
    traced = next(j for j in out["jobs"] if j["kind"] == "traced")
    inc = traced["incremental"]
    bucket = next((m for m in sm if m["stage"] == "bucket_stats"), {})
    rows_out = {
        "pipeline": _stage_rows(sm, "rep_map"),
        "signatures": _stage_rows(sm, "signatures"),
        "banding": _stage_rows(sm, "bucket_groups"),
        "pairs": _stage_rows(sm, "pairs"),
        "verify": _stage_rows(sm, "edges"),
        "substring": _stage_rows(sm, "substring_edges"),
        "components": _stage_rows(sm, "clusters"),
        "checkpoints": layers["checkpoints"].get("rows_written", 0.0),
        "incremental": float(traced["rows"]) if w.base else 0.0,
    }
    m: dict[str, float] = {"session.start_s": out["start_s"],
                           "session.warmup_s": walls(out, "cold")[0],
                           "process.peak_rss_mb": peak["total"] / MB,
                           "process.jvm_rss_mb": peak["jvm"] / MB,
                           "process.procs": float(peak["procs"])}
    for layer in trace.SPARK_LAYERS:
        vals = layers[layer]
        for metric in trace.SPARK_METRICS:
            m[f"{layer}.{metric}"] = vals.get(metric, 0.0)
        m[f"{layer}.rows_out"] = rows_out[layer]
    udf_docs = w.udf_docs()
    for layer, udf in trace.LAYER_UDF.items():
        vals = layers[layer]
        for metric in trace.PY_METRICS[:3]:
            m[f"{layer}.{metric}"] = vals.get(metric, 0.0)
        rows = folded["udf"].get(udf, {}).get("rows", 0.0)
        m[f"{layer}.udf_rows_per_doc"] = rows / udf_docs
    lcs_rows = folded["udf"].get("lcs_udf", {}).get("rows", 0.0)
    sub_edges = _stage_rows(sm, "substring_edges")
    pairs = _stage_rows(sm, "pairs")
    m["substring.yield"] = sub_edges / lcs_rows if lcs_rows else 0.0
    m["verify.yield"] = _stage_rows(sm, "edges") / pairs if pairs else 0.0
    m["banding.max_bucket"] = float(bucket.get("max_bucket", 0))
    m["banding.salted_rows"] = float(bucket.get("salted_rows", 0))
    m["components.rounds"] = layers["components"].get("cc_rounds", 0.0)
    m["checkpoints.write_mb"] = layers["checkpoints"].get("write_mb", 0.0)
    m["incremental.cc_nodes"] = float(inc.get("cc_nodes", 0))
    m["incremental.cc_edges"] = float(inc.get("cc_edges", 0))
    wall = traced["wall_s"]
    m["trace.wall_s"] = wall
    # against the last untraced job of the same session, which has the
    # event log on too: this is the cost of the wrappers and job groups,
    # less what one more job of JIT warm-up saves
    m["trace.overhead_s"] = wall - walls(out, "warm")[-1]
    m["trace.window_cover"] = sum(
        (hi - lo) / 1000.0 for _, lo, hi in out["windows"]) / wall
    m["trace.jobs"] = float(folded["jobs"])
    m["trace.unattributed_jobs"] = float(folded["unattributed_jobs"])
    return m


def _units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}


# --- main --------------------------------------------------------------------

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin-seeds", type=int, default=0)
    args = ap.parse_args()
    if args.pin_seeds:
        write_pins(args.pin_seeds)
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    cfg = DedupConfig()
    units = _units()

    w = WORKLOADS[args.workload](args.seed)
    digest = w.digest()
    pinned = check_pins(w.name, args.seed, digest, cfg.config_id())
    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{time.time_ns()}")
    try:
        dep = deployment(run_dir)
        emit({"record": "deployment", **dep})
        emit({"record": "inputs", "workload": w.name, "seed": args.seed,
              "docs": len(w.pages), "base_docs": len(w.base),
              "pages_sha256": digest, "seed_pinned": pinned,
              "config_id": cfg.config_id()})
        for d in ("spark-local", "tmp"):
            os.makedirs(os.path.join(run_dir, d), exist_ok=True)
        env = {k: v for k, v in os.environ.items()
               if k not in ("SPARK_CONF_DIR", "SPARK_GRAFT_MASTER")}
        env.update({k: v for k, v in dep.items() if k.isupper()})
        state = seed_state(cfg, dep, env, run_dir)
        t_begin = time.monotonic()
        orc = cached_oracle(w, cfg)
        emit({"record": "oracle", "pairs": len(orc["pairs"]),
              "jaccard_pairs": orc["jaccard_pairs"],
              "substring_pairs": orc["substring_pairs"],
              "clusters": len(set(orc["labels"].values()))})
        work = os.path.join(run_dir, "driver")
        spec = {"workload": w.name, "cores": dep["cores"],
                "pages": os.path.join(run_dir, "pages.parquet"),
                "state": state if w.base else None,
                "include_substring": w.include_substring,
                "seconds": args.seconds, "traced": bool(args.trace),
                "work": work, "out": os.path.join(work, "out.json")}
        write_pages(w.pages, spec["pages"])
        if args.trace:
            conf_dir = os.path.join(work, "conf")
            log_dir = os.path.join(work, "eventlog")
            os.makedirs(conf_dir)
            os.makedirs(log_dir)
            with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
                f.write("spark.eventLog.enabled true\n"
                        f"spark.eventLog.dir file://{log_dir}\n"
                        # this Python has no zstd module to read the default
                        "spark.eventLog.compress false\n")
            env["SPARK_CONF_DIR"] = conf_dir
        noise0 = noise_sample()
        out, peak, tail = run_driver(
            spec, env, RUN_BUDGET_S - (time.monotonic() - t_begin))
        noise1 = noise_sample()
        sc = score(out, orc)
        emit({"record": "noise", "steal_s": noise1["steal_s"] - noise0["steal_s"],
              "load_1m_start": noise0["load_1m"], "load_1m_end": noise1["load_1m"]})
        metrics: dict[str, float] = {}
        if out is None:
            sys.stderr.write(tail)
        else:
            emit({"record": "jobs", "start_s": out["start_s"],
                  "kind": [j["kind"] for j in out["jobs"]],
                  "wall_s": [j["wall_s"] for j in out["jobs"]],
                  "steal_s": [j["steal_s"] for j in out["jobs"]],
                  "peak_rss": peak,
                  "pair_recall": sc["recall"],
                  "cluster_agreement": sc["agreement"],
                  "errors": sc["errors"]})
            if args.trace:
                traced = next(j for j in out["jobs"] if j["kind"] == "traced")
                folded = trace.fold(log_dir, out["windows"],
                                    (traced["start_ms"], traced["end_ms"]))
                missing = [layer for layer in EXPECTED_LAYERS[w.name]
                           if not any(win[0] == layer for win in out["windows"])]
                if missing:
                    raise SystemExit(f"traced run recorded no window for {missing}")
                metrics = layer_metrics(out, folded, w, peak)
                emit({"record": "trace", "windows": out["windows"],
                      "udf": folded["udf"]})
            else:
                wall = statistics.median(walls(out, "warm"))
                metrics = {
                    "wall_s": wall,
                    "docs_per_s": len(w.pages) / wall,
                    "setup_s": out["start_s"] + walls(out, "cold")[0],
                    "pair_recall": min(sc["recall"]),
                    "cluster_agreement": min(sc["agreement"]),
                }
        failed = sc["failed"]
        correct = failed == 0 and bool(metrics)
        emit({"correct": correct, "attempted": sc["attempted"], "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]}
                          for k, v in metrics.items()}})
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
