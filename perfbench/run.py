"""Benchmark of the bdtopo2refhydro_spark engine: one seeded workload per run.

    python3 perfbench/run.py --workload hydro|tiles|corpus --seed N \\
        --seconds S --trace 0|1

Run from the repository root. One driver process, one Spark session on
``local[nproc]`` with the engine's own ``get_spark`` defaults except a 1g
driver heap and scratch/temp dirs under ``perfbench/.work``; closed loop:
each iteration starts after the previous one's outputs are forced and
checked against their DuckDB twins. The first iteration is the cold one;
warm iterations repeat until ``--seconds`` have passed, and at least the
workload's ``min_warm`` times (once when traced).

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of the same workload with every layer's public functions wrapped
in spans. Every metric is printed by name with its unit, then a run record
(machine, conf in effect, seed, sizes, commit), then the final JSON line
``{"correct", "attempted", "failed", "metrics"}``. Generated inputs, run
records and spans go under ``perfbench/.cache`` and ``perfbench/.runs``.
See README.md for the workloads and metric definitions.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

import gen  # noqa: E402
from tracing import (LAYER_FIELDS, LAYERS, StatusReader, Tracer,  # noqa: E402
                     jobs_of, layer_metrics, sql_counters, stage_totals)
from workloads import WORKLOADS  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
RUNS = os.path.join(HERE, ".runs")
WORK = os.path.join(HERE, ".work")
ITER_TIMEOUT_S = 150  # an iteration past this is cancelled and failed
GEN_TIMEOUT_S = 120
# driver heap, through get_spark's own knob: under its 16g default (and
# under 2g) how far G1 grows the heap, and so peak RSS, varies from run to
# run by up to a third; at 1g every run reaches the cap
DRIVER_MEM = "1g"

END_TO_END = [("setup_s", "s"), ("cold_s", "s"), ("wall_s", "s"),
              ("docs_per_s", "1/s"), ("exec_cpu_s", "s"),
              ("peak_rss_mb", "MB")]


def program_present() -> bool:
    return (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isfile(os.path.join(ROOT, "bdtopo2refhydro_spark",
                                            "session.py")))


def ensure_inputs(workload: str, seed: int) -> str:
    """Generate (once per workload, size and seed) the inputs and their
    oracle checksums, in a child process so that neither the generator nor
    DuckDB counts toward the driver's memory."""
    out = gen.input_dir(CACHE, workload, seed)
    if not os.path.isfile(os.path.join(out, "meta.json")):
        os.makedirs(CACHE, exist_ok=True)
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), "--workload",
             workload, "--seed", str(seed), "--out", out],
            cwd=ROOT, check=True, timeout=GEN_TIMEOUT_S,
            stdout=subprocess.DEVNULL)
    return out


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def source_digest() -> str:
    """sha256 over the engine's sources, for checkouts without git."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for d, _, files in sorted(os.walk(os.path.join(ROOT,
                                                   "bdtopo2refhydro_spark"))):
        paths += [os.path.join(d, f) for f in sorted(files)
                  if f.endswith(".py")]
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def git_commit() -> str | None:
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Iterations:
    """Runs, times and checks iterations; reads their jobs afterwards."""

    def __init__(self, spark, workload, tracer, reader, cores: int) -> None:
        self.spark = spark
        self.wl = workload
        self.tracer = tracer
        self.reader = reader
        self.cores = cores
        self.records: list[dict] = []

    def run_one(self, label: str) -> dict:
        from bdtopo2refhydro_spark.operators._ckpt import \
            release_all_persistent

        sc = self.spark.sparkContext
        timer = threading.Timer(ITER_TIMEOUT_S, sc.cancelAllJobs)
        rec = {"label": label, "ok": False, "bad": [], "counters": {}}
        self.tracer.begin_iteration(label)
        timer.start()
        t0 = time.perf_counter()
        try:
            outputs, rec["counters"] = self.wl.run()
            rec["wall_s"] = time.perf_counter() - t0
            rec["bad"] = self.wl.check(outputs)
            rec["ok"] = not rec["bad"]
        except Exception:  # noqa: BLE001 — a failed iteration is a result
            rec["wall_s"] = time.perf_counter() - t0
            rec["error"] = traceback.format_exc(limit=3)
            print(f"# iteration {label} failed:\n{rec['error']}",
                  file=sys.stderr)
        finally:
            timer.cancel()
            timer.join()
            self.tracer.end_iteration()
        if rec["bad"]:
            print(f"# iteration {label}: outputs differ from the oracle: "
                  f"{rec['bad']}", file=sys.stderr)
        release_all_persistent(self.spark)
        self.spark.catalog.clearCache()
        jobs, ran = self.reader.jobs_and_stages()
        mine = jobs_of(jobs, label)
        totals = stage_totals(mine, ran)
        rec["jobs"] = len(mine)
        rec["exec_cpu_s"] = sum(t["cpu_s"] for t in totals.values())
        if self.tracer.enabled:
            spans = [s for s in self.tracer.spans if s.iteration == label]
            rec["layers"] = layer_metrics(spans, mine, totals, self.cores)
            ids = {j["jobId"] for j in mine}
            execs = [e for e in self.reader.new_sql_executions()
                     if ids.intersection(e["jobs"])]
            rec["counters"].update(sql_counters(execs))
        self.records.append(rec)
        return rec


def per_layer(setup: dict, warm: list[dict], traced_wall: float
              ) -> dict[str, tuple[float, str]]:
    units = {"calls": "count", "self_s": "s", "jobs": "count",
             "tasks": "count", "exec_cpu_s": "s", "shuffle_mb": "MB",
             "spill_mb": "MB", "core_util": "ratio"}
    out: dict[str, tuple[float, str]] = {}

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    for layer in LAYERS:
        src = [setup] if layer == "session" else warm
        for f in LAYER_FIELDS:
            out[f"{layer}.{f}"] = (mean([r["layers"][layer][f] for r in src]),
                                   units[f])
    c = [r["counters"] for r in warm]
    out["operators.graph.rounds"] = (
        mean([x.get("graph_rounds", 0) for x in c]), "count")

    def ratio(num, den):
        d = sum(x[den] for x in c)
        return sum(x[num] for x in c) / d if d else 0.0

    out["operators.spatial.refine_ratio"] = (
        ratio("refine_out", "refine_in"), "ratio")
    out["operators.text.verify_ratio"] = (
        ratio("verify_out", "verify_in"), "ratio")
    out["functions.udfs.py_rows"] = (mean([x["py_rows"] for x in c]), "count")
    out["functions.udfs.py_mb"] = (mean([x["py_bytes"] for x in c]) / 1e6,
                                   "MB")
    out["unattributed.jobs"] = (
        mean([r["layers"]["unattributed"]["jobs"] for r in warm]), "count")
    out["trace.wall_s"] = (traced_wall, "s")
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not program_present():
        print(f"perfbench: engine sources not found under {ROOT}",
              file=sys.stderr)
        return 2

    t_gen0 = time.perf_counter()
    input_dir = ensure_inputs(args.workload, args.seed)
    gen_s = time.perf_counter() - t_gen0
    with open(os.path.join(input_dir, "meta.json")) as f:
        meta = json.load(f)

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    # every JVM spark-submit starts: temp files here, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    import __spark_entry__  # noqa: F401 — loaded before the tracer wraps

    from bdtopo2refhydro_spark import session

    tracer = Tracer(enabled=bool(args.trace))
    tracer.install()
    cores = len(os.sched_getaffinity(0))
    spark = session.get_spark(f"perfbench-{args.workload}", cores=cores)
    sc = spark.sparkContext
    gateway_proc = sc._gateway.proc
    try:
        tracer.sc = sc
        tracer.begin_iteration("setup")

        wl = WORKLOADS[args.workload](spark, input_dir, meta, tracer)
        setup_s = time.perf_counter() - T_START - gen_s
        tracer.end_iteration()
        reader = StatusReader(spark)
        it = Iterations(spark, wl, tracer, reader, cores)
        if tracer.enabled:
            jobs, ran = reader.jobs_and_stages()
            mine = jobs_of(jobs, "setup")
            setup_rec = {"layers": layer_metrics(
                [s for s in tracer.spans if s.iteration == "setup"], mine,
                stage_totals(mine, ran), cores)}
            reader.new_sql_executions()
        cold = it.run_one("cold")
        warm: list[dict] = []
        t_warm = time.perf_counter()
        # a traced run needs one warm iteration for its per-layer figures
        min_warm = 1 if tracer.enabled else wl.min_warm
        while (len(warm) < min_warm
               or time.perf_counter() - t_warm < args.seconds):
            warm.append(it.run_one(f"warm{len(warm)}"))
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        conf = {k: spark.conf.get(k, None) for k in (
            "spark.master", "spark.driver.memory", "spark.local.dir",
            "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
            "spark.sql.autoBroadcastJoinThreshold")}
        rss = {"python_mb": vm_hwm_mb(os.getpid()),
               "jvm_mb": vm_hwm_mb(jvm_pid)}
    finally:
        tracer.uninstall()
        spark.stop()
        sc._gateway.shutdown()
        if gateway_proc is not None:
            gateway_proc.stdin.close()
            try:
                gateway_proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gateway_proc.kill()
                gateway_proc.wait()

    records = it.records
    failed = sum(not r["ok"] for r in records)
    wall = statistics.median(r["wall_s"] for r in warm)
    e2e = {
        "setup_s": setup_s,
        "cold_s": cold["wall_s"],
        "wall_s": wall,
        "docs_per_s": meta["rows"] / wall,
        "exec_cpu_s": statistics.median(r["exec_cpu_s"] for r in warm),
        "peak_rss_mb": rss["python_mb"] + rss["jvm_mb"],
    }
    units = dict(END_TO_END)
    for name, unit in END_TO_END:
        print(f"{name} {e2e[name]:.6g} {unit}")
    print(f"fail_frac {failed / len(records):.6g} ratio "
          f"({failed} of {len(records)} iterations)")
    print(f"# wall_s is the median of {len(warm)} warm iterations; "
          f"walls {[round(r['wall_s'], 3) for r in warm]}; "
          f"jobs per iteration {[r['jobs'] for r in records]}")
    if tracer.enabled:
        layers = per_layer(setup_rec, warm, wall)
        for name, (v, unit) in layers.items():
            print(f"{name} {v:.6g} {unit}")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": units[k]} for k, _ in END_TO_END}
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "nproc": cores,
        "mem_total_mb": round(mem_total_mb()),
        "input": {k: meta[k] for k in ("rows", "bytes", "text_bytes")},
        "spark_conf": conf, "git_commit": git_commit(),
        "source_sha256": source_digest(), "gen_s": gen_s, "peak_rss": rss,
        "iterations": [{k: r[k] for k in ("label", "ok", "wall_s", "jobs",
                                          "exec_cpu_s", "bad")}
                       for r in records],
    }
    os.makedirs(RUNS, exist_ok=True)
    stem = os.path.join(RUNS, f"{args.workload}-{args.seed}-t{args.trace}-"
                              f"{time.strftime('%Y%m%dT%H%M%S')}")
    with open(stem + ".json", "w") as f:
        json.dump({"record": record, "metrics": metrics}, f, indent=1)
    if tracer.enabled:
        tracer.dump(stem + ".spans.jsonl")
    print("run_record " + json.dumps(record))
    print(json.dumps({"correct": failed == 0, "attempted": len(records),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
